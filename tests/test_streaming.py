"""Streaming semantics tests: the ValidatesRunner analog (SURVEY.md §5) —
the same logical plans run in batch and micro-batch streaming and must
agree; plus stateful kernel and TestStream scripted-time behavior."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from incubator_beam_spark.streaming import (
    TestStream,
    deduplicate_stream,
    group_into_batches_stream,
    per_key_counter,
)
from incubator_beam_spark.streaming.source import run_to_completion, stream_events

from .conftest import SF_DIR


# transformWithStateInPandas needs protobuf in the state-server worker;
# pbshim activates the Cloud-SDK-vendored runtime when pip protobuf is
# absent (it also rides PYTHONPATH into workers via sitecustomize — the
# conftest spark fixture calls get_spark, which activates before the JVM).
from incubator_beam_spark import pbshim

_HAS_PROTOBUF = pbshim.activate()


def _ts(minute: int, second: int = 0) -> datetime.datetime:
    return datetime.datetime(2024, 1, 1, 0, minute, second)


EVENT_SCHEMA = T.StructType(
    [
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def test_stream_batch_parity_windowed_agg(spark):
    """The same windowed-agg plan over the events fixture agrees between
    spark.read and spark.readStream (complete/update-free comparison via
    final state)."""
    from incubator_beam_spark.catalog import table

    def plan(df):
        return (
            df.groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                F.unix_timestamp("window.start").alias("ws"), "event_type", "n"
            )
        )

    batch = {tuple(r) for r in plan(table(spark, SF_DIR, "events")).collect()}
    streamed = run_to_completion(
        plan(stream_events(spark, SF_DIR)), "parity_agg", output_mode="complete"
    )
    stream_rows = {tuple(r) for r in streamed.collect()}
    assert batch == stream_rows


def test_watermark_append_drops_open_windows(spark):
    """Append mode only emits windows the watermark has passed: without a
    sentinel the last window stays open."""
    with TestStream(spark, EVENT_SCHEMA) as ts:
        agg = (
            ts.stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "10 minutes"), "user_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.unix_timestamp("window.start").alias("ws"), "user_id", "n")
        )
        ts.start(agg, output_mode="append")
        ts.add_elements([( _ts(1), 1, 1.0), (_ts(2), 1, 2.0)]).advance()
        assert ts.results().count() == 0  # window [0,10) still open
        # advance watermark far past the first window
        ts.add_elements([(_ts(59), 99, 0.0)]).advance()
        rows = {(r.ws, r.user_id, r.n) for r in ts.results().collect()}
        assert (1704067200, 1, 2) in rows


def test_watermark_drops_late_data(spark):
    """An element older than watermark - delay is dropped (reference:
    allowed-lateness horizon, trigger.py GC)."""
    with TestStream(spark, EVENT_SCHEMA) as ts:
        agg = (
            ts.stream.withWatermark("ts", "5 minutes")
            .groupBy(F.window("ts", "10 minutes"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.unix_timestamp("window.start").alias("ws"), "n")
        )
        ts.start(agg, output_mode="append")
        ts.add_elements([(_ts(1), 1, 1.0)]).advance()
        ts.add_elements([(_ts(40), 2, 1.0)]).advance()  # watermark → 00:35
        ts.add_elements([(_ts(2), 3, 1.0)]).advance()   # late for [0,10)
        ts.add_elements([(_ts(59), 4, 1.0)]).advance()  # close remaining
        by_ws = {r.ws: r.n for r in ts.results().collect()}
        assert by_ws[1704067200] == 1  # late element NOT counted


def test_deduplicate_stream_within_watermark(spark):
    with TestStream(spark, EVENT_SCHEMA) as ts:
        dedup = deduplicate_stream(
            ts.stream, ["user_id"], event_time_col="ts", within="10 minutes"
        ).select("user_id", "value")
        ts.start(dedup, output_mode="append")
        ts.add_elements([(_ts(1), 1, 10.0), (_ts(2), 1, 20.0), (_ts(2), 2, 5.0)]).advance()
        rows = sorted((r.user_id, r.value) for r in ts.results().collect())
        assert rows == [(1, 10.0), (2, 5.0)]  # first per key kept


def test_per_key_counter_state(spark):
    with TestStream(spark, EVENT_SCHEMA) as ts:
        counted = per_key_counter(ts.stream, "user_id")
        ts.start(counted, output_mode="update")
        ts.add_elements([(_ts(1), 1, 0.0), (_ts(2), 1, 0.0), (_ts(3), 2, 0.0)]).advance()
        ts.add_elements([(_ts(4), 1, 0.0)]).advance()
        rows = [(r.key, r.total) for r in ts.results().collect()]
        # state persisted across micro-batches: key 1 reaches 3
        assert (1, 2) in rows and (2, 1) in rows and (1, 3) in rows


def test_group_into_batches_stream(spark):
    with TestStream(spark, EVENT_SCHEMA) as ts:
        batched = group_into_batches_stream(ts.stream, "user_id", "value", batch_size=2)
        ts.start(batched, output_mode="append")
        ts.add_elements([(_ts(1), 1, 1.0), (_ts(2), 1, 2.0), (_ts(3), 1, 3.0)]).advance()
        first = [(r.key, list(r.batch)) for r in ts.results().collect()]
        assert first == [(1, ["1.0", "2.0"])]  # remainder buffered in state
        ts.add_elements([(_ts(4), 1, 4.0)]).advance()
        rows = [(r.key, list(r.batch)) for r in ts.results().collect()]
        assert (1, ["3.0", "4.0"]) in rows


def test_after_count_trigger_panes(spark):
    from incubator_beam_spark.streaming.stateful import after_count_trigger

    with TestStream(spark, EVENT_SCHEMA) as ts:
        fired = after_count_trigger(ts.stream, "user_id", "value", count_n=2)
        ts.start(fired, output_mode="append")
        ts.add_elements([(_ts(1), 1, 1.0), (_ts(2), 1, 2.0), (_ts(3), 1, 3.0)]).advance()
        ts.add_elements([(_ts(4), 1, 4.0), (_ts(5), 1, 5.0)]).advance()
        rows = sorted(
            (r.key, r.pane_index, r.pane_count, r.pane_sum)
            for r in ts.results().collect()
        )
        # discarding panes: [1,2] then [3,4]; 5 still pending
        assert rows == [(1, 0, 2, 3.0), (1, 1, 2, 7.0)]


def test_after_count_trigger_accumulating(spark):
    from incubator_beam_spark.streaming.stateful import after_count_trigger

    with TestStream(spark, EVENT_SCHEMA) as ts:
        fired = after_count_trigger(ts.stream, "user_id", "value", count_n=2, accumulating=True)
        ts.start(fired, output_mode="append")
        ts.add_elements([(_ts(1), 1, 1.0), (_ts(2), 1, 2.0)]).advance()
        ts.add_elements([(_ts(3), 1, 3.0), (_ts(4), 1, 4.0)]).advance()
        rows = sorted(
            (r.pane_index, r.pane_count, r.pane_sum) for r in ts.results().collect()
        )
        # accumulating: pane 1 includes pane 0's elements
        assert rows == [(0, 2, 3.0), (1, 4, 10.0)]


def test_triggered_window_agg_after_count_early_firings(spark):
    """Trigger VM on the streaming adapter: Repeatedly(AfterCount(2))
    fires an early pane per 2 elements per key, before any watermark."""
    from incubator_beam_spark.streaming.triggers import (
        DISCARDING,
        AfterCount,
        Repeatedly,
        triggered_window_agg,
    )

    with TestStream(spark, EVENT_SCHEMA) as ts:
        out = triggered_window_agg(
            ts.stream,
            key_col="user_id",
            ts_col="ts",
            value_col="value",
            window_size=600.0,
            trigger=Repeatedly(AfterCount(2)),
            accumulation=DISCARDING,
            allowed_lateness=1e12,
        )
        ts.start(out, output_mode="append")
        ts.add_elements([(_ts(1), 1, 1.0)]).advance()
        assert ts.results().count() == 0  # 1 element: no pane yet
        ts.add_elements([(_ts(2), 1, 2.0)]).advance()
        rows = [(r.pane_index, r.timing, r.n, r.total) for r in ts.results().collect()]
        assert rows == [(0, "EARLY", 2, 3.0)]
        ts.add_elements([(_ts(3), 1, 4.0), (_ts(4), 1, 8.0)]).advance()
        rows = sorted(
            (r.pane_index, r.timing, r.n, r.total) for r in ts.results().collect()
        )
        assert rows == [(0, "EARLY", 2, 3.0), (1, "EARLY", 2, 12.0)]


def test_triggered_window_agg_watermark_on_time_pane(spark):
    """AfterWatermark on-time pane fires once Spark's watermark passes the
    window end (driven by a far-future sentinel element on another key)."""
    from incubator_beam_spark.streaming.triggers import (
        DISCARDING,
        AfterWatermark,
        triggered_window_agg,
    )

    with TestStream(spark, EVENT_SCHEMA) as ts:
        out = triggered_window_agg(
            ts.stream.withWatermark("ts", "1 second"),
            key_col="user_id",
            ts_col="ts",
            value_col="value",
            window_size=600.0,
            trigger=AfterWatermark(),
            accumulation=DISCARDING,
            allowed_lateness=1e12,
        )
        ts.start(out, output_mode="append")
        ts.add_elements([(_ts(1), 1, 1.0), (_ts(2), 1, 2.0)]).advance()
        assert ts.results().count() == 0  # watermark has not passed window end
        # watermark only advances between micro-batches: push the sentinel,
        # then one more batch so the new watermark is visible to the kernel
        ts.add_elements([(datetime.datetime(2024, 1, 2), 99, 0.0)]).advance()
        ts.add_elements([(datetime.datetime(2024, 1, 2), 99, 0.0)]).advance()
        rows = [
            (r.key, r.pane_index, r.timing, r.n, r.total)
            for r in ts.results().collect()
            if r.key == 1
        ]
        assert rows == [(1, 0, "ON_TIME", 2, 3.0)]


def test_stateful_pardo_multi_timer_families(spark):
    """Two named event-time timers per key on Spark's single-timeout
    primitive: a 'flush' timer (early) and a 'gc' timer (later) both fire,
    in instant order (reference userstate.py:162 multi-family timers)."""
    from pyspark.sql import types as T

    from incubator_beam_spark.streaming.userstate import StatefulContext, stateful_pardo

    out_schema = T.StructType(
        [
            T.StructField("key", T.LongType()),
            T.StructField("event", T.StringType()),
            T.StructField("n", T.LongType()),
        ]
    )

    def process(key, rows, ctx: StatefulContext):
        for v in rows["value"]:
            ctx.bag_add("buf", float(v))
        base = 1704067200  # 2024-01-01 00:00 UTC epoch
        ctx.set_timer("flush", base + 300)   # 00:05
        ctx.set_timer("gc", base + 600)      # 00:10
        return []

    def on_timer(key, name, ctx: StatefulContext):
        buf = ctx.bag_read("buf")
        if name == "gc":
            ctx.clear("buf")
        return [(key, name, len(buf))]

    with TestStream(spark, EVENT_SCHEMA) as ts:
        out = stateful_pardo(
            ts.stream.withWatermark("ts", "1 second"),
            key_col="user_id",
            output_schema=out_schema,
            process=process,
            on_timer=on_timer,
        )
        ts.start(out, output_mode="append")
        ts.add_elements([(_ts(0, 1), 1, 1.0), (_ts(0, 2), 1, 2.0)]).advance()
        assert ts.results().count() == 0  # no timer due yet
        # advance the watermark past both timer instants (sentinel key),
        # then one more batch so timed-out keys are evaluated
        ts.add_elements([(datetime.datetime(2024, 1, 1, 1), 99, 0.0)]).advance()
        ts.add_elements([(datetime.datetime(2024, 1, 1, 1), 99, 0.0)]).advance()
        rows = [(r.event, r.n) for r in ts.results().collect() if r.key == 1]
        assert rows == [("flush", 2), ("gc", 2)]  # fired in instant order


def test_stream_batch_parity_nexmark_stateless(spark):
    """NEXMark Q1/Q2 (stateless map/filter) produce identical results on
    spark.read and spark.readStream — the unified-model contract for the
    bid-stream queries."""
    from incubator_beam_spark.catalog import table

    def q1q2(df):
        purchases = df.filter(F.col("event_type") == "purchase")
        return purchases.select(
            "event_id",
            F.round(F.col("value") * 0.908, 2).alias("eur_value"),
        ).filter(F.col("event_id") % 5 == 0)

    batch = {tuple(r) for r in q1q2(table(spark, SF_DIR, "events")).collect()}
    streamed = run_to_completion(q1q2(stream_events(spark, SF_DIR)), "parity_nexmark")
    assert {tuple(r) for r in streamed.collect()} == batch


def test_refreshing_side_input_sees_updates(spark, tmp_path):
    """Side input re-read per micro-batch (foreachBatch rebroadcast —
    Beam windowed side-input views, pvalue.py:475): a dim-table update
    between batches is visible to the next batch's join."""
    from incubator_beam_spark.streaming.sideinput import join_with_refreshing_side_input

    side_path = str(tmp_path / "dim")
    spark.createDataFrame([(1, "v1")], "user_id long, tag string").write.mode(
        "overwrite"
    ).parquet(side_path)

    collected = []

    def sink(df, batch_id):
        collected.extend((r.user_id, r.tag) for r in df.collect())

    with TestStream(spark, EVENT_SCHEMA) as ts:
        q = join_with_refreshing_side_input(
            ts.stream,
            side_loader=lambda s: s.read.parquet(side_path),
            join_fn=lambda batch, side: batch.join(side, "user_id").select(
                "user_id", "tag"
            ),
            sink=sink,
        )
        ts._query = q  # let the harness drive/stop this query
        ts.add_elements([(_ts(1), 1, 1.0)]).advance()
        spark.createDataFrame([(1, "v2")], "user_id long, tag string").write.mode(
            "overwrite"
        ).parquet(side_path)
        ts.add_elements([(_ts(2), 1, 2.0)]).advance()
    assert collected == [(1, "v1"), (1, "v2")]


def test_deduplicate_processing_time_domain(spark):
    """Processing-time Deduplicate (reference deduplicate.py:43): the
    first element per key is emitted, subsequent duplicates within the
    horizon are suppressed."""
    from incubator_beam_spark.streaming.stateful import (
        deduplicate_stream_processing_time,
    )

    with TestStream(spark, EVENT_SCHEMA) as ts:
        out = deduplicate_stream_processing_time(
            ts.stream, "user_id", within_seconds=3600.0, emit_cols=["user_id", "value"]
        )
        ts.start(out, output_mode="append")
        ts.add_elements([(_ts(1), 1, 1.0), (_ts(2), 1, 2.0), (_ts(3), 2, 5.0)]).advance()
        ts.add_elements([(_ts(4), 1, 9.0), (_ts(5), 2, 9.0)]).advance()
        rows = sorted((r.user_id, r.value) for r in ts.results().collect())
        assert rows == [(1, 1.0), (2, 5.0)]


@pytest.mark.skipif(
    not _HAS_PROTOBUF,
    reason="transformWithState workers require google.protobuf (not in this env)",
)
def test_stateful_pardo_tws_native_timers(spark):
    """transformWithStateInPandas backend: two named event-time timers per
    key via NATIVE engine timers (registerTimer/handleExpiredTimer), same
    semantics as the applyInPandasWithState multiplexer."""
    from pyspark.sql import types as T

    from incubator_beam_spark.streaming.userstate_tws import (
        TwsContext,
        restore_state_store_provider,
        stateful_pardo_tws,
    )

    out_schema = T.StructType(
        [
            T.StructField("key", T.LongType()),
            T.StructField("event", T.StringType()),
            T.StructField("n", T.LongType()),
        ]
    )
    base = 1704067200  # 2024-01-01 00:00 UTC

    def process(key, rows, ctx: TwsContext):
        for v in rows["value"]:
            ctx.bag_add("buf", float(v))
        ctx.set_timer("flush", base + 300)
        ctx.set_timer("gc", base + 600)
        return []

    def on_timer(key, name, ctx: TwsContext):
        buf = ctx.bag_read("buf")
        if name == "gc":
            ctx.clear("buf")
        return [(int(key), name, len(buf))]

    # the RocksDB flip must not reach the stateful tests after this one
    with restore_state_store_provider(spark), TestStream(spark, EVENT_SCHEMA) as ts:
        out = stateful_pardo_tws(
            ts.stream.withWatermark("ts", "1 second"),
            key_col="user_id",
            output_schema=out_schema,
            process=process,
            on_timer=on_timer,
            time_mode="EventTime",
        )
        ts.start(out, output_mode="append")
        ts.add_elements([(_ts(0, 1), 1, 1.0), (_ts(0, 2), 1, 2.0)]).advance()
        assert ts.results().where("key = 1").count() == 0
        ts.add_elements([(datetime.datetime(2024, 1, 1, 1), 99, 0.0)]).advance()
        ts.add_elements([(datetime.datetime(2024, 1, 1, 1), 99, 0.0)]).advance()
        rows = [(r.event, r.n) for r in ts.results().collect() if r.key == 1]
        assert rows == [("flush", 2), ("gc", 2)]


def test_restore_state_store_provider_puts_back_set_and_unset(spark):
    """The scope hands back the provider as it found it: unset stays
    unset, a set value comes back, also when the body raises."""
    from incubator_beam_spark.streaming.userstate_tws import (
        _PROVIDER,
        _ROCKSDB,
        restore_state_store_provider,
    )

    hdfs = "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
    with restore_state_store_provider(spark):
        spark.conf.unset(_PROVIDER)
        with restore_state_store_provider(spark):
            spark.conf.set(_PROVIDER, _ROCKSDB)
        assert spark.conf.get(_PROVIDER, None) is None
        spark.conf.set(_PROVIDER, hdfs)
        with pytest.raises(RuntimeError), restore_state_store_provider(spark):
            spark.conf.set(_PROVIDER, _ROCKSDB)
            raise RuntimeError
        assert spark.conf.get(_PROVIDER) == hdfs


def test_stateful_pardo_set_and_combining_cells(spark):
    """SetState dedups within a key; CombiningValueState folds eagerly —
    one accumulator of state, never a buffer (reference userstate.py:91,
    userstate.py:100)."""
    import operator

    from incubator_beam_spark.streaming.userstate import StatefulContext, stateful_pardo

    out_schema = T.StructType(
        [
            T.StructField("key", T.LongType()),
            T.StructField("n_unique", T.LongType()),
            T.StructField("total", T.DoubleType()),
        ]
    )

    def process(key, rows, ctx: StatefulContext):
        for v in rows["value"]:
            if not ctx.set_contains("seen", float(v)):
                ctx.set_add("seen", float(v))
                ctx.combining_add("sum", float(v), operator.add)
        return [(key, len(ctx.set_read("seen")), ctx.combining_read("sum"))]

    with TestStream(spark, EVENT_SCHEMA) as ts:
        out = stateful_pardo(
            ts.stream, key_col="user_id", output_schema=out_schema,
            process=process, timer_domain="none",
        )
        ts.start(out, output_mode="append")
        ts.add_elements([(_ts(0, 1), 1, 5.0), (_ts(0, 2), 1, 5.0)]).advance()
        ts.add_elements([(_ts(0, 3), 1, 7.0), (_ts(0, 4), 1, 5.0)]).advance()
        rows = sorted((r.n_unique, r.total) for r in ts.results().collect())
        # batch 1: {5.0} sum 5; batch 2: {5.0, 7.0} sum 12 — duplicates
        # never re-added, accumulator carried across micro-batches
        assert rows == [(1, 5.0), (2, 12.0)]


def test_stateful_pardo_time_sorted_input(spark):
    """RequiresTimeSortedInput (reference fn_runner.py:256-280): the
    process fn sees each per-key bundle sorted by the timestamp column,
    regardless of arrival order within the bundle."""
    from incubator_beam_spark.streaming.userstate import StatefulContext, stateful_pardo

    out_schema = T.StructType(
        [
            T.StructField("key", T.LongType()),
            T.StructField("seq", T.StringType()),
        ]
    )

    def process(key, rows, ctx: StatefulContext):
        # concat values in delivered order — exposes whether the bundle
        # was sorted before delivery
        return [(key, ",".join(str(int(v)) for v in rows["value"]))]

    with TestStream(spark, EVENT_SCHEMA) as ts:
        out = stateful_pardo(
            ts.stream, key_col="user_id", output_schema=out_schema,
            process=process, timer_domain="none", time_sorted_by="ts",
        )
        ts.start(out, output_mode="append")
        # arrival order is ts-descending: 4, 3, 1
        ts.add_elements(
            [(_ts(0, 4), 1, 4.0), (_ts(0, 3), 1, 3.0), (_ts(0, 1), 1, 1.0)]
        ).advance()
        rows = [r.seq for r in ts.results().collect()]
        assert rows == ["1,3,4"]


def test_per_key_counter_string_keys(spark):
    """Round-1 ADVICE: stateful kernels must not assume LongType keys."""
    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    with TestStream(spark, schema) as ts:
        out = per_key_counter(ts.stream, key_col="user_id")
        ts.start(out, output_mode="update")
        ts.add_elements([(_ts(0, 1), "alice", 1.0), (_ts(0, 2), "alice", 2.0),
                         (_ts(0, 3), "bob", 3.0)]).advance()
        got = {r.key: r.total for r in ts.results().collect()}
        assert got == {"alice": 2, "bob": 1}


def test_watermark_sentinel_advances_past_bounded_data(spark):
    """stream_table's watermark sentinel: a far-future one-row file in
    its own final micro-batch pushes the watermark beyond every real
    event, so watermark-gated state (outer joins, timers) flushes on a
    bounded drain. The sentinel must be filtered ABOVE the watermark
    node with a ts-referencing predicate."""
    import uuid

    from incubator_beam_spark.streaming.source import stream_table

    e = stream_table(
        spark, SF_DIR, "events", watermark_sentinel_ts="2099-01-01"
    ).withWatermark("ts", "1 hour").filter(
        F.col("ts") < F.lit("2098-01-01").cast("timestamp")
    )
    agg = e.groupBy(F.window("ts", "1 hour")).agg(F.count(F.lit(1)).alias("n"))
    name = f"sentinel_{uuid.uuid4().hex[:8]}"
    q = agg.writeStream.outputMode("append").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
        import time

        for _ in range(20):
            time.sleep(0.5)
            q.processAllAvailable()
            wm = (q.lastProgress or {}).get("eventTime", {}).get("watermark", "")
            if wm.startswith("2098"):
                break
        # watermark passed every real event -> append mode emitted ALL
        # windows, including the final one
        batch_windows = (
            spark.read.parquet(f"{SF_DIR}/events.parquet")
            .select(F.window(F.col("ts").cast("timestamp"), "1 hour"))
            .distinct()
            .count()
        )
        assert spark.table(name).count() == batch_windows
        assert wm.startswith("2098")
    finally:
        q.stop()


@pytest.mark.deep  # ~22 s/seed of multi-wave drains; pure differential
# fuzz — the devices it guards stay oracle-checked in the default tier
# (stream_*_et in-window) and by the per-round contract drive
@pytest.mark.parametrize("seed", [0, 1, 2])
def test_watermark_gated_visibility_fuzz(spark, tmp_path, seed):
    """Differential fuzz for the r11 event-time devices' load-bearing
    claim: an append-mode 1-minute window aggregation releases a row
    to foreachBatch exactly once, in the first micro-batch whose
    PRE-BATCH watermark clears the row's window end — i.e. visibility
    is the pure event-time predicate minute < cut, independent of
    which file delivered the row. Randomizes the minute assignment,
    the file partitioning/arrival order, and the watermark cut points
    (+30s offsets so no window end ever ties a cut)."""
    import random

    from pyspark.sql import functions as F

    from incubator_beam_spark.queries.events import _stage_scripted_file

    rng = random.Random(seed)
    n = 120
    base = 1704067200
    minutes = {i: rng.randrange(0, 240) for i in range(n)}
    rows = [(i, minutes[i]) for i in range(n)]
    rng.shuffle(rows)
    k = rng.randrange(3, 6)
    files = [rows[j::k] for j in range(k)]
    cuts = sorted(rng.sample(range(10, 240), 3)) + [300]

    stage = str(tmp_path / "stage")
    import os

    os.makedirs(stage)
    t0 = 1700000000
    for fi, chunk in enumerate(f for f in files if f):
        df = spark.createDataFrame(chunk, "id long, m long").select(
            "id", F.timestamp_seconds(F.lit(base) + F.col("m") * 60).alias("ts")
        )
        _stage_scripted_file(stage, df, f"a_data{fi}", t0 + fi)
    # one sentinel per cut, plus a final flush sentinel so the last
    # cut's emission batch actually runs
    for ci, cut in enumerate(cuts + [400]):
        sent = spark.createDataFrame([(-1 - ci,)], "id long").select(
            "id",
            F.timestamp_seconds(
                F.lit(base + 60 * 86400 + cut * 60 + 30)
            ).alias("ts"),
        )
        _stage_scripted_file(stage, sent, f"b_wm{ci}", t0 + 100 + ci)

    out = []

    def handle(batch_df, epoch):
        got = [r.id for r in batch_df.collect() if r.id >= 0]
        if got:
            out.append((epoch, sorted(got)))

    s = (
        spark.readStream.schema("id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    fin = (
        s.withWatermark("ts", "60 days")
        .groupBy(F.window("ts", "1 minute"), "id")
        .count()
    )
    q = (
        fin.writeStream.outputMode("append")
        .foreachBatch(handle)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # expected wave of row i = index of first cut with minute < cut;
    # emission batches, in order, must equal the non-empty waves
    expected = {}
    for i, m in minutes.items():
        wave = next(ci for ci, cut in enumerate(cuts) if m < cut)
        expected.setdefault(wave, []).append(i)
    expected_seq = [sorted(v) for _, v in sorted(expected.items())]
    got_seq = [ids for _, ids in sorted(out)]
    assert got_seq == expected_seq, (
        f"seed {seed}: emission waves diverge from the event-time "
        f"predicate\nexpected {expected_seq}\ngot {got_seq}"
    )
    assert sum(len(v) for v in got_seq) == n  # exactly once, no loss


_FILE_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"


def _stage_max_file(spark, stage, i):
    """Stage event file ``i`` (0 or 1) for the windowed max. File 1
    lowers key 1's [0, 10) value, so only a restored state keeps 5.0,
    and raises key 2's."""
    from incubator_beam_spark.queries.events import _stage_scripted_file

    rows = [
        [(_ts(1), 1, 5.0), (_ts(2), 2, 3.0), (_ts(12), 1, 7.0)],
        [(_ts(3), 1, 4.0), (_ts(4), 2, 9.0), (_ts(13), 3, 1.0)],
    ][i]
    df = spark.createDataFrame(rows, EVENT_SCHEMA)
    _stage_scripted_file(stage, df, f"f{i}", 1700000000 + i)


def _drain_windowed_max(spark, stage, ckpt):
    """Drain an update-mode windowed max over ``stage`` (one file per
    trigger) into ``ckpt``; return the non-empty batch outputs in order
    and the batch ids that ran."""
    out = []

    def handle(batch_df, _epoch):
        rows = sorted(tuple(r) for r in batch_df.collect())
        if rows:
            out.append(rows)

    agg = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "10 minutes"), "user_id")
        .agg(F.max("value").alias("mx"))
        .select(F.unix_timestamp("window.start").alias("ws"), "user_id", "mx")
    )
    q = (
        agg.writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch(handle)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return out, sorted({p["batchId"] for p in q.recentProgress})


def test_checkpoint_restart_across_file_managers(spark, tmp_path):
    """A checkpoint written through Spark's FileContext checkpoint manager
    restarts under the session's FileSystem-based one, and the restarted
    query's output equals an uninterrupted run's."""
    import os

    whole, split = str(tmp_path / "whole"), str(tmp_path / "split")
    os.makedirs(whole)
    os.makedirs(split)
    for i in (0, 1):
        _stage_max_file(spark, whole, i)
    expected, _ = _drain_windowed_max(spark, whole, str(tmp_path / "ckpt_whole"))

    _stage_max_file(spark, split, 0)
    default = spark.conf.get(_FILE_MANAGER_KEY)
    spark.conf.set(
        _FILE_MANAGER_KEY,
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileContextBasedCheckpointFileManager",
    )
    try:
        first, _ = _drain_windowed_max(spark, split, str(tmp_path / "ckpt_split"))
    finally:
        spark.conf.set(_FILE_MANAGER_KEY, default)
    _stage_max_file(spark, split, 1)
    rest, _ = _drain_windowed_max(spark, split, str(tmp_path / "ckpt_split"))

    assert first + rest == expected
    assert expected[1][0] == (1704067200, 1, 5.0)  # max restored from state


def test_local_session_checkpoints_through_filesystem_manager(spark, tmp_path):
    """Local sessions resolve the FileSystem-based checkpoint manager, and
    a stateful drain still writes Spark's checksum file beside every
    state delta and one offset and one commit entry per batch."""
    import os

    from incubator_beam_spark.session import CHECKPOINT_FILE_MANAGER

    assert spark.conf.get(_FILE_MANAGER_KEY) == CHECKPOINT_FILE_MANAGER
    jvm = spark._jvm
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(str(tmp_path)),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    assert manager.getClass().getName() == CHECKPOINT_FILE_MANAGER

    stage, ckpt = str(tmp_path / "stage"), str(tmp_path / "ckpt")
    os.makedirs(stage)
    for i in (0, 1):
        _stage_max_file(spark, stage, i)
    # N.delta files are the layout of the session's default, HDFS-backed,
    # store: earlier transformWithState tests must have handed it back
    _, batches = _drain_windowed_max(spark, stage, ckpt)
    assert len(batches) >= 2

    state = os.path.join(ckpt, "state", "0")
    deltas = 0
    for part in os.listdir(state):
        if not part.isdigit():
            continue
        files = set(os.listdir(os.path.join(state, part)))
        for f in files:
            if f.endswith(".delta") and not f.startswith("."):
                deltas += 1
                assert f + ".crc" in files, f"{part}/{f} has no checksum file"
    assert deltas > 0
    for log in ("offsets", "commits"):
        entries = [f for f in os.listdir(os.path.join(ckpt, log)) if not f.startswith(".")]
        assert sorted(map(int, entries)) == batches, log
