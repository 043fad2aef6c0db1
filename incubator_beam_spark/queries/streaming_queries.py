"""Streaming queries IN the correctness gate: each entry reads the
fixture through ``spark.readStream``, drains the bounded stream through
micro-batch execution, and returns the final result DataFrame — which
must hash-match the SAME DuckDB oracle as the equivalent batch plan.

This is the reference's ValidatesRunner contract (SURVEY.md §5: one
semantic suite, every execution mode) made driver-checkable: the oracle
does not know or care that Spark executed the plan as a sequence of
micro-batches with state in between.

Scale: these run identical logical plans to their batch twins; the
streaming-only additions (watermark columns, state store) are exactly
what production unbounded runs use.
"""

from __future__ import annotations

import uuid

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..registry import query
from ..streaming.source import stream_table

_HOUR = 3600


def _drain(df: DataFrame, mode: str = "complete", settle: bool = False) -> DataFrame:
    """Run the bounded file-backed stream to completion through a memory
    sink; returns the sink contents as a batch DataFrame.

    ``settle=True``: ALSO wait for the post-watermark no-data batches.
    ``processAllAvailable`` only waits for available DATA; outputs that
    exist purely because the watermark closed state (outer-join null
    padding, timer GC) arrive in a later no-data batch. Poll the sink
    until its row count is stable across consecutive checks."""
    import time

    name = f"gate_stream_{uuid.uuid4().hex[:10]}"
    q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
        if settle:
            spark = df.sparkSession
            prev, stable = -1, 0
            for _ in range(90):  # cap ~90s
                n = spark.table(name).count()
                stable = stable + 1 if n == prev else 0
                prev = n
                # no-data batches fire on the trigger thread with no
                # fixed latency bound under load — demand a quiet period
                # before declaring the stream settled. Once the LAST
                # batch was itself a no-data batch (watermark-close work
                # done), a short stability window suffices; otherwise
                # hold out longer (~8s).
                lp = q.lastProgress
                drained = lp is not None and lp["numInputRows"] == 0
                if stable >= (3 if drained else 8):
                    break
                time.sleep(1.0)
                q.processAllAvailable()
    finally:
        q.stop()
    return df.sparkSession.table(name)


@query(
    "stream_tumbling_agg",
    oracle=f"""
    SELECT (floor(epoch(ts))::BIGINT // {_HOUR}) * {_HOUR} AS window_start,
           event_type,
           count(*) AS n,
           round(sum(value), 2) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def stream_tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """evt_tumbling_window executed as a STREAM (micro-batch, complete
    mode): same oracle as the batch twin — the ValidatesRunner check."""
    e = stream_table(spark, sf_dir, "events")
    agg = (
        e.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.unix_timestamp(F.col("window.start")).alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )
    return _drain(agg, "complete")


@query(
    "stream_stateless_map_filter",
    oracle="""
    SELECT event_id, user_id, round(value * 0.908, 2) AS eur_value
    FROM events WHERE event_type = 'purchase'
    """,
)
def stream_stateless_map_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEXMark Q1 as a stream (append mode, stateless): Map/Filter parity
    between read and readStream."""
    e = stream_table(spark, sf_dir, "events")
    out = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.round(F.col("value") * 0.908, 2).alias("eur_value")
    )
    return _drain(out, "append")


@query(
    "stream_distinct_users",
    oracle="SELECT count(DISTINCT user_id) AS n_users FROM events",
)
def stream_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact distinct-count: stateful dropDuplicates feeding a
    complete-mode count (streaming bans COUNT(DISTINCT) directly; chained
    stateful operators are the supported form)."""
    e = stream_table(spark, sf_dir, "events")
    return _drain(
        e.select("user_id").dropDuplicates(["user_id"]).agg(
            F.count(F.lit(1)).alias("n_users")
        ),
        "complete",
    )


@query(
    "stream_session_window",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts))
                       >= 1800 OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events),
    numbered AS (
      SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                       ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged)
    SELECT user_id,
           floor(epoch(min(ts)))::BIGINT AS session_start,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM numbered GROUP BY user_id, session_id
    """,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merging session windows under micro-batch execution (complete
    mode): Sessions(gap=30m) per user, same oracle as the batch twin
    evt_session_window — session MERGING across micro-batches is the
    interesting part (state stores partial sessions between batches)."""
    e = stream_table(spark, sf_dir, "events").withWatermark("ts", "0 seconds")
    agg = (
        e.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            "user_id",
            F.unix_timestamp(F.col("session_window.start")).alias("session_start"),
            "n_events",
            "sum_value",
        )
    )
    return _drain(agg, "complete")


@query(
    "stream_stream_join",
    oracle=f"""
    SELECT p.user_id, (floor(epoch(p.ts))::BIGINT // {_HOUR}) * {_HOUR} AS window_start,
           p.event_id AS p_event, c.event_id AS c_event
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND floor(epoch(p.ts))::BIGINT // {_HOUR} = floor(epoch(c.ts))::BIGINT // {_HOUR}
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join (NEXMark Q3/Q8 shape,
    ``BeamCoGBKJoinRel`` unbounded x unbounded): purchases x clicks per
    (user, 1h window), both sides watermarked so join state is bounded —
    Spark evicts rows once the watermark passes their window. Oracle is
    the identical batch join."""
    e1 = stream_table(spark, sf_dir, "events").withWatermark("ts", "1 hour")
    e2 = stream_table(spark, sf_dir, "events").withWatermark("ts", "1 hour")
    p = e1.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"), F.window("ts", "1 hour").alias("w"),
        F.col("event_id").alias("p_event"),
    )
    c = e2.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.window("ts", "1 hour").alias("w"),
        F.col("event_id").alias("c_event"),
    )
    j = p.join(c, (p.user_id == c.c_user) & (p.w == c.w)).select(
        "user_id",
        F.unix_timestamp(p.w.start).alias("window_start"),
        "p_event",
        "c_event",
    )
    return _drain(j, "append")


@query(
    "stream_asof_enrich",
    oracle="""
    WITH clicks AS (SELECT * FROM events WHERE event_type = 'click'),
         views  AS (SELECT * FROM events WHERE event_type = 'view')
    SELECT c.event_id AS click_id, c.user_id, c.ts AS click_ts,
           v.event_id AS view_id, v.ts AS view_ts
    FROM clicks c ASOF LEFT JOIN views v
      ON c.user_id = v.user_id AND v.ts <= c.ts
    """,
)
def stream_asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming enrichment: the click stream as-of joins a STATIC view
    dimension inside foreachBatch — the production shape for
    point-in-time feature lookup against a slowly-changing table (the
    window function inside asof_join is legal per micro-batch, not on the
    unbounded stream itself). Against a static right side the result is
    batching-invariant, so the oracle is the identical batch ASOF JOIN."""
    import tempfile

    from ..catalog import table as batch_table
    from ..dataops.temporal import asof_join

    clicks = stream_table(spark, sf_dir, "events", max_files_per_trigger=1).filter(
        F.col("event_type") == "click"
    ).select("user_id", F.col("event_id").alias("click_id"), "ts")
    views = batch_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "view"
    ).select("user_id", "event_id", "ts")

    out_dir = tempfile.mkdtemp(prefix="stream_asof_")

    def enrich(batch_df: DataFrame, _bid: int) -> None:
        enriched = asof_join(batch_df, views, on="user_id", left_ts="ts", right_ts="ts")
        enriched.select(
            "click_id",
            "user_id",
            F.col("ts").alias("click_ts"),
            F.col("r_event_id").alias("view_id"),
            F.col("r_ts").alias("view_ts"),
        ).write.mode("append").parquet(out_dir)

    q = clicks.writeStream.foreachBatch(enrich).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.read.parquet(out_dir)


@query(
    "stream_synthetic_gbk",
    oracle="""
    WITH recs AS (
      SELECT event_id AS id,
             CASE WHEN b < 200000 THEN b % 2 ELSE 2 + (b % 98) END AS key_id
      FROM (SELECT event_id,
                   ('0x' || substr(md5('syn|k|' || CAST(event_id AS VARCHAR)), 1, 8))::BIGINT
                     % 1000000 AS b
            FROM events))
    SELECT key_id, count(*) AS n, min(id) AS min_id
    FROM recs GROUP BY key_id
    """,
)
def stream_synthetic_gbk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The load-test GBK executed as a STREAM: the synthetic source's
    deterministic record function (hot-key model over md5 buckets,
    sources/synthetic.py) applied to a streamed id column, then a
    streaming GBK drained to completion — ValidatesRunner parity for the
    load suite; the oracle regenerates key assignment from event ids."""
    from ..sources.synthetic import _bucket

    e = stream_table(spark, sf_dir, "events")
    b = _bucket(F.col("event_id"), "syn|k", 1_000_000)
    key_id = F.when(b < 200_000, b % 2).otherwise(2 + (b % 98))
    agg = (
        e.select(F.col("event_id").alias("id"), key_id.alias("key_id"))
        .groupBy("key_id")
        .agg(F.count(F.lit(1)).alias("n"), F.min("id").alias("min_id"))
    )
    return _drain(agg, "complete")


@query(
    "stream_cdc_apply",
    oracle="""
    WITH log AS (
      SELECT o_custkey, o_orderkey AS seq,
             CASE WHEN o_orderkey % 10 = 0 THEN 'D' ELSE 'U' END AS op,
             CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
             o_orderstatus
      FROM orders),
    latest AS (
      SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY seq DESC) AS rn
      FROM log)
    SELECT o_custkey, seq, price_cents, o_orderstatus
    FROM latest WHERE rn = 1 AND op <> 'D'
    """,
)
def stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """io_cdc_apply executed as a STREAM: the changelog arrives in
    micro-batches and latest-wins state lives in the state store
    (max_by keyed aggregate, complete mode) — exactly how a Debezium
    topic materializes into a serving table. Same oracle as the batch
    twin."""
    o = stream_table(spark, sf_dir, "orders")
    log = o.select(
        "o_custkey",
        F.col("o_orderkey").alias("seq"),
        F.when(F.col("o_orderkey") % 10 == 0, "D").otherwise("U").alias("op"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
        "o_orderstatus",
    )
    state = (
        log.groupBy("o_custkey")
        .agg(F.max_by(F.struct("seq", "op", "price_cents", "o_orderstatus"), "seq").alias("s"))
        .select("o_custkey", "s.seq", "s.op", "s.price_cents", "s.o_orderstatus")
        .filter(F.col("op") != "D")
        .drop("op")
    )
    return _drain(state, "complete")


@query(
    "stream_deduplicate",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def stream_deduplicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference Deduplicate transform (``transforms/deduplicate.py:111``,
    event-time-bounded streaming dedup) as a first-class gate:
    ``dropDuplicatesWithinWatermark`` keeps the first arrival per
    (user_id, event_type) and expires state once the watermark passes the
    dedup horizon — bounded state however long the stream runs. The
    horizon (the watermark delay, 30 days) exceeds the fixture's full
    time span, so no state expires mid-stream, every later duplicate is
    suppressed IN the streaming operator, and the appended output is
    exactly the global DISTINCT — the oracle is engine-independent
    (payload ambiguity removed by projecting the key before dedup)."""
    e = stream_table(spark, sf_dir, "events").withWatermark("ts", "720 hours")
    out = e.select("user_id", "event_type", "ts").dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    ).select("user_id", "event_type")
    return _drain(out, "append")


@query(
    "stream_nexmark_q7",
    oracle=f"""
    WITH mx AS (
      SELECT (floor(epoch(ts))::BIGINT // {_HOUR}) * {_HOUR} AS window_start,
             max(value) AS max_value
      FROM events GROUP BY 1)
    SELECT e2.window_start, e2.max_value, min(event_id) AS event_id
    FROM (SELECT (floor(epoch(ts))::BIGINT // {_HOUR}) * {_HOUR} AS ws, event_id, value
          FROM events) e
    JOIN mx e2 ON e.ws = e2.window_start AND e.value = e2.max_value
    GROUP BY e2.window_start, e2.max_value
    """,
)
def stream_nexmark_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEXMark Q7 (highest bid per window) as a STREAM: where the batch
    plan is agg + broadcast join-back, the streaming plan is ONE stateful
    windowed aggregate — ``max(struct(value, -event_id))`` carries the
    winning event through the state store (max value, min event_id on
    ties), so no stream-stream join is needed. Same oracle as the batch
    twin nexmark_q7_highest_value."""
    e = stream_table(spark, sf_dir, "events")
    agg = (
        e.groupBy(F.window("ts", "1 hour"))
        .agg(F.max(F.struct(F.col("value"), (-F.col("event_id")).alias("neg"))).alias("s"))
        .select(
            F.unix_timestamp(F.col("window.start")).alias("window_start"),
            F.col("s.value").alias("max_value"),
            (-F.col("s.neg")).alias("event_id"),
        )
    )
    return _drain(agg, "complete")


@query(
    "stream_incremental_dedup",
    oracle="""
    WITH seen AS (SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id % 2 = 0),
    inc AS (SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 2 = 1)
    SELECT fp, count(*) AS n_copies, min(doc_id) AS first_id
    FROM inc WHERE fp NOT IN (SELECT fp FROM seen)
    GROUP BY fp
    """,
)
def stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental crawl ingestion as a STREAM (the production shape of
    doc_incremental_new): incoming documents arrive in micro-batches,
    stream-static LEFT ANTI join drops anything fingerprint-matching the
    existing snapshot (16-byte fp broadcast, text never shuffled), and a
    stateful per-fp aggregate counts surviving copies across batches —
    cross-batch dedup state lives in the state store. Same oracle shape
    as the batch twin plus the copy-count rollup."""
    from ..catalog import table as batch_table

    snapshot = (
        batch_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 2 == 0)
        .select(F.md5(F.col("text")).alias("fp"))
        .distinct()
    )
    inc = (
        stream_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 2 == 1)
        .select("doc_id", F.md5(F.col("text")).alias("fp"))
    )
    fresh = inc.join(F.broadcast(snapshot), "fp", "left_anti")
    agg = fresh.groupBy("fp").agg(
        F.count(F.lit(1)).alias("n_copies"), F.min("doc_id").alias("first_id")
    )
    return _drain(agg, "complete")


@query(
    "trigger_aftercount_panes",
    oracle="""
    WITH cents AS (
      SELECT user_id,
             (floor(epoch(ts))::BIGINT // 3600) * 3600 AS window_start,
             epoch(ts) AS tse, event_id,
             CAST(round(value * 100) AS BIGINT) AS v
      FROM events),
    numbered AS (
      SELECT *,
             row_number() OVER (PARTITION BY user_id, window_start
                                ORDER BY tse, event_id) - 1 AS rn,
             count(*) OVER (PARTITION BY user_id, window_start) AS n_w
      FROM cents),
    early AS (
      SELECT user_id, window_start, rn // 3 AS pane_index,
             'EARLY' AS timing, count(*) AS n,
             CAST(sum(v) AS BIGINT) AS sum_cents
      FROM numbered WHERE rn // 3 < n_w // 3
      GROUP BY user_id, window_start, rn // 3),
    ontime AS (
      SELECT user_id, window_start, n_w // 3 AS pane_index,
             'ON_TIME' AS timing, count(*) AS n,
             CAST(sum(v) AS BIGINT) AS sum_cents
      FROM numbered WHERE rn >= (n_w // 3) * 3
      GROUP BY user_id, window_start, n_w // 3)
    SELECT * FROM early UNION ALL SELECT * FROM ontime
    """,
)
def trigger_aftercount_panes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE TRIGGER VM, driver-checked: Repeatedly(AfterCount(3)) in
    DISCARDING mode over 1h tumbling windows, elements delivered one at
    a time in (ts, event_id) order per user — so every complete group of
    3 in-window elements fires an EARLY pane and the remainder flushes
    as the window's closing ON_TIME pane at watermark close. Scripted
    delivery makes the pane sequence (index, timing, count, sum) exactly
    SQL-derivable — the same move NEXMark Q12 uses for processing time —
    turning the engine's hardest no-oracle component (streaming/
    triggers.py, validated until now only by transcript tests) into a
    hash-checked gate. The REAL kernel runs per key inside
    applyInPandas; pane sums are integer cents so float order is moot."""
    import pandas as pd

    from ..catalog import table as batch_table
    from ..streaming.triggers import DISCARDING, AfterCount, Repeatedly, TriggerDriver

    e = batch_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.col("ts").cast("double").alias("tse"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )

    def run_kernel(pdf):
        pdf = pdf.sort_values(["tse", "event_id"])
        uid = int(pdf["user_id"].iloc[0])
        drv = TriggerDriver(3600.0, Repeatedly(AfterCount(3)), DISCARDING)
        panes = []
        for ts, v in zip(pdf["tse"], pdf["cents"]):
            panes.extend(drv.on_elements([(float(ts), float(v))]))
        panes.extend(drv.advance_watermark(float("inf")))
        return pd.DataFrame(
            {
                "user_id": [uid] * len(panes),
                "window_start": [int(p.window_start) for p in panes],
                "pane_index": [p.index for p in panes],
                "timing": [p.timing for p in panes],
                "n": [p.count for p in panes],
                "sum_cents": [int(p.sum) for p in panes],
            }
        )

    schema = (
        "user_id long, window_start long, pane_index long, "
        "timing string, n long, sum_cents long"
    )
    return e.groupBy("user_id").applyInPandas(run_kernel, schema)


@query(
    "trigger_lifecycle_panes",
    oracle="""
    WITH base AS (
      SELECT user_id,
             (floor(epoch(ts))::BIGINT // 3600) * 3600 AS window_start,
             epoch(ts) AS tse, event_id,
             CAST(round(value * 100) AS BIGINT) AS v,
             (event_id % 7 = 0) AS is_late
      FROM events),
    a AS (
      SELECT *, row_number() OVER (PARTITION BY user_id, window_start
                                   ORDER BY tse, event_id) - 1 AS rn
      FROM base WHERE NOT is_late),
    b AS (
      SELECT *, row_number() OVER (PARTITION BY user_id, window_start
                                   ORDER BY tse, event_id) - 1 AS rn
      FROM base WHERE is_late),
    stats AS (
      SELECT user_id, window_start,
             coalesce(max(CASE WHEN NOT is_late THEN 1 ELSE 0 END), 0) AS has_a,
             CAST(sum(CASE WHEN NOT is_late THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(sum(CASE WHEN is_late THEN 1 ELSE 0 END) AS BIGINT) AS n_b
      FROM base GROUP BY user_id, window_start),
    early AS (
      SELECT a.user_id, a.window_start, a.rn // 3 AS pane_index,
             'EARLY' AS timing, count(*) AS n, CAST(sum(a.v) AS BIGINT) AS sum_cents
      FROM a JOIN stats s USING (user_id, window_start)
      WHERE a.rn // 3 < s.n_a // 3
      GROUP BY a.user_id, a.window_start, a.rn // 3),
    ontime AS (
      -- every window fires exactly one ON_TIME pane: at the watermark
      -- (leftover on-time elements, possibly 0) or, for late-only
      -- windows, absorbed by the first late element
      SELECT s.user_id, s.window_start, s.n_a // 3 AS pane_index,
             'ON_TIME' AS timing,
             CASE WHEN s.n_a > 0
                  THEN s.n_a % 3
                  ELSE 1 END AS n,
             CASE WHEN s.n_a > 0
                  THEN coalesce((SELECT CAST(sum(a.v) AS BIGINT) FROM a
                                 WHERE a.user_id = s.user_id
                                   AND a.window_start = s.window_start
                                   AND a.rn >= (s.n_a // 3) * 3), 0)
                  ELSE (SELECT CAST(b.v AS BIGINT) FROM b
                        WHERE b.user_id = s.user_id
                          AND b.window_start = s.window_start AND b.rn = 0) END
               AS sum_cents
      FROM stats s),
    late AS (
      SELECT b.user_id, b.window_start,
             s.n_a // 3 + 1 + (b.rn - (1 - s.has_a)) // 2 AS pane_index,
             'LATE' AS timing, count(*) AS n, CAST(sum(b.v) AS BIGINT) AS sum_cents
      FROM b JOIN stats s USING (user_id, window_start)
      WHERE b.rn >= (1 - s.has_a)
        AND (b.rn - (1 - s.has_a)) // 2 < (s.n_b - (1 - s.has_a)) // 2
      GROUP BY b.user_id, b.window_start, s.n_a, s.has_a,
               (b.rn - (1 - s.has_a)) // 2),
    finalgc AS (
      SELECT b.user_id, b.window_start,
             s.n_a // 3 + 1 + (s.n_b - (1 - s.has_a)) // 2 AS pane_index,
             'LATE' AS timing, count(*) AS n, CAST(sum(b.v) AS BIGINT) AS sum_cents
      FROM b JOIN stats s USING (user_id, window_start)
      WHERE b.rn >= (1 - s.has_a)
        AND (b.rn - (1 - s.has_a)) >= ((s.n_b - (1 - s.has_a)) // 2) * 2
        AND (s.n_b - (1 - s.has_a)) % 2 = 1
      GROUP BY b.user_id, b.window_start, s.n_a, s.n_b, s.has_a)
    SELECT * FROM early
    UNION ALL SELECT * FROM ontime
    UNION ALL SELECT * FROM late
    UNION ALL SELECT * FROM finalgc
    """,
)
def trigger_lifecycle_panes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL pane lifecycle, driver-checked:
    AfterWatermark(early=AfterCount(3), late=AfterCount(2)), DISCARDING,
    allowed_lateness=1e12 — scripted in three acts per user: (1) on-time
    elements (event_id % 7 != 0) one at a time in ts order -> EARLY
    panes every 3; (2) watermark past every window end -> exactly one
    ON_TIME pane per window (empty remainder included; late-only
    windows fire theirs on the first late arrival instead); (3) late
    elements (event_id % 7 == 0) -> LATE panes every 2, and the
    GC advance flushes the odd leftover as the window's final pane.
    Every branch of the AfterWatermark machinery (early sub-trigger
    restart, on-time transition, late sub-trigger, closing-behavior GC
    emission) is pinned by the hash."""
    import pandas as pd

    from ..catalog import table as batch_table
    from ..streaming.triggers import (
        DISCARDING,
        AfterCount,
        AfterWatermark,
        TriggerDriver,
    )

    e = batch_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.col("ts").cast("double").alias("tse"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )

    def run_kernel(pdf):
        pdf = pdf.sort_values(["tse", "event_id"])
        uid = int(pdf["user_id"].iloc[0])
        drv = TriggerDriver(
            3600.0,
            AfterWatermark(early=AfterCount(3), late=AfterCount(2)),
            DISCARDING,
            allowed_lateness=1e12,
        )
        panes = []
        late_mask = (pdf["event_id"] % 7 == 0).to_numpy()
        for ts, v in zip(pdf["tse"][~late_mask], pdf["cents"][~late_mask]):
            panes.extend(drv.on_elements([(float(ts), float(v))]))
        panes.extend(drv.advance_watermark(4102444800.0))
        for ts, v in zip(pdf["tse"][late_mask], pdf["cents"][late_mask]):
            panes.extend(drv.on_elements([(float(ts), float(v))]))
        panes.extend(drv.advance_watermark(1e13))
        return pd.DataFrame(
            {
                "user_id": [uid] * len(panes),
                "window_start": [int(p.window_start) for p in panes],
                "pane_index": [p.index for p in panes],
                "timing": [p.timing for p in panes],
                "n": [p.count for p in panes],
                "sum_cents": [int(p.sum) for p in panes],
            }
        )

    schema = (
        "user_id long, window_start long, pane_index long, "
        "timing string, n long, sum_cents long"
    )
    return e.groupBy("user_id").applyInPandas(run_kernel, schema)


@query(
    "trigger_accumulating_panes",
    oracle="""
    WITH cents AS (
      SELECT user_id,
             (floor(epoch(ts))::BIGINT // 3600) * 3600 AS window_start,
             epoch(ts) AS tse, event_id,
             CAST(round(value * 100) AS BIGINT) AS v
      FROM events),
    numbered AS (
      SELECT *,
             row_number() OVER (PARTITION BY user_id, window_start
                                ORDER BY tse, event_id) - 1 AS rn,
             count(*) OVER (PARTITION BY user_id, window_start) AS n_w,
             sum(v) OVER (PARTITION BY user_id, window_start
                          ORDER BY tse, event_id ROWS UNBOUNDED PRECEDING)
               AS prefix_sum,
             sum(v) OVER (PARTITION BY user_id, window_start) AS total_sum
      FROM cents),
    early AS (
      -- pane i fires at element rank 3(i+1): ACCUMULATING count/sum are
      -- the full prefix, not the 3-element delta
      SELECT user_id, window_start, rn // 3 AS pane_index, 'EARLY' AS timing,
             CAST(rn + 1 AS BIGINT) AS n, CAST(prefix_sum AS BIGINT) AS sum_cents
      FROM numbered WHERE (rn + 1) % 3 = 0),
    finalpane AS (
      -- GC closing pane only when undelivered elements remain; count/sum
      -- are the window TOTALS under accumulation
      SELECT DISTINCT user_id, window_start, n_w // 3 AS pane_index,
             'ON_TIME' AS timing, n_w AS n, CAST(total_sum AS BIGINT) AS sum_cents
      FROM numbered WHERE n_w % 3 <> 0)
    SELECT * FROM early UNION ALL SELECT * FROM finalpane
    """,
)
def trigger_accumulating_panes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACCUMULATING accumulation mode, driver-checked (the twin of
    trigger_aftercount_panes, which pins DISCARDING): every pane carries
    the window's full running count/sum instead of the delta since the
    last firing, and the GC closing pane reports the window totals. The
    two gates' hashes differ exactly by the accumulation-mode semantics
    (reference ``trigger.py:72`` AccumulationMode)."""
    import pandas as pd

    from ..catalog import table as batch_table
    from ..streaming.triggers import ACCUMULATING, AfterCount, Repeatedly, TriggerDriver

    e = batch_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.col("ts").cast("double").alias("tse"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )

    def run_kernel(pdf):
        pdf = pdf.sort_values(["tse", "event_id"])
        uid = int(pdf["user_id"].iloc[0])
        drv = TriggerDriver(3600.0, Repeatedly(AfterCount(3)), ACCUMULATING)
        panes = []
        for ts, v in zip(pdf["tse"], pdf["cents"]):
            panes.extend(drv.on_elements([(float(ts), float(v))]))
        panes.extend(drv.advance_watermark(float("inf")))
        return pd.DataFrame(
            {
                "user_id": [uid] * len(panes),
                "window_start": [int(p.window_start) for p in panes],
                "pane_index": [p.index for p in panes],
                "timing": [p.timing for p in panes],
                "n": [p.count for p in panes],
                "sum_cents": [int(p.sum) for p in panes],
            }
        )

    schema = (
        "user_id long, window_start long, pane_index long, "
        "timing string, n long, sum_cents long"
    )
    return e.groupBy("user_id").applyInPandas(run_kernel, schema)


@query(
    "stateful_timer_flush",
    oracle="""
    WITH g AS (
      SELECT user_id,
             count(*) AS n,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
             min(floor(epoch(ts))::BIGINT) AS first_s
      FROM events GROUP BY user_id)
    SELECT user_id, n, sum_cents
    FROM g
    WHERE first_s + 1800 <= (SELECT max(floor(epoch(ts))::BIGINT) FROM events)
    """,
)
def stateful_timer_flush(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful ParDo + event-time TIMER, end-to-end through the REAL
    ``applyInPandasWithState`` adapter (streaming/userstate.py), driver-
    checked: each user's events fold into a CombiningValue cell (count +
    integer-cent sum — O(1) state, never a buffer), a value cell tracks
    the first-seen second, and a 'flush' event-time timer arms at
    first + 30min. The single-file fixture makes delivery one
    deterministic micro-batch; the no-data watermark batch then fires
    exactly the timers whose instant the final watermark passed — users
    whose first event is within 30min of the global max never flush,
    which the oracle states in SQL. Event times are floored to integer
    seconds so the kernel's instant<=watermark comparison has no
    millisecond-truncation boundary."""
    from ..streaming.userstate import StatefulContext, stateful_pardo
    from pyspark.sql import types as T

    e = (
        stream_table(spark, sf_dir, "events")
        .select(
            "user_id",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
            F.timestamp_seconds(F.floor(F.col("ts").cast("double"))).alias("tsr"),
        )
        .withWatermark("tsr", "0 seconds")
    )

    def process(key, pdf, ctx: StatefulContext):
        import operator

        for c, t in zip(pdf["cents"], pdf["tsr"]):
            ctx.combining_add("n", 1, operator.add)
            ctx.combining_add("sum", int(c), operator.add)
            s = t.timestamp()
            first = ctx.read("first")
            if first is None or s < first:
                ctx.write("first", s)
                ctx.set_timer("flush", s + 1800.0)
        return []

    def on_timer(key, name, ctx: StatefulContext):
        return [(key, ctx.combining_read("n"), ctx.combining_read("sum"))]

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n", T.LongType()),
            T.StructField("sum_cents", T.LongType()),
        ]
    )
    out = stateful_pardo(e, "user_id", schema, process, on_timer=on_timer)
    return _drain(out, "append")


@query(
    "stream_stream_left_join",
    oracle=f"""
    SELECT p.user_id, (floor(epoch(p.ts))::BIGINT // {_HOUR}) * {_HOUR} AS window_start,
           p.event_id AS p_event, c.event_id AS c_event
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND floor(epoch(p.ts))::BIGINT // {_HOUR} = floor(epoch(c.ts))::BIGINT // {_HOUR}
    """,
)
def stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream join — the stateful behavior the inner
    twin (stream_stream_join) cannot show: an unmatched left row is held
    in the state store until the watermark proves no matching right row
    can still arrive, THEN emits null-padded. Two scripted devices make
    the flush deterministic on a bounded drain: (1) each side stages a
    far-future watermark SENTINEL row (its own final micro-batch,
    event_id=-1) carrying that side's event_type — the type filter is
    pushed BELOW the watermark node by Catalyst, so the sentinel must
    pass it to reach EventTimeWatermarkExec, and the ts-referencing
    filter above the node (not pushable through a watermark) drops it
    from the data path; (2) the drain settles through the post-watermark
    no-data batches that emit the held null-padded rows. Result equals
    the batch LEFT JOIN exactly."""
    cutoff = F.lit("2098-01-01").cast("timestamp")
    e1 = stream_table(
        spark, sf_dir, "events", watermark_sentinel_ts="2099-01-01",
        watermark_sentinel_overrides={"event_type": "purchase"},
    ).withWatermark("ts", "1 hour").filter(F.col("ts") < cutoff)
    e2 = stream_table(
        spark, sf_dir, "events", watermark_sentinel_ts="2099-01-01",
        watermark_sentinel_overrides={"event_type": "click"},
    ).withWatermark("ts", "1 hour").filter(F.col("ts") < cutoff)
    p = e1.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"), F.window("ts", "1 hour").alias("w"),
        F.col("event_id").alias("p_event"),
    )
    c = e2.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.window("ts", "1 hour").alias("w2"),
        F.col("event_id").alias("c_event"),
    )
    j = p.join(
        c, (p.user_id == c.c_user) & (p.w == c.w2), "left_outer"
    ).select(
        "user_id",
        F.unix_timestamp(F.col("w.start")).alias("window_start"),
        "p_event",
        "c_event",
    )
    return _drain(j, "append", settle=True)


@query(
    "stream_session_window_append",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts))
                       >= 1800 OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events),
    numbered AS (
      SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                       ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged)
    SELECT user_id,
           floor(epoch(min(ts)))::BIGINT AS session_start,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM numbered GROUP BY user_id, session_id
    """,
)
def stream_session_window_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows in APPEND mode — each session emits exactly once,
    when the watermark proves it can no longer merge or grow (the
    production sink-friendly path; the complete-mode twin
    stream_session_window re-emits everything every batch). The final
    sessions only finalize because the watermark SENTINEL pushes the
    watermark past all real data; same oracle as the batch twin."""
    e = (
        stream_table(
            spark, sf_dir, "events", watermark_sentinel_ts="2099-01-01"
        )
        .withWatermark("ts", "30 minutes")
        .filter(F.col("ts") < F.lit("2098-01-01").cast("timestamp"))
    )
    agg = (
        e.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            "user_id",
            F.unix_timestamp(F.col("session_window.start")).alias("session_start"),
            "n_events",
            "sum_value",
        )
    )
    return _drain(agg, "append", settle=True)


@query(
    "stream_union_flatten",
    oracle="""
    SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value
    FROM events WHERE event_type IN ('purchase', 'click')
    GROUP BY event_type
    """,
)
def stream_union_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flatten over UNBOUNDED inputs (reference ``core.py:2850`` on
    streams — the multi-topic union every production pipeline starts
    with): two independently-filtered streams union into one stateful
    aggregate; micro-batches from both sides interleave through the
    same state. Same oracle as the batch union."""
    a = stream_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    b = stream_table(spark, sf_dir, "events").filter(F.col("event_type") == "click")
    u = a.unionByName(b)
    agg = u.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value")
    )
    return _drain(agg, "complete")


@query(
    "stream_per_key_counter",
    oracle="SELECT user_id AS key, count(*) AS total FROM events GROUP BY user_id",
)
def stream_per_key_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ReadModifyWriteState hello-world (reference ``userstate.py:73``)
    as a driver gate: a custom ``applyInPandasWithState`` kernel keeps a
    running per-key count in a value cell and emits the updated total
    once per key per micro-batch (Update mode). On the single-file
    fixture the drain is one deterministic batch, so the emitted totals
    are exactly the per-key counts — gating the custom keyed-state
    UPDATE path distinctly from every windowed/native-stateful gate."""
    from ..streaming.stateful import per_key_counter

    e = stream_table(spark, sf_dir, "events")
    out = per_key_counter(e, "user_id")
    return _drain(out, "update")


@query(
    "stream_stream_full_outer_join",
    oracle=f"""
    SELECT coalesce(p.user_id, c.user_id) AS user_id,
           (coalesce(floor(epoch(p.ts))::BIGINT // {_HOUR},
                     floor(epoch(c.ts))::BIGINT // {_HOUR})) * {_HOUR}
             AS window_start,
           p.event_id AS p_event, c.event_id AS c_event
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    FULL JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND floor(epoch(p.ts))::BIGINT // {_HOUR} = floor(epoch(c.ts))::BIGINT // {_HOUR}
    """,
)
def stream_stream_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER stream-stream join — both sides hold unmatched rows in
    the state store and null-pad them only when the watermark closes the
    window (reference Beam expresses this as CoGroupByKey over windowed
    PCollections with both iterables possibly empty; Spark's native
    stream-stream full_outer is the idiomatic lowering). Same two
    scripted devices as the left twin (far-future watermark sentinel per
    side surviving the pushed type filter; settled drain emits the held
    rows), plus full-outer-specific output hygiene: user_id and
    window_start COALESCE across sides because either side may be the
    null-padded one. Result equals the batch FULL JOIN exactly."""
    cutoff = F.lit("2098-01-01").cast("timestamp")
    e1 = stream_table(
        spark, sf_dir, "events", watermark_sentinel_ts="2099-01-01",
        watermark_sentinel_overrides={"event_type": "purchase"},
    ).withWatermark("ts", "1 hour").filter(F.col("ts") < cutoff)
    e2 = stream_table(
        spark, sf_dir, "events", watermark_sentinel_ts="2099-01-01",
        watermark_sentinel_overrides={"event_type": "click"},
    ).withWatermark("ts", "1 hour").filter(F.col("ts") < cutoff)
    p = e1.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.window("ts", "1 hour").alias("w"),
        F.col("event_id").alias("p_event"),
    )
    c = e2.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.window("ts", "1 hour").alias("w2"),
        F.col("event_id").alias("c_event"),
    )
    j = p.join(
        c, (p.p_user == c.c_user) & (p.w == c.w2), "full_outer"
    ).select(
        F.coalesce(F.col("p_user"), F.col("c_user")).alias("user_id"),
        F.unix_timestamp(
            F.coalesce(F.col("w.start"), F.col("w2.start"))
        ).alias("window_start"),
        "p_event",
        "c_event",
    )
    return _drain(j, "append", settle=True)


@query(
    "stream_sliding_agg",
    oracle=f"""
    WITH offsets AS (SELECT unnest([0, 900, 1800, 2700]) AS off)
    SELECT ((floor(epoch(ts))::BIGINT - off) // {_HOUR}) * {_HOUR} + off
             AS window_start,
           count(*) AS n,
           round(sum(value), 2) AS sum_value
    FROM events, offsets
    WHERE floor(epoch(ts))::BIGINT
            >= ((floor(epoch(ts))::BIGINT - off) // {_HOUR}) * {_HOUR} + off
    GROUP BY 1
    """,
)
def stream_sliding_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """evt_sliding_window executed as a STREAM (hopping window, complete
    mode): SlidingWindows(size=1h, period=15m) is Spark's native sliding
    F.window in a streaming aggregate — each event lands in 4 windows.
    Oracle replays the multi-assignment with an offset unnest, the same
    device as the batch twin. The ValidatesRunner check for hopping
    windows: stream result equals the batch assignment exactly."""
    e = stream_table(spark, sf_dir, "events")
    agg = (
        e.groupBy(F.window("ts", "1 hour", "15 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("window.start")).alias("window_start"),
            "n",
            "sum_value",
        )
    )
    return _drain(agg, "complete")


@query(
    "stream_chained_watermarks",
    oracle="""
    WITH hourly AS (
      SELECT (floor(epoch(ts))::BIGINT // 3600) * 3600 AS h,
             user_id,
             count(*) AS n,
             CAST(round(sum(value) * 100) AS BIGINT) AS sum_c
      FROM events GROUP BY 1, 2)
    SELECT (h // 86400) * 86400 AS day_start,
           CAST(count(*) AS BIGINT) AS n_user_hours,
           CAST(sum(n) AS BIGINT) AS n_events,
           CAST(sum(sum_c) AS BIGINT) AS day_sum_c
    FROM hourly GROUP BY 1
    """,
)
def stream_chained_watermarks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-TRANSFORM WATERMARKS (reference ``runners/direct/
    watermark_manager.py:35``: each transform carries its own input/
    output watermark; Spark holds ONE watermark per query). The Beam
    semantics are recovered by CHAINING two streaming queries, each with
    its OWN watermark, the way Beam's runner propagates a transform's
    output watermark downstream:

    - Stage 1 (hourly per-user totals): event stream + sentinel ->
      watermark(1h) -> tumbling 1h append. foreachBatch appends plain
      parquet per micro-batch (a streaming sink WITHOUT _spark_metadata,
      so stage 2's file source can watch the same directory).
    - Watermark propagation: when stage 1 finishes, a one-row sentinel
      parquet (window far in the future) is appended to the
      intermediate directory — the scripted materialization of "stage
      1's output watermark advanced past its last emitted window".
    - Stage 2 (daily rollup of stage 1's output): file stream over the
      intermediate dir, its OWN watermark(1h) on the hourly window
      start, tumbling 1-day append.

    Scores are integer cents from stage 1 onward, so the two-level
    aggregation is exact; the oracle is the batch two-level rollup."""
    import os
    import tempfile

    inter = tempfile.mkdtemp(prefix="chain_wm_")
    cutoff = F.lit("2098-01-01").cast("timestamp")

    e = stream_table(
        spark, sf_dir, "events", watermark_sentinel_ts="2099-01-01"
    ).withWatermark("ts", "1 hour")
    hourly = (
        e.filter(F.col("ts") < cutoff)
        .groupBy(F.window("ts", "1 hour"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value") * 100).cast("long").alias("sum_c"),
        )
        .select(
            F.col("window.start").alias("wstart"),
            "user_id",
            "n",
            "sum_c",
        )
    )
    q1 = (
        hourly.writeStream.outputMode("append")
        .option("checkpointLocation", os.path.join(inter, "_ckpt1"))
        .foreachBatch(
            lambda bdf, _bid: bdf.write.mode("append").parquet(
                os.path.join(inter, "data")
            )
        )
        .start()
    )
    q1.processAllAvailable()
    # settle: the windows closed by the sentinel's watermark advance are
    # emitted in a NO-DATA batch that processAllAvailable does not wait
    # for — poll the sink directory until its row count is stable (the
    # same device _drain uses for memory sinks).
    import time as _time

    prev, stable = -1, 0
    for _ in range(60):
        try:
            n = spark.read.parquet(os.path.join(inter, "data")).count()
        except AnalysisException:  # stage 1 has not written data/ yet
            n = -1
        stable = stable + 1 if n == prev else 0
        prev = n
        if stable >= 3:
            break
        _time.sleep(1.0)
        q1.processAllAvailable()
    q1.stop()

    # propagate stage 1's final output watermark: one far-future row
    schema_df = spark.read.parquet(os.path.join(inter, "data"))
    # The sentinel must SURVIVE every filter Catalyst pushes below the
    # EventTimeWatermark node (non-watermark-column predicates get
    # pushed; only wstart-referencing ones stay above) — so it carries
    # innocuous values and is excluded by a wstart cutoff, not by id.
    spark.createDataFrame(
        [("2099-01-01 00:00:00", 0, 0, 0)],
        "wstart string, user_id long, n long, sum_c long",
    ).select(
        F.col("wstart").cast("timestamp"), "user_id", "n", "sum_c"
    ).write.mode("append").parquet(os.path.join(inter, "data"))

    # one batch ingests ALL files (data + sentinel): per-batch watermark
    # advancement would otherwise drop stage 1's overlapping part-files
    # as late data; with a single batch the watermark jumps once, after
    # it, and the day windows flush in the no-data batch the settled
    # drain waits for.
    s2 = (
        spark.readStream.schema(schema_df.schema)
        .parquet(os.path.join(inter, "data"))
        .withWatermark("wstart", "1 hour")
    )
    daily = (
        s2.filter(F.col("wstart") < cutoff)
        .groupBy(F.window("wstart", "1 day"))
        .agg(
            F.count(F.lit(1)).alias("n_user_hours"),
            F.sum("n").alias("n_events"),
            F.sum("sum_c").alias("day_sum_c"),
        )
        .select(
            F.unix_timestamp("window.start").alias("day_start"),
            "n_user_hours",
            "n_events",
            "day_sum_c",
        )
    )
    return _drain(daily, "append", settle=True)


def _tws_host_or_subproc(spark: SparkSession, sf_dir: str, impl_name: str) -> DataFrame:
    """Run a TWS gate on the host session when its JVM's Python workers
    can import protobuf (real install, or the pbshim rode PYTHONPATH in
    before the JVM started); otherwise — a FOREIGN pre-started session,
    the round-5 driver failure mode — run the REAL TWS drain in a
    subprocess that owns its session (streaming/tws_subproc.py) and hand
    the result back as parquet. Either way the gate exercises genuine
    transformWithStateInPandas + RocksDB state."""
    from .. import pbshim

    if pbshim.worker_protobuf_ok(spark):
        return globals()[impl_name](spark, sf_dir)
    import os
    import subprocess
    import sys
    import tempfile

    out = os.path.join(tempfile.mkdtemp(prefix="ibs_tws_"), "out")
    repo = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    env = dict(os.environ)
    env["PYTHONPATH"] = repo + os.pathsep + env.get("PYTHONPATH", "")
    # a pre-started host may export gateway coordinates; the subprocess
    # must build its OWN JVM, not attach to the host's
    for k in ("PYSPARK_GATEWAY_PORT", "PYSPARK_GATEWAY_SECRET"):
        env.pop(k, None)
    proc = subprocess.run(
        [
            sys.executable,
            "-m",
            "incubator_beam_spark.streaming.tws_subproc",
            impl_name,
            sf_dir,
            out,
        ],
        env=env,
        cwd=repo,
        capture_output=True,
        text=True,
        timeout=900,
    )
    if proc.returncode != 0:
        raise RuntimeError(
            f"TWS subprocess ({impl_name}) failed:\n{proc.stderr[-2000:]}"
        )
    # materialize the (driver-artifact-sized) result and remove the temp
    # dir eagerly — a lazy read would leak one mkdtemp per gate run
    # (ADVICE r6)
    import shutil

    try:
        result = spark.read.parquet(out)
        rows, schema = result.collect(), result.schema
    finally:
        shutil.rmtree(os.path.dirname(out), ignore_errors=True)
    return spark.createDataFrame(rows, schema)


def _tws_counter_impl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.userstate_tws import restore_state_store_provider, stateful_pardo_tws

    e = stream_table(spark, sf_dir, "events")
    out_schema = T.StructType(
        [
            T.StructField("key", T.LongType()),
            T.StructField("total", T.LongType()),
        ]
    )

    def process(key, pdf, ctx):
        total = ctx.read("count", 0) + len(pdf)
        ctx.write("count", total)
        return [(int(key), total)]

    # stateful_pardo_tws flips the session state store to RocksDB (the
    # transformWithState contract); scope the flip to this gate so later
    # queries in the same session keep the session default.
    with restore_state_store_provider(spark):
        out = stateful_pardo_tws(
            e, key_col="user_id", output_schema=out_schema,
            process=process, time_mode="None",
        )
        drained = _drain(out, "append")
    return drained.groupBy("key").agg(F.max("total").alias("total"))


@query(
    "stream_per_key_counter_tws",
    oracle="SELECT user_id AS key, count(*) AS total FROM events GROUP BY user_id",
)
def stream_per_key_counter_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same ReadModifyWriteState counter as ``stream_per_key_counter``
    (reference ``userstate.py:73``) on the OTHER stateful backend: Spark
    4's native ``transformWithStateInPandas`` (engine-managed typed state,
    RocksDB store) instead of ``applyInPandasWithState`` — the two-backend
    conversion the round-4 review asked for once the vendored-protobuf
    shim (pbshim.py) unblocked TWS in this sandbox.

    The process hook runs once per Arrow chunk of the key's batch rows, so
    each call folds its chunk into the count cell and emits the RUNNING
    total; the final per-key total is the max over emitted rows (totals
    are monotone), reduced in a downstream batch agg. On the single-file
    fixture the drain is one micro-batch, so the result equals the batch
    GROUP BY exactly.

    Under a FOREIGN pre-started session (whose JVM lacks the protobuf
    shim) the drain runs in a subprocess-owned session — see
    ``_tws_host_or_subproc``."""
    return _tws_host_or_subproc(spark, sf_dir, "_tws_counter_impl")


@query(
    "nexmark_q13_side_input_join",
    oracle="""
    SELECT event_id, user_id AS bidder, round(value, 2) AS price,
           CAST(user_id % 97 AS VARCHAR) AS extra
    FROM events WHERE event_type = 'purchase'
    """,
)
def nexmark_q13_side_input_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEXMark Query13 / BoundedSideInputJoin (reference
    ``queries/BoundedSideInputJoin.java:44`` + the side-input generator
    ``NexmarkUtils.java:654``): enrich an unbounded bid stream with a
    bounded side input of (id, value-as-string) rows, joining on
    bidder % rowCount — basic stream enrichment. Spark-first mapping:
    the Beam ``View.asMap`` side input is a STREAM-STATIC broadcast
    join (the static side builds once on the driver, ships with the
    broadcast, and never shuffles the stream); each micro-batch probes
    the same hash table. At 100 TB/day of bids the enrichment adds zero
    shuffles — the only data movement is the 97-row dim broadcast."""
    side = spark.range(0, 97).select(
        F.col("id").alias("side_id"), F.col("id").cast("string").alias("extra")
    )
    bids = stream_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    out = (
        bids.join(F.broadcast(side), bids.user_id % 97 == side.side_id)
        .select(
            "event_id",
            F.col("user_id").alias("bidder"),
            F.round("value", 2).alias("price"),
            "extra",
        )
    )
    return _drain(out, "append")


@query(
    "stateful_timer_flush_tws",
    oracle="""
    WITH g AS (
      SELECT user_id,
             count(*) AS n,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
             min(floor(epoch(ts))::BIGINT) AS first_s
      FROM events GROUP BY user_id)
    SELECT user_id, n, sum_cents
    FROM g
    WHERE first_s + 1800 <= (SELECT max(floor(epoch(ts))::BIGINT) FROM events)
    """,
)
def stateful_timer_flush_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``stateful_timer_flush`` on the OTHER stateful backend: NATIVE
    event-time timers through ``transformWithStateInPandas`` (RocksDB
    state store, engine-managed per-timer wake-ups via registerTimer)
    instead of the applyInPandasWithState adapter's deadline re-arming —
    the two-backend twin for TIMERS that round 4's counter gate was for
    STATE CELLS. Same exact oracle as the sibling gate: per-user count +
    integer-cent sum flushed by a timer armed at first-seen + 30min;
    users first seen within 30min of the stream's end never fire.
    Delivery is one deterministic micro-batch (single parquet file);
    the engine's post-watermark no-data batch expires exactly the
    timers the final watermark passed.

    Under a FOREIGN pre-started session (whose JVM lacks the protobuf
    shim) the drain runs in a subprocess-owned session — see
    ``_tws_host_or_subproc``."""
    return _tws_host_or_subproc(spark, sf_dir, "_tws_timer_impl")


def _tws_timer_impl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.userstate_tws import restore_state_store_provider, stateful_pardo_tws

    e = (
        stream_table(spark, sf_dir, "events")
        .select(
            "user_id",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
            F.timestamp_seconds(F.floor(F.col("ts").cast("double"))).alias("tsr"),
        )
        .withWatermark("tsr", "0 seconds")
    )
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n", T.LongType()),
            T.StructField("sum_cents", T.LongType()),
        ]
    )

    def process(key, pdf, ctx):
        n = ctx.read("n", 0) + len(pdf)
        s = ctx.read("sum", 0) + int(pdf["cents"].sum())
        ctx.write("n", n)
        ctx.write("sum", s)
        first = ctx.read("first")
        batch_first = min(t.timestamp() for t in pdf["tsr"])
        if first is None or batch_first < first:
            ctx.write("first", batch_first)
            ctx.set_timer("flush", batch_first + 1800.0)
        return []

    def on_timer(key, name, ctx):
        return [(int(key), ctx.read("n", 0), ctx.read("sum", 0))]

    with restore_state_store_provider(spark):
        out = stateful_pardo_tws(
            e, key_col="user_id", output_schema=schema,
            process=process, on_timer=on_timer, time_mode="EventTime",
        )
        drained = _drain(out, "append", settle=True)
    return drained
