"""The three workloads: their gate lists and the stream drains.

A *gate* is a registered query (``registry.QUERIES[name].fn``); a *drain*
is one bounded stream run to completion with ``processAllAvailable``.
Either counts as one operation. README.md says why each was chosen.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

# JVM/Catalyst path with little Python-worker work: many small plans, so
# planning, codegen, scheduling and shuffle dominate.
SQL_GATES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "sql_tpcds_q72",
    "evt_session_window",
    "topk_per_key",
    "cogroup_by_key",
    "win_rank_functions",
]

# Python-boundary kernels: CEP (plans.cep / plans.nfa), dedup
# (dataops.dedup: LSH band self-join, connected-component rounds) and a
# scan-side text kernel (dataops.inference).
PYKERNEL_GATES = [
    "cep_match_recognize",
    "doc_minhash_lsh_pairs",
    "doc_neardup_clusters",
    "doc_hashngram_classify",
]

GATES = {"sql": SQL_GATES, "pykernels": PYKERNEL_GATES}

# Catalog tables at the fixture scale factor 0.01 (lineitem 60,000 rows).
SCALE_FACTOR = 0.01

# Nominal wall seconds of one warm pass on a 4-core machine. A run makes
# round(--seconds / PASS_SECONDS) timed passes, at least two. The pass
# count is fixed rather than time-boxed: later passes run faster as the
# JIT warms, so a count that followed the program's or the machine's speed
# would move the result by itself.
PASS_SECONDS = {"sql": 5.0, "pykernels": 5.0, "stream": 7.5}

# Stream backlog: rows and files per pass; one file per trigger.
STREAM_EVENTS = 10_000
STREAM_FILES = 2

BID_SCHEMA = "bid_id BIGINT, ts TIMESTAMP, auction BIGINT, bidder BIGINT, price BIGINT"


def _bids(spark, src_dir: str):
    return (
        spark.readStream.schema(BID_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )


def q7_highest_bid(spark, src_dir: str):
    """NEXMark Q7: highest bid per hour; windowed max, JVM state, complete mode."""
    q = _bids(spark, src_dir).groupBy(F.window("ts", "1 hour")).agg(
        F.max(F.struct("price", "bid_id")).alias("top")
    )
    out = q.select(
        F.unix_timestamp(F.col("window.start")).alias("window_start"),
        F.col("top.price").alias("price"),
        F.col("top.bid_id").alias("bid_id"),
    )
    return out, "complete"


def q5_hot_items(spark, src_dir: str):
    """NEXMark Q5: hottest auction per hour; two chained windowed
    aggregations under a watermark, append mode."""
    counts = (
        _bids(spark, src_dir)
        .withWatermark("ts", "1 second")
        .groupBy(F.window("ts", "1 hour"), "auction")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    hot = counts.groupBy(F.window(F.window_time("window"), "1 hour")).agg(
        F.max(F.struct("n", "auction")).alias("top")
    )
    out = hot.select(
        F.unix_timestamp(F.col("window.start")).alias("window_start"),
        F.col("top.n").alias("n"),
        F.col("top.auction").alias("auction"),
    )
    return out, "append"


def cep_hot_streaks(spark, src_dir: str):
    """plans.cep.match_recognize_stream: three consecutive high bids per
    auction, Python per-key state."""
    from incubator_beam_spark.plans.cep import match_recognize_stream

    out = match_recognize_stream(
        _bids(spark, src_dir),
        partition_by="auction",
        order_by="bid_id",
        define={"H": F.col("price") >= 9000},
        pattern="H H H",
        measures={"n_rows": ("count", None), "last_bid": ("last", None, "bid_id")},
    )
    return out, "append"


def bidder_counts(spark, src_dir: str):
    """streaming.stateful.per_key_counter: applyInPandasWithState running
    count per bidder, update mode."""
    from incubator_beam_spark.streaming.stateful import per_key_counter

    return per_key_counter(_bids(spark, src_dir), key_col="bidder"), "update"


DRAINS = {
    "q7_highest_bid": q7_highest_bid,
    "q5_hot_items": q5_hot_items,
    "cep_hot_streaks": cep_hot_streaks,
    "bidder_counts": bidder_counts,
}

# DuckDB oracles over the backlog (view ``bids``). q5_hot_items and
# cep_hot_streaks have none: their output depends on the watermark and the
# per-key buffer, so each pass must reproduce the first pass's digest.
DRAIN_ORACLES = {
    "q7_highest_bid": """
        WITH b AS (SELECT (floor(epoch(ts))::BIGINT // 3600) * 3600 AS window_start, price, bid_id FROM bids),
             m AS (SELECT window_start, max(price) AS price FROM b GROUP BY window_start)
        SELECT window_start, price, max(bid_id) AS bid_id
        FROM m JOIN b USING (window_start, price) GROUP BY window_start, price
    """,
    # update mode emits a key's running total once per batch it appears in;
    # the last emission per key is its full count.
    "bidder_counts": "SELECT bidder AS key, count(*) AS total FROM bids GROUP BY bidder",
}


def final_bidder_totals(columns: list[str], rows: list[tuple]) -> list[tuple]:
    """Reduce per-batch update-mode rows to each key's last (largest) total."""
    best: dict = {}
    k, t = columns.index("key"), columns.index("total")
    for r in rows:
        best[r[k]] = max(best.get(r[k], 0), r[t])
    return sorted(best.items())


def bids_view_sql(src_dir: str) -> str:
    return f"CREATE VIEW bids AS SELECT * FROM read_parquet('{os.path.join(src_dir, '*.parquet')}')"
