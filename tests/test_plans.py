"""Plan-quality regression tests: the 100-TB discipline, enforced.

These assert properties of the *physical plan* (pushdown reached the
scan, dims broadcast, top-k avoided a global sort, codegen applied) so a
refactor that silently degrades the plan fails CI even though results
stay correct. (SURVEY.md §4 — the optimizations Beam implements as graph
rewrites must hold in our Catalyst plans.)
"""

from __future__ import annotations

import contextlib
import io
import re

import pytest

from incubator_beam_spark import registry

from .conftest import SF_DIR

ALL = registry.load_all()


def plan_of(spark, name: str) -> str:
    df = ALL[name].fn(spark, SF_DIR)
    df.count()  # materialize so AQE reports the FINAL plan with codegen ids
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q1_pushdown_and_pruning(spark):
    plan = plan_of(spark, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: untouched wide columns must not be read
    assert "l_partkey" not in plan.split("ReadSchema")[1].split("\n")[0]


def test_q3_broadcasts_dims(spark):
    plan = plan_of(spark, "q3_shipping_priority")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # top-k must not global-sort
    assert "TakeOrderedAndProject" in plan


def test_q5_star_join_no_cartesian(spark):
    plan = plan_of(spark, "q5_local_supplier_volume")
    assert plan.count("BroadcastHashJoin") >= 3  # supplier/nation/region
    assert "CartesianProduct" not in plan


def test_topk_global_take_ordered(spark):
    plan = plan_of(spark, "topk_global")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan  # no global sort exchange


def test_windowed_agg_partial_aggregation(spark):
    plan = plan_of(spark, "evt_tumbling_window")
    # partial (map-side) + final aggregation around one exchange
    assert plan.count("HashAggregate") >= 2
    assert "hashpartitioning" in plan


def test_minhash_scan_side_signatures(spark):
    plan = plan_of(spark, "doc_minhash_lsh_pairs")
    assert "CartesianProduct" not in plan  # band join is an equi-join
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_exact_dedup_shuffles_fingerprints_only(spark):
    plan = plan_of(spark, "doc_exact_dedup")
    # the shuffle payload must be the fingerprint aggregation, not text
    m = re.search(r"\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]", plan)
    assert m, "no Exchange detail block found"
    assert "text#" not in m.group(1)


def test_scalar_suite_single_stage(spark):
    plan = plan_of(spark, "fn_string_suite")
    assert "Exchange" not in plan  # pure projection: no shuffle at all
    assert "codegen id" in plan


def test_no_python_udfs_in_relational_plans(spark):
    """Everything except explicitly-Python stages must stay JVM-side."""
    for name in ["q1_pricing_summary", "evt_session_window",
                 "emb_cosine_topk", "agg_variance_covariance"]:
        plan = plan_of(spark, name)
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_simhash_vectorized_kernel_plan(spark):
    """doc_simhash is deliberately a MapInArrow stage since r11 (the
    vectorized per-bit counting kernel) — but never a row-at-a-time
    Python UDF, and still zero-shuffle (per-partition pass-through).
    ADVICE r11: the old JVM-only pin passed vacuously; assert the
    intended shape instead."""
    plan = plan_of(spark, "doc_simhash")
    assert "MapInArrow" in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    # only the ensure_parallelism repartition — the signature itself is
    # a per-partition pass-through (no aggregation shuffle)
    assert plan.count("Exchange (") <= 1


def test_cep_single_shuffle_and_pruned_scan(spark):
    plan = plan_of(spark, "cep_match_recognize")
    assert "FlatMapGroupsInArrow" in plan
    assert plan.count("Exchange") <= 2  # one key repartition (+AQE read)
    # measures touch event_id/ts/user_id/event_type only: props/value pruned
    read = plan.split("ReadSchema")[1].split("\n")[0]
    assert "props" not in read and "value" not in read


def test_neardup_bucket_join_no_cartesian(spark):
    plan = plan_of(spark, "emb_neardup_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_hotkey_fanout_two_level_aggregation(spark):
    plan = plan_of(spark, "agg_hotkey_fanout")
    # partial+final per level = 4 HashAggregates around 2 exchanges
    assert plan.count("HashAggregate") >= 4


def test_lifted_combine_shuffles_accumulators_not_elements(spark):
    plan = plan_of(spark, "combine_lifted_geomean")
    m = re.search(r"\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]", plan)
    assert m, "no Exchange detail block found"
    # the shuffle payload is (key, pickled accumulator) — not raw values
    assert "__acc" in m.group(1) and "value#" not in m.group(1)


def test_sqlfront_ddl_create_external_table(spark, tmp_path):
    """Beam DDL (parserImpls.ftl:149): CREATE EXTERNAL TABLE ... TYPE
    parquet LOCATION -> Spark CREATE TABLE ... USING parquet; the table
    is then queryable through the same front door."""
    from incubator_beam_spark.plans.sqlfront import rewrite, run_sql

    path = str(tmp_path / "ext")
    spark.range(5).selectExpr("id", "id * 2 AS v").write.parquet(path)
    ddl = f"CREATE EXTERNAL TABLE ext_t (id BIGINT, v BIGINT) TYPE parquet LOCATION '{path}'"
    assert "USING parquet" in rewrite(ddl) and "EXTERNAL" not in rewrite(ddl)
    run_sql(spark, ddl)
    try:
        assert run_sql(spark, "SELECT sum(v) AS s FROM ext_t").collect()[0].s == 20
    finally:
        spark.sql("DROP TABLE IF EXISTS ext_t")


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Co-located join via bucketing (SURVEY 'Partitioning & shuffle'):
    both sides bucketed by the join key -> SortMergeJoin with NO Exchange
    on either side. At 100 TB this is the difference between joining in
    place and re-shuffling the fact table every query."""
    import contextlib, io as _io

    from incubator_beam_spark.catalog import table as _table

    li = _table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
    o = _table(spark, SF_DIR, "orders").select("o_orderkey", "o_totalprice")
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").mode("overwrite").saveAsTable("b_li")
    o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").mode("overwrite").saveAsTable("b_o")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("b_li").join(
            spark.table("b_o"),
            spark.table("b_li").l_orderkey == spark.table("b_o").o_orderkey,
        )
        j.count()
        buf = _io.StringIO()
        with contextlib.redirect_stdout(buf):
            j.explain("formatted")
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "Exchange hashpartitioning" not in plan  # co-located: no shuffle
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760b")
        spark.sql("DROP TABLE IF EXISTS b_li")
        spark.sql("DROP TABLE IF EXISTS b_o")


def test_dynamic_partition_pruning(spark, tmp_path):
    """Dynamic partition pruning: a fact table partitioned by date joined
    to a filtered dim scans only the matching partitions — at 100 TB the
    difference between reading 3 days and reading 3 years."""
    import contextlib, io as _io

    from pyspark.sql import functions as F

    from incubator_beam_spark.catalog import table as _table

    fact_path = str(tmp_path / "fact")
    e = _table(spark, SF_DIR, "events").withColumn("event_date", F.to_date("ts"))
    e.write.partitionBy("event_date").mode("overwrite").parquet(fact_path)
    fact = spark.read.parquet(fact_path)
    dates = [r.event_date for r in fact.select("event_date").distinct().limit(2).collect()]
    dim = spark.createDataFrame([(d, "keep") for d in dates], "event_date date, tag string")
    j = fact.join(dim, "event_date")
    j.count()
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        j.explain("formatted")
    plan = buf.getvalue()
    assert "dynamicpruning" in plan.lower() or "PartitionFilters: [" in plan


def test_lsh_bucket_cap_is_broadcast_anti_join(spark):
    """The hot-band cap must not add a second full shuffle of band rows:
    oversized keys are removed via a BROADCAST anti-join fed by a
    map-side-combined count — no Window sort over every band row."""
    plan = plan_of(spark, "doc_minhash_lsh_pairs")
    assert "LeftAnti" in plan
    assert "BroadcastExchange" in plan
    assert "Window" not in plan  # no count-over-window formulation


def test_public_combine_per_key_lifted_shuffle(spark):
    """CombinePerKey(CombineFn) through the PUBLIC API shuffles pickled
    accumulators, never the grouped elements (round-1 review item #4)."""
    import incubator_beam_spark.core as ibs

    p = ibs.Pipeline(spark)

    class SumFn(ibs.CombineFn):
        def create_accumulator(self):
            return 0.0

        def add_input(self, acc, v):
            return acc + v

        def merge_accumulators(self, accs):
            return sum(accs)

    pc = p | ibs.Create([("a", 1.0), ("b", 2.0)]) | ibs.CombinePerKey(SumFn())
    plan = pc.df._jdf.queryExecution().executedPlan().toString()
    assert "collect_list" not in plan.lower()
    assert "__acc" in plan  # the accumulator column crosses the exchange


def test_write_to_files_single_pass(spark, tmp_path):
    """Dynamic destinations write in ONE job (partitionBy writer pool) —
    not one job per destination value."""
    from pyspark.sql import functions as F

    from incubator_beam_spark import core as ibs
    from incubator_beam_spark.sources import WriteToFiles

    p = ibs.Pipeline(spark)
    df = spark.createDataFrame([(i, f"g{i % 5}") for i in range(100)], ["v", "grp"])
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup() or [])
    ibs.PCollection(df, p) | WriteToFiles(
        str(tmp_path / "o"), destination=F.col("grp"), dest_field="grp"
    )
    after = len(tracker.getJobIdsForGroup() or [])
    # one write job (+ possibly one tiny commit job), never 5 per-dest jobs
    assert after - before <= 2


def test_simhash_pairs_no_cartesian(spark):
    """Pigeonhole banding must produce an equi-join on (band, key) —
    never a nested-loop/cartesian candidate step."""
    plan = plan_of(spark, "doc_simhash_pairs")
    assert "BroadcastNestedLoop" not in plan and "CartesianProduct" not in plan
    assert "LeftAnti" in plan  # hot-bucket cap present


def test_vocab_topk_is_take_ordered(spark):
    """Top-k vocab must be partial-agg + TakeOrderedAndProject, not a
    global sort materialization."""
    plan = plan_of(spark, "doc_vocab_topk")
    assert "TakeOrderedAndProject" in plan


def test_asof_join_single_shuffle(spark):
    """The as-of join is ONE exchange (union both sides, partition by
    key); a second exchange would mean an accidental join formulation."""
    import re

    plan = plan_of(spark, "evt_asof_join")
    assert plan.count("Window") >= 1
    # formatted explain: shuffle nodes render as "(N) Exchange" (broadcast
    # ones as "(N) BroadcastExchange") — count only the former
    shuffles = len(re.findall(r"\(\d+\) Exchange\b", plan))
    assert shuffles == 1, f"expected 1 shuffle, plan has {shuffles}"


def test_range_join_no_nested_loop(spark):
    plan = plan_of(spark, "evt_range_join")
    assert "BroadcastNestedLoop" not in plan and "CartesianProduct" not in plan


def test_inference_is_single_stage_scan(spark):
    """run_inference adds no shuffle: scan -> Arrow batch -> mapInPandas."""
    import re

    plan = plan_of(spark, "emb_inference")
    assert not re.findall(r"\(\d+\) Exchange\b", plan)


def test_contamination_benchmark_is_broadcast(spark):
    # the corpus side must never shuffle: benchmark n-grams broadcast
    plan = plan_of(spark, "doc_contamination")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_dsir_lms_are_broadcast(spark):
    # both LM histograms (1024 rows) broadcast back to the token scan
    plan = plan_of(spark, "doc_dsir_weights")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_domain_mix_filter_is_scan_side(spark):
    # per-domain histogram broadcast; the keep-filter runs scan-side
    plan = plan_of(spark, "doc_domain_mix")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_centroid_outliers_broadcasts_centroids(spark):
    # vectors never shuffle: centroid table (n_labels rows) broadcasts back
    plan = plan_of(spark, "emb_centroid_outliers")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_weighted_sample_is_take_ordered(spark):
    # top-k by priority must never globally sort the corpus
    plan = plan_of(spark, "doc_weighted_sample")
    assert "TakeOrderedAndProject" in plan


def test_bm25_broadcasts_stats_and_dfreq(spark):
    # the only shuffle aggregates (doc, query-term) pairs; per-term DF and
    # corpus scalars come back as broadcasts, top-k is a heap not a sort
    plan = plan_of(spark, "doc_bm25_topk")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row stats cross join
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_chunk_windows_is_shuffle_free(spark):
    # chunking is pure scan-side generate/slice/explode: no Exchange at all
    plan = plan_of(spark, "doc_chunk_windows")
    assert "Exchange" not in plan
    assert "ReadSchema" in plan and "text" in plan


def test_pq_encode_is_scan_side(spark):
    # codebook is a literal: encoding shuffles nothing
    plan = plan_of(spark, "emb_pq_codes")
    assert "Exchange" not in plan


def test_pq_adc_topk_is_take_ordered(spark):
    plan = plan_of(spark, "emb_pq_adc_topk")
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_concat_chunk_prefix_sum_is_bucket_parallel(spark):
    # the corpus-wide running offset must come from a window partitioned
    # by bucket (parallel), not a single-partition window over all rows;
    # the only SinglePartition exchange feeds the 64-row bucket-base cumsum
    plan = plan_of(spark, "doc_concat_chunk_spans")
    assert re.search(r"hashpartitioning\(bucket", plan)
    assert "BroadcastHashJoin" in plan  # bucket bases broadcast back


def test_temperature_resample_thresholds_broadcast(spark):
    plan = plan_of(spark, "doc_temperature_resample")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_gopher_rules_is_scan_side(spark):
    # the whole rule battery is one zero-shuffle projection over the scan
    plan = plan_of(spark, "doc_gopher_rules")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_substring_dup_shuffles_hashes_not_text(spark):
    # window hashing happens scan-side; the only Python is none at all,
    # and the dup-hash aggregation + semi-join shuffle (hash, id) pairs
    plan = plan_of(spark, "doc_substring_dup")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "LeftSemi" in plan
    # no shuffle carries the text column
    import re as _re

    for m in _re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in m.group(1)


def test_semdedup_assignment_broadcasts_centroids(spark):
    plan = plan_of(spark, "emb_semdedup")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "LeftAnti" in plan


def test_synthetic_source_is_pure_range_scan(spark):
    # load generation must not shuffle records — only the final per-key
    # aggregate exchanges (key_id, partial counts)
    plan = plan_of(spark, "io_synthetic_bounded")
    assert "Range (0, 50000" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_sample_deterministic_is_take_ordered(spark):
    plan = plan_of(spark, "agg_sample_deterministic")
    assert "TakeOrderedAndProject" in plan
    # no full global sort of the orders table
    assert "Sort [p" not in plan.replace("ASC NULLS FIRST", "")


def test_load_sideinput_broadcasts_dim(spark):
    plan = plan_of(spark, "load_sideinput")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_load_gbk_partial_aggregates(spark):
    # map-side combine before the key exchange (skew-proof GBK shape)
    plan = plan_of(spark, "load_gbk")
    assert plan.count("HashAggregate") >= 2
    assert "BatchEvalPython" not in plan


def test_salted_join_spreads_hot_keys(spark):
    # the join must be a shuffle join keyed on (key_id, _salt) — no
    # broadcast escape, salt visible in the join keys, salt computed
    # scan-side (no Python)
    plan = plan_of(spark, "join_skew_salted")
    assert "SortMergeJoin" in plan
    assert "_salt" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_zvalue_is_pure_codegen(spark):
    plan = plan_of(spark, "io_zorder_histogram")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # bit-twiddling lowered to JVM expressions; one partial+final agg pair
    assert plan.count("HashAggregate") >= 2


def test_cdc_apply_single_shuffle(spark):
    # one hash exchange on the key feeds the row_number window (formatted
    # explain prints each node twice: tree + detail block); and Spark's
    # WindowGroupLimit applies — the top-1-per-key filter runs partially
    # BEFORE the shuffle, so only candidate winners exchange
    plan = plan_of(spark, "io_cdc_apply")
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "WindowGroupLimit" in plan
    assert "Window" in plan


def test_line_dedup_hot_set_broadcasts(spark):
    # boilerplate-line removal: the hot set joins as a broadcast
    # anti-join, counts group on md5 fingerprints, no Python anywhere
    plan = plan_of(spark, "doc_line_dedup")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bloom_prefilter_before_exchange(spark):
    """The Bloom membership test must run AT THE SCAN, before the join
    exchange, and stay pure JVM (no Python eval in the row path)."""
    plan = plan_of(spark, "join_bloom_prefilter")
    assert "SortMergeJoin" in plan  # merge-hinted: no broadcast escape
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the membership expression (byte-indexed substring over the binary
    # literal) appears in a Filter below the fact-side Exchange
    tree = plan.split("== Physical Plan ==")[-1]
    assert "substring" in tree and "shiftright" in tree


def test_funnel_single_user_shuffle(spark):
    """Funnel steps: all three conditional mins ride ONE hash exchange
    on user_id (window partitioning reused); only the final single-row
    rollup adds a SinglePartition exchange. No self-joins."""
    plan = plan_of(spark, "evt_funnel_steps")
    assert "Join" not in plan
    tree = plan.split("== Physical Plan ==")[-1].split("(1) Scan")[0]
    assert tree.count("hashpartitioning") <= 2  # tree line + detail line
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_capped_session_single_shuffle(spark):
    """Capped sessionization: gap islands + max-duration chunk split +
    final rollup all share the user_id partitioning — exactly one hash
    exchange in the plan tree."""
    plan = plan_of(spark, "evt_capped_session_window")
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_retention_no_self_join_of_events(spark):
    """Retention cohorts must NOT self-join events against events — the
    cohort day is an analytic over the same user partitioning."""
    plan = plan_of(spark, "evt_retention_cohorts")
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_tpcds_q3_broadcast_and_pushdown(spark):
    """TPC-DS q3: the part dim broadcasts and the category filter is
    pushed to the parquet scan; top-100 is TakeOrderedAndProject."""
    plan = plan_of(spark, "sql_tpcds_q3")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "PushedFilters" in plan and "p_type" in plan
    assert "TakeOrderedAndProject" in plan


def test_tpcds_q12_ratio_single_window_exchange(spark):
    """Ratio-to-report: one hash-agg shuffle + one window exchange on
    class — no Python, no cartesian."""
    plan = plan_of(spark, "sql_tpcds_q12")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_tpcds_q36_rollup_single_expand(spark):
    """ROLLUP compiles to one Expand + hash aggregate, the window rank
    on top — not a union of per-level aggregates."""
    plan = plan_of(spark, "sql_tpcds_q36")
    assert plan.count("Expand") >= 1
    assert "Union" not in plan
    assert "CartesianProduct" not in plan


def test_tpcds_q16_exists_becomes_semi_anti_join(spark):
    """EXISTS / NOT EXISTS must lower to semi/anti hash joins on the
    order key, never to a nested-loop per-row subquery."""
    plan = plan_of(spark, "sql_tpcds_q16")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_neardup_pairs_cap_is_broadcast_anti_join(spark):
    """The sign-LSH hot-bucket cap (round-4 fix) removes degenerate
    buckets via a broadcast anti-join reusing the bucket Exchange — no
    extra shuffle of the vector rows."""
    plan = plan_of(spark, "emb_neardup_pairs")
    assert "LeftAnti" in plan
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_orc_roundtrip_pushes_filter_to_orc_scan(spark):
    """The ORC read side must push the quantity predicate into the ORC
    scan (same PushedFilters contract as parquet)."""
    plan = plan_of(spark, "io_orc_roundtrip")
    assert "Scan orc" in plan
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(l_quantity,25" in plan


def test_tpcds_q45_disjunctive_in_is_existence_join(spark):
    """The OR-ed IN-subquery must plan as an ExistenceJoin (a semi-join
    emitting a boolean consumed by the disjunctive filter), never a
    per-row nested-loop subquery or a cartesian expansion."""
    plan = plan_of(spark, "sql_tpcds_q45")
    assert "ExistenceJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_tpcds_q32_correlated_scalar_decorrelates(spark):
    """The correlated scalar subquery in WHERE must decorrelate into an
    aggregate + equi-join on the item key — no nested-loop re-execution
    per outer row, no Python."""
    plan = plan_of(spark, "sql_tpcds_q32")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "HashAggregate" in plan and "Join" in plan


def test_tpcds_q67_deep_rollup_rank(spark):
    """GROUP BY category + ROLLUP(brand, yr, qtr) compiles to Expand +
    one hash aggregate with the rank window on top — never a UNION of
    per-level aggregates, and no global sort below the window (the
    window partitions by category)."""
    plan = plan_of(spark, "sql_tpcds_q67")
    assert "Expand" in plan
    assert "Union" not in plan
    assert "Window" in plan
    assert "CartesianProduct" not in plan


def test_game_hourly_filters_pushed(spark):
    """hourly_team_score: the [start, stop) slice must reach the parquet
    scan as pushed filters; the JSON team extraction stays JVM-side."""
    plan = plan_of(spark, "game_hourly_team_score")
    assert "PushedFilters" in plan and "ts" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_game_spammy_mean_is_broadcast_scalar(spark):
    """CalculateSpammyUsers: the global-mean side input must be a
    broadcast one-row join (nested-loop on a single row is fine; a
    shuffled or row-multiplying plan is not), and the whole plan stays
    JVM-side."""
    plan = plan_of(spark, "game_spammy_users")
    assert "BroadcastExchange" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_tpcds_q14_intersect_lowers_to_semi_joins(spark):
    """The 3-way INTERSECT must lower to left-semi joins over distinct
    keys — never a cartesian expansion. (A BroadcastNestedLoopJoin IS
    expected here: the scalar `tot` row joins in as a broadcast
    ONE-ROW cross join, the standard scalar-side-input lowering.)"""
    plan = plan_of(spark, "sql_tpcds_q14")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_tpcds_q8_values_intersect_semi(spark):
    """The VALUES-list INTERSECT derived-set, consumed through IN, must
    become semi joins against the tiny literal relation — no
    nested-loop, no Python."""
    plan = plan_of(spark, "sql_tpcds_q8")
    assert "LeftSemi" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_tpcds_q10_disjunctive_exists_existence_joins(spark):
    """OR of two EXISTS: both subqueries must plan as ExistenceJoins
    (booleans consumed by the filter), the conjunctive EXISTS as a
    plain left-semi."""
    plan = plan_of(spark, "sql_tpcds_q10")
    assert "ExistenceJoin" in plan
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_tpcds_q4_pivot_single_fact_scan(spark):
    """The hand-optimized q4 rewrite must touch the fact once: the
    verbatim-shape twin (sql_tpcds_q4) scans lineitem six times because
    Catalyst inlines the CTE per probe (24 parquet scans total at last
    audit); the pivot must stay at <=4 scans (lineitem + orders, plus
    AQE-reported duplicates) with no sort-merge join at all."""
    plan = plan_of(spark, "sql_tpcds_q4_pivot")
    assert plan.count("Scan parquet") <= 4
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ex_autocomplete_vocab_sized_fanout(spark):
    """The prefix explosion must sit ABOVE the word-count aggregate
    (vocabulary-sized fan-out, the reference pipeline's key scale
    property): the plan has a partial+final HashAggregate pair for the
    count, one Generate (explode) consuming the AGGREGATED side, and no
    Python eval anywhere."""
    plan = plan_of(spark, "ex_autocomplete")
    assert plan.count("HashAggregate") >= 2
    assert "Generate" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the rank over prefixes partitions by prefix — a real Window, not a
    # global sort
    assert "Window" in plan


def test_nexmark_q14_single_data_exchange(spark):
    """Both analytic passes (islands keyed by user_id, bounds keyed by
    (user_id, sid)) must reuse ONE data shuffle: HashPartitioning(user)
    clusters (user, sid) too, so Catalyst must not add a second
    Exchange; the 97-row side input must come in as a broadcast."""
    plan = plan_of(spark, "nexmark_q14_session_side_input")
    assert "BroadcastHashJoin" in plan
    data_exchanges = len(re.findall(r"\(\d+\) Exchange\b", plan))
    assert data_exchanges == 1, plan[:2000]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_doc_pack_bounds_aggregate_sized_joins(spark):
    """The invariant gate's cross-joins combine three ONE-ROW aggregates
    (the allowed scalar pattern); the packing stage itself must be the
    only Python stage."""
    plan = plan_of(spark, "doc_pack_bounds")
    assert plan.count("FlatMapsInPandas") + plan.count("MapInPandas") >= 1
    assert "SortMergeJoin" not in plan


def test_ex_juliaset_single_map_stage(spark):
    """The 100-iteration escape loop must be ONE codegen'd projection
    over the range source: no shuffle, no Python eval, no join."""
    plan = plan_of(spark, "ex_juliaset")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "codegen id" in plan  # the range source + projections stay JVM-side


def test_ex_wordcount_partial_final_agg(spark):
    """Word counting must map-side combine: a partial+final
    HashAggregate pair around one hash exchange."""
    plan = plan_of(spark, "ex_wordcount")
    assert "partial_count" in plan  # map-side combine before the shuffle
    assert "hashpartitioning" in plan
    assert plan.count("- Exchange") == 1  # exactly one shuffle in the tree


def test_io_jdbc_partitioned_scan(spark):
    """The JDBC read must plan as a ranged multi-partition scan (8
    concurrent JDBC range queries), not a single-connection pull."""
    from incubator_beam_spark.catalog import table as _table  # noqa: F401

    df = ALL["io_jdbc_roundtrip"].fn(spark, SF_DIR)
    df.count()
    # the JDBCRelation scan reports its partition count in the plan
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert re.search(r"JDBCRelation\(lineitem_rt\) \[numPartitions=8\]", plan)


def test_tpcds_q11_pivot_single_fact_scan(spark):
    """The q4_pivot device generalized: q11's verbatim shape scans the
    fact four times (CTE inlined per self-join probe); the pivot twin
    must stay at <=4 parquet scans total (lineitem + orders + the
    customer dim + AQE duplicates) with no sort-merge join."""
    plan = plan_of(spark, "sql_tpcds_q11_pivot")
    # the verbatim twin reads lineitem once per self-join probe; the
    # pivot must read it exactly once (Location lines name the file)
    assert plan.count("lineitem.parquet") == 1
    assert "SortMergeJoin" not in plan


def test_tpcds_q74_pivot_single_fact_scan(spark):
    """Third pivot instance (MAX variant): one lineitem scan, no SMJ."""
    plan = plan_of(spark, "sql_tpcds_q74_pivot")
    assert plan.count("lineitem.parquet") == 1
    assert "SortMergeJoin" not in plan


def test_match_recognize_prev_single_repartition_exchange(spark):
    """The PREV/NEXT navigation pipeline must keep its AQE-proof shape
    (VERDICT r6 item #6): exactly ONE Exchange — the coalesce-exempt
    REPARTITION_BY_NUM on the partition keys placed BEFORE the lag
    Window — feeding Window then FlatMapGroupsInArrow. If
    ``pre_partitioned`` or the repartition is removed, the Window's own
    ENSURE_REQUIREMENTS exchange reappears (AQE coalesces it to 1-2
    tasks and serializes the Python kernel stage — the measured r6
    6.1s->1.4s trap)."""
    plan = plan_of(spark, "sql_match_recognize_prev")
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1, plan[:2500]
    assert "REPARTITION_BY_NUM" in plan
    assert "ENSURE_REQUIREMENTS" not in plan
    # shape: the single exchange sits below both Window and the kernel
    assert "Window" in plan and "FlatMapGroupsInArrow" in plan


def test_python_datasource_planned_scan(spark):
    """The Python Data Source must enter the plan as a planned BatchScan
    (one task per InputPartition — the BoundedSource.split contract),
    with the aggregation a partial+final HashAggregate pair above it."""
    plan = plan_of(spark, "io_python_datasource")
    assert "BatchScan synthetic_py" in plan
    assert plan.count("HashAggregate") >= 2
    from incubator_beam_spark.queries.coreapi import io_python_datasource
    from incubator_beam_spark.sources.pydatasource import SyntheticPyDataSource

    spark.dataSource.register(SyntheticPyDataSource)
    raw = (
        spark.read.format("synthetic_py")
        .option("numRecords", 25_000)
        .option("numPartitions", 8)
        .load()
    )
    assert raw.rdd.getNumPartitions() == 8


def test_q72_factfact_join_not_broadcast(spark):
    """The q72 fact-to-fact device's defining property: with broadcast
    disabled (the honest stand-in for a 100-TB run where neither fact
    fits in memory), the demand x availability join takes the
    sort-merge/shuffled-hash path on (partkey, month) — the shape the
    registered q72 port cannot express without an inventory table."""
    import contextlib
    import io as _io

    from incubator_beam_spark.queries.tpcds import sql_tpcds_q72_factfact

    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = sql_tpcds_q72_factfact(spark, SF_DIR)
        df.count()
        buf = _io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "BroadcastHashJoin" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760b")


def test_ivf_topk_indexed_partition_pruned_probe(spark, tmp_path):
    """The serving claim behind stream_ann_serving: probing a
    cell-partitioned index with ``ivf_topk_indexed`` must PUSH the
    probed cells into the parquet scan as partition filters — the scan
    reads nprobe partitions per query batch, not the index. Also pins
    agreement with ``ivf_topk`` (the assign-on-the-fly path) on the
    same data: the maintained artifact cannot drift from the
    recompute path."""
    import contextlib
    import io as _io

    from pyspark.sql import functions as F

    from incubator_beam_spark.dataops.similarity import (
        ivf_assign,
        ivf_topk,
        ivf_topk_indexed,
    )

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    centroids = e.filter(F.col("vec_id") < 8)
    idx_path = str(tmp_path / "ivf_index")
    ivf_assign(e, centroids).write.partitionBy("cell").parquet(idx_path)
    idx = spark.read.parquet(idx_path)
    q = e.filter(F.col("vec_id") < 5)
    nbrs = ivf_topk_indexed(q, idx, centroids, k=5, nprobe=2)
    nbrs.count()
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        nbrs.explain("formatted")
    plan = buf.getvalue()
    # the index scan must carry a cell partition filter (the isin
    # pushdown), and the index side must never broadcast
    scan_blocks = [
        b for b in plan.split("\n\n") if "ivf_index" in b and "Scan parquet" in b
    ]
    assert scan_blocks, plan
    assert any(
        "PartitionFilters: [" in b and "cell" in b.split("PartitionFilters:")[1]
        for b in scan_blocks
    ), plan
    got = sorted(
        (r.query_id, r.match_id, r.rank) for r in nbrs.collect()
    )
    want = sorted(
        (r.query_id, r.match_id, r.rank)
        for r in ivf_topk(q, e, centroids, k=5, nprobe=2).collect()
    )
    assert got == want


def test_length_histogram_plan_single_exchange_then_tiny_window(spark):
    """doc_length_histogram_plan's scale claim: ONE Exchange carries
    per-length partial counts (map-side combined), and the window runs
    over histogram rows, never the corpus — so the plan must show a
    partial+final HashAggregate pair around the first exchange and no
    Python stage anywhere."""
    import contextlib
    import io as _io

    from incubator_beam_spark.queries.dataops import doc_length_histogram_plan

    df = doc_length_histogram_plan(spark, SF_DIR)
    df.count()
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert plan.count("HashAggregate") >= 2, plan  # partial + final pair
    assert "BatchEvalPython" not in plan
    assert "Window" in plan
    # only the documents scan reads the corpus; it must prune to text
    scans = [
        b for b in plan.split("\n\n")
        if "Scan parquet" in b and "Location:" in b
    ]
    assert scans and all("documents" in b for b in scans), plan
    assert all(
        "ReadSchema: struct<text:string>" in b for b in scans
    ), "histogram reads columns it never uses"


def test_crawl_funnel_extraction_scan_side_and_no_text_shuffle(spark):
    """doc_crawl_funnel's scale claims: the synthesize+extract+quality
    chain is scan-side Catalyst (no Python stage in the extraction
    path), and the dedup leg's candidate join shuffles band keys — the
    extracted TEXT column never appears in an Exchange's output
    schema. (The FFD pack leg is the one deliberate Python stage,
    Arrow-batched.)"""
    import contextlib
    import io as _io

    from incubator_beam_spark.queries.dataops import doc_crawl_funnel

    df = doc_crawl_funnel(spark, SF_DIR)
    df.count()
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    # exactly one Python stage family: the FFD packer (mapInPandas).
    # extraction/quality/checksums must stay JVM-side.
    assert "FlatMapGroupsInPandas" not in plan
    assert "FlatMapGroupsInArrow" not in plan
    assert "BatchEvalPython" not in plan
    # band-key exchanges carry (band, key, doc_id)-shaped rows; no
    # exchange may carry the extracted text column itself
    for block in plan.split("\n\n"):
        if block.strip().startswith("(") and "Exchange" in block.split("\n")[0]:
            args = block.split("Arguments:")[-1]
            assert "text#" not in args, f"extracted text shuffles:\n{block}"
