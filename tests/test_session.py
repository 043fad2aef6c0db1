"""Session defaults that decide how repeated work runs (session.py)."""

from __future__ import annotations

from incubator_beam_spark import registry

from .conftest import SF_DIR

# The benchmark's sql gates. In a fresh JVM one round of them compiles
# 120 generated classes at sf0.001 and sf0.01, more than the 100 that
# Spark's codegen cache holds by default.
_GATES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "sql_tpcds_q72",
    "evt_session_window",
    "topk_per_key",
    "cogroup_by_key",
    "win_rank_functions",
]


def test_codegen_cache_holds_a_repeated_query_set(spark):
    """A second round of the same plans compiles nothing: every class the
    first round generated is still cached. With an LRU cache smaller than
    the round's class set, each class is evicted before its next use and
    the second round recompiles about as many as the first."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"
    registry.load_all()
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def round_compiles() -> int:
        before = compiles.getCount()
        for name in _GATES:
            registry.QUERIES[name].fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        return compiles.getCount() - before

    first = round_compiles()
    second = round_compiles()
    assert second == 0, f"second round compiled {second} classes (first: {first})"
