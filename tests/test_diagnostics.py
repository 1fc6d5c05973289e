"""Plan-audit API tests: summaries count what they claim, the
discipline assert fires on row-Python and shuffle-budget violations and
passes on the engine's own flagship plan. Codegen counters: a new query
compiles classes, and a re-run of the claims queries compiles almost
none."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from eligibility_etl_airflow_spark import diagnostics, registry

registry.load_all()


def test_flagship_passes_discipline(spark, sf_dir):
    df = registry.QUERIES["eligibility_flagship"](spark, sf_dir)
    s = diagnostics.assert_scale_discipline(df)
    assert s.python_is_vectorized
    assert s.broadcast_hash_joins >= 3  # the dims broadcast
    assert s.exchanges == 0  # star join: no shuffle at all
    assert s.pushed_filter_scans == s.scans  # every scan got pushdown


def test_shuffle_budget_violation_raises(spark):
    a = spark.range(0, 1000).select(F.col("id").alias("k"), F.lit(1).alias("x"))
    b = spark.range(0, 1000).select(F.col("id").alias("k"), F.lit(2).alias("y"))
    # force a shuffle join + an aggregate: at least 2 shuffle exchanges
    joined = (
        a.hint("merge").join(b.hint("merge"), "k").groupBy("x").agg(F.sum("y").alias("s"))
    )
    with pytest.raises(AssertionError, match="shuffle Exchange"):
        diagnostics.assert_scale_discipline(joined, max_exchanges=0)
    s = diagnostics.plan_summary(joined)
    assert s.exchanges >= 1 and s.sort_merge_joins == 1


def test_row_python_flagged_and_allowable(spark):
    @F.udf(LongType())
    def slow(v):
        return v + 1

    df = spark.range(0, 10).select(slow(F.col("id")).alias("v"))
    assert diagnostics.plan_summary(df).batch_eval_python == 1
    with pytest.raises(AssertionError, match="row-at-a-time"):
        diagnostics.assert_scale_discipline(df)
    s = diagnostics.assert_scale_discipline(df, allow_row_python=True)
    assert not s.python_is_vectorized


def test_arrow_python_is_not_flagged(spark, sf_dir):
    from eligibility_etl_airflow_spark.operators import bloom

    keys = spark.range(0, 50).select(F.col("id").alias("k"))
    sk = bloom.bloom_build(keys, "k", expected_items=50)
    fact = spark.range(0, 500).select(F.col("id").alias("fk"))
    s = diagnostics.assert_scale_discipline(bloom.bloom_prefilter(fact, "fk", sk))
    assert s.arrow_eval_python == 1 and s.batch_eval_python == 0


def test_pushed_filter_scans_counted(spark, sf_dir):
    from eligibility_etl_airflow_spark.catalog import Catalog

    df = Catalog(spark, sf_dir).orders.filter(F.col("o_orderkey") == 7).select("o_orderkey")
    s = diagnostics.plan_summary(df)
    assert s.scans >= 1 and s.pushed_filter_scans >= 1


def test_plan_summary_ignores_the_plan_string_cap(spark, sf_dir):
    """The summary walks plan nodes: capping the plan string at 2,000
    characters leaves it unchanged on a plan that prints longer."""
    df = registry.QUERIES["bm25_search"](spark, sf_dir)
    assert len(df._jdf.queryExecution().executedPlan().toString()) > 2000
    full = diagnostics.plan_summary(df)
    assert full.exchanges >= 1 and full.scans >= 1
    spark.conf.set("spark.sql.maxPlanStringLength", "2000")
    try:
        capped = diagnostics.plan_summary(df)
    finally:
        spark.conf.unset("spark.sql.maxPlanStringLength")
    assert capped == full


# Registered claims queries re-run on a schedule; together they need
# more generated classes than Spark's default codegen cache (100) holds.
_CLAIMS_QUERIES = (
    "eligibility_flagship",
    "eligibility_quality_gate",
    "resubmission_flagship",
    "business_rule_updates",
    "latest_order_dense_rank",
    "json_field_extract",
    "cohort_retention",
    "rolling_zscore_anomalies",
    "asof_join_events",
    "scd2_user_status",
    "stream_dedup_overlap",
    "beneficiary_enrichment",
)


def _empty_codegen_cache(spark) -> None:
    """Drop every compiled class from the JVM's codegen cache, so the
    next pass compiles from cold whatever ran earlier in this session."""
    jvm, gw = spark.sparkContext._jvm, spark.sparkContext._gateway
    cls = jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$"
    )
    getter = cls.getDeclaredMethod("cache", gw.new_array(jvm.java.lang.Class, 0))
    getter.setAccessible(True)
    getter.invoke(cls.getField("MODULE$").get(None), gw.new_array(jvm.java.lang.Object, 0)).invalidateAll()


def test_codegen_stats_counts_a_new_query(spark):
    _empty_codegen_cache(spark)
    before = diagnostics.codegen_stats(spark)
    spark.range(0, 50).select(
        (F.col("id") * 7919 + 104729).alias("x"), (F.col("id") % 13).alias("k")
    ).groupBy("k").agg(F.max("x").alias("m")).collect()
    after = diagnostics.codegen_stats(spark)
    assert after["classes"] > before["classes"]
    assert after["compile_ms"] >= 0.0


def test_claims_queries_rerun_reuses_compiled_classes(spark, sf_dir):
    """The session's codegen cache holds the claims queries' working
    set: a second pass compiles at most a tenth of what the first did.
    With Spark's default 100-entry cache the second pass recompiles most
    of the first's classes."""

    def compiled_by_one_pass() -> int:
        before = diagnostics.codegen_stats(spark)["classes"]
        for name in _CLAIMS_QUERIES:
            spark.catalog.clearCache()
            registry.reset_memos()
            registry.QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return diagnostics.codegen_stats(spark)["classes"] - before

    _empty_codegen_cache(spark)
    first = compiled_by_one_pass()
    second = compiled_by_one_pass()
    assert first > 100
    assert second <= 0.1 * first, (first, second)
