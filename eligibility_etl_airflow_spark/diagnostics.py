"""Plan auditing — the engine's scale discipline as a queryable API.

SCALING.md's ground rules (filters reach the scan, Python only in Arrow
islands, partial aggregation, bounded shuffles) are enforced by
tests/test_plan_shape.py for the built-in queries; this module exposes
the same checks to users composing their OWN plans from the operators,
so "would this survive 100 TB" is a function call, not a code review.

The plan checks read the *executed* plan string — the physical plan
after AQE planning, which is what actually runs. ``codegen_stats`` reads
the JVM's code-generation counters.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame


def _plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@dataclass(frozen=True)
class PlanSummary:
    """Counts of the plan features that matter at scale."""

    exchanges: int  # shuffles — each is a full network round of the data
    broadcast_exchanges: int  # small-side broadcasts (cheap, good)
    # fused JVM pipeline spans (good). NOTE: an un-executed AQE plan
    # prints isFinalPlan=false WITHOUT codegen markers — this count is
    # only meaningful after an action ran, or with AQE off
    wholestage_codegen: int
    arrow_eval_python: int  # vectorized Python islands (acceptable)
    batch_eval_python: int  # row-at-a-time Python (the slow path — avoid)
    sort_merge_joins: int
    broadcast_hash_joins: int
    scans: int
    pushed_filter_scans: int  # scans that received pushed-down filters

    @property
    def python_is_vectorized(self) -> bool:
        return self.batch_eval_python == 0


def plan_summary(df: DataFrame) -> PlanSummary:
    """Summarize the physical plan's scale-relevant features."""
    p = _plan(df)
    return PlanSummary(
        exchanges=p.count("Exchange") - p.count("BroadcastExchange"),
        broadcast_exchanges=p.count("BroadcastExchange"),
        wholestage_codegen=p.count("WholeStageCodegen"),
        arrow_eval_python=p.count("ArrowEvalPython"),
        batch_eval_python=p.count("BatchEvalPython"),
        sort_merge_joins=p.count("SortMergeJoin"),
        broadcast_hash_joins=p.count("BroadcastHashJoin"),
        scans=p.count("FileScan") + p.count("BatchScan"),
        pushed_filter_scans=p.count("PushedFilters: ["),
    )


def assert_scale_discipline(
    df: DataFrame,
    max_exchanges: int | None = None,
    allow_row_python: bool = False,
) -> PlanSummary:
    """Raise AssertionError when the plan violates the engine's ground
    rules: row-at-a-time Python anywhere (unless explicitly allowed),
    or more shuffles than ``max_exchanges``. Returns the summary so a
    passing call doubles as documentation of the plan's shape."""
    s = plan_summary(df)
    if not allow_row_python and s.batch_eval_python > 0:
        raise AssertionError(
            f"plan contains {s.batch_eval_python} row-at-a-time Python "
            "stage(s) (BatchEvalPython) — use Arrow-batched pandas UDFs"
        )
    if max_exchanges is not None and s.exchanges > max_exchanges:
        raise AssertionError(
            f"plan has {s.exchanges} shuffle Exchange(s), budget is "
            f"{max_exchanges} — check join strategies and aggregations"
        )
    return s


def codegen_stats(spark) -> dict:
    """Classes compiled so far by this JVM's whole-stage and expression
    code generator, and the time spent compiling them.

    ``{"classes": int, "compile_ms": float}``. Read through py4j from
    Spark's ``CodegenMetrics.METRIC_COMPILATION_TIME`` histogram; no
    Spark job runs. The histogram is updated once per compile, i.e. per
    miss of the codegen cache, so the difference of ``classes`` across a
    block of work is exactly the number of classes it compiled.
    ``compile_ms`` is approximate: it is the histogram's count times the
    mean of its sampling reservoir, not a running sum."""
    hist = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    n = int(hist.getCount())
    return {"classes": n, "compile_ms": n * float(hist.getSnapshot().getMean())}
