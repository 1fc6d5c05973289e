"""Plan auditing — the engine's scale discipline as a queryable API.

SCALING.md's ground rules (filters reach the scan, Python only in Arrow
islands, partial aggregation, bounded shuffles) are enforced by
tests/test_plan_shape.py for the built-in queries; this module exposes
the same checks to users composing their OWN plans from the operators,
so "would this survive 100 TB" is a function call, not a code review.

The plan checks walk the nodes of the *executed* plan — the physical
plan after AQE planning, which is what actually runs — through py4j, so
no plan-string cap (``spark.sql.maxPlanStringLength``) can hide a node.
``codegen_stats`` reads the JVM's code-generation counters.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass

from pyspark.sql import DataFrame


_FILE_SCANS = ("FileSourceScanExec", "BatchScanExec")


def _plan_nodes(df: DataFrame):
    """Every node of the executed plan: AQE's current (after an action,
    final) plan, each query stage's plan, the plans of cached relations
    and of subqueries."""
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        yield node, name
        if name == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
        elif name.endswith("QueryStage"):
            stack.append(node.plan())
        for seq in (node.children(), node.innerChildren()):
            stack.extend(seq.apply(i) for i in range(seq.size()))


@dataclass(frozen=True)
class PlanSummary:
    """Counts of the plan features that matter at scale."""

    exchanges: int  # shuffles — each is a full network round of the data
    broadcast_exchanges: int  # small-side broadcasts (cheap, good)
    # fused JVM pipeline spans (good). NOTE: an un-executed AQE plan
    # holds no codegen nodes yet — this count is only meaningful after
    # an action ran, or with AQE off
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
    names: Counter = Counter()
    scans = pushed = 0
    for node, name in _plan_nodes(df):
        names[name.split(" ")[0]] += 1
        if node.getClass().getSimpleName() in _FILE_SCANS:
            scans += 1
            meta = node.metadata()
            if meta.contains("PushedFilters") and meta.apply("PushedFilters") != "[]":
                pushed += 1
    return PlanSummary(
        exchanges=names["Exchange"],
        broadcast_exchanges=names["BroadcastExchange"],
        wholestage_codegen=names["WholeStageCodegen"],
        arrow_eval_python=names["ArrowEvalPython"],
        batch_eval_python=names["BatchEvalPython"],
        sort_merge_joins=names["SortMergeJoin"],
        broadcast_hash_joins=names["BroadcastHashJoin"],
        scans=scans,
        pushed_filter_scans=pushed,
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
