"""Link-graph operators for web-crawl corpora: degrees and PageRank.

Crawl-scale curation uses link structure as a quality prior — domain
authority for sampling weights, spam-farm downweighting, seed selection.
The canonical signal is PageRank over the (src, dst) edge relation; the
supporting relation is per-node degree stats.

Scale shape mirrors operators/components.py (the other iterative graph
op): every iteration is one hash join (edges × current ranks, shuffled
on the SAME src key every round — a pre-partitioned/bucketed edge
relation reuses its layout) plus one partial-aggregated sum on dst.
Lineage is truncated per iteration with a LAZY localCheckpoint
(``eager=False``, r10): the plan never nests k iterations deep, but no
job runs until the final action — the eager form scheduled one job per
checkpoint and its fixed scheduling overhead dominated these loops on
small graphs (domain_pagerank build 3.9–7.3 s eager vs 2.9–3.2 s lazy,
A/B-measured; the checkpointed RDDs still materialize exactly once,
at first compute). NOTHING data-proportional reaches the driver.
Iteration count is fixed (power iteration converges geometrically at
the damping rate; 10–20 rounds is the standard budget) rather than
residual-tested — a residual test would add a scalar action per round
for little benefit at a fixed budget.

Determinism: double summation is order-dependent across partitionings,
so each iteration's rank is rounded to ``round_dp`` (default 9) decimal
places — drift cannot accumulate, results are partition-count
independent, and the DuckDB oracle (same per-iteration rounding,
unrolled CTEs) matches hash-exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def degree_stats(
    edges: DataFrame, src: str = "src", dst: str = "dst", dedup: bool = True
) -> DataFrame:
    """Per-node in/out degree over a (src, dst) edge relation — two
    partial-aggregated shuffles + one outer join; isolated endpoints
    appear with the missing side at 0. ``dedup=True`` (default)
    distincts multi-edges first, matching ``pagerank``'s grain so the
    joined (rank, degree) relation is internally consistent when both
    consume the same raw edge output; pass False to count raw link
    multiplicity instead."""
    if dedup:
        edges = edges.select(src, dst).distinct()
    out_deg = edges.groupBy(F.col(src).alias("id")).agg(
        F.count(F.lit(1)).cast("long").alias("out_degree")
    )
    in_deg = edges.groupBy(F.col(dst).alias("id")).agg(
        F.count(F.lit(1)).cast("long").alias("in_degree")
    )
    return (
        out_deg.join(in_deg, "id", "full_outer")
        .select(
            "id",
            F.coalesce("out_degree", F.lit(0)).cast("long").alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).cast("long").alias("in_degree"),
        )
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 10,
    damping: float = 0.85,
    round_dp: int = 9,
    checkpoint: bool = True,
    init: DataFrame | None = None,
    tol: float | None = None,
) -> DataFrame:
    """Power-iteration PageRank over (src, dst): returns (id, rank)
    for every node appearing on either edge side. Uses the standard
    simplified dangling-node treatment (their outgoing mass decays —
    ranks then sum to < 1 when sinks exist; relative ordering, which is
    what sampling weights use, is unaffected). Multi-edges count once:
    the edge relation is distinct-ed first, the defensive normalization
    a crawl extractor needs (page A linking B five times is one
    endorsement).

    Per iteration: ranks join edges on src (one shuffle on the src
    key), contributions partial-sum on dst (second shuffle), left join
    back to the node set so zero-inlink nodes keep the teleport term.
    ``checkpoint=True`` localCheckpoints each iteration — without it
    the lineage nests ``iterations`` deep and the final plan's
    compile/execute cost grows superlinearly (same rationale as
    sinks._stable). Ranks round to ``round_dp`` per iteration so
    double-sum ordering cannot leak into results across partitionings.

    Continuous-crawl refinements: ``init`` warm-starts from a previous
    (id, rank) relation — after an incremental edge batch, ranks are
    already near the fixed point and 1-2 iterations re-converge instead
    of ``iterations`` from uniform (new nodes absent from ``init`` get
    the uniform prior). ``tol`` stops early when the L1 delta between
    consecutive iterations falls below it — one extra scalar aggregate
    per iteration (a driver round-trip, never data); ``iterations``
    remains the hard cap.
    """
    if not 0.0 < damping < 1.0:
        raise ValueError(f"damping must be in (0, 1), got {damping}")
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    nodes = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    if checkpoint:
        nodes = nodes.localCheckpoint(eager=False)
        e = e.localCheckpoint(eager=False)
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    with_deg = e.join(out_deg, "src")
    teleport = (1.0 - damping) / n
    if init is not None:
        ranks = nodes.join(init.select("id", "rank"), "id", "left").select(
            "id",
            F.round(F.coalesce("rank", F.lit(1.0 / n)), round_dp).alias("rank"),
        )
        if checkpoint:
            ranks = ranks.localCheckpoint(eager=False)
    else:
        ranks = nodes.withColumn("rank", F.round(F.lit(1.0 / n), round_dp))
    for _ in range(iterations):
        contribs = (
            with_deg.join(ranks.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum(F.col("rank") / F.col("deg")).alias("c"))
        )
        new_ranks = nodes.join(contribs, "id", "left").select(
            "id",
            F.round(
                F.lit(teleport) + F.lit(damping) * F.coalesce("c", F.lit(0.0)),
                round_dp,
            ).alias("rank"),
        )
        if checkpoint:
            new_ranks = new_ranks.localCheckpoint(eager=False)
        if tol is not None:
            delta = (
                new_ranks.withColumnRenamed("rank", "r2")
                .join(ranks, "id")
                .agg(F.sum(F.abs(F.col("r2") - F.col("rank"))).alias("d"))
                .collect()[0]["d"]
            )
            ranks = new_ranks
            if delta is not None and delta < tol:
                break
        else:
            ranks = new_ranks
    return ranks


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    round_dp: int = 9,
    checkpoint: bool = True,
) -> DataFrame:
    """HITS hubs & authorities over (src, dst): returns (id, hub,
    authority) for every node on either edge side — PageRank's
    complement for crawl curation (a high-hub page is a link directory
    / index page; a high-authority page is linked BY good hubs — the
    distinction a seed-list builder wants that PageRank collapses).

    L1-normalized power iteration (scores sum to 1 — SQL-friendly, same
    ranking as the textbook L2 variant): per iteration, authority(v) =
    Σ hub over in-edges then normalize, hub(u) = Σ authority over
    out-edges then normalize. Per iteration: two src/dst-key joins +
    two partial-agg sums + two scalar normalizations (broadcast
    crossJoin — no driver transfer); scores round to ``round_dp`` per
    iteration so double-sum ordering cannot leak across partitionings;
    lineage checkpoint-truncated per iteration like :func:`pagerank`.
    Multi-edges count once (distinct-ed first)."""
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    nodes = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    if checkpoint:
        nodes = nodes.localCheckpoint(eager=False)
        e = e.localCheckpoint(eager=False)
    n = nodes.count()
    if n == 0:
        return nodes.select(
            "id", F.lit(0.0).alias("hub"), F.lit(0.0).alias("authority")
        )
    hub = nodes.withColumn("hub", F.round(F.lit(1.0 / n), round_dp))
    auth = None
    for _ in range(iterations):
        # each relation checkpoints BEFORE anything consumes it twice —
        # a_raw feeds both its total and the normalize join, auth feeds
        # both h_raw and the final select; deferring the checkpoints to
        # the end of the loop body would re-execute the edge join + agg
        # several times per iteration (pagerank's discipline)
        a_raw = (
            e.join(hub.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("hub").alias("s"))
        )
        if checkpoint:
            a_raw = a_raw.localCheckpoint(eager=False)
        a_tot = a_raw.agg(F.sum("s").alias("t"))
        auth = (
            nodes.join(a_raw, "id", "left")
            .crossJoin(F.broadcast(a_tot))
            .select(
                "id",
                F.round(
                    F.coalesce(F.col("s"), F.lit(0.0)) / F.col("t"), round_dp
                ).alias("authority"),
            )
        )
        if checkpoint:
            auth = auth.localCheckpoint(eager=False)
        h_raw = (
            e.join(auth.withColumnRenamed("id", "dst"), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum("authority").alias("s"))
        )
        if checkpoint:
            h_raw = h_raw.localCheckpoint(eager=False)
        h_tot = h_raw.agg(F.sum("s").alias("t"))
        hub = (
            nodes.join(h_raw, "id", "left")
            .crossJoin(F.broadcast(h_tot))
            .select(
                "id",
                F.round(
                    F.coalesce(F.col("s"), F.lit(0.0)) / F.col("t"), round_dp
                ).alias("hub"),
            )
        )
        if checkpoint:
            hub = hub.localCheckpoint(eager=False)
    return nodes.join(hub, "id", "left").join(auth, "id", "left").select(
        "id",
        F.coalesce("hub", F.lit(0.0)).alias("hub"),
        F.coalesce("authority", F.lit(0.0)).alias("authority"),
    )
