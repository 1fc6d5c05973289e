"""Distributed connected components over a pair relation.

Near-dup generators (``minhash_lsh_pairs``, ``ngram_jaccard_pairs``,
``embedding_neardup_pairs``) emit PAIRS; production dedup needs
CLUSTERS — the transitive closure of the pair graph — so one canonical
document survives per near-dup *group*, not per pair. (Pair-at-a-time
removal either over-deletes, dropping both endpoints, or under-deletes,
keeping one doc per pair edge instead of one per component.)

The algorithm is min-label propagation with pointer jumping, expressed
entirely as DataFrame joins/aggregates so Catalyst/AQE plan every step:

- each node starts labeled with its own id;
- each iteration a node takes the min label over itself + neighbors
  (one shuffle join + one partial-agg'd min), THEN jumps through the
  label table itself (``label := min(label, label(label))``), which
  doubles propagation distance per round — convergence in
  O(log diameter) iterations instead of O(diameter);
- each iteration ends with an eager checkpoint, truncating lineage so
  plan size stays constant across iterations (the classic iterative-
  Spark failure is exponential plan growth, not data volume).

At 100 TB scale the edge relation is the big side: it is persisted once
(both the propagation join and nothing else consume it per iteration)
and every iteration is a single hash join on ``src`` + min-aggregate —
no driver participation; the only driver values are the per-iteration
convergence counts (scalars).

The cluster label is ``min(id)`` of the component — deterministic, no
tie-breaking dependence on partitioning or iteration order.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from eligibility_etl_airflow_spark.sources.sinks import _stable


class ConvergenceError(RuntimeError):
    """Raised when label propagation fails to converge within max_iter."""


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """Compute connected components of the undirected graph given by
    ``pairs`` (one row per edge; direction ignored; self-loops and
    duplicate edges tolerated).

    Returns one row per node that appears in ``pairs``:
    ``(id, <cluster_col>)`` where the cluster id is the component's
    minimum node id. Nodes absent from ``pairs`` (singletons) are not
    returned — attach them with a left join + ``coalesce(cluster, id)``
    (see ``attach_components``).

    Works for any orderable id type (long, string, ...) — min-label
    needs only ``<``.

    ``max_iter`` bounds the pointer-jumping rounds; with doubling,
    25 rounds cover component diameters up to ~2^25, far beyond any
    real near-dup graph. Non-convergence raises ``ConvergenceError``
    rather than silently returning partial clusters.
    """
    e = pairs.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    edges = (
        e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    labels = edges.select(F.col("src").alias("id")).distinct().withColumn(
        "label", F.col("id")
    )
    labels = _stable(labels)

    try:
        for _ in range(max_iter):
            # Neighbor propagation: label(v) := min over {v} ∪ N(v).
            nbr = edges.join(
                labels.withColumnRenamed("id", "src"), "src"
            ).select(F.col("dst").alias("id"), "label")
            new = (
                labels.unionByName(nbr)
                .groupBy("id")
                .agg(F.min("label").alias("label"))
            )
            # Pointer jumping: label(v) := min(label(v), label(label(v))).
            # Doubles the effective propagation distance each round.
            lmap = new.select(
                F.col("id").alias("label"), F.col("label").alias("label2")
            )
            new = (
                new.join(lmap, "label", "left")
                .select(
                    "id",
                    F.least(F.col("label"), F.col("label2")).alias("label"),
                )
            )
            new = _stable(new)

            changed = (
                new.join(
                    labels.withColumnRenamed("label", "old"), "id"
                )
                .filter(F.col("label") != F.col("old"))
                .limit(1)
                .count()
            )
            # release the previous round's checkpoint blocks now that
            # `new` is materialized and the convergence check consumed
            # the old labels — otherwise k rounds hold k full copies of
            # the label table in block-manager storage. The persisted
            # RDD is the one inside the LogicalRDD plan node; a derived
            # `df.rdd` has its own id and unpersisting it is a no-op
            # (verified against sc.getPersistentRDDs).
            try:
                labels._jdf.queryExecution().analyzed().rdd().unpersist(False)
            except Exception:
                pass  # reliable-checkpoint case: data lives on disk, not blocks
            labels = new
            if changed == 0:
                return labels.select("id", F.col("label").alias(cluster_col))
    finally:
        edges.unpersist()
    raise ConvergenceError(
        f"connected_components did not converge in {max_iter} iterations"
    )


def union_find_labels(edges) -> dict:
    """Pure union-find core: edges → {node: component-min label}, with
    path compression and union-by-min (the min id stays the root, so
    labels are deterministic). Extracted from the per-block Arrow stage
    so closure correctness is property-testable without a session."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo  # union by min keeps the min as root
    return {v: find(v) for v in parent}


def connected_components_blocked(
    pairs: DataFrame,
    block_col: str,
    src: str = "id_a",
    dst: str = "id_b",
    cluster_col: str = "cluster_id",
    validate: bool = True,
) -> DataFrame:
    """Connected components when every edge carries a blocking key and
    components are CONFINED to blocks by construction — true for any
    blocked pair generator (``ngram_jaccard_pairs`` emits pairs only
    within a lang×length block, so transitive closure cannot cross
    blocks either).

    This collapses the iterative O(log d)-round algorithm to ONE shuffle
    (groupBy block) + a per-block union-find inside an Arrow batch:
    linear work, per-task state bounded by the block's node count —
    which the blocking design already bounds (that is what blocking is
    for). At 100 TB this is strictly better than the iterative operator
    whenever the precondition holds; use ``connected_components`` for
    unblocked graphs (e.g. MinHash-LSH pairs, whose buckets overlap
    arbitrarily).

    Returns ``(id, <cluster_col>)`` for nodes appearing in ``pairs``,
    cluster id = component min, identical to ``connected_components``.

    The block-confinement PRECONDITION is enforced, not assumed: with
    ``validate=True`` (default) a node whose edges span blocks — which
    would otherwise silently emit conflicting duplicate labels — fails
    the job with a clear error. The guard is a lazy executor-side
    ``assert_true`` folded into a groupBy(id) over the node-level
    output (one extra shuffle of the SMALL label relation, no extra
    action); pass ``validate=False`` to keep the strict single-shuffle
    plan when the block key is derived from node attributes and the
    precondition holds by construction.
    """
    import pandas as pd

    id_type = pairs.schema[src].dataType.simpleString()
    out_schema = f"id {id_type}, {cluster_col} {id_type}"

    def uf(pdf: pd.DataFrame) -> pd.DataFrame:
        labels = union_find_labels(zip(pdf[src], pdf[dst]))
        return pd.DataFrame(
            {"id": list(labels), cluster_col: list(labels.values())}
        )

    labeled = (
        pairs.select(block_col, src, dst)
        .groupBy(block_col)
        .applyInPandas(uf, schema=out_schema)
    )
    if not validate:
        return labeled
    return (
        labeled.groupBy("id")
        .agg(
            F.min(cluster_col).alias(cluster_col),
            F.count(F.lit(1)).alias("__n_blocks"),
        )
        # assert_true returns NULL when the predicate holds and raises
        # otherwise; the filter keeps it un-prunable and lazy
        .filter(
            F.assert_true(
                F.col("__n_blocks") == 1,
                F.concat(
                    F.lit("connected_components_blocked: node "),
                    F.col("id").cast("string"),
                    F.lit(
                        " has edges in multiple blocks — components are not "
                        "block-confined; use connected_components instead"
                    ),
                ),
            ).isNull()
        )
        .select("id", cluster_col)
    )


def attach_components(
    df: DataFrame,
    id_col: str,
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    cluster_col: str = "cluster_id",
    max_iter: int = 25,
    block_col: str | None = None,
) -> DataFrame:
    """``df`` + a ``cluster_col`` column: component min-id for nodes in
    the pair graph, the node's own id for singletons. Pass ``block_col``
    when the pairs are block-confined to take the single-shuffle
    union-find path instead of the iterative one."""
    if block_col is not None:
        comp = connected_components_blocked(
            pairs, block_col, src=src, dst=dst, cluster_col="__cc"
        ).withColumnRenamed("id", id_col)
    else:
        comp = connected_components(
            pairs, src=src, dst=dst, max_iter=max_iter, cluster_col="__cc"
        ).withColumnRenamed("id", id_col)
    return (
        df.join(comp, id_col, "left")
        .withColumn(cluster_col, F.coalesce(F.col("__cc"), F.col(id_col)))
        .drop("__cc")
    )


def dedup_by_components(
    df: DataFrame,
    id_col: str,
    pairs: DataFrame,
    order_by: list[Column] | None = None,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    block_col: str | None = None,
) -> DataFrame:
    """Keep ONE row per connected component of the near-dup graph —
    the production shape of near-dup removal (the reference's
    pair-anti-join removal generalized to transitive groups).

    ``order_by`` picks the keeper per component (e.g. highest quality
    score, then lowest id); default is lowest id — fully deterministic
    either way. One extra shuffle (window over cluster id) beyond the
    component computation itself.
    """
    from pyspark.sql import Window

    labeled = attach_components(
        df,
        id_col,
        pairs,
        src=src,
        dst=dst,
        cluster_col="__cluster",
        max_iter=max_iter,
        block_col=block_col,
    )
    ordering = (order_by or []) + [F.col(id_col).asc()]
    w = Window.partitionBy("__cluster").orderBy(*ordering)
    return (
        labeled.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__cluster")
    )
