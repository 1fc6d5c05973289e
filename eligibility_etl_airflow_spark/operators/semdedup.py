"""SemDeDup-style semantic deduplication over an embedding column.

Public algorithm (Abbas et al. 2023, "SemDeDup: Data-efficient learning
at web-scale through semantic deduplication"): k-means-cluster the
corpus embeddings, then within each cluster drop documents that are
``eps``-cosine-close to another member — near-duplicate MEANING, not
near-duplicate bytes, which is what the MinHash tier can never see (a
paraphrase shares no shingles).

Spark-first shape, same discipline as the LSH tier
(operators/neardup.py):

- **k-means** = bounded driver-side init (Lloyd's on a layout-stable
  sample — ``train_ivf_centroids``) + distributed E/M refinement:
  E-step is ``nearest_centroid_assign`` (centroids broadcast, one scan),
  M-step is ``label_centroids`` (two partial-agg shuffles, state =
  k × dim). Nothing corpus-sized ever reaches the driver.
- **within-cluster dedup** is the bucket-expansion pattern: one shuffle
  on the cluster id, members collected per cluster (capped — a
  degenerate cluster is the same quadratic bomb as a degenerate LSH
  bucket), pairwise cosine as one numpy gram matrix per cluster inside
  an Arrow-batched ``mapInPandas``. NO corpus-level all-pairs ever.
- **drop rule** matches the released SemDeDup implementation: rank the
  cluster's members by cosine-to-centroid ASCENDING (farthest from the
  centroid first — the diversity-maximizing keep order; ties by id) and
  drop member ``x`` iff its max cosine to any EARLIER-RANKED member is
  ``>= eps`` — whether or not that member was itself dropped. This
  "dominated" rule needs no sequential scan (one triangular-max over
  the gram matrix) and is relationally expressible, which is what lets
  the DuckDB oracle grade it exactly. Similarities are rounded to 6 dp
  before every comparison so keep/drop never rides on last-ulp float
  noise.

At 100 TB: centroids are k × dim (broadcast), E/M rounds are
scan + partial-agg each, the cluster shuffle is one hash partition, and
per-cluster work is bounded by ``max_cluster_size``² · dim. Clusters
over the cap are excluded from dedup and REPORTED (rows with
``capped_cluster=true``), mirroring the LSH bucket-cap contract — the
remedy is a larger k, which shrinks clusters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from eligibility_etl_airflow_spark.operators.similarity import (
    as_double_array,
    label_centroids,
    nearest_centroid_assign,
    train_ivf_centroids,
)
from eligibility_etl_airflow_spark.sources.sinks import _stable


def centroids_as_df(spark, cents: list[list[float]]) -> DataFrame:
    """k × dim python centroid list → (label, centroid) relation (the
    shape ``nearest_centroid_assign`` consumes)."""
    return spark.createDataFrame(
        [(i, list(map(float, c))) for i, c in enumerate(cents)],
        "label int, centroid array<double>",
    )


def kmeans_centroids(
    df: DataFrame,
    id_col: str,
    vec_col: str = "embedding",
    k: int = 16,
    em_iters: int = 2,
    sample_size: int = 2048,
    init_iters: int = 10,
    seed: int = 42,
) -> DataFrame:
    """(label, centroid) k-means centroids: Lloyd's on a bounded
    layout-stable sample for init, then ``em_iters`` DISTRIBUTED E/M
    rounds over the full corpus — E assigns every vector to its nearest
    centroid (broadcast), M re-pools per-label means (partial-agg
    relational pooling). Each round costs one corpus scan; centroid
    state stays k × dim regardless of corpus size.

    Empty clusters simply drop out of the M-step (their label vanishes
    from the assignment relation) — the standard Lloyd's degeneracy,
    harmless for dedup since assignment only needs SOME nearest
    centroid.

    Each round's k × dim centroid state is COLLECTED to the driver and
    re-emitted as a literal relation: leaving it as lazy lineage would
    nest every prior round's plan inside the next round's broadcast, so
    the final consumer re-executes the corpus scan once per nesting
    level. Collecting a few KB per round keeps every round at exactly
    one corpus scan."""
    spark = df.sparkSession
    cents = centroids_as_df(
        spark,
        train_ivf_centroids(
            df,
            vec_col=vec_col,
            n_cells=k,
            sample_size=sample_size,
            iters=init_iters,
            seed=seed,
        ),
    )
    vecs = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    for _ in range(em_iters):
        assigned = nearest_centroid_assign(vecs, cents, "id", "v").select(
            "id", F.col("assigned_label").alias("label")
        )
        # merge hint: vecs carries the embedding ARRAY and its size
        # estimate is compressed scan bytes — far under heap footprint
        # (round-7 OOM class); SMJ keeps the corpus off the build side
        pooled = label_centroids(
            vecs.hint("merge").join(assigned, "id"), "label", "v"
        ).collect()
        if not pooled:
            break  # empty input: keep the init centroids (possibly [])
        cents = spark.createDataFrame(
            [(int(r["label"]), list(r["centroid"])) for r in pooled],
            "label int, centroid array<double>",
        )
    return cents


def semantic_dedup_drops(
    df: DataFrame,
    id_col: str,
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    k: int | str = 16,
    eps: float = 0.95,
    max_cluster_size: int = 10_000,
    em_iters: int = 2,
    seed: int = 42,
    target_cluster_size: int = 1_000,
) -> DataFrame:
    """(id, cluster, kept_id, sim, capped_cluster) — one row per DROPPED
    document: ``id``'s cosine to ``kept_id`` (the earlier-ranked member
    it is closest to) is ``sim >= eps``. ``centroids`` defaults to
    :func:`kmeans_centroids` over ``df`` itself; pass a precomputed
    relation (e.g. ``label_centroids`` of a labeled corpus) to share or
    pin the clustering. Rows with ``capped_cluster=true`` are NOT
    drops — they report members of clusters over ``max_cluster_size``
    that were excluded from dedup (kept_id/sim null): silent truncation
    would read as "deduped" when it wasn't.

    ``k="auto"`` scales the cluster count with the corpus —
    ``max(16, ceil(n / target_cluster_size))`` — which is the
    linearity knob at scale: the per-cluster compare is quadratic in
    cluster size, so a FIXED k makes total cost grow ~quadratically
    with the corpus (the round-8 1x/5x/20x probe measured 7.7x cost at
    20x data with k=64), while k ∝ n keeps expected cluster size (and
    so per-cluster cost) constant — total compare work then grows
    linearly and the broadcast-assign scan dominates, the SemDeDup
    paper's operating regime. Costs one extra column-pruned count of
    ``df``; ignored when ``centroids`` is passed.

    Plan: broadcast-assign (materialized once with ``sinks._stable`` —
    the assignment feeds the size count, the capped report, and the
    member collect) → cluster sizes
    counted from the VECTORLESS assignment relation, so an over-cap
    cluster is detected and reported without ever materializing its
    members' embeddings into one row (a million-member cluster must
    fail SOFT, not blow the collect_list) → under-cap clusters only:
    one shuffle on cluster id, per-cluster numpy gram matrix →
    triangular max against earlier-ranked members. Deterministic:
    6-dp-rounded sims, id tie-breaks, first-max (lowest-rank) winner
    as ``kept_id``."""
    import numpy as np
    import pandas as pd

    if not (0.0 < eps <= 1.0):
        raise ValueError(f"eps must be in (0, 1], got {eps}")
    if centroids is None:
        if k == "auto":
            k = max(16, -(-df.count() // target_cluster_size))
        elif not isinstance(k, int):
            raise ValueError(f"k must be an int or 'auto', got {k!r}")
        cents = kmeans_centroids(df, id_col, vec_col, k=k, em_iters=em_iters, seed=seed)
    else:
        cents = centroids
    vecs = df.select(
        F.col(id_col).alias("id"), as_double_array(F.col(vec_col)).alias("v")
    )
    assigned = _stable(
        nearest_centroid_assign(vecs, cents, "id", "v").select(
            "id", F.col("assigned_label").cast("long").alias("cluster"), "sim"
        )
    )
    id_type = vecs.schema["id"].dataType.simpleString()
    over_cap = (
        assigned.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > max_cluster_size)
        .select("cluster")
    )
    capped_rows = assigned.join(F.broadcast(over_cap), "cluster", "left_semi").select(
        F.col("id"),
        F.col("cluster"),
        F.lit(None).cast(id_type).alias("kept_id"),
        F.lit(None).cast("double").alias("sim"),
        F.lit(True).alias("capped_cluster"),
    )
    members = (
        # merge hint: same array-broadcast guard as kmeans_centroids —
        # vecs' scan-bytes estimate could otherwise put the embedding
        # relation on the broadcast build side
        vecs.hint("merge").join(assigned, "id")
        .join(F.broadcast(over_cap), "cluster", "left_anti")
        .groupBy("cluster")
        .agg(
            # (sim-to-centroid ASC, id ASC) = the keep-rank order; the
            # sort is cluster-local and bounded by the cap
            F.array_sort(F.collect_list(F.struct("sim", "id", "v"))).alias("m")
        )
    )

    def dedup(frames):
        for pdf in frames:
            rows: dict[str, list] = {
                "id": [],
                "cluster": [],
                "kept_id": [],
                "sim": [],
                "capped_cluster": [],
            }
            for cluster, m in zip(pdf["cluster"], pdf["m"]):
                if len(m) < 2:
                    continue
                ids = [mem["id"] for mem in m]
                mat = np.vstack(
                    [np.asarray(mem["v"], dtype=np.float64) for mem in m]
                )
                norms = np.linalg.norm(mat, axis=1)
                norms[norms == 0.0] = 1.0  # zero vectors: sim 0 to all
                unit = mat / norms[:, None]
                gram = np.round(unit @ unit.T, 6)
                for i in range(1, len(ids)):
                    j = int(np.argmax(gram[i, :i]))  # first max → lowest rank
                    if gram[i, j] >= eps:
                        rows["id"].append(ids[i])
                        rows["cluster"].append(cluster)
                        rows["kept_id"].append(ids[j])
                        rows["sim"].append(float(gram[i, j]))
                        rows["capped_cluster"].append(False)
            yield pd.DataFrame(rows)

    schema = (
        f"id {id_type}, cluster long, kept_id {id_type}, "
        "sim double, capped_cluster boolean"
    )
    return members.mapInPandas(dedup, schema=schema).unionByName(capped_rows)


def semantic_dedup_drops_bipartite(
    batch: DataFrame,
    state: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: DataFrame,
    eps: float = 0.95,
    max_cluster_side: int = 10_000,
) -> DataFrame:
    """(id, cluster, kept_id, sim, capped_cluster) — BATCH documents that
    are ``eps``-cosine-close to an already-ACCEPTED document (``state``),
    compared only within their shared k-means cluster. The vs-state twin
    of :func:`semantic_dedup_drops`, completing the semantic tier's
    incremental form the way the band/shingle indexes complete MinHash's
    (``run_incremental_curation``): per-batch cost is proportional to
    the batch plus its clusters' state members — never a state rescan,
    never state × state.

    ``centroids`` must be the SAME relation across every batch (the
    persisted-index discipline: train once, store, reload) or cluster
    assignments drift between what the index stored and what the batch
    probes. Both sides assign by broadcast centroids — except a ``state``
    that already carries a ``cluster`` column (the persisted vector
    index stores the assignment it was accepted under), which skips the
    re-assignment map entirely; the comparison is a cogrouped
    per-cluster bipartite gram matrix (batch-side rows × state-side
    rows), each side capped at ``max_cluster_side`` — an over-cap
    cluster reports its batch members as ``capped_cluster`` rows (null
    kept_id/sim) rather than silently skipping them. Deterministic:
    6-dp-rounded sims; kept_id is the lowest state id among
    maximal-similarity matches (state side sorted by id, first-max
    argmax)."""
    import numpy as np
    import pandas as pd

    if not (0.0 < eps <= 1.0):
        raise ValueError(f"eps must be in (0, 1], got {eps}")
    id_type = batch.schema[id_col].dataType.simpleString()

    def assigned(df: DataFrame) -> DataFrame:
        if "cluster" in df.columns:  # pre-assigned (persisted index rows)
            return df.select(
                F.col(id_col).alias("id"),
                as_double_array(F.col(vec_col)).alias("v"),
                F.col("cluster").cast("long").alias("cluster"),
            )
        vecs = df.select(
            F.col(id_col).alias("id"), as_double_array(F.col(vec_col)).alias("v")
        )
        a = nearest_centroid_assign(vecs, centroids, "id", "v").select(
            "id", F.col("assigned_label").cast("long").alias("cluster")
        )
        # merge hint: array-broadcast guard (see kmeans_centroids)
        return vecs.hint("merge").join(a, "id")

    # batch-side assignment is materialized once: it feeds the size
    # counts, the capped report, and the cogroup. The state side is only
    # ever read through column-pruned projections (cluster for the
    # count, the cogroup for the compare) — the big side stays lazy.
    b = _stable(assigned(batch))
    s = assigned(state)

    # over-cap detection from VECTORLESS projections, before any group
    # materializes its embeddings into one pandas frame (fail SOFT on
    # degenerate clusters — same discipline as semantic_dedup_drops)
    b_over = (
        b.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > max_cluster_side)
        .select("cluster")
    )
    s_over = (
        s.select("cluster")
        .groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > max_cluster_side)
        .select("cluster")
    )
    over = b_over.unionByName(s_over).distinct()
    capped_rows = b.join(F.broadcast(over), "cluster", "left_semi").select(
        F.col("id"),
        F.col("cluster"),
        F.lit(None).cast(id_type).alias("kept_id"),
        F.lit(None).cast("double").alias("sim"),
        F.lit(True).alias("capped_cluster"),
    )
    b_in = b.join(F.broadcast(over), "cluster", "left_anti")
    s_in = s.join(F.broadcast(over), "cluster", "left_anti")

    def compare(key, bpdf: pd.DataFrame, spdf: pd.DataFrame) -> pd.DataFrame:
        rows: dict[str, list] = {
            "id": [], "cluster": [], "kept_id": [], "sim": [],
            "capped_cluster": [],
        }
        (cluster,) = key
        if len(bpdf) == 0 or len(spdf) == 0:
            return pd.DataFrame(rows)
        spdf = spdf.sort_values("id").reset_index(drop=True)

        def unit(col):
            m = np.vstack([np.asarray(x, dtype=np.float64) for x in col])
            n = np.linalg.norm(m, axis=1)
            n[n == 0.0] = 1.0
            return m / n[:, None]

        gram = np.round(unit(bpdf["v"]) @ unit(spdf["v"]).T, 6)
        s_ids = spdf["id"].to_numpy()
        for i, bid in enumerate(bpdf["id"]):
            j = int(np.argmax(gram[i]))  # first max -> lowest state id
            if gram[i, j] >= eps:
                rows["id"].append(bid)
                rows["cluster"].append(cluster)
                rows["kept_id"].append(s_ids[j])
                rows["sim"].append(float(gram[i, j]))
                rows["capped_cluster"].append(False)
        return pd.DataFrame(rows)

    schema = (
        f"id {id_type}, cluster long, kept_id {id_type}, "
        "sim double, capped_cluster boolean"
    )
    return (
        b_in.groupBy("cluster")
        .cogroup(s_in.groupBy("cluster"))
        .applyInPandas(compare, schema=schema)
        .unionByName(capped_rows)
    )
