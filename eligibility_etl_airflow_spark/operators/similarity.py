"""Similarity search over embedding columns (array<float>).

Two tiers, mirroring how ANN is actually deployed on Spark:

- **brute-force cosine top-k** — exact baseline. The query set is tiny
  and broadcast; the corpus is scanned once; per-row dot products run as
  higher-order functions (zip_with + aggregate) JVM-side; top-k per query
  is a window over (query, sim). Cost: one corpus scan per batch of
  queries — the right answer up to ~10^9 corpus rows per query batch.
- **LSH (random hyperplane) bucketed** — the scale path. Deterministic
  signed-projection signature per vector buckets the corpus; queries
  probe their own bucket plus 1-bit-flip neighbors (multiprobe) and only
  those candidates get exact scoring. Cost scales with bucket sizes.
  An IVF variant (k-means centroids) would slot into the same shape —
  bucket id from argmin centroid instead of sign bits.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from eligibility_etl_airflow_spark.sources.sinks import _stable


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def as_double_array(col: Column) -> Column:
    return F.transform(col, lambda v: v.cast("double"))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k of corpus rows per query row (self-matches
    excluded). Queries are broadcast; sims are computed with precomputed
    corpus norms so each row costs one dot product."""
    from pyspark.sql import Window

    c = corpus.select(
        F.col(id_col).alias("corpus_id"),
        as_double_array(F.col(vec_col)).alias("cvec"),
    ).withColumn("cnorm", _norm(F.col("cvec")))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        as_double_array(F.col(vec_col)).alias("qvec"),
    ).withColumn("qnorm", _norm(F.col("qvec")))

    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("corpus_id") != F.col("query_id"))
        .withColumn(
            "sim", F.round(_dot(F.col("cvec"), F.col("qvec")) / (F.col("cnorm") * F.col("qnorm")), 6)
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("corpus_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "sim", F.col("rank").cast("long").alias("rank"))
    )


def hyperplanes(dim: int, n_planes: int = 12, seed: int = 42) -> list[list[float]]:
    """Deterministic random hyperplanes (driver-side, broadcast as
    literals — n_planes × dim doubles, trivially small)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit signature of the vector against each hyperplane."""
    bits = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        lit_plane = F.array(*[F.lit(float(x)) for x in plane])
        bit = F.when(_dot(vec, lit_plane) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        bits = bits + bit
    return bits.cast("long")


def _bucket_matmul_udf(tables: list[list[list[float]]]):
    """Per-table sign-bit bucket ids as ONE Arrow-batched matmul.

    Bucket assignment is a (batch × dim) @ (dim × tables·planes) product;
    doing it as n_tables × n_planes interpreted higher-order dot products
    per row was ~10× slower at sf0.1. Sign convention matches
    ``lsh_bucket`` (bit set when dot ≥ 0)."""
    import numpy as np
    import pandas as pd

    mats = [np.asarray(t, dtype=np.float64).T for t in tables]  # dim × planes

    def buckets(v):
        if len(v) == 0:
            return pd.Series([], dtype=object)
        m = np.vstack(v.to_numpy())  # batch × dim
        per_table = []
        for planes in mats:
            bits = (m @ planes) >= 0  # batch × n_planes
            ids = (bits.astype(np.int64) << np.arange(bits.shape[1], dtype=np.int64)).sum(axis=1)
            per_table.append(ids)
        return pd.Series(list(np.stack(per_table, axis=1)))

    # real (non-stringified) hints: `from __future__ import annotations`
    # would otherwise break pandas_udf's type inference
    buckets.__annotations__ = {"v": pd.Series, "return": pd.Series}
    return F.pandas_udf(buckets, "array<long>")


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 10,
    n_tables: int = 1,
    multiprobe_bits: int = 1,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: exact scoring restricted to LSH bucket matches.

    ``n_tables`` independent hash tables (the standard recall lever: a
    true neighbor only needs to collide in ONE table); within each table,
    queries probe their own bucket plus every bucket within
    ``multiprobe_bits`` bit flips. Join is on (table, bucket) → shuffle on
    a small composite key; exact cosine only inside matched buckets.
    Recall/candidate-count trade-off: collision prob per table is
    (1 - θ/π)^n_planes, union over tables — fewer planes or more tables →
    higher recall and more candidates.
    """
    from pyspark.sql import Window

    bucket_array = _bucket_matmul_udf(
        [hyperplanes(dim, n_planes, seed + 1000 * t) for t in range(n_tables)]
    )

    c = (
        corpus.select(
            F.col(id_col).alias("corpus_id"),
            as_double_array(F.col(vec_col)).alias("cvec"),
        )
        .withColumn("cnorm", _norm(F.col("cvec")))
        .select("*", F.posexplode_outer(bucket_array(F.col("cvec"))).alias("table", "bucket"))
    )

    q = (
        queries.select(
            F.col(id_col).alias("query_id"),
            as_double_array(F.col(vec_col)).alias("qvec"),
        )
        .withColumn("qnorm", _norm(F.col("qvec")))
        .select("*", F.posexplode_outer(bucket_array(F.col("qvec"))).alias("table", "bucket0"))
    )

    probes = [F.col("bucket0")]
    if multiprobe_bits >= 1:
        probes += [F.col("bucket0").bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)]
    q_probed = q.withColumn("bucket", F.explode_outer(F.array(*probes)))

    scored = (
        c.join(F.broadcast(q_probed), ["table", "bucket"])
        .filter(F.col("corpus_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "corpus_id"])
        .withColumn(
            "sim", F.round(_dot(F.col("cvec"), F.col("qvec")) / (F.col("cnorm") * F.col("qnorm")), 6)
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("corpus_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "sim", F.col("rank").cast("long").alias("rank"))
    )


# Trained IVF centroids keyed by (cache_key, n_cells, sample_size, seed):
# training is deterministic given these, so repeated invocations of the
# same index (every bench/pipeline run re-calls ivf_topk) skip the k-means
# collect+iterate entirely. Callers fold a content stamp (file mtime) into
# cache_key so a rewritten corpus retrains. Entry count is capped: one
# entry is only n_cells × dim floats, but a long-lived service cycling
# cache keys must not grow without bound.
from eligibility_etl_airflow_spark.registry import register_memo

_CENTROID_CACHE: dict[tuple, list[list[float]]] = register_memo({})
_CENTROID_CACHE_MAX = 64


def _training_sample(corpus: DataFrame, vec_col: str, sample_size: int):
    """Bounded driver-side vector sample that is a function of the DATA,
    not the file layout: rank rows by md5 of the vector's JSON form and
    take the lowest ``sample_size`` (a bare ``limit()`` on an unordered
    relation depends on partition layout — compacting the same corpus
    would silently retrain different centroids). Plans as
    TakeOrderedAndProject: per-partition top-k + a k-row driver merge,
    no global sort shuffle."""
    import numpy as np

    v = as_double_array(F.col(vec_col))
    return np.array(
        [
            r[0]
            for r in corpus.select(v.alias("v"))
            .where(F.col("v").isNotNull())
            .orderBy(F.md5(F.concat(F.lit("ann-train-v1|"), F.to_json(F.col("v")))))
            .limit(sample_size)
            .collect()
        ]
    )


def train_ivf_centroids(
    corpus: DataFrame,
    vec_col: str = "embedding",
    n_cells: int = 16,
    sample_size: int = 2048,
    iters: int = 10,
    seed: int = 42,
    cache_key: str | None = None,
) -> list[list[float]]:
    """Lloyd's k-means on a bounded driver-side sample → IVF cell
    centroids. Training on a sample is how IVF indexes are always built
    (the index scan stays fully distributed); the sample size, not the
    corpus size, bounds driver memory — and the sample is layout-stable
    (see ``_training_sample``), so retraining on a repartitioned corpus
    reproduces the same index. Pass ``cache_key`` (e.g. the corpus
    path) to memoize the trained centroids across invocations."""
    if cache_key is not None:
        key = (cache_key, vec_col, n_cells, sample_size, iters, seed)
        if key in _CENTROID_CACHE:
            return _CENTROID_CACHE[key]

    import numpy as np

    sample = _training_sample(corpus, vec_col, sample_size)
    if sample.size == 0:
        # empty corpus trains no cells — callers get an empty centroid
        # set (assignments against it are empty), not a crash
        if cache_key is not None:
            _CENTROID_CACHE[(cache_key, vec_col, n_cells, sample_size, iters, seed)] = []
        return []
    rng = np.random.default_rng(seed)
    cents = sample[rng.choice(len(sample), size=min(n_cells, len(sample)), replace=False)]
    for _ in range(iters):
        d = ((sample[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for c in range(len(cents)):
            mask = assign == c
            if mask.any():
                cents[c] = sample[mask].mean(axis=0)
    result = cents.tolist()
    if cache_key is not None:
        if len(_CENTROID_CACHE) >= _CENTROID_CACHE_MAX:
            _CENTROID_CACHE.pop(next(iter(_CENTROID_CACHE)))  # drop oldest
        _CENTROID_CACHE[key] = result
    return result


def _cell_assign_udf(cents: list[list[float]], nprobe: int = 1):
    """Arrow-batched argmin-distance cell assignment (top-``nprobe``
    nearest cells per vector, as an array<int>)."""
    import numpy as np
    import pandas as pd

    c = np.asarray(cents, dtype=np.float64)  # cells × dim
    c_sq = (c**2).sum(axis=1)

    def cells(v):
        if len(v) == 0:
            return pd.Series([], dtype=object)
        m = np.vstack(v.to_numpy())
        d = c_sq[None, :] - 2.0 * (m @ c.T)  # ∝ squared distance
        order = np.argsort(d, axis=1)[:, :nprobe].astype(np.int32)
        return pd.Series(list(order))

    cells.__annotations__ = {"v": pd.Series, "return": pd.Series}
    return F.pandas_udf(cells, "array<int>")


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    cache_key: str | None = None,
) -> DataFrame:
    """IVF approximate top-k: k-means cells instead of hyperplane buckets.

    Corpus rows land in their nearest cell (1 int key); queries probe
    their ``nprobe`` nearest cells; exact cosine only inside probed
    cells. Same join-on-small-key shape as ``lsh_topk`` — an IVF index is
    just a learned, data-adaptive bucketing, which beats random
    hyperplanes when the corpus is clustered."""
    from pyspark.sql import Window

    cents = train_ivf_centroids(corpus, vec_col, n_cells, seed=seed, cache_key=cache_key)
    c = (
        corpus.select(
            F.col(id_col).alias("corpus_id"),
            as_double_array(F.col(vec_col)).alias("cvec"),
        )
        .withColumn("cnorm", _norm(F.col("cvec")))
        .withColumn("cell", F.element_at(_cell_assign_udf(cents, 1)(F.col("cvec")), 1))
    )
    q = (
        queries.select(
            F.col(id_col).alias("query_id"),
            as_double_array(F.col(vec_col)).alias("qvec"),
        )
        .withColumn("qnorm", _norm(F.col("qvec")))
        .withColumn("cell", F.explode_outer(_cell_assign_udf(cents, nprobe)(F.col("qvec"))))
    )
    scored = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("corpus_id") != F.col("query_id"))
        .withColumn(
            "sim", F.round(_dot(F.col("cvec"), F.col("qvec")) / (F.col("cnorm") * F.col("qnorm")), 6)
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("corpus_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "sim", F.col("rank").cast("long").alias("rank"))
    )


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cosine_threshold: float = 0.95,
    n_planes: int = 10,
    seed: int = 42,
    dim: int = 64,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH bucketing: pairs in
    the same bucket with cosine ≥ threshold (near-dup semantic dedup).

    Buckets larger than ``max_bucket_size`` are dropped before the
    self-join — same degenerate-bucket guard as every other pair
    generator here: one all-alike bucket (e.g. a zero-vector cluster)
    would otherwise expand quadratically at corpus scale. With
    ``n_planes`` sign bits there are ≤ 2^n_planes buckets, so the
    bucket-size relation is tiny and broadcast."""
    planes = hyperplanes(dim, n_planes, seed)
    # bucket assignment as ONE Arrow-batched matmul (same sign convention
    # as lsh_bucket; same rationale as lsh_topk — n_planes interpreted
    # higher-order dot products per row were ~3× slower at sf0.1).
    # materialized once: the bucketed relation feeds the bucket-size
    # aggregate and BOTH sides of the self-join — otherwise the
    # hyperplane projection (the expensive part) re-executes in each
    bucket_udf = _bucket_matmul_udf([planes])
    t = _stable(
        df.select(
            F.col(id_col).alias("id"),
            as_double_array(F.col(vec_col)).alias("vec"),
        )
        .withColumn("bucket", F.element_at(bucket_udf(F.col("vec")), 1))
        .withColumn("norm", _norm(F.col("vec")))
    )
    ok_buckets = (
        t.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("bsz"))
        .filter((F.col("bsz") >= 2) & (F.col("bsz") <= max_bucket_size))
        .select("bucket")
    )
    t = t.join(F.broadcast(ok_buckets), "bucket")
    a = t.select(F.col("id").alias("id_a"), F.col("vec").alias("va"), F.col("norm").alias("na"), "bucket")
    b = t.select(F.col("id").alias("id_b"), F.col("vec").alias("vb"), F.col("norm").alias("nb"), "bucket")
    # merge hints: both sides carry embedding ARRAYS, and Catalyst sizes
    # them by compressed scan bytes (~an order under their heap
    # footprint) — the same estimate-vs-heap trap that OOM'd the round-7
    # shingle verify joins. SMJ is spill-safe and bucket-local.
    return (
        a.hint("merge").join(b.hint("merge"), "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", F.round(_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6))
        .filter(F.col("cos") >= cosine_threshold)
        .select("id_a", "id_b", "cos")
    )


def train_pq_codebooks(
    corpus: DataFrame,
    vec_col: str = "embedding",
    m: int = 8,
    codes_k: int = 16,
    sample_size: int = 2048,
    iters: int = 8,
    seed: int = 42,
    cache_key: str | None = None,
) -> list[list[list[float]]]:
    """Product-quantization codebooks: split the vector into ``m``
    subspaces and k-means each independently (``codes_k`` centroids per
    subspace) on a bounded driver-side sample — same training discipline
    as IVF (the encode/score path stays fully distributed; the sample is
    layout-stable, see ``_training_sample``). Returns
    ``m`` codebooks of shape codes_k × (dim/m)."""
    import numpy as np

    if cache_key is not None:
        key = ("pq", cache_key, vec_col, m, codes_k, sample_size, iters, seed)
        if key in _CENTROID_CACHE:
            return _CENTROID_CACHE[key]
    sample = _training_sample(corpus, vec_col, sample_size)
    if sample.size == 0:
        raise ValueError("cannot train PQ codebooks on an empty corpus")
    dim = sample.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim ({dim}) must be a multiple of m ({m})")
    sub = dim // m
    rng = np.random.default_rng(seed)
    books = []
    for j in range(m):
        s = sample[:, j * sub : (j + 1) * sub]
        cents = s[rng.choice(len(s), size=min(codes_k, len(s)), replace=False)].copy()
        for _ in range(iters):
            d = ((s[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d.argmin(axis=1)
            for c in range(len(cents)):
                mask = assign == c
                if mask.any():
                    cents[c] = s[mask].mean(axis=0)
        books.append(cents.tolist())
    if cache_key is not None:
        if len(_CENTROID_CACHE) >= _CENTROID_CACHE_MAX:
            _CENTROID_CACHE.pop(next(iter(_CENTROID_CACHE)))
        _CENTROID_CACHE[key] = books
    return books


def _pq_encode_udf(books: list[list[list[float]]]):
    """Arrow-batched PQ encoder: vector → array<int> of ``m`` centroid
    codes (at codes_k ≤ 256 each code is one byte of true storage — the
    64-dim float corpus compresses 32×, which is what makes a 100 TB
    embedding table scannable)."""
    import numpy as np
    import pandas as pd

    mats = [np.asarray(b, dtype=np.float64) for b in books]  # m × (codes_k × sub)
    sub = mats[0].shape[1]

    def encode(v):
        if len(v) == 0:
            return pd.Series([], dtype=object)
        x = np.vstack(v.to_numpy())
        codes = np.empty((x.shape[0], len(mats)), dtype=np.int32)
        for j, cents in enumerate(mats):
            s = x[:, j * sub : (j + 1) * sub]
            d = (s**2).sum(1)[:, None] - 2.0 * (s @ cents.T) + (cents**2).sum(1)[None, :]
            codes[:, j] = d.argmin(axis=1)
        return pd.Series(list(codes))

    encode.__annotations__ = {"v": pd.Series, "return": pd.Series}
    return F.pandas_udf(encode, "array<int>")


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    m: int = 8,
    codes_k: int = 16,
    refine: int = 10,
    seed: int = 42,
    cache_key: str | None = None,
    max_queries: int = 10_000,
    max_chunks: int = 64,
) -> DataFrame:
    """PQ approximate top-k with exact re-ranking (ADC + refine).

    Scale shape: the corpus is scanned as CODES (m bytes/vector instead
    of dim floats — the memory/IO path that makes brute-force-style
    scans viable at 100 TB); each query's asymmetric-distance lookup
    table (m × codes_k partial dot products) scores every code row with
    pure numpy gathers; the ``refine``·k ADC survivors per query are
    joined back to raw vectors for EXACT cosine re-ranking, so returned
    sims are true cosines (same contract as lsh_topk/ivf_topk: only
    recall is approximate, never the reported similarity).

    The query set is collected to the driver to build the ADC LUT tensor
    (n_queries × m × codes_k) that every task receives — standard ADC
    practice for a bounded query batch, but data-proportional, so it is
    explicitly CHUNKED with a HARD CEILING: query rows stream to the
    driver via ``toLocalIterator`` and flush into a per-chunk plan every
    ``max_queries`` rows, so raw-row memory is bounded by two chunks —
    but each flushed chunk's LUT tensor and query literals stay alive in
    the union plan's closures, so TOTAL driver memory is
    n_chunks × chunk-LUT, which is why ``max_chunks`` exists: past
    ``max_queries × max_chunks`` query rows the call raises instead of
    silently exhausting the driver (split the query relation and run
    separate jobs — at that scale per-job batches are the right shape
    anyway). The trained codebooks are computed once, and with >1 chunk
    the encoded corpus relation is materialized once (``sinks._stable``)
    so each chunk reuses one scan+encode pass."""
    import numpy as np
    import pandas as pd
    from functools import reduce
    from itertools import islice
    from pyspark.sql import Window

    books = train_pq_codebooks(
        corpus, vec_col, m, codes_k, seed=seed, cache_key=cache_key
    )
    mats = np.stack([np.asarray(b, dtype=np.float64) for b in books])  # m×codes_k×sub
    sub = mats.shape[2]
    encode = _pq_encode_udf(books)
    id_type = corpus.schema[id_col].dataType.simpleString()
    spark = corpus.sparkSession

    # spread a narrow scan before the encode pandas_udf + ADC Python
    # stages (see operators/parallel.py; no-op on production-scale scans)
    from eligibility_etl_airflow_spark.operators.parallel import ensure_parallelism

    c = ensure_parallelism(
        corpus.select(
            F.col(id_col).alias("corpus_id"),
            as_double_array(F.col(vec_col)).alias("cvec"),
        )
    ).withColumn("codes", encode(F.col("cvec"))).withColumn("cn", _norm(F.col("cvec")))

    n_keep = refine * k

    def chunk_topk(q_rows: list):
        # per-query ADC lookup tables: LUT[qi, j, code] = q_sub_j · centroid
        q_ids = [r.query_id for r in q_rows]
        q_vecs = np.vstack([np.asarray(r.qvec) for r in q_rows])
        luts = np.einsum(
            "qjs,jks->qjk", q_vecs.reshape(len(q_ids), m, sub), mats
        )  # chunk × m × codes_k

        def score(frames):
            for pdf in frames:
                if not len(pdf):
                    continue
                codes = np.vstack(pdf["codes"].to_numpy())  # batch × m
                ids = pdf["corpus_id"].to_numpy()
                # approx cosine ∝ (sum_j LUT[q, j, codes[:, j]]) / ||c||:
                # ranking by raw ADC dot product would bias the candidate
                # set toward large-norm corpus vectors on unnormalized
                # embeddings (query norm is constant per query and cannot
                # change ranks)
                cnorms = np.maximum(pdf["cn"].to_numpy(), 1e-12)
                j_idx = np.arange(m)
                out_q, out_c, out_s = [], [], []
                for qi in range(len(q_ids)):
                    approx = luts[qi][j_idx, codes].sum(axis=1) / cnorms
                    keep = np.argsort(-approx)[:n_keep]
                    out_q.extend([q_ids[qi]] * len(keep))
                    out_c.append(ids[keep])
                    out_s.append(approx[keep])
                yield pd.DataFrame(
                    {
                        "query_id": out_q,
                        "corpus_id": np.concatenate(out_c),
                        "approx": np.concatenate(out_s),
                    }
                )

        candidates = (
            c.select("corpus_id", "codes", "cn")
            .mapInPandas(
                score, schema=f"query_id {id_type}, corpus_id {id_type}, approx double"
            )
            .filter(F.col("query_id") != F.col("corpus_id"))
        )
        # per-query global refine cut (partition-local candidates were
        # n_keep per partition), then exact cosine re-rank on survivors
        w_ref = Window.partitionBy("query_id").orderBy(
            F.desc("approx"), F.asc("corpus_id")
        )
        survivors = candidates.withColumn("r", F.row_number().over(w_ref)).filter(
            F.col("r") <= n_keep
        )
        # the chunk's queries only (chunk-sized, broadcast) — not the
        # full query relation
        q_df = spark.createDataFrame(
            [(r.query_id, list(r.qvec)) for r in q_rows],
            f"query_id {id_type}, qvec array<double>",
        ).withColumn("qnorm", _norm(F.col("qvec")))
        # survivors is bounded by construction (chunk queries × n_keep),
        # so IT is the broadcast side; the corpus cvec relation must
        # never be the build side — its scan-bytes estimate undersizes
        # the array heap footprint (round-7 OOM class)
        rescored = (
            c.select("corpus_id", "cvec")
            .join(F.broadcast(survivors), "corpus_id")
            .withColumn("cnorm", _norm(F.col("cvec")))
            .join(F.broadcast(q_df), "query_id")
            .withColumn(
                "sim",
                F.round(
                    _dot(F.col("cvec"), F.col("qvec"))
                    / (F.col("cnorm") * F.col("qnorm")),
                    6,
                ),
            )
        )
        w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("corpus_id"))
        return (
            rescored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(
                "query_id", "corpus_id", "sim", F.col("rank").cast("long").alias("rank")
            )
        )

    # Stream query rows one chunk at a time (raw Row memory is at most
    # two chunks: the current one and the look-ahead); what accumulates
    # is one LUT tensor + query literal per chunk inside the union
    # plan's closures — which max_chunks caps.
    rows = queries.select(
        F.col(id_col).alias("query_id"),
        as_double_array(F.col(vec_col)).alias("qvec"),
    ).toLocalIterator()
    chunk = list(islice(rows, max_queries))
    nxt = list(islice(rows, max_queries))
    if nxt:
        # more than one chunk: encode the corpus once for all of them
        c = _stable(c)
    plans: list[DataFrame] = []
    while chunk:
        if len(plans) >= max_chunks:
            raise ValueError(
                f"pq_topk: query set exceeds max_queries × max_chunks = "
                f"{max_queries * max_chunks} rows. Each chunk's ADC LUT "
                "stays alive in the union plan, so driver memory grows "
                "with chunk count — split the query relation into "
                "separate jobs at this scale."
            )
        plans.append(chunk_topk(chunk))
        chunk, nxt = nxt, list(islice(rows, max_queries))

    empty_schema = f"query_id {id_type}, corpus_id {id_type}, sim double, rank long"
    if not plans:
        return spark.createDataFrame([], empty_schema)
    # chunks partition the query ids, so unionByName of per-chunk top-k
    # is the global answer
    return reduce(lambda a, b: a.unionByName(b), plans)


def label_centroids(
    df: DataFrame, label_col: str, vec_col: str = "embedding"
) -> DataFrame:
    """(label, centroid array<double>, n_members) mean-pooled centroid
    per label — the aggregation half of semantic clustering / class
    prototypes. Relational and dimension-generic: posexplode the vector,
    average per (label, position), re-assemble ordered by position. Two
    hash aggregates; state is labels × dims, independent of row count —
    the shape that holds at 100 TB (partial aggregation does the
    billion-row work map-side)."""
    exploded = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(as_double_array(F.col(vec_col))).alias("pos", "x"),
    )
    per_pos = exploded.groupBy("label", "pos").agg(
        F.avg("x").alias("c"), F.count(F.lit(1)).alias("n")
    )
    return per_pos.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
        ).alias("centroid"),
        F.max("n").cast("long").alias("n_members"),
    )


def nearest_centroid_assign(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str = "embedding",
    max_closure_bytes: int = 128 << 20,
) -> DataFrame:
    """Assign every vector to its nearest centroid by cosine —
    the E-step of k-means / the inference step of a nearest-prototype
    classifier. ``centroids`` is (label, centroid) from
    :func:`label_centroids` (or any centroid relation). Similarity is
    rounded to 6 dp BEFORE the argmax so the winner never rides on
    last-ulp float noise, with the LOWEST label as the deterministic
    tie-break. Output: (id, assigned_label, sim, n_candidates) — every
    input id appears exactly once; rows with a NULL vector get a null
    label and null sim (they cannot be scored, but dropping them would
    silently shrink the relation).

    NaN semantics (defined, not inherited): a NaN similarity — a
    zero-norm CENTROID against any vector — is masked to −inf before
    the argmax, so it can never beat a real score; only when EVERY
    candidate is NaN (a zero-norm QUERY vector) does the lowest label
    win, with a null sim — NaN collapses to null at the Arrow
    boundary. (The pre-r10 relational form let Spark's
    NaN-sorts-greatest rule hand such ties to a zero-norm centroid —
    an accident of ordering, not a semantic.)

    Shape (r9): one Arrow-batched numpy matmul — each batch computes
    ``X @ C.T`` and an argmax. MAP-ONLY: no crossJoin row blow-up, no
    per-id window shuffle. The previous relational form materialized
    and SHUFFLED n × k scored rows, which with the auto-k SemDeDup
    regime (k ∝ n) made the E-step cost n²/target — measured 212 s for
    one assignment pass at 100k vectors × 334 centroids vs ~2 s for
    this form. A dense-matmul inner loop is exactly the documented
    escape hatch from built-in expressions: the work is BLAS, not a
    join.

    Closure bound (r10): auto-k sets k ∝ n, so at billion-vector
    corpora the k × dim matrix reaches GBs — too big to collect to the
    driver or ship in every task closure. When the estimated matrix
    size exceeds ``max_closure_bytes`` the operator switches shape
    instead of OOMing: centroids stream through the driver in label
    order (``toLocalIterator`` — peak driver memory is ONE chunk),
    land as ≤-ceiling .npz chunk files distributed to executors via
    ``SparkFiles`` (disk, not task closure), and the same single
    map-only pass folds a running per-row best across chunks. Chunks
    are visited in ascending-label order and a later chunk wins only
    on a STRICTLY greater masked sim, so the result is bit-identical
    to the in-closure form (asserted in tests/test_similarity.py).
    Exactness is why this fallback is chunked-exact rather than
    two-level IVF: coarse-quantized probing is approximate, and the
    repo already exposes that trade explicitly via
    :func:`ivf_topk_over_index`."""
    import numpy as np
    import pandas as pd

    from eligibility_etl_airflow_spark.operators.parallel import ensure_parallelism

    id_field = df.select(F.col(id_col).alias("id")).schema["id"]
    id_type = id_field.dataType.simpleString()
    label_type = centroids.schema["label"].dataType.simpleString()
    out_schema = (
        f"id {id_type}, assigned_label {label_type}, "
        "sim double, n_candidates long"
    )

    csel = centroids.select("label", as_double_array(F.col("centroid")).alias("cv"))
    stats = csel.agg(
        F.count(F.lit(1)).alias("k"), F.max(F.size("cv")).alias("dim")
    ).collect()[0]
    k, dim = stats["k"], stats["dim"] or 0
    if k == 0:  # no centroids: nothing can be assigned (old form: empty cross join)
        return df.sparkSession.createDataFrame([], out_schema)

    def load_chunks():
        """Yield (labels, C, cnorm) centroid chunks in ascending-label
        order. Executor memory is bounded by one chunk regardless of k."""
        raise NotImplementedError  # replaced below per shape

    if k * dim * 8 <= max_closure_bytes:
        # in-closure fast path: the whole k × dim matrix rides in the
        # task closure, one chunk. Labels sorted ascending so numpy's
        # first-max argmax IS the lowest-label tie-break (labels keep
        # their own type — int cluster ids, string class labels; UTF-8
        # byte order == code-point order, so Python sorted() matches
        # Spark's asc() for strings too).
        crows = csel.collect()
        order = sorted(range(len(crows)), key=lambda i: crows[i]["label"])
        labels = np.array([crows[i]["label"] for i in order])
        C = np.asarray([crows[i]["cv"] for i in order], dtype=np.float64)
        cn = np.sqrt((C * C).sum(axis=1))
        chunk_data = [(labels, C, cn)]

        def load_chunks():
            return iter(chunk_data)

    else:
        # chunked-exact path: stream label-ordered centroids through the
        # driver into ≤-ceiling .npz files, distribute via SparkFiles.
        import os
        import tempfile
        import uuid

        sc = df.sparkSession.sparkContext
        tmpdir = tempfile.mkdtemp(prefix="centroid_chunks_")
        rows_per_chunk = max(1, max_closure_bytes // (max(dim, 1) * 8))
        chunk_names: list[str] = []
        buf_labels: list = []
        buf_vecs: list = []

        def flush():
            if not buf_vecs:
                return
            name = f"cchunk_{uuid.uuid4().hex}_{len(chunk_names):05d}.npz"
            path = os.path.join(tmpdir, name)
            np.savez(
                path,
                labels=np.array(buf_labels),
                C=np.asarray(buf_vecs, dtype=np.float64),
            )
            sc.addFile(path)
            chunk_names.append(name)
            buf_labels.clear()
            buf_vecs.clear()

        for row in csel.orderBy("label").toLocalIterator():
            buf_labels.append(row["label"])
            buf_vecs.append(row["cv"])
            if len(buf_vecs) >= rows_per_chunk:
                flush()
        flush()
        names = list(chunk_names)

        def load_chunks():
            from pyspark import SparkFiles

            for name in names:
                z = np.load(SparkFiles.get(name), allow_pickle=False)
                C = z["C"]
                yield z["labels"], C, np.sqrt((C * C).sum(axis=1))

    v = df.select(
        F.col(id_col).alias("id"), as_double_array(F.col(vec_col)).alias("v")
    )

    def assign(frames):
        for pdf in frames:
            if not len(pdf):
                continue
            notnull = pdf["v"].notna().to_numpy()
            lab_out = np.empty(len(pdf), dtype=object)
            sim_out = np.empty(len(pdf), dtype=object)
            lab_out[:] = None
            sim_out[:] = None
            if notnull.any():
                X = np.asarray(
                    [np.asarray(x, dtype=np.float64) for x in pdf["v"][notnull]]
                )
                xn = np.sqrt((X * X).sum(axis=1))
                rows = np.arange(len(X))
                best = None  # (masked, raw, label) running per-row winner
                # the E-step's real memory term is the sims matrix:
                # batch_rows × k × 8 B (at k=4096 and 10k-row Arrow
                # batches that is ~330 MB per task — measured 26 GB RSS
                # / 180 s across 32 local workers before blocking). Cap
                # every matmul at BLOCK centroid columns so the working
                # set stays ~40 MB per task regardless of k, in BOTH
                # the in-closure and SparkFiles-chunked shapes.
                BLOCK = 512
                for labels_c, C_c, cn_c in load_chunks():
                    for s in range(0, len(labels_c), BLOCK):
                        C = C_c[s : s + BLOCK]
                        cn = cn_c[s : s + BLOCK]
                        with np.errstate(divide="ignore", invalid="ignore"):
                            sims = np.round(
                                (X @ C.T) / (xn[:, None] * cn[None, :]), 6
                            )
                        masked = np.where(np.isnan(sims), -np.inf, sims)
                        idx = np.argmax(masked, axis=1)  # 1st max = low label
                        m, r = masked[rows, idx], sims[rows, idx]
                        lab = labels_c[s : s + BLOCK][idx]
                        if best is None:
                            best = [m, r, lab]
                        else:
                            # strictly greater only: blocks arrive in
                            # ascending label order, so ties keep the
                            # lower label
                            upd = m > best[0]
                            best[0][upd] = m[upd]
                            best[1][upd] = r[upd]
                            best[2][upd] = lab[upd]
                lab_out[notnull] = best[2]
                sim_out[notnull] = best[1]
            yield pd.DataFrame(
                {
                    "id": pdf["id"],
                    "assigned_label": lab_out,
                    "sim": sim_out,
                    "n_candidates": np.full(len(pdf), k, dtype=np.int64),
                }
            )

    return ensure_parallelism(v).mapInPandas(assign, schema=out_schema)


def ivf_topk_over_index(
    index_vecs: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 4,
) -> DataFrame:
    """IVF top-k over an ALREADY-BUILT index: ``index_vecs`` is
    (id, cluster, v) — vectors stored WITH their cluster assignment —
    and ``centroids`` is (label, centroid). No training, no assignment
    scan, no full-corpus distance math at query time: queries rank the
    broadcast centroid relation (k × dim — small by construction),
    probe their ``nprobe`` best clusters, and exact cosine runs only on
    the cluster-pruned index rows. This is the persisted-index serving
    path: ``run_incremental_curation`` maintains exactly these two
    relations (``index_vectors`` / ``index_centroids``) as a byproduct
    of semantic dedup, so the curation state doubles as a ready ANN
    index (``pipelines.ann_query_state``); any other clustering rule
    works too — correctness is "exact top-k restricted to the probed
    clusters" regardless of how clusters were assigned.

    Scale shape: one broadcast crossJoin of queries × centroids (both
    small), one shuffled join of the index on the cluster key with the
    probed relation BROADCAST (queries × nprobe rows — the corpus-side
    array relation is never the build side, per the round-7/8 broadcast
    audit), one per-query top-k window. Output
    (query_id, corpus_id, sim, rank); self-matches excluded."""
    from pyspark.sql.window import Window

    q = queries.select(
        F.col(id_col).alias("query_id"),
        as_double_array(F.col(vec_col)).alias("qvec"),
    ).withColumn("qnorm", _norm(F.col("qvec")))
    c = centroids.select(
        F.col("label").cast("long").alias("cluster"),
        as_double_array(F.col("centroid")).alias("cv"),
    )
    w_probe = Window.partitionBy("query_id").orderBy(
        F.desc("csim"), F.asc("cluster")
    )
    probed = (
        q.crossJoin(F.broadcast(c))
        .withColumn("csim", F.round(cosine(F.col("qvec"), F.col("cv")), 6))
        .withColumn("prnk", F.row_number().over(w_probe))
        .filter(F.col("prnk") <= nprobe)
        .select("cluster", "query_id", "qvec", "qnorm")
    )
    v = index_vecs.select(
        F.col("id").alias("corpus_id"),
        F.col("cluster").cast("long").alias("cluster"),
        as_double_array(F.col("v")).alias("cvec"),
    )
    scored = (
        v.join(F.broadcast(probed), "cluster")
        .filter(F.col("corpus_id") != F.col("query_id"))
        .withColumn("cnorm", _norm(F.col("cvec")))
        .withColumn(
            "sim",
            F.round(
                _dot(F.col("cvec"), F.col("qvec"))
                / (F.col("cnorm") * F.col("qnorm")),
                6,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("corpus_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "corpus_id", "sim", F.col("rank").cast("long").alias("rank")
        )
    )


def semantic_decontam_flags(
    corpus: DataFrame,
    bench: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bench_id_col: str = "bench_id",
    threshold: float = 0.35,
) -> DataFrame:
    """Embedding-space benchmark decontamination — the semantic tier of
    the decontam ladder (n-gram collision → fuzzy MinHash-LSH →
    embedding cosine). Catches paraphrased contamination that shares no
    surface n-grams with the benchmark: for every corpus vector, the
    nearest benchmark item by cosine and a flag once that similarity
    reaches ``threshold``.

    Output: (id, nn_bench_id, nn_sim, contaminated) — one row per
    corpus vector, so the caller can either threshold-drop (anti-join on
    ``contaminated = 1``) or audit the near-miss band below the cut.

    Scale shape (the decontamination asymmetry, same contract as the
    fuzzy bipartite tier in ``neardup.decontamination_fuzzy_pairs``):
    the BENCHMARK side is small by nature — an eval suite is thousands
    of rows, not a corpus — and broadcasts; the corpus is scanned once
    and NEVER shuffled at pair grain. The per-corpus-row argmax is a
    ``groupBy(id).agg(max(struct(...)))`` — partial aggregation
    collapses the |corpus|×|bench| pair stream to one row per corpus
    vector map-side, so the lone shuffle carries |corpus| rows.
    Similarity is rounded to 6 dp BEFORE the argmax and ties break on
    the lower bench id, keeping the winner off last-ulp float noise.

    Execution (r10): this IS nearest-prototype assignment with the
    benchmark as the prototype set, so it delegates to
    :func:`nearest_centroid_assign` — one Arrow-batched numpy matmul
    per corpus batch against the broadcast benchmark matrix, map-only,
    with the same round-6-before-argmax and lowest-id tie-break this
    operator always specified. The previous relational form
    (BroadcastNestedLoopJoin + per-pair higher-order dot + partial-agg
    argmax) evaluated the dot products element-by-element in
    non-codegen JVM land — 36 s of task time at sf0.1 for work that is
    one BLAS call per batch.
    """
    out = nearest_centroid_assign(
        corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("embedding")),
        bench.select(
            F.col(bench_id_col).alias("label"), F.col(vec_col).alias("centroid")
        ),
        "id",
        "embedding",
    )
    return out.select(
        F.col("id").alias(id_col),
        F.col("assigned_label").cast("long").alias("nn_bench_id"),
        F.col("sim").alias("nn_sim"),
        (F.col("sim") >= F.lit(threshold)).cast("long").alias("contaminated"),
    )
