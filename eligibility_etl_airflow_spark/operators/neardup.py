"""Near-duplicate detection: MinHash+LSH, SimHash, n-gram Jaccard.

The standard LLM-corpus dedup stack, built Spark-first:

- **shingling / MinHash** are pure column expressions (higher-order
  functions over arrays) — JVM-side, codegen, no Python.
- **LSH banding** is explode → hash-partition by (band, signature) →
  self-join inside buckets: the shuffle is on the band key, candidate
  generation is local to each bucket, and nothing ever does an all-pairs
  comparison. This is the only shape that survives 100 TB: cost scales
  with bucket sizes, not corpus².
- **bucket-size capping** guards against degenerate buckets (boilerplate
  shingles) producing quadratic pair blowups — capped buckets are dropped
  and reported, not silently exploded.
- **SimHash** runs as an Arrow-batched mapInPandas (numpy bit-twiddling;
  a 64-expression column formula would bloat codegen past JIT limits).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from eligibility_etl_airflow_spark.operators.text import normalize_text

# _parse_byte_size / _ensure_parallelism moved to operators/parallel.py
# (shared by every CPU-heavy Python stage); re-exported here for the
# module's original call sites and external importers.
from eligibility_etl_airflow_spark.operators.parallel import (  # noqa: E402
    ensure_parallelism as _ensure_parallelism,
    parse_byte_size as _parse_byte_size,
)
from eligibility_etl_airflow_spark.sources.sinks import _stable  # noqa: E402


def hashed_shingles_of_norm(norm: Column, k: int = 5) -> Column:
    """Distinct 64-bit-hashed character k-shingles of ALREADY-NORMALIZED
    text. Set ops over long arrays are ~5× cheaper than over string
    arrays (no per-probe string hashing), and w.h.p. preserve exact set
    cardinalities — the form used wherever shingle sets are intersected
    at scale.

    ``norm`` MUST be a materialized column reference, not an inline
    expression: the ``substring(norm, i, k)`` inside the transform lambda
    evaluates its argument once PER ELEMENT, so an inlined regex
    normalize would run ~len(text) times per row (measured 4.2 s → 0.6 s
    for the shingle stage at sf0.1). Callers stage it with
    ``_with_normalized_text``."""
    n = F.length(norm)
    # r10: the per-position substring peel is ONE regex pass —
    # regexp_extract_all with a zero-width lookahead capture emits every
    # char k-gram in a single engine scan, where the interpreted
    # transform(sequence, substring) evaluated two expressions per
    # position (2.53 s → 0.34 s at sf0.1 on the 5-gram stage, outputs
    # verified identical). The otherwise-branch keeps the EXACT old
    # short/null semantics: n < k yields the one clamped gram
    # substring(norm, 1, k), which is the whole text, so [hash(norm)].
    # r11: trailing consuming dot — after a zero-width match Java's
    # Matcher advances by one UTF-16 code UNIT, so a supplementary-plane
    # char (emoji) emitted an extra spurious gram starting at its low
    # surrogate; consuming one code point per match restores exact
    # parity with the substring path on BMP and non-BMP inputs alike
    # (pinned by tests/test_neardup.py::test_shingles_non_bmp_parity).
    pat = "(?s)(?=(" + "." * k + "))."
    return F.when(
        n >= k,
        F.array_distinct(
            F.transform(
                F.regexp_extract_all(norm, F.lit(pat), F.lit(1)),
                lambda s: F.xxhash64(s),
            )
        ),
    ).otherwise(F.array(F.xxhash64(norm)))


def string_shingles_of_norm(norm: Column, k: int = 5) -> Column:
    """Distinct character k-shingles of ALREADY-NORMALIZED text, kept as
    STRINGS — the collision-free twin of ``hashed_shingles_of_norm`` for
    callers whose exactness contract must not ride on 64-bit hashes.
    ~5× more per-probe cost in set ops (string hashing per comparison);
    same staging contract: ``norm`` must be a materialized column
    reference (see the per-element lambda re-evaluation note on the
    hashed variant)."""
    n = F.length(norm)
    # one-regex-pass extraction + consuming dot for non-BMP parity, and
    # the one-clamped-gram rule for short text; see hashed_shingles_of_norm
    pat = "(?s)(?=(" + "." * k + "))."
    return F.when(
        n >= k,
        F.array_distinct(F.regexp_extract_all(norm, F.lit(pat), F.lit(1))),
    ).otherwise(F.array(norm))


def _with_normalized_text(
    df: DataFrame, id_col: str, text_col: str, extra: dict[str, Column] | None = None
) -> DataFrame:
    """(id, [extra...], _norm) staging projection. As a multi-referenced
    non-trivial projection, ``_norm`` stays an attribute (CollapseProject
    refuses to duplicate it into consumers), so the regex normalization
    runs exactly once per row no matter how many shingle expressions
    reference it downstream."""
    extra = extra or {}
    staged = _ensure_parallelism(
        df.where(F.col(text_col).isNotNull()).select(
            F.col(id_col).alias("id"),
            *[e.alias(n) for n, e in extra.items()],
            F.col(text_col),
        )
    )
    return staged.select(
        "id", *extra.keys(), normalize_text(F.col(text_col)).alias("_norm")
    )


def _utf8_concat(texts):
    """Concatenate a batch of strings into one flat uint8 buffer plus
    doc byte boundaries (len = n_docs + 1). Every element must be a
    ``str``: a None/NaN raises AttributeError. ``_winnow_stage`` feeds it
    the ``_norm`` column of ``_with_normalized_text``, which drops null
    text before normalizing; the char-feature path maps None to ""."""
    import numpy as np

    bufs = [s.encode("utf-8") for s in texts]
    doc_lens = np.fromiter(map(len, bufs), dtype=np.int64, count=len(bufs))
    doc_starts = np.concatenate(([0], np.cumsum(doc_lens)))
    flat = (
        np.frombuffer(b"".join(bufs), dtype=np.uint8)
        if doc_starts[-1]
        else np.empty(0, dtype=np.uint8)
    )
    return flat, doc_starts


def _char_gram_offsets(flat, doc_starts, k, clamp_short: bool = True):
    """Byte (start, length) offsets of every char-k-gram of every doc in
    a flat UTF-8 buffer, all positions in order, plus the doc index per
    gram. Char boundaries are pure numpy (a UTF-8 continuation-byte mask
    gives every code-point start — no decode). ``clamp_short=True``: a
    doc shorter than k chars emits ONE clamped whole-text gram — the
    ``substring(norm, 1, k)`` rule (including the empty string);
    ``clamp_short=False``: short docs emit NO grams — the
    ``when(length >= k, regexp_extract_all...).otherwise(empty)`` rule
    of the char-feature extractors."""
    import numpy as np

    n_docs = len(doc_starts) - 1
    # code-point starts: every byte that is NOT a UTF-8 continuation
    # byte (0b10xxxxxx) begins a char
    cp = np.flatnonzero((flat & 0xC0) != 0x80)
    doc_cp_hi = np.searchsorted(cp, doc_starts[1:], side="left")
    doc_cp_lo = np.concatenate(([0], doc_cp_hi[:-1]))
    g_starts, g_lens, g_doc = [], [], []
    for d in range(n_docs):
        cps = cp[doc_cp_lo[d] : doc_cp_hi[d]]
        n = len(cps)
        end = doc_starts[d + 1]
        if n >= k:
            s_arr = cps[: n - k + 1]
            e_arr = np.concatenate((cps[k:], [end]))
        elif clamp_short:
            s_arr = np.array([doc_starts[d]], dtype=np.int64)
            e_arr = np.array([end], dtype=np.int64)
        else:
            continue
        g_starts.append(s_arr)
        g_lens.append(e_arr - s_arr)
        g_doc.append(np.full(len(s_arr), d, dtype=np.int64))
    empty = np.empty(0, np.int64)
    return (
        np.concatenate(g_starts) if g_starts else empty,
        np.concatenate(g_lens) if g_lens else empty,
        np.concatenate(g_doc) if g_doc else empty,
    )


def shingle_table(
    df: DataFrame, id_col: str, text_col: str, shingle_k: int = 5
) -> DataFrame:
    """(id, shingles) staging relation: distinct 64-bit-hashed k-shingles
    per document. Computed ONCE and shared by both the MinHash signature
    derivation and the exact-Jaccard verification join (persist it when
    both consumers run in one job — otherwise each branch re-runs the
    scan + regex normalize + shingling pass over the full corpus)."""
    return _with_normalized_text(df, id_col, text_col).select(
        "id", hashed_shingles_of_norm(F.col("_norm"), shingle_k).alias("shingles")
    )


def signatures_from_shingles(shingle_tab: DataFrame, num_perm: int = 64) -> DataFrame:
    """(id, shingles) → (id, sig): MinHash signature (array<long>, length
    ``num_perm``), as a SHUFFLE-FREE Arrow-batched map.

    Each document's signature depends only on its own shingle set, so
    this is a per-row map — the earlier ``explode → groupBy(id).agg(64
    mins)`` formulation shuffled its partial aggregates UNREDUCED (ids
    are unique, so map-side combine never combines anything) and paid
    ~5 s of one-shot Janino compilation for the 64-expression aggregate.
    The numpy form is one (shingles × num_perm) broadcasted mix + min
    per batch: no shuffle, no codegen, vectorized.

    Each component uses an INDEPENDENT mix of the shingle hash — the
    splitmix64 finalizer over ``h XOR seed_i`` (public-domain constant
    family; the standard 64-bit bias-free mixer). (An affine family
    ``(a·h+b) mod P`` with a,b below the wrap point of P is
    order-preserving — every component shares one argmin, the signature
    then estimates "P(shared minimum)" instead of Jaccard, and banding
    degenerates into corpus-sized buckets.)

    No band-count constraint applies here: banding is skipped (bands=1),
    so any ``num_perm`` ≥ 1 works — only the LSH pair path requires
    ``num_perm`` divisible by its band count."""
    return signature_band_table(shingle_tab, num_perm, bands=1).select("id", "sig")


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 64,
    shingle_k: int = 5,
) -> DataFrame:
    """id → MinHash signature straight from raw text (single-consumer
    form; ``minhash_lsh_pairs`` stages the shingle table instead so the
    verification join shares it)."""
    return signatures_from_shingles(
        shingle_table(df, id_col, text_col, shingle_k), num_perm
    )


def signature_band_table(
    shingle_tab: DataFrame, num_perm: int = 64, bands: int = 16
) -> DataFrame:
    """(id, shingles) → (id, sig, bands): MinHash signature plus per-band
    bucket hashes, ONE shuffle-free Arrow-batched map.

    Fusing banding into the signature stage matters twice: no second pass
    over the signatures, and no 16-way ``concat_ws``/``xxhash64`` column
    expression — that one-shot generated class cost multiple seconds of
    Janino compilation per query (cold-run profile), which at bench scale
    dwarfed the actual work. The band hash is a splitmix64 fold over the
    band's signature components.

    The id column passes through untouched, so any Spark-sortable id type
    (long, string/UUID, ...) works — the output schema mirrors the
    input's id type."""
    import numpy as np
    import pandas as pd

    if num_perm % bands != 0:
        raise ValueError(
            f"num_perm ({num_perm}) must be a multiple of bands ({bands})"
        )
    id_type = shingle_tab.schema["id"].dataType.simpleString()
    rows_per_band = num_perm // bands
    golden = np.uint64(0x9E3779B97F4A7C15)
    seeds = (np.arange(1, num_perm + 1, dtype=np.uint64) * golden).reshape(1, -1)
    band_seeds = np.arange(1, bands + 1, dtype=np.uint64) * np.uint64(0xD6E8FEB86659FD93)

    def mix(x):
        with np.errstate(over="ignore"):
            x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
            x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
            return x ^ (x >> np.uint64(31))

    def batch(frames):
        # Vectorized across the WHOLE Arrow batch (r10, guide §4.2): the
        # per-row form allocated a fresh (shingles × num_perm) matrix and
        # paid the numpy dispatch overhead once per document — the
        # signature stage was the hottest CPU line of the minhash family
        # (107-171 s of task time per consumer query at sf0.1). Here all
        # shingles of the batch concatenate into one flat array, the
        # hash matrix is built chunk-wise (bounded at ~8M cells so memory
        # stays flat regardless of batch size), and the per-document min
        # folds via np.minimum.reduceat over the segment offsets —
        # bit-identical results (same elementwise ops, same min
        # segments; empty docs keep the sentinel signature).
        sentinel = np.uint64(2**63 - 1)
        # chunk ceiling ~256k cells = a 2 MB hash matrix: the r10 sweep
        # measured 2 MB (cache-resident per worker) fastest — 64k cells
        # pays per-chunk dispatch, and the first-cut 8M-cell chunks were
        # CATASTROPHIC under 32 concurrent workers (67 MB matrices + mix
        # temporaries stream through DRAM; dedup_minhash_lsh 2.8 s →
        # 9.8 s in-suite before this ceiling was re-measured)
        max_cells = int(os.environ.get("SPARK_GRAFT_SIG_CHUNK_CELLS", str(1 << 18)))
        max_chunk = max(1, max_cells // num_perm)
        for pdf in frames:
            n = len(pdf)
            lens = np.fromiter(
                (len(a) for a in pdf["shingles"]), dtype=np.int64, count=n
            )
            starts = np.concatenate(([0], np.cumsum(lens)))
            total = int(starts[-1])
            sig_mat = np.full((n, num_perm), sentinel, dtype=np.uint64)
            if total:
                flat = np.empty(total, dtype=np.uint64)
                pos = 0
                for a in pdf["shingles"]:
                    m = len(a)
                    if m:
                        flat[pos : pos + m] = np.asarray(a, dtype=np.int64).view(
                            np.uint64
                        )
                        pos += m
                row = 0
                while row < n:
                    end = row
                    while (
                        end < n and starts[end + 1] - starts[row] <= max_chunk
                    ):
                        end += 1
                    if end == row:  # single document larger than the chunk
                        end += 1
                    seg = flat[starts[row] : starts[end]]
                    if seg.size:
                        M = mix(seg.reshape(-1, 1) ^ seeds)
                        ne = np.nonzero(lens[row:end] > 0)[0] + row
                        # empty docs occupy no elements, so consecutive
                        # nonempty offsets delimit exactly each doc's
                        # segment for reduceat
                        offs = (starts[ne] - starts[row]).astype(np.intp)
                        sig_mat[ne] = np.minimum.reduceat(M, offs, axis=0)
                    row = end
            # fold each band's components through the mixer, all rows at once
            comps = sig_mat.reshape(n, bands, rows_per_band)
            acc = np.broadcast_to(band_seeds, (n, bands)).copy()
            for r in range(rows_per_band):
                acc = mix(acc ^ comps[:, :, r])
            sig_i = sig_mat.view(np.int64)
            acc_i = acc.view(np.int64)
            yield pd.DataFrame(
                {
                    "id": pdf["id"],
                    "sig": list(sig_i),
                    "bands": list(acc_i),
                }
            )

    return shingle_tab.mapInPandas(
        batch, schema=f"id {id_type}, sig array<long>, bands array<long>"
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 64,
    bands: int | None = 16,
    shingle_k: int = 5,
    jaccard_threshold: float = 0.5,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b) with exact Jaccard verification.

    candidate generation: same (band_idx, band_sig) bucket; buckets larger
    than ``max_bucket_size`` are dropped (boilerplate guard — at corpus
    scale one degenerate bucket is a quadratic bomb). Verification joins
    the shingle sets back and computes exact Jaccard.

    ``bands=None`` auto-tunes the band split for ``jaccard_threshold``
    via :func:`choose_lsh_bands` (S-curve integrated-error minimizer)
    instead of the hand-picked default.
    """
    if bands is None:
        bands, _ = choose_lsh_bands(jaccard_threshold, num_perm)

    # Pairs come from collect_list per bucket, not a self-join: the LSH
    # index is computed ONCE (one shuffle on the bucket key), buckets over
    # the cap drop with a size filter, and in-bucket pair expansion is a
    # local array transform bounded by cap² — no lineage re-execution.
    # Signatures ride along so each generated pair is
    # prefiltered by ESTIMATED Jaccard (64 component compares) before the
    # exact-verification join — a 3σ margin below the threshold keeps
    # true near-dups with ~99.9% probability while discarding the
    # low-similarity bulk that dominates candidate volume.
    return lsh_pairs_from_shingles(
        shingle_table(df, id_col, text_col, shingle_k),
        num_perm=num_perm,
        bands=bands,
        jaccard_threshold=jaccard_threshold,
        max_bucket_size=max_bucket_size,
    )


def lsh_pairs_from_shingles(
    shingle_tab: DataFrame,
    num_perm: int = 64,
    bands: int = 16,
    jaccard_threshold: float = 0.5,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """``minhash_lsh_pairs`` from an ALREADY-STAGED ``(id, shingles)``
    relation (``shingle_table`` output). Callers that maintain their own
    shingle relation — e.g. ``run_incremental_curation``, which persists
    one table feeding the vs-state index, the within-batch dedup, AND the
    index appends — use this entry point so the corpus is shingled
    exactly once per batch. The caller owns persistence: pass a persisted
    relation, since both the signature derivation and the verification
    join consume it."""
    # 3σ below threshold: see minhash_lsh_pairs for the prefilter rationale.
    est_margin = 3.0 * (0.25 / num_perm) ** 0.5
    bandtab = signature_band_table(shingle_tab, num_perm, bands).select(
        "id", "sig", F.posexplode_outer("bands").alias("band_idx", "band_sig")
    )
    buckets = (
        bandtab.groupBy("band_idx", "band_sig")
        .agg(F.array_sort(F.collect_list(F.struct("id", "sig"))).alias("members"))
        .filter((F.size("members") >= 2) & (F.size("members") <= max_bucket_size))
    )

    # In-bucket pair expansion runs as an Arrow-batched map over the
    # bucket rows (bounded by cap² per bucket): stack the bucket's
    # signatures into an (m × num_perm) matrix, compute ALL pairwise
    # estimated Jaccards as one broadcasted equality mean, and emit only
    # the upper-triangle pairs above threshold − margin. (The equivalent
    # nested transform/slice/zip_with column expression generated a class
    # that cost seconds of one-shot Janino compilation — more than the
    # actual bench-scale work.)
    import numpy as np
    import pandas as pd

    est_floor = jaccard_threshold - est_margin
    # id type mirrors the input (long, string/UUID, ...): ids stay in
    # numpy object/str arrays through the fancy indexing, never narrowed
    id_type = shingle_tab.schema["id"].dataType.simpleString()

    def expand(frames):
        for pdf in frames:
            out_a, out_b = [], []
            for members in pdf["members"]:
                ids = np.asarray([m["id"] for m in members])
                sigs = np.vstack([np.asarray(m["sig"], dtype=np.int64) for m in members])
                est = (sigs[:, None, :] == sigs[None, :, :]).mean(axis=2)
                ia, ib = np.triu_indices(len(ids), k=1)
                keep = est[ia, ib] >= est_floor
                out_a.append(ids[ia[keep]])
                out_b.append(ids[ib[keep]])
            if out_a:
                yield pd.DataFrame(
                    {"id_a": np.concatenate(out_a), "id_b": np.concatenate(out_b)}
                )

    candidates = (
        buckets.select("members")
        .mapInPandas(expand, schema=f"id_a {id_type}, id_b {id_type}")
        .distinct()
    )
    # Verification joins carry the MERGE hint on the shingle side: a
    # shingle relation's Catalyst size estimate comes from the scan's
    # (compressed, pruned) bytes, but exploded shingle ARRAYS occupy
    # ~50x that on the heap — without the hint a corpus whose parquet
    # sits under autoBroadcastJoinThreshold gets its whole shingle table
    # broadcast and the build OOMs the driver (found by the round-7 20x
    # scale probe: 100k docs / 12 MB parquet died at 8g). Sort-merge is
    # the spill-safe shape at every scale; the candidate side is already
    # shuffled by its distinct().
    sh_a = shingle_tab.withColumnRenamed("id", "id_a").withColumnRenamed(
        "shingles", "sh_a"
    ).hint("merge")
    sh_b = shingle_tab.withColumnRenamed("id", "id_b").withColumnRenamed(
        "shingles", "sh_b"
    ).hint("merge")
    verified = (
        candidates.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return verified


def _block_intersection_matrix(sets, sizes, max_cells: int = 1 << 25):
    """All pairwise intersection COUNTS of a block's shingle sets as one
    (m × m) float32 matrix via C = M·Mᵀ (r10, guide §4.2 — one BLAS call
    replaces per-pair np.intersect1d). float32 products are exact for
    counts < 2²⁴.

    r11 ADVICE fix: a degenerate block (thousands of members × a large
    shingle vocabulary) must not materialize an unbounded (m × vocab)
    dense membership matrix — above ``max_cells`` the same product
    accumulates over VOCAB CHUNKS (identical C, M-slice memory bounded
    at ~128 MB; the m × m count matrix itself is bounded by the
    operator's own quadratic output contract)."""
    import numpy as np

    m = len(sets)
    flat = np.concatenate(sets) if m else np.array([], dtype=np.int64)
    _, inv = np.unique(flat, return_inverse=True)
    vocab = int(inv.max()) + 1 if inv.size else 1
    row = np.repeat(np.arange(m), sizes)
    if m * vocab <= max_cells:
        M = np.zeros((m, vocab), dtype=np.float32)
        M[row, inv] = 1.0
        return M @ M.T
    C = np.zeros((m, m), dtype=np.float32)
    vchunk = max(1, max_cells // max(m, 1))
    order = np.argsort(inv, kind="stable")
    s_inv, s_row = inv[order], row[order]
    for c0 in range(0, vocab, vchunk):
        lo = np.searchsorted(s_inv, c0)
        hi = np.searchsorted(s_inv, min(c0 + vchunk, vocab))
        if lo == hi:
            continue
        Mc = np.zeros((m, min(vchunk, vocab - c0)), dtype=np.float32)
        Mc[s_row[lo:hi], s_inv[lo:hi] - c0] = 1.0
        C += Mc @ Mc.T
    return C


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    shingle_k: int = 3,
    hashed: bool = True,
) -> DataFrame:
    """n-gram Jaccard for every pair inside a blocking key (e.g. same
    language + length bucket). Blocking bounds the pair count; the join
    shuffles once on the block key.

    ``hashed=True`` (default) compares 64-bit-hashed shingle sets —
    exact up to xxhash64 collision-freeness (w.h.p.; a collision would
    silently inflate an intersection count) and ~5× cheaper in the set
    ops. ``hashed=False`` keeps shingles as strings: collision-free
    exactness at higher per-probe cost — the same contract
    ``set_similarity_join`` makes unconditionally.

    Execution shape (changed in the r10 optimization round, guide §2.3 +
    §4.2): one shuffle of each shingle SET on the block key into a
    per-block bucket (collect_list), then pairwise sorted-array
    intersection in numpy inside one Arrow-batched map. The previous
    block self-join evaluated ``array_intersect``/``array_union`` per
    candidate pair in non-codegen JVM land — measured ~0.4 ms/pair
    (256+ s of task time for the 588 k sf0.1 candidate pairs, the
    single hottest stage of the component-clustering queries) — and
    shuffled every shingle set once per partner instead of once. The
    intersection COUNT is exact either way, and the jaccard division +
    rounding stays in JVM columns so the emitted doubles are
    bit-identical to the join form's. Block-local memory is
    members × set-size (the blocking key bounds block size by design;
    an unbounded key belongs on ``set_similarity_join``'s
    prefix-filtered tier instead — this operator's contract is exact
    ALL pairs per block, which no cap may prune)."""
    import numpy as np
    import pandas as pd

    shingler = hashed_shingles_of_norm if hashed else string_shingles_of_norm
    sh = _with_normalized_text(
        df, id_col, text_col, extra={"block": F.col(block_col)}
    ).select(
        "id",
        "block",
        shingler(F.col("_norm"), shingle_k).alias("sh"),
    )
    buckets = (
        sh.groupBy("block")
        .agg(F.array_sort(F.collect_list(F.struct("id", "sh"))).alias("members"))
        .filter(F.size("members") >= 2)
    )
    id_type = sh.schema["id"].dataType.simpleString()
    block_type = sh.schema["block"].dataType.simpleString()

    def expand(frames):
        # r10 (guide §4.2): ALL pairwise intersection counts of a block
        # at once — dictionary-encode the block's shingle universe, fill
        # an (m × vocab) 0/1 membership matrix, and C = M·Mᵀ gives every
        # pair's |∩| in one BLAS call. The previous per-pair
        # np.intersect1d loop re-concatenated + re-sorted both sets for
        # EVERY pair (O(pairs · setlen · log) with two allocations each
        # — 52 s of task time at sf0.1). float32 products are exact for
        # counts < 2²⁴; set sizes are bounded far below that by the
        # shingle construction.
        for pdf in frames:
            blocks, ia, ib, inter, la, lb = [], [], [], [], [], []
            for blk, members in zip(pdf["block"], pdf["members"]):
                m = len(members)
                sets = [np.asarray(mm["sh"]) for mm in members]
                sizes = np.fromiter((len(s) for s in sets), dtype=np.int64, count=m)
                C = _block_intersection_matrix(sets, sizes)
                iu, ju = np.triu_indices(m, 1)
                ids = np.asarray([mm["id"] for mm in members])
                blocks.extend([blk] * len(iu))
                ia.append(ids[iu])
                ib.append(ids[ju])
                inter.append(C[iu, ju].astype(np.int64))
                la.append(sizes[iu])
                lb.append(sizes[ju])
            empty = np.array([], dtype=np.int64)
            yield pd.DataFrame(
                {
                    "block": pd.Series(blocks, dtype=object),
                    "id_a": np.concatenate(ia) if ia else empty,
                    "id_b": np.concatenate(ib) if ib else empty,
                    "inter": np.concatenate(inter) if inter else empty,
                    "len_a": np.concatenate(la) if la else empty,
                    "len_b": np.concatenate(lb) if lb else empty,
                }
            )

    # spread the bucket relation before the quadratic expand (AQE
    # coalesces the small post-groupBy shuffle; the expand's cost is
    # quadratic in bucket sizes, not its input bytes — the
    # simhash_block_pairs rationale)
    counted = _ensure_parallelism(buckets).mapInPandas(
        expand,
        schema=(
            f"block {block_type}, id_a {id_type}, id_b {id_type}, "
            "inter long, len_a long, len_b long"
        ),
    )
    # |A ∪ B| = |A| + |B| - |A ∩ B| (sets are array_distinct by
    # construction); division + round stay JVM-side so the doubles match
    # the old array_union form exactly.
    return counted.select(
        "block",
        "id_a",
        "id_b",
        F.round(
            F.col("inter")
            / (F.col("len_a") + F.col("len_b") - F.col("inter")).cast("double"),
            6,
        ).alias("jaccard"),
    )


def simhash64(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash per document.

    Token hashing happens JVM-side — ``xxhash64`` over each element of the
    whitespace-token array via ``F.transform`` (codegen, no explode, no
    shuffle) — so the Python stage never touches text. The Arrow-batched
    ``mapInPandas`` stage only does the bit arithmetic, fully vectorized
    across the batch: unpack all token hashes' bits at once and segment-sum
    per document with ``np.add.reduceat``. (The previous per-token
    ``hashlib.md5`` Python loop was the repo's one row-at-a-time hot spot —
    this form is the same signature family at memory-bandwidth speed.)

    Hamming-close signatures ≈ near-duplicates; pairing is done by
    splitting the signature into 4 × 16-bit blocks (documents within
    hamming distance 3 share at least one block) — same ban-the-cross-join
    philosophy as MinHash-LSH.
    """
    import numpy as np
    import pandas as pd

    # NULL text → empty token array → zero signature (same as empty text;
    # without the coalesce the null propagates into a null array cell and
    # np.asarray(None) blows up in the executor)
    text = F.coalesce(F.col(text_col), F.lit(""))
    toks = F.filter(F.split(F.lower(text), r"\s+"), lambda t: t != "")
    # _ensure_parallelism BEFORE the tokenize+hash+Python stage: a small
    # single-file input otherwise scans as ONE partition and the whole
    # signature stage runs as one single-threaded Python task — measured
    # 43.8 s cold / 2.2 s warm at sf0.1 on the 1-partition plan vs
    # 2.3 s cold / 1.2 s warm at 32 (the r8 "dedup_simhash watch item":
    # a lone long task can neither use the other 31 cores nor hide this
    # box's documented scheduler stalls). At 100 TB the scan itself
    # provides thousands of partitions and this is a no-op passthrough.
    hashed = _ensure_parallelism(df).select(
        F.col(id_col).alias(id_col),
        F.transform(toks, lambda t: F.xxhash64(t)).alias("th"),
    )
    # id passes through untouched — mirror its type (long, string, ...)
    id_type = df.schema[id_col].dataType.simpleString()

    # bound the unpacked bit matrix: 64 int32 per token ≈ 256 B → ~64 MB
    chunk_tokens = 256_000

    def batch(frames):
        bit_idx = np.arange(64, dtype=np.uint64)
        for pdf in frames:
            arrs = [np.asarray(a, dtype=np.int64) for a in pdf["th"]]
            lens = np.fromiter((len(a) for a in arrs), dtype=np.int64, count=len(arrs))
            sigs = np.zeros(len(arrs), dtype=np.int64)
            start = 0
            while start < len(arrs):
                end = start
                total = 0
                while end < len(arrs) and (total == 0 or total + lens[end] <= chunk_tokens):
                    total += lens[end]
                    end += 1
                idx = [i for i in range(start, end) if lens[i] > 0]
                if idx:
                    flat = np.concatenate([arrs[i] for i in idx]).view(np.uint64)
                    # little-endian byte view → per-bit columns 0..63
                    bits = np.unpackbits(
                        flat.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
                    ).astype(np.int32)
                    seg_lens = lens[idx]
                    offsets = np.zeros(len(idx), dtype=np.int64)
                    np.cumsum(seg_lens[:-1], out=offsets[1:])
                    counts = np.add.reduceat(bits, offsets, axis=0)
                    majority = counts * 2 > seg_lens[:, None]
                    vals = (majority.astype(np.uint64) << bit_idx).sum(
                        axis=1, dtype=np.uint64
                    )
                    sigs[idx] = vals.view(np.int64)
                start = end
            yield pd.DataFrame({id_col: pdf[id_col], "simhash": sigs})

    return hashed.mapInPandas(batch, schema=f"{id_col} {id_type}, simhash long")


def simhash_block_pairs(
    sim_df: DataFrame, id_col: str, max_hamming: int = 3, max_bucket_size: int = 10000
) -> DataFrame:
    """Candidate pairs sharing ≥1 of 4 16-bit signature blocks, verified
    by exact popcount hamming distance. Same collect-per-bucket shape as
    MinHash-LSH: one shuffle on the block key (crucial here — the
    signature input comes from a Python stage, so a self-join would run
    that stage twice)."""
    import numpy as np
    import pandas as pd

    u = F.col("simhash").cast("long")
    blocks = F.array(
        *[F.shiftrightunsigned(u, i * 16).bitwiseAND(F.lit(0xFFFF)).cast("long") for i in range(4)]
    )
    tab = sim_df.select(
        F.col(id_col).alias("id"), "simhash", F.posexplode(blocks).alias("block_idx", "block_val")
    )
    buckets = (
        tab.groupBy("block_idx", "block_val")
        .agg(F.array_sort(F.collect_list(F.struct("id", "simhash"))).alias("members"))
        .filter((F.size("members") >= 2) & (F.size("members") <= max_bucket_size))
    )

    # In-bucket pair expansion + hamming verify as one Arrow-batched map
    # (same rationale as minhash_lsh_pairs: the nested transform/slice
    # column expression cost seconds of one-shot codegen compile). The
    # popcount is a 16-bit lookup table; the pairwise XOR matrix is
    # chunked by rows so a cap-sized bucket stays ~tens of MB.
    lut = np.array([bin(i).count("1") for i in range(1 << 16)], dtype=np.uint8)
    mask = np.uint64(0xFFFF)
    chunk = 1024
    id_type = sim_df.schema[id_col].dataType.simpleString()

    def popcount64(x):
        total = lut[(x & mask).astype(np.int64)].astype(np.int32)
        for shift in (16, 32, 48):
            total += lut[((x >> np.uint64(shift)) & mask).astype(np.int64)]
        return total

    def expand(frames):
        for pdf in frames:
            out_a, out_b, out_h = [], [], []
            for members in pdf["members"]:
                ids = np.asarray([m["id"] for m in members])
                sigs = np.fromiter(
                    (m["simhash"] for m in members), dtype=np.int64, count=len(members)
                ).view(np.uint64)
                m = len(ids)
                for lo in range(0, m, chunk):
                    hi = min(lo + chunk, m)
                    ham = popcount64(sigs[lo:hi, None] ^ sigs[None, :])
                    ia, ib = np.nonzero(ham <= max_hamming)
                    keep = ids[lo + ia] < ids[ib]  # upper triangle by id
                    out_a.append(ids[lo + ia[keep]])
                    out_b.append(ids[ib[keep]])
                    out_h.append(ham[ia[keep], ib[keep]])
            yield pd.DataFrame(
                {
                    "id_a": np.concatenate(out_a) if out_a else np.array([], dtype=np.int64),
                    "id_b": np.concatenate(out_b) if out_b else np.array([], dtype=np.int64),
                    "hamming": np.concatenate(out_h) if out_h else np.array([], dtype=np.int32),
                }
            )

    # r10: spread the bucket relation before the quadratic expand — AQE
    # coalesces the small post-groupBy shuffle (~0.5 MB at sf0.1) to ONE
    # partition, but the expand's cost is quadratic in bucket sizes, not
    # proportional to its input bytes, so the whole pair expansion ran
    # single-threaded (audio/image pair stage: 1.2 s of a 2 s query).
    # ensure_parallelism is a passthrough at scale.
    return (
        _ensure_parallelism(buckets.select("members"))
        .mapInPandas(expand, schema=f"id_a {id_type}, id_b {id_type}, hamming integer")
        .distinct()
        .withColumn("hamming", F.col("hamming").cast("long"))
    )


def _winnow_stage(normed: DataFrame, k: int, w: int) -> DataFrame:
    """(id, _norm) → (id, fingerprints array<long>): winnowing under the
    default xxhash64 gram hash as ONE Arrow-batched numpy stage — the
    bit-exact twin of the column form (per-position gram hashes via
    :mod:`operators.xxh64`, w-window minimum as a strided-view min over
    SIGNED longs exactly like ``array_min``, dedup in array_distinct's
    first-occurrence order)."""
    import numpy as np
    import pandas as pd

    from eligibility_etl_airflow_spark.operators.xxh64 import xxh64_slices

    id_type = normed.schema["id"].dataType.simpleString()

    def batch(frames):
        for pdf in frames:
            flat, doc_starts = _utf8_concat(pdf["_norm"])
            n_docs = len(doc_starts) - 1
            if not n_docs:
                continue
            starts, lens, didx = _char_gram_offsets(flat, doc_starts, k)
            hashes = xxh64_slices(flat, starts, lens)
            counts = np.bincount(didx, minlength=n_docs)
            fps = []
            pos = 0
            for d in range(n_docs):
                hd = hashes[pos : pos + counts[d]]
                pos += counts[d]
                if len(hd) >= w:
                    mins = np.lib.stride_tricks.sliding_window_view(hd, w).min(
                        axis=1
                    )
                else:
                    # slice(_hashes, 1, w) clamps: one whole-array window
                    mins = hd.min(keepdims=True)
                _, first = np.unique(mins, return_index=True)
                fps.append(mins[np.sort(first)])
            yield pd.DataFrame({"id": pdf["id"], "fingerprints": fps})

    return normed.mapInPandas(
        batch, schema=f"id {id_type}, fingerprints array<long>"
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 5,
    window_w: int = 4,
    hash_fn: Callable[[Column], Column] | None = None,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken's MOSS
    scheme): hash every k-gram, then keep the minimum hash of each
    sliding window of ``window_w`` consecutive k-grams. Guarantees any
    shared substring of length ≥ w+k-1 contributes a shared fingerprint,
    while storing ~2/(w+1) of the hashes — the compact rolling-hash
    fingerprint family for overlap detection. Pure column expressions;
    matching is a bucket join on fingerprint values (explode → join),
    never pairwise text comparison.

    ``hash_fn`` selects the k-gram hash (a Column → Column expression).
    Default is ``F.xxhash64`` — the cheap 64-bit JVM hash, the right
    production choice. Pass ``F.md5`` to get a cross-engine-reproducible
    fingerprinting (window-min is then the lexicographic min of hex
    strings) — the form the DuckDB-oracle-graded twin query uses; the
    winnowing GUARANTEE is hash-agnostic (any deterministic hash keeps
    the shared-substring property, only WHICH position wins a window
    changes)."""
    # Stage normalized text, then the k-gram hash array, each as a
    # materialized column before the window pass. Inlining either into a
    # downstream lambda would re-evaluate it once per element (the regex
    # normalize per shingle, or the whole O(len) hash array per window) —
    # O(len² · regex) per row. As multi-referenced non-trivial
    # projections they stay attributes (CollapseProject refuses to
    # duplicate them), so each row normalizes and hashes exactly once and
    # the window pass is pure array indexing.
    normed = _with_normalized_text(df, id_col, text_col)
    if hash_fn is None:
        # r11 (guide §4.2): the default-xxhash64 form runs as ONE numpy
        # stage — per-position gram hashes via the bit-exact vectorized
        # XXH64 twin, the w-window minimum as a strided view min, and an
        # array_distinct-order dedup. The JVM form below evaluated an
        # interpreted transform per position TWICE (hash + window min).
        # Custom hash_fn callers (the md5 oracle twin) keep the column
        # path — equivalence of the two defaults is pinned by
        # tests/test_neardup.py::test_winnow_python_stage_matches_expression.
        return _winnow_stage(normed, shingle_k, window_w)
    norm = F.col("_norm")
    n = F.length(norm)
    starts = F.sequence(F.lit(1), F.greatest(n - (shingle_k - 1), F.lit(1)))
    hashed = normed.select(
        "id",
        F.transform(
            starts, lambda i: hash_fn(F.substring(norm, i, shingle_k))
        ).alias("_hashes"),
    )
    wins = F.sequence(
        F.lit(0), F.greatest(F.size("_hashes") - window_w, F.lit(0))
    )
    fp = F.array_distinct(
        F.transform(
            wins, lambda i: F.array_min(F.slice(F.col("_hashes"), i + 1, window_w))
        )
    )
    return hashed.select("id", fp.alias("fingerprints"))


def fingerprint_overlap_pairs(
    fp_df: DataFrame, min_shared: int = 2, max_bucket_size: int = 10000
) -> DataFrame:
    """Pairs of documents sharing ≥ ``min_shared`` winnowing fingerprints
    — explode to (fingerprint, id), collect per bucket, expand pairs
    locally (vectorized Arrow map — same no-giant-codegen rationale as
    the other pair generators), count shared prints per pair. Same
    bucket-bounded shape as the LSH pair generators."""
    import numpy as np
    import pandas as pd

    id_type = fp_df.schema["id"].dataType.simpleString()
    inv = fp_df.select("id", F.explode_outer("fingerprints").alias("fp"))
    buckets = (
        inv.groupBy("fp")
        .agg(F.array_sort(F.collect_list("id")).alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= max_bucket_size))
    )

    def expand(frames):
        for pdf in frames:
            out_a, out_b = [], []
            for ids_arr in pdf["ids"]:
                ids = np.asarray(ids_arr)
                ia, ib = np.triu_indices(len(ids), k=1)
                out_a.append(ids[ia])
                out_b.append(ids[ib])
            if out_a:
                yield pd.DataFrame(
                    {"id_a": np.concatenate(out_a), "id_b": np.concatenate(out_b)}
                )

    return (
        buckets.select("ids")
        .mapInPandas(expand, schema=f"id_a {id_type}, id_b {id_type}")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared_fingerprints"))
        .filter(F.col("shared_fingerprints") >= min_shared)
    )


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    prefix_len: int = 32,
    max_dist: int = 8,
    max_block_size: int = 1000,
) -> DataFrame:
    """Blocked Levenshtein fuzzy pairs — the edit-distance member of the
    dedup family (typo-level duplicates the token/shingle measures are
    blind to: a one-character change barely moves 3-gram Jaccard but is
    edit distance 1).

    Comparison runs on the first ``prefix_len`` chars of the NORMALIZED
    text, not the full document: O(prefix²) per pair bounds the DP cost
    and a fixed-length key is the standard entity-resolution shape.
    Blocking bounds the pair count exactly as in ``ngram_jaccard_pairs``
    (one shuffle on the block key, never corpus²); Spark's thresholded
    ``levenshtein(l, r, max_dist)`` abandons a pair's DP early once the
    distance provably exceeds the bound, so the per-pair cost is
    O(max_dist · prefix) rather than O(prefix²).

    Returns ``(block, id_a, id_b, edit_dist)`` with
    ``edit_dist ≤ max_dist``, each unordered pair once (``id_a < id_b``).

    ``max_block_size`` is the family-standard degenerate-block guard
    (same contract as ``fingerprint_overlap_pairs``/
    ``embedding_neardup_pairs``): a block holding b documents produces
    O(b²) DP comparisons, so one boilerplate block — millions of short
    same-language docs all in ``en#0`` — would dominate the whole job.
    Oversize blocks are dropped, bounding the join at
    cap² × blocks; the window count rides the same block-key shuffle
    the self-join needs anyway.
    """
    from pyspark.sql.window import Window

    keyed = _with_normalized_text(
        df, id_col, text_col, extra={"block": F.col(block_col)}
    ).select(
        "id",
        "block",
        F.substring(F.col("_norm"), 1, prefix_len).alias("key"),
    )
    if max_block_size is not None:
        keyed = (
            keyed.withColumn(
                "_bn", F.count(F.lit(1)).over(Window.partitionBy("block"))
            )
            .filter(F.col("_bn") <= max_block_size)
            .drop("_bn")
        )
    # r10: spread the probe side before the pair join — AQE coalesces
    # the small block-key window exchange (~0.9 MB at sf0.1) to ONE
    # partition, and the optimizer pushes the `levenshtein >= 0`
    # predicate INTO the join condition, so the block²-amplified
    # pair expansion AND every pair's O(max_dist · prefix) DP ran
    # single-threaded in that stage (1.4 s of a 2 s query).
    # ensure_parallelism is a passthrough at scale, where the block
    # shuffle is already wide.
    keyed = _ensure_parallelism(keyed)
    a = keyed.select(F.col("id").alias("id_a"), "block", F.col("key").alias("key_a"))
    b = keyed.select(F.col("id").alias("id_b"), "block", F.col("key").alias("key_b"))
    dist = F.levenshtein(F.col("key_a"), F.col("key_b"), max_dist)
    return (
        a.join(b, "block")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("edit_dist", dist.cast("long"))
        .filter(F.col("edit_dist") >= 0)  # thresholded form returns -1 past the bound
        .select("block", "id_a", "id_b", "edit_dist")
    )


def minhash_lsh_pairs_bipartite(
    corpus: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    jaccard_threshold: float = 0.5,
    max_bench_band_freq: int = 100,
) -> DataFrame:
    """Fuzzy cross-corpus matching: (corpus_id, bench_id, jaccard) for
    every corpus document near-duplicating an eval-set document — the
    LSH form of decontamination. Exact n-gram decontamination
    (operators/decontam.py) catches verbatim inclusion; this catches
    the paraphrased/lightly-edited leak a verbatim scan misses.

    Scale shape differs from the self-join operator on purpose: the
    bench side is small by definition, so its banded signatures
    BROADCAST and the corpus side never shuffles at all — shingle →
    signature (both shuffle-free maps) → broadcast-hash join on
    (band_idx, band_sig) → estimated-Jaccard prefilter (pure JVM
    zip_with fold over the two signature arrays) → exact verification
    join against both shingle relations. ``max_bench_band_freq`` drops
    boilerplate bands shared by many BENCH docs (the small-side twin of
    the self-join's bucket cap): a junk band on the broadcast side
    would fan every matching corpus row out |bench| ways.
    """
    est_margin = 3.0 * (0.25 / num_perm) ** 0.5
    est_floor = jaccard_threshold - est_margin

    # the corpus shingles feed the signatures and the verification join:
    # materialized once, or the corpus is shingled twice; the small
    # bench side is cheaper to recompute than to materialize
    sh_c = _stable(shingle_table(corpus, id_col, text_col, shingle_k))
    sh_b = shingle_table(bench, id_col, text_col, shingle_k)
    band_c = signature_band_table(sh_c, num_perm, bands).select(
        F.col("id").alias("corpus_id"),
        F.col("sig").alias("sig_c"),
        F.posexplode_outer("bands").alias("band_idx", "band_sig"),
    )
    band_b = signature_band_table(sh_b, num_perm, bands).select(
        F.col("id").alias("bench_id"),
        F.col("sig").alias("sig_b"),
        F.posexplode_outer("bands").alias("band_idx", "band_sig"),
    )
    from pyspark.sql.window import Window

    freq = Window.partitionBy("band_idx", "band_sig")
    band_b = (
        band_b.withColumn("_n", F.count(F.lit(1)).over(freq))
        .filter(F.col("_n") <= max_bench_band_freq)
        .drop("_n")
    )
    est = (
        F.expr(
            "aggregate(zip_with(sig_c, sig_b, (x, y) -> IF(x = y, 1, 0)), "
            "0, (acc, v) -> acc + v)"
        )
        / F.lit(float(num_perm))
    )
    candidates = (
        band_c.join(F.broadcast(band_b), ["band_idx", "band_sig"])
        .filter(est >= est_floor)
        .select("corpus_id", "bench_id")
        .distinct()
    )
    return (
        candidates.join(
            # merge hint: the corpus shingle side must never broadcast —
            # its size ESTIMATE is scan bytes, its heap size is ~50x
            # (see lsh_pairs_from_shingles; bench side broadcasts by
            # design, corpus side sort-merges)
            sh_c.select(
                F.col("id").alias("corpus_id"), F.col("shingles").alias("sh_c")
            ).hint("merge"),
            "corpus_id",
        )
        .join(
            F.broadcast(
                sh_b.select(F.col("id").alias("bench_id"), F.col("shingles").alias("sh_b"))
            ),
            "bench_id",
        )
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_c", "sh_b"))
                / F.size(F.array_union("sh_c", "sh_b")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("corpus_id", "bench_id", "jaccard")
    )


def _rarity_ordered_docsets(df, id_col, text_col, shingle_k):
    """Shared staging of the exact set-join family (:func:`set_similarity_join`,
    :func:`containment_join`): the distinct (id, word-shingle) relation
    plus per-doc rarity-ordered shingle arrays.

    Returns ``(toks, docsets)`` — ``toks`` = distinct (id, tok),
    ``docsets`` = (id, toks array ordered rarest-first with lexical
    tie-break, dlen). Both are materialized once (``sinks._stable``):
    each has 2-3 consumers in every caller."""
    import numpy as np
    import pandas as pd

    staged = _with_normalized_text(df, id_col, text_col)
    id_type = staged.schema["id"].dataType.simpleString()
    k = shingle_k

    # r10 (guide §4.2): the stride-1 word-shingle construction moved to
    # one small Arrow stage — the interpreted Catalyst form
    # (transform(sequence, array_join(slice(tk, i, k)))) cost ~70 s of
    # task time at sf0.1 where the byte-sliced Python form costs ~0.25 s
    # single-threaded for the whole corpus (a regexp_extract_all
    # lookahead variant was also measured and lost 2×; see
    # OPTIMIZATION_r10.md entries 27-28). _norm is single-space
    # normalized, so a word k-shingle is EXACTLY the byte slice of
    # _norm from token start i to token end i+k-1 — 0x20 never occurs
    # inside a multi-byte UTF-8 sequence, so byte-splitting on it equals
    # char-splitting, and slices decode back to the identical strings
    # array_join produced. Per-doc distinct in the set; the global
    # .distinct() below is kept so duplicate-id inputs keep the exact
    # old union semantics (its map-side partial dedup is now a no-op
    # for unique-id corpora).
    def _shingle(batches):
        for pdf in batches:
            ids, toks_out = [], []
            for i, s in zip(pdf["id"], pdf["_norm"]):
                b = s.encode("utf-8")
                buf = np.frombuffer(b, dtype=np.uint8)
                sp = np.flatnonzero(buf == 32)
                starts = np.concatenate(([0], sp + 1))
                n = len(starts)
                if n < k:
                    continue
                ends = np.concatenate((sp, [len(b)]))
                mv = memoryview(b)
                seen = set()
                for a, z in zip(starts[: n - k + 1].tolist(), ends[k - 1 :].tolist()):
                    seen.add(bytes(mv[a:z]))
                seen.discard(b"")
                ids.extend([i] * len(seen))
                toks_out.extend(t.decode("utf-8") for t in seen)
            yield pd.DataFrame({"id": ids, "tok": toks_out})

    toks = _stable(
        staged.mapInPandas(_shingle, schema=f"id {id_type}, tok string").distinct()
    )
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("tok_freq"))
    # Global canonical order: rarest token first, lexical tie-break.
    # One aggregate builds each doc's rarity-ordered shingle array
    # (array_sort over (freq, tok) structs); the prefix is a slice of
    # it. This single per-id shuffle replaces the join + row_number
    # window + separate verification-set aggregate shape (three id- or
    # sort-keyed exchanges) — the docsets relation then serves BOTH the
    # prefix explode and the verification joins.
    docsets = _stable(
        toks.join(freq, "tok")
        .groupBy("id")
        .agg(
            F.array_sort(F.collect_list(F.struct("tok_freq", "tok"))).alias("ordered")
        )
        .select(
            "id",
            F.transform("ordered", lambda x: x["tok"]).alias("toks"),
            F.size("ordered").alias("dlen"),
        )
    )
    return toks, docsets


def set_similarity_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    shingle_k: int = 3,
) -> DataFrame:
    """EXACT shingle-set Jaccard self-join via prefix filtering (PPJoin's
    candidate rule) — no blocking key, no probability of a miss.

    Completes the dedup ladder between the blocked exact join
    (``ngram_jaccard_pairs`` — exact, but only within a caller-chosen
    block) and MinHash-LSH (global, but probabilistic): this one is
    global AND exact. The set elements are ``shingle_k``-gram word
    shingles (strings, not hashes — exactness must not ride on a hash
    being collision-free). The prefix-filter lemma
    (Chaudhuri/Bayardo/Xiao): order every document's distinct shingles
    by a global total order (rarest first, ties lexical); if
    J(x, y) >= t then |x ∩ y| >= ceil(t · max(|x|, |y|)), so the first
    ``|d| - ceil(t·|d|) + 1`` shingles of BOTH documents must share at
    least one element. Candidate generation is therefore an equi-join
    on prefix shingles only — the shuffle is keyed on shingle, and
    because prefixes are drawn from the RARE end of the frequency
    order, posting lists stay short: boilerplate shingles never enter
    a prefix unless a document is almost entirely boilerplate. Cost
    ∝ Σ prefix-posting², not corpus².

    A follow-up length filter (t·|larger| <= |smaller|) prunes
    candidates before verification; verification joins each side's full
    shingle array once and emits exact integer intersection/union
    sizes (hash-stable downstream — jaccard itself is derivable).

    At 100 TB: two shuffles (shingle-frequency agg, prefix-shingle
    join) plus the verify join on id. Skewed prefix postings mean a
    genuinely frequent shingle in many prefixes — the signal that
    ``threshold`` is too low for this corpus or that the probabilistic
    LSH tier is the right tool; the exact operator stays exact rather
    than capping.

    ``threshold`` is interpreted at 6-decimal precision (t = round(t·1e6)/1e6)
    so every comparison runs in exact integer arithmetic — see the t_num
    note in the body.
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    if shingle_k < 1:
        raise ValueError(f"shingle_k must be >= 1, got {shingle_k}")
    # All three threshold comparisons run in EXACT integer arithmetic on
    # a 6-dp rational (t = t_num/1e6): double arithmetic rounds
    # t*n past the exact integer for many thresholds (0.55*100 =
    # 55.000000000000007 → ceil gives 56, shortening the PPJoin prefix
    # by one and silently breaking the no-miss guarantee; the same
    # boundary drops J-exactly-at-threshold pairs in verification).
    # Products stay < 2^53, so the floor division below is exact.
    t_num = round(threshold * 1_000_000)

    def ceil_frac(n):  # smallest integer >= (t_num/1e6) * n
        return F.floor((n * F.lit(t_num) + F.lit(999_999)) / F.lit(1_000_000.0)).cast(
            "long"
        )
    toks, docsets = _rarity_ordered_docsets(df, id_col, text_col, shingle_k)
    prefix = docsets.select(
        "id",
        "dlen",
        F.explode(
            F.slice(
                "toks",
                1,
                (F.col("dlen") - ceil_frac(F.col("dlen")) + 1).cast("int"),
            )
        ).alias("tok"),
    )
    cand = (
        prefix.select(F.col("id").alias("id_a"), "tok", F.col("dlen").alias("len_a"))
        .join(
            prefix.select(
                F.col("id").alias("id_b"), "tok", F.col("dlen").alias("len_b")
            ),
            "tok",
        )
        .filter(F.col("id_a") < F.col("id_b"))
        # length filter: J >= t forces t·|larger| <= |smaller|
        .filter(
            F.least("len_a", "len_b") * F.lit(1_000_000)
            >= F.lit(t_num) * F.greatest("len_a", "len_b")
        )
        .select("id_a", "id_b")
        .distinct()
    )
    # merge hints: the docset-array sides must never broadcast — their
    # Catalyst size estimate derives from scan bytes while the shingle
    # ARRAYS occupy ~50x on the heap (the mis-broadcast OOM class found
    # by the round-7 scale probe in lsh_pairs_from_shingles)
    sets = docsets.select("id", "toks")
    return (
        cand.join(
            sets.select(
                F.col("id").alias("id_a"), F.col("toks").alias("t_a")
            ).hint("merge"),
            "id_a",
        )
        .join(
            sets.select(
                F.col("id").alias("id_b"), F.col("toks").alias("t_b")
            ).hint("merge"),
            "id_b",
        )
        .withColumn("inter_size", F.size(F.array_intersect("t_a", "t_b")).cast("long"))
        .withColumn(
            "union_size",
            (F.size("t_a") + F.size("t_b")).cast("long") - F.col("inter_size"),
        )
        .filter(
            F.col("inter_size") * F.lit(1_000_000)
            >= F.lit(t_num) * F.col("union_size")
        )
        .select("id_a", "id_b", "inter_size", "union_size")
    )


def containment_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    shingle_k: int = 3,
) -> DataFrame:
    """EXACT shingle-set CONTAINMENT self-join: pairs where the smaller
    document's shingles are mostly inside the other's —
    max(|∩|/|A|, |∩|/|B|) = |∩|/min(|A|,|B|) ≥ t (the overlap
    coefficient). This is the inclusion/quotation detector Jaccard
    structurally cannot be: a short doc quoted whole inside a long one
    has containment ≈ 1 but Jaccard ≈ |A|/|B| ≈ 0, so neither the
    Jaccard join nor MinHash-LSH (which estimates Jaccard) will ever
    surface it. Aggregator pages, quote-farms, and boilerplate-wrapped
    re-posts are exactly this shape.

    Pruning (exact, no misses): order shingles rarest-first (the
    shared ``_rarity_ordered_docsets`` staging). For the CONTAINED side
    X the required overlap is α = ⌈t·|X|⌉ — a function of X alone — so
    if |∩| ≥ α, at least one shared shingle lies in X's first
    |X| − α + 1 shingles (pigeonhole). Candidates are therefore X's
    prefix joined against the FULL postings of every other doc: unlike
    PPJoin's prefix⋈prefix this cannot use a prefix on the container
    side (its required overlap depends on the PARTNER's size, unknown
    at index time) — the honest extra cost of the containment
    semantics, kept in check because the probing prefixes are drawn
    from the rare end of the frequency order. No length filter exists
    for containment (any size ratio qualifies — that is the point; a
    measured partner-length candidate restriction cost more than the
    verify it pruned — see the in-body note).

    Threshold arithmetic is exact 6-dp integer (the
    ``set_similarity_join`` discipline). Output: (id_a, id_b,
    inter_size, len_a, len_b) integers + both directions' containment
    rounded 6 dp; id_a < id_b.
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    if shingle_k < 1:
        raise ValueError(f"shingle_k must be >= 1, got {shingle_k}")
    t_num = round(threshold * 1_000_000)

    def ceil_frac(n):
        return F.floor((n * F.lit(t_num) + F.lit(999_999)) / F.lit(1_000_000.0)).cast(
            "long"
        )

    toks, docsets = _rarity_ordered_docsets(df, id_col, text_col, shingle_k)
    prefix = docsets.select(
        F.col("id").alias("id_x"),
        F.explode(
            F.slice(
                "toks",
                1,
                (F.col("dlen") - ceil_frac(F.col("dlen")) + 1).cast("int"),
            )
        ).alias("tok"),
    )
    # contained-candidate prefix ⋈ FULL postings of potential containers
    # (the toks relation IS the full inverted index). A
    # partner-length restriction (only >=-sized docs can contain X) was
    # measured and REJECTED: attaching the partner's length to the raw
    # candidate stream costs a join wider than the verify it would
    # prune — the distinct()'d pair set is already small relative to
    # the token-match stream.
    cand = (
        prefix.join(toks.select(F.col("id").alias("id_y"), "tok"), "tok")
        .filter(F.col("id_x") != F.col("id_y"))
        .select(
            F.least("id_x", "id_y").alias("id_a"),
            F.greatest("id_x", "id_y").alias("id_b"),
        )
        .distinct()
    )
    # merge hints on the docset-array sides — see set_similarity_join
    sets = docsets.select("id", "toks", "dlen")
    return (
        cand.join(
            sets.select(
                F.col("id").alias("id_a"),
                F.col("toks").alias("t_a"),
                F.col("dlen").alias("len_a"),
            ).hint("merge"),
            "id_a",
        )
        .join(
            sets.select(
                F.col("id").alias("id_b"),
                F.col("toks").alias("t_b"),
                F.col("dlen").alias("len_b"),
            ).hint("merge"),
            "id_b",
        )
        .withColumn("inter_size", F.size(F.array_intersect("t_a", "t_b")).cast("long"))
        .filter(
            F.col("inter_size") * F.lit(1_000_000)
            >= F.lit(t_num) * F.least("len_a", "len_b")
        )
        .select(
            "id_a",
            "id_b",
            "inter_size",
            F.col("len_a").cast("long").alias("len_a"),
            F.col("len_b").cast("long").alias("len_b"),
            F.round(F.col("inter_size") / F.col("len_a"), 6).alias("containment_a"),
            F.round(F.col("inter_size") / F.col("len_b"), 6).alias("containment_b"),
        )
    )


def choose_lsh_bands(
    jaccard_threshold: float,
    num_perm: int = 64,
    *,
    beta: float = 1.0,
) -> tuple[int, int]:
    """Pick the (bands, rows_per_band) split of a ``num_perm`` MinHash
    signature for a target Jaccard threshold — the standard S-curve
    tuning (Mining of Massive Datasets §3.4): with b bands of r rows,
    P(candidate | similarity s) = 1 − (1 − s^r)^b, and the curve's
    steepest point sits near (1/b)^(1/r). Enumerating the divisor
    splits of ``num_perm`` (there are only log-many), each is scored by
    the integrated error against the ideal step function at the
    threshold:

        false_positive = ∫₀..t  P(a BELOW-threshold pair collides)
        false_negative = ∫t..1  P(an ABOVE-threshold pair is missed)

    and the split minimizing ``false_negative + beta·false_positive``
    wins (``beta`` > 1 biases
    toward fewer false candidates — cheaper verify stage; < 1 toward
    recall). Returns (bands, rows_per_band) with bands · rows ==
    num_perm exactly, so the result always satisfies
    signature_band_table's divisibility contract.

    Driver-side pure math over ≤ d(num_perm) splits — call it once and
    pass the result to minhash_lsh_pairs/signature_band_table instead
    of hand-picking bands. The integral is evaluated on a fixed 1000-
    point grid, deterministic across platforms."""
    if not 0.0 < jaccard_threshold < 1.0:
        raise ValueError(
            f"jaccard_threshold must be in (0, 1), got {jaccard_threshold}"
        )
    if num_perm < 1:
        raise ValueError(f"num_perm must be >= 1, got {num_perm}")
    t = jaccard_threshold
    grid = [i / 1000.0 for i in range(1001)]
    best: tuple[float, int, int] | None = None
    for b in range(1, num_perm + 1):
        if num_perm % b:
            continue
        r = num_perm // b
        false_positive = false_negative = 0.0
        for s in grid:
            p = 1.0 - (1.0 - s**r) ** b
            if s < t:
                # a below-threshold pair that collides = FALSE POSITIVE
                # (wasted verify work)
                false_positive += p / 1000.0
            else:
                # an above-threshold pair that never collides = FALSE
                # NEGATIVE (lost recall)
                false_negative += (1.0 - p) / 1000.0
        score = false_negative + beta * false_positive
        # deterministic tie-break: prefer more bands (higher recall)
        key = (score, -b)
        if best is None or key < (best[0], -best[1]):
            best = (score, b, r)
    assert best is not None
    return best[1], best[2]
