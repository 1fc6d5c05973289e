"""Learned quality classifier: hashed-feature logistic scorer.

The learned companion to the heuristic quality/repetition filters — the
standard corpus-curation pattern (e.g. the CCNet/GPT-3 "quality
classifier" stage): distill labels (human tags, an LLM judge, or a
heuristic teacher) into a linear model cheap enough to score 100 TB.

Spark-first split of the work:

- **featurization is the hashing trick**: tokens (the shared
  ``tokens_of`` definition, JVM-side) → ``pmod(xxhash64(tok), dim)``
  → per-(doc, bucket) log1p counts. Scoring hashes on the JVM; training
  hashes the sample's JVM tokens on the driver with the bit-exact
  xxhash64 twin (operators/xxh64), so both paths bucket identically and
  the model file never depends on a Python hash implementation.
- **training solves on a bounded, layout-stable sample**: the featurized
  sample (``sample_size`` × ``dim`` dense matrix, a few MB) is collected
  via the md5-ranked discipline of ``assign_split`` and fitted with
  deterministic full-batch gradient descent + L2 on the driver. The
  corpus never reaches the driver; sample_size bounds the transfer.
- **scoring is pure column arithmetic**: each doc's sorted token
  buckets fold against the weight vector shipped as one array literal,
  then the sigmoid. No UDF and no shuffle in the scoring path; at
  100 TB it is a map-only pass over the token stream.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from eligibility_etl_airflow_spark.operators.tokenize import tokens_of


def _bucket_of(tok: Column, dim: int) -> Column:
    return F.pmod(F.xxhash64(tok), F.lit(dim)).cast("int")


def _padded_text(text: Column) -> Column:
    """Lowercased text with whitespace runs folded to '_' and '_'
    sentinels at both ends, so word boundaries take part in the char
    n-grams of the language-ID feature space."""
    return F.concat(
        F.lit("_"), F.regexp_replace(F.lower(text), r"\s+", "_"), F.lit("_")
    )


def _lit_double_array(values) -> Column:
    """array<double> literal built in ONE py4j call — ``F.lit(list)``
    makes a py4j round trip PER ELEMENT (measured ~1.1 s per
    1024-element weight vector; the scorers ship K of these per plan
    build, which made every lang_id_learned invocation pay ~3.5 s of
    driver time before any job ran). ``repr()`` round-trips doubles
    exactly and the ``D`` suffix keeps the SQL parser in DOUBLE (bare
    decimals parse as DECIMAL) — bit-identical to ``F.lit`` (verified
    elementwise on random + boundary values in
    tests/test_quality_model.py). Non-finite values fall back to
    ``F.lit`` (``repr(nan)`` does not parse)."""
    import math

    vals = [float(v) for v in values]
    if not vals:
        return F.array().cast("array<double>")
    if all(map(math.isfinite, vals)):
        return F.expr("array(" + ",".join(repr(v) + "D" for v in vals) + ")")
    return F.lit(vals)


def _isin_literal(col: Column, values: list) -> Column:
    """``col.isin(values)`` shipped as ONE JVM seq — ``Column.isin``
    builds a ``lit()`` per element (one py4j round trip each), which is
    seconds of driver time at sample_size=2048+. Unlike
    ``urls._isin_bulk`` the seq is NOT cached: sample-id sets are
    per-corpus, caching them would leak. Falls back to plain ``isin``
    on Spark Connect (literal conversion is client-side and cheap).

    The fast path reaches into private PySpark internals (``_to_seq``,
    ``Column._jc``, Scala ``isin(Any*)`` literal wrapping), so ANY
    failure — a signature change in a future Spark minor, a py4j
    conversion error on an exotic id type — falls back to the public
    ``col.isin(values)``, which is semantically identical (just slower
    to build). tests/test_quality_model.py asserts fast path and
    fallback select the same rows."""
    try:
        from pyspark.sql.classic.column import Column as _ClassicColumn, _to_seq

        if not isinstance(col, _ClassicColumn):  # pragma: no cover - Connect
            return col.isin(values)
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        return _ClassicColumn(col._jc.isin(_to_seq(sc, list(values))))
    except Exception:  # pragma: no cover - future-Spark / py4j drift
        return col.isin(values)


def _np_bucket_counts(chunks, doc_idx_chunks, n_docs: int, dim: int):
    """log1p'd hashed-bucket count matrix (n_docs × dim) from flat
    utf-8 byte slices — the driver-side numpy twin of
    ``groupBy(id, pmod(xxhash64(x), dim)).count()`` + ``log1p`` (r11,
    guide §4.2 at the driver: the trainers' featurization collect was
    the dominant cold-training cost — a distributed explode + two
    aggregates + a collect_list join + a pickled nested-struct collect
    to build a few-MB dense matrix the driver loops over anyway).
    ``chunks`` is a list of (flat_uint8, starts, lens) slice groups with
    matching per-slice doc indexes. Bit-exact: operators/xxh64 is the
    pinned xxhash64 twin, numpy int64 ``%`` equals ``pmod`` for a
    positive modulus, and integer counts round-trip float64 exactly."""
    import numpy as np

    from eligibility_etl_airflow_spark.operators.xxh64 import xxh64_slices

    cnt = np.zeros((n_docs, dim), dtype=np.int64)
    for (flat, starts, lens), didx in zip(chunks, doc_idx_chunks):
        if len(starts) == 0:
            continue
        buckets = xxh64_slices(flat, starts, lens) % dim
        np.add.at(cnt, (didx, buckets), 1)
    return np.log1p(cnt.astype(np.float64))


def _np_token_features(token_lists, dim: int):
    """(n_docs × dim) log1p bucket counts from per-doc token arrays:
    the scorer's ``pmod(xxhash64(token), dim)`` buckets, counted on the
    driver."""
    import numpy as np

    all_toks: list[bytes] = []
    doc_idx: list[int] = []
    for i, toks in enumerate(token_lists):
        if toks is None or len(toks) == 0:
            continue
        all_toks.extend(t.encode("utf-8") for t in toks)
        doc_idx.extend([i] * len(toks))
    n_docs = len(token_lists)
    if not all_toks:
        return np.zeros((n_docs, dim), dtype=np.float64)
    lens = np.fromiter(map(len, all_toks), dtype=np.int64, count=len(all_toks))
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    flat = np.frombuffer(b"".join(all_toks), dtype=np.uint8)
    didx = np.asarray(doc_idx, dtype=np.int64)
    return _np_bucket_counts([(flat, starts, lens)], [didx], n_docs, dim)


def _np_chargram_features(padded_texts, dim: int, n: int):
    """(n_docs × dim) log1p bucket counts from per-doc padded strings
    (``_padded_text``) under :func:`score_softmax`'s char-n-gram
    buckets, counted on the driver. Null/short (<n chars) docs yield
    all-zero rows — the extractor's ``otherwise(empty array)`` rule."""
    import numpy as np

    from eligibility_etl_airflow_spark.operators.neardup import (
        _char_gram_offsets,
        _utf8_concat,
    )

    texts = ["" if s is None else s for s in padded_texts]
    flat, doc_starts = _utf8_concat(texts)
    starts, lens, didx = _char_gram_offsets(flat, doc_starts, n, clamp_short=False)
    # null padded strings must emit nothing even if >= n chars long
    # (they are already "" here, shorter than any n >= 1)
    return _np_bucket_counts(
        [(flat, starts, lens)], [didx], len(texts), dim
    )


def train_quality_classifier(
    df: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str,
    dim: int = 1024,
    sample_size: int = 4096,
    iters: int = 200,
    lr: float = 0.5,
    l2: float = 1e-3,
) -> dict:
    """Fit logistic weights on a bounded sample; returns
    ``{"weights": [dim floats], "bias": float, "dim": dim}``.

    The sample is layout-stable (md5-of-id rank, the ``assign_split``
    discipline); the driver receives the sample's JVM-tokenized token
    arrays in ONE Arrow collect and featurizes them in numpy against
    the bit-exact xxhash64 twin (operators/xxh64 — hash values and so
    buckets identical to the JVM's; r11, replacing the explode → two
    aggregates → collect_list join → pickled nested-struct collect
    that rebuilt the same dense matrix). The solve is deterministic
    full-batch gradient descent with L2 (no random init, no
    shuffling): same sample → same model, bit for bit — pinned
    equal-to-the-r10-implementation on sf0.01 AND sf0.1.

    Labels: ``label_col`` must be 0/1-castable; rows with null labels
    are excluded. Feature scaling: counts are log1p-damped so one
    megadoc cannot dominate the gradient."""
    import numpy as np

    labeled = df.where(F.col(label_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("text"),
        F.col(label_col).cast("double").alias("y"),
    )
    # Pass 1 projects ONLY the id (plus the label-null filter) and
    # collects the md5-ranked winners — bounded at sample_size rows, the
    # same transfer the training collect already pays. Pass 2 then
    # re-reads by ``id IN (...)``: the predicate reaches the parquet
    # scan (PushedFilters) — above
    # spark.sql.parquet.pushdown.inFilterThreshold (default 10) it is
    # pushed as a min/max RANGE over the id list (row-group skipping by
    # bounds, not exact membership), which still skips most row groups
    # when ids are write-ordered; raise the threshold in the session
    # config if exact IN pushdown is needed. The bigger win is
    # plan-side either way: the label expression and the featurization
    # evaluate over sample_size rows, not the corpus. The former
    # left_semi-join form kept the full labeled relation (and any
    # expensive computed label column) in the training plan 2-3x — a
    # corpus-sized cost per extra evaluation at 100 TB.
    sample_id_rows = (
        labeled.select("id")
        .orderBy(F.md5(F.concat(F.lit("qc-sample-v1|"), F.col("id").cast("string"))))
        .limit(sample_size)
        .collect()
    )
    sample = labeled.filter(
        _isin_literal(F.col("id"), [r["id"] for r in sample_id_rows])
    )
    # ONE Arrow collect of the sample's (tokens, y) — tokenization stays
    # the shared JVM ``tokens_of`` (train-time and score-time tokens are
    # the same function); bucketing + counting + log1p happen driver-
    # side in numpy against the bit-exact xxhash64 twin (r11: the
    # previous explode → two aggregates → collect_list join →
    # nested-struct pickled collect rebuilt the SAME dense matrix the
    # driver loops over — several distributed jobs to produce a few MB).
    # Token-less docs keep their all-zero feature row, so the bias is
    # fitted WITH their labels — score-time gives them sigmoid(bias),
    # which must reflect that evidence, not a clean-docs-only prior.
    # orderBy before collect: the gradient sums over samples in row
    # order, so without a pinned order the float summation (and so
    # the learned weights' low bits) would depend on the physical
    # layout — the md5 discipline pins membership, this pins order.
    pdf = (
        sample.select("id", tokens_of(F.col("text")).alias("tk"), "y")
        .orderBy("id")
        .select("tk", "y")
        .toPandas()
    )
    if not len(pdf):
        raise ValueError("no labeled rows to train on")
    X = _np_token_features(list(pdf["tk"]), dim)
    y = pdf["y"].to_numpy(dtype=np.float64)
    rows = pdf
    w = np.zeros(dim, dtype=np.float64)
    b = 0.0
    n = len(rows)
    for _ in range(iters):
        z = X @ w + b
        p = 1.0 / (1.0 + np.exp(-z))
        g = X.T @ (p - y) / n + l2 * w
        gb = float((p - y).mean())
        w -= lr * g
        b -= lr * gb
    return {"weights": w.tolist(), "bias": float(b), "dim": dim}


def score_quality(
    df: DataFrame, id_col: str, text_col: str, model: dict
) -> DataFrame:
    """(id, score) sigmoid quality score per document — MAP-ONLY column
    arithmetic (r10, guide §2.4 "remove shuffles outright"): the doc's
    token buckets are sorted and run-length-folded in one higher-order
    ``aggregate`` against the weight vector shipped as a single array
    literal, so z = Σ_b log1p(cnt_b)·w_b is computed entirely inside the
    scan stage. The previous shape (explode → (id, bucket) partial-agg
    shuffle → broadcast weight join → per-doc sum shuffle → corpus-wide
    left join back to ids) moved the whole token stream through two
    exchanges and a join to compute a per-row scalar; at 100 TB scoring
    is now embarrassingly parallel. Summation order is bucket-ascending
    per doc — deterministic, unlike the old shuffle-order float sum.
    Token-less docs have an empty bucket array, fold to z = 0, and score
    ``sigmoid(bias)`` — the prior, exactly the old outer-join
    semantics."""
    dim = int(model["dim"])
    bias = float(model["bias"])
    w_arr = _lit_double_array(model["weights"])

    def _flush(s: Column) -> Column:
        # fold the finished run into the accumulator: log1p(count)·w[b]
        return s["acc"] + F.when(
            s["run"] > 0.0,
            F.log1p(s["run"]) * F.element_at(w_arr, s["prev"] + 1),
        ).otherwise(F.lit(0.0))

    def _merge(s: Column, b: Column) -> Column:
        return F.when(
            b == s["prev"],
            F.struct(
                s["prev"].alias("prev"),
                (s["run"] + 1.0).alias("run"),
                s["acc"].alias("acc"),
            ),
        ).otherwise(
            F.struct(
                b.alias("prev"), F.lit(1.0).alias("run"), _flush(s).alias("acc")
            )
        )

    staged = df.select(
        F.col(id_col).alias("id"),
        F.array_sort(
            F.transform(tokens_of(F.col(text_col)), lambda t: _bucket_of(t, dim))
        ).alias("_b"),
    )
    z = F.aggregate(
        F.col("_b"),
        F.struct(
            F.lit(-1).alias("prev"), F.lit(0.0).alias("run"), F.lit(0.0).alias("acc")
        ),
        _merge,
        _flush,
    )
    return staged.select(
        "id",
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-(z + F.lit(bias))))).alias("score"),
    )


# --------------------------------------------------------------------------
# Multi-class generalization: learned language ID over hashed char-n-grams
# --------------------------------------------------------------------------

def train_softmax_classifier(
    df: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str,
    *,
    dim: int = 2048,
    n: int = 3,
    sample_size: int = 4096,
    iters: int = 300,
    lr: float = 0.5,
    l2: float = 1e-3,
    max_classes: int = 64,
) -> dict:
    """Multi-class softmax regression on hashed char-n-gram features —
    the :func:`train_quality_classifier` solver generalized from a
    sigmoid to K classes (learned language ID being the canonical use).
    Returns ``{"classes": [K labels], "weights": [K][dim], "bias": [K],
    "dim": dim, "n": n}``.

    Same discipline as the binary solver: the label set is collected
    (bounded by ``max_classes`` — a label explosion fails loudly, it is
    a modeling bug, not data), the training sample is md5-ranked
    layout-stable, the padding/lowering expression is shared with the
    score path in the JVM while gram hashing + bucket counting run
    driver-side against the bit-exact xxhash64 twin (r11 — one Arrow
    collect of the sample's padded strings replaces the distributed
    featurization job tree), and the driver solves deterministic
    full-batch gradient descent from zero init — same sample, same
    model, bit for bit (pinned equal to the r10 implementation on
    sf0.01 AND sf0.1)."""
    import numpy as np

    labeled = df.where(F.col(label_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("text"),
        F.col(label_col).cast("string").alias("y"),
    )
    classes = sorted(r["y"] for r in labeled.select("y").distinct().collect())
    if not classes:
        raise ValueError("no labeled rows to train on")
    if len(classes) > max_classes:
        raise ValueError(
            f"{len(classes)} distinct labels exceeds max_classes="
            f"{max_classes} — not a classification label column"
        )
    cls_idx = {c: k for k, c in enumerate(classes)}
    # same two-pass shape as train_quality_classifier: collect the
    # bounded md5-ranked id set, push it back as a scan-level IN filter
    # so the label expression and gram featurization never evaluate
    # outside the sample
    sample_id_rows = (
        labeled.select("id")
        .orderBy(F.md5(F.concat(F.lit("sm-sample-v1|"), F.col("id").cast("string"))))
        .limit(sample_size)
        .collect()
    )
    sample = labeled.filter(
        _isin_literal(F.col("id"), [r["id"] for r in sample_id_rows])
    )
    # ONE Arrow collect of the sample's (padded text, y); the padded
    # expression is the scorer's (same JVM lower + whitespace fold),
    # gram slicing + bucketing + counting move to the driver against
    # the bit-exact xxhash64 twin — see the r11 note on
    # train_quality_classifier. orderBy pins the float-summation order
    # of the gradient; bit-determinism needs order, not just membership.
    pdf = (
        sample.select("id", _padded_text(F.col("text")).alias("_s"), "y")
        .orderBy("id")
        .select("_s", "y")
        .toPandas()
    )
    m = len(pdf)
    K = len(classes)
    X = _np_chargram_features(list(pdf["_s"]), dim, n)
    Y = np.zeros((m, K), dtype=np.float64)
    for i, label in enumerate(pdf["y"]):
        Y[i, cls_idx[label]] = 1.0
    W = np.zeros((K, dim), dtype=np.float64)
    b = np.zeros(K, dtype=np.float64)
    for _ in range(iters):
        Z = X @ W.T + b
        Z -= Z.max(axis=1, keepdims=True)
        P = np.exp(Z)
        P /= P.sum(axis=1, keepdims=True)
        G = (P - Y).T @ X / m + l2 * W
        gb = (P - Y).mean(axis=0)
        W -= lr * G
        b -= lr * gb
    return {
        "classes": classes,
        "weights": W.tolist(),
        "bias": b.tolist(),
        "dim": dim,
        "n": n,
    }


def score_softmax(
    df: DataFrame, id_col: str, text_col: str, model: dict
) -> DataFrame:
    """(id, pred_label, confidence) per document under a
    :func:`train_softmax_classifier` model — join-free codegen
    aggregation (r10, guide §2.3/§2.4): the gram stream is exploded and
    partial-agg counted exactly as before, but every logit
    z_k = Σ_b log1p(cnt_b)·w_k[b] + b_k is then ONE more aggregate
    column whose weight lookup is ``element_at`` on that class's weight
    vector shipped as an array literal — no broadcast weight relation,
    no K-row class expansion, no per-(doc, class) shuffle, no joins
    back and forth. Argmax and the shifted softmax denominator are
    per-row array expressions on the K-vector. The literal payload is
    K·dim doubles (~40 KB at K=5, dim=1024 — bounded by the trainer's
    ``max_classes``); everything stays whole-stage-codegen (an
    interpreted per-gram HOF fold variant was measured 6× slower —
    see OPTIMIZATION_r10.md entry 21).

    The gram explode is parallelism-staged: hashing ~3 chars × every
    position of every document is the heaviest per-row work in this
    operator, and on a single-split scan it would run as one task
    (measured 2.65 → 0.81 s at sf0.1; ``ensure_parallelism`` is a
    passthrough on already-split inputs).

    Semantics preserved exactly (verified bit-identical to the
    pre-r10 implementation on a trained model at sf0.01 AND sf0.1):
    every class competes at its bias (zero-evidence classes coalesce to
    z = bias, the old outer-join semantics), gram-less docs (shorter
    than n chars, or null text) score the bias-only softmax, ties pick
    the alphabetically-first class (array_position returns the FIRST
    maximal index and classes are sorted — the old max(struct(z, -cls))
    rule), and the denominator is shifted by the winning logit so exp
    never overflows. Per-doc float summation order remains
    shuffle-arrival order, as it always was."""
    from eligibility_etl_airflow_spark.operators.parallel import ensure_parallelism

    classes = list(model["classes"])
    dim = int(model["dim"])
    n = int(model["n"])
    bias = [float(x) for x in model["bias"]]
    K = len(classes)

    # the trainer featurizes the same padded string (same JVM hash at
    # train and score time)
    staged = ensure_parallelism(
        df.select(F.col(id_col).alias("id"), _padded_text(F.col(text_col)).alias("_s"))
    )
    # one-regex-pass gram extraction (r10): zero-width lookahead capture
    # emits every char n-gram in a single engine scan — identical
    # strings in identical order to peeling each position. r11:
    # consuming dot so non-BMP chars advance one code POINT per match
    # (the surrogate-advance fix; see hashed_shingles_of_norm)
    grams = F.when(
        F.length("_s") >= n,
        F.regexp_extract_all(F.col("_s"), F.lit("(?s)(?=(" + "." * n + "))."), F.lit(1)),
    ).otherwise(F.array().cast("array<string>"))
    feats = (
        staged.select("id", F.explode(grams).alias("g"))
        .select("id", _bucket_of(F.col("g"), dim).alias("bucket"))
        .groupBy("id", "bucket")
        .agg(F.count(F.lit(1)).cast("double").alias("cnt"))
    )
    x = F.log1p(F.col("cnt"))
    dots = feats.groupBy("id").agg(
        *(
            F.sum(
                x
                * F.element_at(
                    _lit_double_array(model["weights"][k]),
                    F.col("bucket") + 1,
                )
            ).alias(f"_z{k}")
            for k in range(K)
        )
    )
    # left-attach to ALL ids: docs with no grams have no feats rows and
    # must still score the bias-only softmax
    z_arr = F.array(
        *((F.coalesce(F.col(f"_z{k}"), F.lit(0.0)) + F.lit(bias[k])) for k in range(K))
    )
    with_z = (
        df.select(F.col(id_col).alias("id"))
        .join(dots, "id", "left")
        .select("id", z_arr.alias("_z"))
    )
    # stage _z then _zstar as attributes (multi-referenced below)
    with_star = with_z.select("id", "_z", F.array_max("_z").alias("_zstar"))
    denom = F.aggregate(
        F.col("_z"),
        F.lit(0.0),
        lambda acc, z: acc + F.exp(z - F.col("_zstar")),
    )
    return with_star.select(
        "id",
        F.element_at(
            F.lit(classes), F.array_position("_z", F.col("_zstar")).cast("int")
        ).alias("pred_label"),
        F.round(F.lit(1.0) / denom, 6).alias("confidence"),
    )
