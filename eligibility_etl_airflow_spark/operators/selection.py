"""Data selection for LLM training — DSIR-style importance resampling
(Xie et al. 2023, "Data Selection for Language Models via Importance
Resampling") with count-based unigram features.

The published recipe: estimate feature distributions for the raw corpus
and a small high-quality target, weight every raw document by
``p_target(doc) / p_corpus(doc)``, and sample the training set ∝ weight —
cheap distributional alignment without a neural scorer. Here the feature
model is the add-one-smoothed unigram distribution (the same count model
as operators/lm.py; the paper's hashed-ngram variant swaps the token for
a hashed bigram — the plan shape is identical), and the resample is the
Gumbel-top-k trick made deterministic with hash-seeded uniforms (the
``weighted_sample_deterministic`` discipline): selection is a pure
function of (seed, id, corpus counts), identical on any cluster layout
and reproducible in the DuckDB oracle.

Plan shape at 100 TB: two vocabulary aggregates (map-side combine does
the heavy lifting; the reduced relations are vocab-sized), two token
joins (vocabulary relations are Catalyst/AQE-broadcastable — NOT
force-broadcast, the bigram-model lesson), one per-doc sum aggregate,
and a TakeOrderedAndProject top-k (per-partition heaps + a k-row merge,
never a global sort). Nothing data-proportional reaches the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from eligibility_etl_airflow_spark.operators import lm
from eligibility_etl_airflow_spark.sources.sinks import _stable


def importance_log_weights(
    corpus: DataFrame,
    target: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """(id, n_tokens, log_weight): per-document DSIR log importance
    weight ``Σ_tok [ln p_target(tok) − ln p_corpus(tok)]`` under
    add-one-smoothed unigram models of each corpus. Out-of-vocabulary
    tokens take the smoothed floor on whichever side lacks them
    (absence is evidence). Positive log_weight = looks more like the
    target than like the raw corpus."""
    toks = lm._token_stream(corpus, id_col, text_col)
    src = lm.unigram_model(corpus, id_col, text_col).withColumnRenamed(
        "tok_count", "src_count"
    )
    tgt = lm.unigram_model(target, id_col, text_col).withColumnRenamed(
        "tok_count", "tgt_count"
    )
    src_tot = src.agg(
        F.sum("src_count").alias("src_total"), F.count(F.lit(1)).alias("src_vocab")
    )
    tgt_tot = tgt.agg(
        F.sum("tgt_count").alias("tgt_total"), F.count(F.lit(1)).alias("tgt_vocab")
    )
    scored = (
        toks.join(src, "tok", "left")
        .join(tgt, "tok", "left")
        .crossJoin(F.broadcast(src_tot))
        .crossJoin(F.broadcast(tgt_tot))
        .withColumn(
            "log_ratio",
            F.log(
                (F.coalesce(F.col("tgt_count"), F.lit(0)) + F.lit(1.0))
                / (F.col("tgt_total") + F.col("tgt_vocab") + F.lit(1.0))
            )
            - F.log(
                (F.coalesce(F.col("src_count"), F.lit(0)) + F.lit(1.0))
                / (F.col("src_total") + F.col("src_vocab") + F.lit(1.0))
            ),
        )
    )
    return scored.groupBy("id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum("log_ratio").alias("log_weight"),
    )


def gumbel_topk_select(
    weights: DataFrame,
    id_col: str,
    logw_col: str,
    k: int,
    seed: str = "dsir1",
    key_col: str = "sel_key",
) -> DataFrame:
    """Draw ``k`` rows WITHOUT replacement with probability ∝
    ``exp(logw_col)`` — the Gumbel-top-k identity — deterministically:
    the Gumbel noise ``g = −ln(−ln u)`` uses ``u`` derived from
    ``sampling.hash_uniform(seed, id)`` instead of a RNG — the shared
    uniform-derivation helper (rerun-stable, engine-portable, u pinned
    strictly inside (0, 1) so both logs stay off their singularities);
    A-ES top-k by ``u^(1/w)`` and Gumbel-top-k with ``w = exp(log_w)``
    are order-equivalent, so the two operators deliberately share one
    key discipline.

    The selection key is rounded to 6 dp BEFORE the top-k (ties break
    on the id) so membership never rides on last-ulp float noise.
    ``orderBy(...).limit(k)`` plans as TakeOrderedAndProject."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    from eligibility_etl_airflow_spark.operators.sampling import hash_uniform

    gumbel = -F.log(-F.log(hash_uniform(seed, id_col)))
    keyed = weights.withColumn(key_col, F.round(F.col(logw_col) + gumbel, 6))
    return keyed.orderBy(F.desc(key_col), F.asc(id_col)).limit(k)


def rank_normalize_blend(
    df: DataFrame,
    id_col: str,
    signals: dict,
    weights: dict | None = None,
    out_col: str = "blend",
) -> DataFrame:
    """Ensemble quality scoring by RANK fusion: each signal (a Column
    expression, higher = better) is converted to its corpus percentile
    — percent_rank with min-rank ties, i.e. (#rows strictly below) /
    (n−1) — and the blend is the weighted mean of the percentiles.
    Rank-normalizing first is what makes heterogeneous signals (a 0-1
    heuristic score, a token count, a negated NLL) commensurable; raw
    z-scores or min-max are dominated by outliers and scale choices.

    Plan shape (the scale story): percent_rank via a GLOBAL window
    would single-reduce the corpus, so each signal instead pays
    (a) one grouped count per DISTINCT VALUE (map-side combine — for
    quantized signals like token counts or rounded scores this relation
    is far smaller than the corpus), (b) a running-sum window over that
    distinct-value relation only, and (c) one join back on the value.
    The corpus shuffles once per signal on the value key; nothing
    data-proportional reaches the driver but the row count (one
    scalar). Ties share the min rank, matching SQL percent_rank
    exactly, so a DuckDB twin can grade the fusion.

    ``signals`` maps name → Column; ``weights`` maps name → float
    (default: equal). Output: ``id_col``, ``pr_<name>`` per signal
    (rounded 6 dp), and ``out_col`` = round(Σ w·pr / Σ w, 6) computed
    from the ROUNDED percentiles so both engines agree bit-for-bit.

    A NULL signal value raises at execution: a null has no rank — it
    would silently vanish from the output (the join-back is an equality
    join on the value), skew every other row's percentile (the null
    group still counts in the running sum), and diverge across engines
    (Spark orders nulls first, DuckDB last). Coalesce or filter
    upstream, deliberately.
    """
    from pyspark.sql.window import Window

    if not signals:
        raise ValueError("rank_normalize_blend requires at least one signal")
    w = dict(weights) if weights is not None else {k: 1.0 for k in signals}
    if set(w) != set(signals):
        raise ValueError(
            f"weights keys {sorted(w)} must match signal keys {sorted(signals)}"
        )
    if any(v < 0 for v in w.values()) or sum(w.values()) <= 0:
        raise ValueError(f"weights must be >= 0 with a positive sum, got {w}")

    # materialized once: the staged signal relation feeds one
    # value-aggregate and one join-back PER SIGNAL — otherwise every
    # consumer re-runs the (typically regex-heavy) signal expressions
    # over the corpus
    def _guarded(name: str, c):
        return F.when(
            c.isNull(),
            F.raise_error(
                F.concat(
                    F.lit(f"rank_normalize_blend: null signal {name!r} at "),
                    F.col(id_col).cast("string"),
                    F.lit(" has no rank — coalesce or filter upstream"),
                )
            ),
        ).otherwise(c)

    cur = _stable(
        df.select(
            F.col(id_col),
            *[_guarded(name, c).alias(name) for name, c in signals.items()],
        )
    )
    n = cur.count()  # one scalar to the driver — the rank denominator
    denom = float(max(n - 1, 1))
    for name in signals:
        vals = cur.groupBy(name).agg(F.count(F.lit(1)).alias("_c"))
        win = Window.orderBy(name).rowsBetween(Window.unboundedPreceding, -1)
        ranks = vals.select(
            name,
            F.round(
                F.coalesce(F.sum("_c").over(win), F.lit(0)) / F.lit(denom), 6
            ).alias(f"pr_{name}"),
        )
        cur = cur.join(ranks, name)
    total = sum(w.values())
    blend = None
    for name in signals:
        term = F.col(f"pr_{name}") * F.lit(w[name] / total)
        blend = term if blend is None else blend + term
    return cur.select(
        id_col,
        *[F.col(f"pr_{name}") for name in signals],
        F.round(blend, 6).alias(out_col),
    )
