"""Count-based unigram language-model scoring — CCNet-style fluency
filtering for corpus curation.

The standard curation move (CCNet, Gopher, RefinedWeb): score every
document by how surprising its tokens are under a language model and cut
the worst tail. At 100 TB a neural LM per token is prohibitive, so the
first filtering pass is a COUNT-based model: per-token negative log
probability under the corpus' own (add-one-smoothed) unigram
distribution. Documents built from the corpus' common vocabulary score
low NLL (fluent); gibberish / OCR noise / alien vocabulary scores high.

Plan shape, all built-in expressions:

1. tokenize + explode → (doc, token);
2. global token counts — one hash aggregate (map-side partial combine
   does the heavy lifting: the reduced table is the vocabulary, tiny
   relative to the corpus);
3. join token stream to counts (the vocabulary relation is
   Catalyst/AQE-broadcastable at any realistic vocab size) and average
   ``-ln p(token)`` per document — a second hash aggregate.

Two shuffles total, both keyed small; cost is the scan plus one
explode. To score corpus B under corpus A's model (the usual
train-a-model-on-clean-text setup), pass ``model_of(A)`` as ``model``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from eligibility_etl_airflow_spark.operators.tokenize import TOKEN_SPLIT


def _token_stream(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return df.select(
        F.col(id_col).alias("id"),
        F.explode_outer(F.split(F.lower(F.col(text_col)), TOKEN_SPLIT)).alias("tok"),
    ).filter(F.col("tok") != "")


def unigram_model(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(tok, tok_count) global unigram counts — the "model". Persist or
    write this out once per corpus; scoring jobs join against it."""
    return _token_stream(df, id_col, text_col).groupBy("tok").agg(
        F.count(F.lit(1)).alias("tok_count")
    )


def unigram_nll_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    model: DataFrame | None = None,
) -> DataFrame:
    """(id, n_tokens, mean_nll) per-document mean negative log
    probability under an add-one-smoothed unigram model.

    ``model`` defaults to the corpus' own counts (self-scoring, the
    bootstrap pass); pass :func:`unigram_model` of a reference corpus to
    score under a cleaner distribution. Out-of-vocabulary tokens take
    the smoothed floor ``1 / (total + vocab + 1)`` via an outer join —
    absence is evidence, not an error.
    """
    toks = _token_stream(df, id_col, text_col)
    m = model if model is not None else toks.groupBy("tok").agg(
        F.count(F.lit(1)).alias("tok_count")
    )
    totals = m.agg(
        F.sum("tok_count").alias("total_toks"),
        F.count(F.lit(1)).alias("vocab_size"),
    )
    scored = (
        toks.join(m, "tok", "left")
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "nll",
            -F.log(
                (F.coalesce(F.col("tok_count"), F.lit(0)) + F.lit(1.0))
                / (F.col("total_toks") + F.col("vocab_size") + F.lit(1.0))
            ),
        )
    )
    return scored.groupBy("id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.avg("nll").alias("mean_nll"),
    )


def _bigram_stream(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, w1, w2) adjacent-token pairs from a STAGED token array (one
    split per row; see the higher-order-function re-evaluation note in
    SCALING.md)."""
    from eligibility_etl_airflow_spark.operators.tokenize import tokens_of

    staged = df.select(
        F.col(id_col).alias("id"), tokens_of(F.col(text_col)).alias("tk")
    )
    return staged.select(
        "id",
        F.explode(
            F.when(
                F.size("tk") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("tk") - 1),
                    lambda i: F.struct(
                        F.element_at("tk", i).alias("w1"),
                        F.element_at("tk", i + 1).alias("w2"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
        ).alias("bg"),
    ).select("id", "bg.w1", "bg.w2")


def bigram_model(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(w1, w2, pair_count) adjacent-token counts — the bigram half of
    an interpolated model, one hash aggregate over the shared stream."""
    return _bigram_stream(df, id_col, text_col).groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("pair_count")
    )


def bigram_nll_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    lam: float = 0.7,
) -> DataFrame:
    """(id, n_bigrams, mean_nll) per-document mean negative log
    probability under a Jelinek-Mercer-interpolated bigram model:

        p(w2 | w1) = lam * c(w1 w2)/c(w1)  +  (1-lam) * p_uni(w2)

    with the add-one-smoothed unigram as the backoff (so the score is
    finite for unseen bigrams AND unseen unigrams). The bigram term is
    deliberately unsmoothed — interpolation already floors it, which is
    the standard JM construction.

    Plan shape: the bigram stream joins its pair counts and the two
    unigram relations with NO forced broadcast on either — distinct
    adjacent pairs grow with the corpus, and even the "vocabulary" under
    the ``[^a-z]+`` split is corpus-dependent (OCR noise and gibberish
    keep minting new types), so a hardcoded ``F.broadcast`` would bypass
    AQE's size guard and risk a driver OOM at the 100 TB design point.
    Catalyst/AQE picks broadcast when the relation is actually small,
    which is what the hint asserted and couldn't guarantee. One final
    per-doc aggregate; everything JVM-side. Catches what the unigram
    scorer cannot: a document of common words in an impossible ORDER
    scores badly here while passing the unigram filter.
    """
    if not (0.0 <= lam < 1.0):
        raise ValueError(f"lam must be in [0, 1), got {lam}")
    stream = _bigram_stream(df, id_col, text_col)
    uni = unigram_model(df, id_col, text_col)
    # derive the bigram counts from the SAME stream being scored — one
    # corpus pass fewer than rebuilding pairs via bigram_model
    bi = stream.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("pair_count"))
    totals = uni.agg(
        F.sum("tok_count").alias("total_toks"),
        F.count(F.lit(1)).alias("vocab_size"),
    )
    scored = (
        stream.join(bi, ["w1", "w2"], "left")
        .join(
            uni.select(F.col("tok").alias("w1"), F.col("tok_count").alias("w1_count")),
            "w1",
            "left",
        )
        .join(
            uni.select(F.col("tok").alias("w2"), F.col("tok_count").alias("w2_count")),
            "w2",
            "left",
        )
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "p_uni",
            (F.coalesce(F.col("w2_count"), F.lit(0)) + F.lit(1.0))
            / (F.col("total_toks") + F.col("vocab_size") + F.lit(1.0)),
        )
        .withColumn(
            "p_bi",
            F.when(
                F.col("w1_count").isNotNull() & F.col("pair_count").isNotNull(),
                F.col("pair_count") / F.col("w1_count"),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "nll", -F.log(F.lit(lam) * F.col("p_bi") + F.lit(1.0 - lam) * F.col("p_uni"))
        )
    )
    return scored.groupBy("id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.avg("nll").alias("mean_nll"),
    )
