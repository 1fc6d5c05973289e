"""Learned quality classifier: AUC floor, determinism, scoring plan."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from eligibility_etl_airflow_spark.operators import quality_model


def _planted_corpus(spark, n=400, seed=7):
    """Positives contain quality-marker vocabulary, negatives contain
    junk-marker vocabulary, both over a shared filler vocabulary —
    separable, but not on any single token."""
    import random

    rng = random.Random(seed)
    good = ["research", "analysis", "method", "result", "evidence", "study"]
    bad = ["click", "winner", "free", "prize", "buy", "casino"]
    filler = [f"word{i}" for i in range(50)]
    rows = []
    for i in range(n):
        y = i % 2
        markers = good if y else bad
        toks = [rng.choice(filler) for _ in range(20)] + [
            rng.choice(markers) for _ in range(6)
        ]
        rng.shuffle(toks)
        rows.append((i, " ".join(toks), float(y)))
    return spark.createDataFrame(rows, "doc_id long, text string, y double")


def test_lit_double_array_bitwise_matches_lit(spark):
    """_lit_double_array (one-py4j-call F.expr literal) must be
    BIT-identical to F.lit(list) — the scorers ship weight vectors
    through it; a decimal-vs-double parse slip would shift every
    logit."""
    import random
    import struct

    rng = random.Random(3)
    vals = [rng.uniform(-50, 50) for _ in range(257)] + [
        0.0, -0.0, 1e-300, -1e-300, 1.7976931348623157e308, 5e-324,
    ]
    row = spark.range(1).select(
        F.lit(vals).alias("a"),
        quality_model._lit_double_array(vals).alias("b"),
    ).first()
    bits = lambda x: struct.pack("<d", x)  # noqa: E731
    assert all(bits(x) == bits(y) for x, y in zip(row.a, row.b))
    assert len(row.b) == len(vals)
    # non-finite falls back to F.lit; empty stays typed
    nan_row = spark.range(1).select(
        quality_model._lit_double_array([1.0, float("nan")]).alias("c"),
        quality_model._lit_double_array([]).alias("e"),
    ).first()
    assert nan_row.c[0] == 1.0 and nan_row.c[1] != nan_row.c[1]
    assert nan_row.e == []


def test_planted_label_auc_floor(spark):
    docs = _planted_corpus(spark)
    train = docs.filter(F.col("doc_id") % 5 != 0)
    test = docs.filter(F.col("doc_id") % 5 == 0)
    model = quality_model.train_quality_classifier(
        train, "doc_id", "text", "y", dim=256, sample_size=300, iters=200
    )
    scored = (
        quality_model.score_quality(test, "doc_id", "text", model)
        .join(test.select(F.col("doc_id").alias("id"), "y"), "id")
        .collect()
    )
    pos = sorted(r["score"] for r in scored if r["y"] == 1.0)
    neg = sorted(r["score"] for r in scored if r["y"] == 0.0)
    # exact AUC = P(pos > neg) over all pairs
    import bisect

    wins = sum(bisect.bisect_left(neg, p) for p in pos)
    ties = sum(
        bisect.bisect_right(neg, p) - bisect.bisect_left(neg, p) for p in pos
    )
    auc = (wins + 0.5 * ties) / (len(pos) * len(neg))
    assert auc >= 0.95, auc


def test_training_is_layout_stable(spark):
    docs = _planted_corpus(spark, n=200)
    m1 = quality_model.train_quality_classifier(
        docs, "doc_id", "text", "y", dim=128, sample_size=150, iters=50
    )
    m2 = quality_model.train_quality_classifier(
        docs.repartition(13), "doc_id", "text", "y", dim=128, sample_size=150, iters=50
    )
    assert m1["bias"] == pytest.approx(m2["bias"], abs=1e-12)
    assert m1["weights"] == pytest.approx(m2["weights"], abs=1e-12)


def test_tokenless_docs_score_prior(spark):
    docs = _planted_corpus(spark, n=100)
    model = quality_model.train_quality_classifier(
        docs, "doc_id", "text", "y", dim=128, sample_size=100, iters=50
    )
    import math

    empty = spark.createDataFrame(
        [(999, ""), (1000, None)], "doc_id long, text string"
    )
    got = {
        r["id"]: r["score"]
        for r in quality_model.score_quality(empty, "doc_id", "text", model).collect()
    }
    prior = 1.0 / (1.0 + math.exp(-model["bias"]))
    assert got[999] == pytest.approx(prior, abs=1e-9)
    assert got[1000] == pytest.approx(prior, abs=1e-9)


def test_scoring_path_has_no_python_udf(spark):
    docs = _planted_corpus(spark, n=50)
    model = quality_model.train_quality_classifier(
        docs, "doc_id", "text", "y", dim=64, sample_size=50, iters=10
    )
    plan = (
        quality_model.score_quality(docs, "doc_id", "text", model)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "FlatMapsInPandas" not in plan and "MapInPandas" not in plan


def test_null_labels_excluded_and_empty_raises(spark):
    docs = _planted_corpus(spark, n=60).withColumn(
        "y", F.when(F.col("doc_id") < 30, F.col("y"))
    )
    model = quality_model.train_quality_classifier(
        docs, "doc_id", "text", "y", dim=64, sample_size=100, iters=10
    )
    assert len(model["weights"]) == 64
    nolab = docs.withColumn("y", F.lit(None).cast("double"))
    with pytest.raises(ValueError, match="no labeled rows"):
        quality_model.train_quality_classifier(
            nolab, "doc_id", "text", "y", dim=64, sample_size=100, iters=10
        )


def test_curation_learned_quality_stage(spark, sf_dir, tmp_path):
    """A trained model gates the curation funnel: a marker-word model
    drops low-scoring docs; threshold 0 drops nothing."""
    from eligibility_etl_airflow_spark import pipelines

    docs = _planted_corpus(spark, n=200)
    model = quality_model.train_quality_classifier(
        docs, "doc_id", "text", "y", dim=256, sample_size=200, iters=200
    )
    base = pipelines.run_corpus_curation_pipeline(
        spark, sf_dir, str(tmp_path / "plain"), min_quality=0.0,
        neardup_removal="pair",
    )
    gated = pipelines.run_corpus_curation_pipeline(
        spark, sf_dir, str(tmp_path / "gated"), min_quality=0.0,
        neardup_removal="pair", quality_model=model, quality_model_min=0.999,
    )
    # real documents contain none of the planted good-marker vocabulary:
    # a near-1 threshold must remove (almost) everything
    assert gated["n_after_learned_quality"] < base["n_after_quality_lang"]
    lax = pipelines.run_corpus_curation_pipeline(
        spark, sf_dir, str(tmp_path / "lax"), min_quality=0.0,
        neardup_removal="pair", quality_model=model, quality_model_min=0.0,
    )
    assert lax["n_after_learned_quality"] == base["n_after_quality_lang"]
    assert lax["n_curated"] == base["n_curated"]


def _multilingual_corpus(spark):
    """Real function-word-laden snippets in four languages — the planted
    vehicle for the learned-vs-heuristic language-ID comparison."""
    en = ["the cat sat on the mat and the dog was there",
          "this is a story about the people who lived in the town",
          "we went to the market and bought some bread and milk",
          "it was the best of times and it was the worst of times",
          "she walked along the road and saw the old house by the lake"]
    fr = ["le chat est sur le tapis et le chien est dans la maison",
          "c'est une histoire sur les gens qui vivaient dans la ville",
          "nous sommes allés au marché et avons acheté du pain",
          "c'était le meilleur des temps et c'était le pire des temps",
          "elle marchait le long de la route et voyait la vieille maison"]
    de = ["die katze sitzt auf der matte und der hund ist im haus",
          "das ist eine geschichte über die menschen die in der stadt lebten",
          "wir gingen zum markt und kauften brot und milch",
          "es war die beste zeit und es war die schlimmste zeit",
          "sie ging die straße entlang und sah das alte haus am see"]
    es = ["el gato está en la alfombra y el perro está en la casa",
          "esta es una historia sobre la gente que vivía en el pueblo",
          "fuimos al mercado y compramos pan y leche",
          "era el mejor de los tiempos y era el peor de los tiempos",
          "ella caminaba por el camino y veía la casa vieja junto al lago"]
    rows, i = [], 0
    for lang, texts in (("en", en), ("fr", fr), ("de", de), ("es", es)):
        for t in texts:
            rows.append((i, t, lang))
            i += 1
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_learned_lang_id_beats_heuristic_on_planted_multilingual(spark):
    """Accuracy floor: the learned char-n-gram classifier must reach
    >= 0.9 on the planted multilingual corpus (train + unseen holdout)
    and must not trail the marker-word heuristic."""
    from eligibility_etl_airflow_spark.operators import text as text_ops

    docs = _multilingual_corpus(spark)
    model = quality_model.train_softmax_classifier(
        docs, "doc_id", "text", "lang", dim=1024, sample_size=64, iters=300
    )
    assert model["classes"] == ["de", "en", "es", "fr"]

    def acc(pred_df):
        rows = pred_df.collect()
        return sum(1 for r in rows if r["pred"] == r["lang"]) / len(rows)

    learned = quality_model.score_softmax(docs, "doc_id", "text", model).join(
        docs.select(F.col("doc_id").alias("id"), "lang"), "id"
    ).select(F.col("pred_label").alias("pred"), "lang")
    heur = docs.select(
        text_ops.lang_id(F.col("text")).alias("pred"), "lang"
    )
    a_learned, a_heur = acc(learned), acc(heur)
    assert a_learned >= 0.9
    assert a_learned >= a_heur

    holdout = spark.createDataFrame(
        [
            (100, "the rain in the valley was heavy and the river rose", "en"),
            (101, "le soleil brille sur la montagne et les oiseaux chantent", "fr"),
            (102, "der regen im tal war stark und der fluss stieg", "de"),
            (103, "el sol brilla sobre la montaña y los pájaros cantan", "es"),
        ],
        "doc_id long, text string, lang string",
    )
    hp = quality_model.score_softmax(holdout, "doc_id", "text", model).join(
        holdout.select(F.col("doc_id").alias("id"), "lang"), "id"
    ).select(F.col("pred_label").alias("pred"), "lang")
    assert acc(hp) >= 0.75


def test_softmax_training_deterministic_and_confidence_valid(spark):
    docs = _multilingual_corpus(spark)
    kw = dict(dim=512, sample_size=64, iters=100)
    m1 = quality_model.train_softmax_classifier(docs, "doc_id", "text", "lang", **kw)
    m2 = quality_model.train_softmax_classifier(docs, "doc_id", "text", "lang", **kw)
    assert m1 == m2
    scored = quality_model.score_softmax(docs, "doc_id", "text", m1).collect()
    k = len(m1["classes"])
    for r in scored:
        assert 1.0 / k - 1e-9 <= r["confidence"] <= 1.0


def test_softmax_scoring_path_has_no_python_udf_and_gramless_prior(spark):
    docs = _multilingual_corpus(spark)
    model = quality_model.train_softmax_classifier(
        docs, "doc_id", "text", "lang", dim=256, sample_size=64, iters=50
    )
    plan = (
        quality_model.score_softmax(docs, "doc_id", "text", model)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # a doc too short to yield a single 3-gram gets the bias-only prior
    tiny = spark.createDataFrame([(1, "x"), (2, "")], "doc_id long, text string")
    rows = quality_model.score_softmax(tiny, "doc_id", "text", model).collect()
    assert len(rows) == 2
    assert all(r["pred_label"] in model["classes"] for r in rows)


def test_softmax_label_explosion_raises(spark):
    df = spark.createDataFrame(
        [(i, f"text {i}", f"label{i}") for i in range(80)],
        "doc_id long, text string, lang string",
    )
    with pytest.raises(ValueError, match="max_classes"):
        quality_model.train_softmax_classifier(
            df, "doc_id", "text", "lang", max_classes=64, sample_size=80
        )


def test_curation_lang_model_flag_relabel(spark, tmp_path):
    """lang_model= re-identifies language from TEXT: metadata that lies
    (an 'en' label on French text) is overridden, so the language-mix
    filter keeps/drops on the predicted label."""
    from eligibility_etl_airflow_spark import pipelines

    train = _multilingual_corpus(spark)
    model = quality_model.train_softmax_classifier(
        train, "doc_id", "text", "lang", dim=1024, sample_size=64, iters=300
    )
    # two docs, metadata says 'en' for both; one is actually French
    docs = spark.createDataFrame(
        [
            (1, "the sun shines on the mountain and the birds sing "
                "while the people walk to the market in the morning", "en"),
            (2, "le soleil brille sur la montagne et les oiseaux chantent "
                "pendant que les gens marchent vers le marché le matin", "en"),
        ],
        "doc_id long, text string, lang string",
    )
    stats = pipelines.run_corpus_curation_pipeline(
        spark,
        sf_dir="unused",
        out_dir=str(tmp_path / "out"),
        min_quality=0.0,
        langs=("en",),
        lang_model=model,
        documents=docs,
    )
    kept = spark.read.parquet(str(tmp_path / "out" / "curated_docs"))
    ids = sorted(r["doc_id"] for r in kept.collect())
    assert ids == [1]  # the disguised French doc dropped from the en mix
    assert stats["n_after_quality_lang"] == 1


def test_softmax_sparse_model_classes_compete_at_bias(spark):
    """A hand-built sparse model where one class has NO bucket weights:
    it must still enter the argmax and the softmax denominator at its
    bias (review finding: the old inner join dropped it entirely)."""
    model = {
        "classes": ["aa", "bb", "zz"],
        # aa/bb have tiny weights on a couple of buckets; zz has NONE
        "weights": [
            [0.01] + [0.0] * 255,
            [0.0, 0.01] + [0.0] * 254,
            [0.0] * 256,
        ],
        "bias": [0.0, 0.0, 5.0],  # zz dominates on bias alone
        "dim": 256,
        "n": 3,
    }
    docs = spark.createDataFrame(
        [(1, "some ordinary text that hits a few buckets")],
        "doc_id long, text string",
    )
    rows = quality_model.score_softmax(docs, "doc_id", "text", model).collect()
    assert rows[0]["pred_label"] == "zz"
    # denominator includes all three classes: confidence < 1
    assert 0.5 < rows[0]["confidence"] < 1.0


def test_isin_literal_fast_path_matches_fallback(spark, monkeypatch):
    """_isin_literal's JVM-seq fast path and its public col.isin fallback
    must select identical rows — the fallback is the contract, the fast
    path only an optimization (ADVICE r8: a future-Spark signature change
    must degrade to correct-but-slower, never to a JVM throw)."""
    df = spark.createDataFrame(
        [(i, f"d{i}") for i in range(40)], "id long, name string"
    )
    vals = [3, 7, 11, 39]
    fast = sorted(
        r["id"]
        for r in df.filter(
            quality_model._isin_literal(F.col("id"), vals)
        ).collect()
    )
    # force the except-path by simulating internal-API drift: the fast
    # path re-imports `_to_seq` per call — a future Spark dropping or
    # renaming it surfaces as ImportError there. A shim module without
    # the symbol reproduces exactly that, while the real classic.column
    # machinery (which the public col.isin fallback runs on) stays
    # intact.
    import sys
    import types

    import pyspark.sql.classic.column as _cc

    fake = types.ModuleType("pyspark.sql.classic.column")
    fake.Column = _cc.Column  # keep the class, drop _to_seq
    monkeypatch.setitem(sys.modules, "pyspark.sql.classic.column", fake)
    slow_col = quality_model._isin_literal(F.col("id"), vals)
    monkeypatch.undo()
    slow = sorted(r["id"] for r in df.filter(slow_col).collect())
    assert fast == slow == vals


def hashed_token_features(df, id_col: str, text_col: str, dim: int = 1024):
    """Reference: (id, bucket, cnt) sparse hashed bag-of-words, built on
    the JVM — one explode + one partial-aggregatable groupBy."""
    from eligibility_etl_airflow_spark.operators.quality_model import _bucket_of
    from eligibility_etl_airflow_spark.operators.tokenize import tokens_of

    staged = df.select(F.col(id_col).alias("id"), tokens_of(F.col(text_col)).alias("tk"))
    return (
        staged.select("id", F.explode("tk").alias("tok"))
        .select("id", _bucket_of(F.col("tok"), dim).alias("bucket"))
        .groupBy("id", "bucket")
        .agg(F.count(F.lit(1)).cast("double").alias("cnt"))
    )


def hashed_char_features(df, id_col: str, text_col: str, dim: int = 2048, n: int = 3):
    """Reference: (id, bucket, cnt) sparse hashed bag of character
    n-grams, built on the JVM. Text is lowercased with whitespace runs
    folded to '_' and '_' sentinels added at both ends; a zero-width
    lookahead capture emits every gram in one regex pass."""
    from eligibility_etl_airflow_spark.operators.quality_model import _bucket_of

    padded = F.concat(
        F.lit("_"),
        F.regexp_replace(F.lower(F.col(text_col)), r"\s+", "_"),
        F.lit("_"),
    )
    staged = df.select(F.col(id_col).alias("id"), padded.alias("_s"))
    grams = F.when(
        F.length("_s") >= n,
        F.regexp_extract_all(F.col("_s"), F.lit("(?s)(?=(" + "." * n + "))."), F.lit(1)),
    ).otherwise(F.array().cast("array<string>"))
    return (
        staged.select("id", F.explode(grams).alias("g"))
        .select("id", _bucket_of(F.col("g"), dim).alias("bucket"))
        .groupBy("id", "bucket")
        .agg(F.count(F.lit(1)).cast("double").alias("cnt"))
    )


def test_np_featurizers_match_distributed(spark):
    """The r11 driver-side numpy featurizers must reproduce the
    distributed featurization relations exactly — same buckets (bit-
    exact xxhash64 twin + floor-mod pmod), same log1p counts, zero rows
    for token-less / short / null docs."""
    import numpy as np

    from eligibility_etl_airflow_spark.operators import quality_model as qm
    from eligibility_etl_airflow_spark.operators.tokenize import tokens_of

    cases = [
        "the quick brown fox",
        "",
        None,
        "     ",
        "ab",
        "héllo wörld \U0001F600 grams",
        "one two three four five six seven " * 20,
    ]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(cases)], "id long, text string"
    )
    for dim, builder, feats_fn in (
        (64, "tokens", hashed_token_features),
        (128, "chargrams", hashed_char_features),
    ):
        feats = feats_fn(df, "id", "text", dim)
        want = np.zeros((len(cases), dim))
        for r in feats.collect():
            want[r["id"], r["bucket"]] = np.log1p(r["cnt"])
        if builder == "tokens":
            pdf = df.select("id", tokens_of(F.col("text")).alias("tk")).orderBy("id").toPandas()
            got = qm._np_token_features(list(pdf["tk"]), dim)
        else:
            padded = F.concat(
                F.lit("_"),
                F.regexp_replace(F.lower(F.col("text")), r"\s+", "_"),
                F.lit("_"),
            )
            pdf = df.select("id", padded.alias("_s")).orderBy("id").toPandas()
            got = qm._np_chargram_features(list(pdf["_s"]), dim, 3)
        assert np.array_equal(got, want), builder
