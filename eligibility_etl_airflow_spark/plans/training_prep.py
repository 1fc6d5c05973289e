"""Training-data preparation plans — round-5 additions to the
beyond-reference LLM-pipeline tier: unicode hygiene, semantic (embedding)
benchmark decontamination, quality-aware dedup representatives,
order-preserving token-balanced sharding, chat-transcript (SFT)
normalization, DSIR importance resampling, temperature mixing,
cross-corpus priority merge, and n-gram novelty scoring.

Most are oracle-backed (DuckDB twins); those not named in
registry._GRADED register past the driver's 50-slot grading window, and
tests/test_oracle_parity.py hash-checks every one locally on every run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eligibility_etl_airflow_spark.catalog import Catalog
from eligibility_etl_airflow_spark.operators import packing, similarity, text
from eligibility_etl_airflow_spark.plans.llm_pipeline import CC_ORACLE, QUALITY_ORACLE
from eligibility_etl_airflow_spark.registry import query

# --------------------------------------------------------------------------
# Unicode NFC normalization — corpus hygiene ahead of any hash-based dedup
# --------------------------------------------------------------------------

# The corpus is synthetic ASCII, so the query plants decomposed sequences
# (combining acute / diaeresis) deterministically in BOTH engines with the
# same concat — the same construct-then-process vehicle fhir_extract_bundle
# uses. chr(769) = U+0301 COMBINING ACUTE, chr(776) = U+0308 COMBINING
# DIAERESIS; NFC folds e+U+0301 -> U+00E9.
UNICODE_NFC_ORACLE = r"""
WITH dirty AS (
  SELECT doc_id,
         'nai' || chr(776) || 've ' ||
         replace(substring(lower(text), 1, 64), 'e', 'e' || chr(769)) AS raw_text
  FROM documents
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       raw_text,
       nfc_normalize(raw_text) AS nfc_text,
       CAST(length(raw_text) AS BIGINT) AS n_cp_raw,
       CAST(length(nfc_normalize(raw_text)) AS BIGINT) AS n_cp_nfc
FROM dirty
"""


@query("unicode_nfc_normalize", oracle=UNICODE_NFC_ORACLE)
def unicode_nfc_normalize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization (operators/text.py:unicode_nfc): fold
    decomposed combining sequences into composed form so byte-level
    dedup/fingerprinting sees one canonical form per string. Map-only
    Arrow-batched pandas UDF (Spark has no built-in NFC expression);
    the codepoint-count delta is the audit column."""
    d = Catalog(spark, sf_dir).documents
    # DECOMPOSED escapes (i+U+0308, e+U+0301) — must mirror the oracle's
    # chr(776)/chr(769) concat exactly; a composed literal here would make
    # NFC a no-op and break parity
    raw = F.concat(
        F.lit("nai\u0308ve "),
        F.regexp_replace(
            F.substring(F.lower(F.col("text")), 1, 64), "e", "e\u0301"
        ),
    )
    return (
        d.select(F.col("doc_id").cast("long").alias("doc_id"), raw.alias("raw_text"))
        .withColumn("nfc_text", text.unicode_nfc(F.col("raw_text")))
        .withColumn("n_cp_raw", F.length("raw_text").cast("long"))
        .withColumn("n_cp_nfc", F.length("nfc_text").cast("long"))
    )


# --------------------------------------------------------------------------
# Semantic (embedding-cosine) benchmark decontamination — the third tier
# of the decontam ladder (n-gram collision -> fuzzy LSH -> embedding)
# --------------------------------------------------------------------------

SEMANTIC_DECONTAM_ORACLE = """
WITH b AS (
  SELECT vec_id AS bench_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id % 10 = 0
),
c AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id % 10 <> 0
),
p AS (
  SELECT c.vec_id, b.bench_id,
         round(list_dot_product(c.v, b.v)
               / (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(b.v, b.v))), 6)
             AS sim
  FROM c CROSS JOIN b
),
r AS (
  SELECT vec_id, bench_id, sim,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, bench_id ASC) AS rn
  FROM p
)
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       CAST(bench_id AS BIGINT) AS nn_bench_id,
       sim AS nn_sim,
       CAST(CASE WHEN sim >= 0.35 THEN 1 ELSE 0 END AS BIGINT) AS contaminated
FROM r WHERE rn = 1
"""


@query("semantic_decontam_flags", oracle=SEMANTIC_DECONTAM_ORACLE)
def semantic_decontam_flags_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination (operators/similarity.py:
    semantic_decontam_flags): nearest benchmark item per corpus vector,
    flagged at cosine >= 0.35. Bench side broadcast, corpus never
    shuffled at pair grain (map-side argmax partial agg). Catches
    paraphrased contamination the n-gram/fuzzy tiers miss."""
    e = Catalog(spark, sf_dir).embeddings
    bench = e.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("bench_id"), "embedding"
    )
    corpus = e.filter(F.col("vec_id") % 10 != 0)
    out = similarity.semantic_decontam_flags(corpus, bench, threshold=0.35)
    return out.withColumn("vec_id", F.col("vec_id").cast("long"))


# --------------------------------------------------------------------------
# Quality-aware cluster representatives — keep the BEST doc per near-dup
# cluster, not the first one
# --------------------------------------------------------------------------

CLUSTER_REP_ORACLE = f"""
WITH labels AS ({CC_ORACLE}),
q AS (SELECT doc_id, quality FROM ({QUALITY_ORACLE})),
j AS (
  SELECT l.cluster_id, l.doc_id, q.quality
  FROM labels l JOIN q ON l.doc_id = q.doc_id
),
r AS (
  SELECT cluster_id, doc_id, quality,
         ROW_NUMBER() OVER (PARTITION BY cluster_id
                            ORDER BY quality DESC, doc_id ASC) AS rn,
         COUNT(*) OVER (PARTITION BY cluster_id) AS n
  FROM j
)
SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
       CAST(doc_id AS BIGINT) AS rep_doc_id,
       CAST(n AS BIGINT) AS n_members,
       quality AS rep_quality
FROM r WHERE rn = 1
"""


@query("cluster_representatives", oracle=CLUSTER_REP_ORACLE)
def cluster_representatives_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical doc per near-dup cluster: the same
    blocked 3-gram-Jaccard >= 0.6 component labeling as
    dedup_connected_components, but the keeper is argmax(quality score)
    with min-doc_id tie-break instead of min id — the curation policy
    that keeps the best-written copy of each duplicated document
    (components.dedup_by_components' order_by generalized to a rollup).
    One extra broadcast join (quality is a map-only column) and one
    partial-agg shuffle on cluster_id beyond the closure itself."""
    from eligibility_etl_airflow_spark.plans.llm_pipeline import (
        blocked_component_labels,
    )

    d, labeled = blocked_component_labels(spark, sf_dir)
    q = d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        text.quality_score(F.col("text")).alias("quality"),
    )
    return (
        labeled.join(q, "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.max(
                F.struct(F.col("quality"), (-F.col("doc_id")).alias("negid"))
            ).alias("m"),
        )
        .select(
            F.col("cluster_id").cast("long").alias("cluster_id"),
            (-F.col("m.negid")).cast("long").alias("rep_doc_id"),
            "n_members",
            F.col("m.quality").alias("rep_quality"),
        )
    )


# --------------------------------------------------------------------------
# Order-preserving token-balanced output sharding
# --------------------------------------------------------------------------

TOKEN_SHARDS_BUDGET = 2000

TOKEN_SHARDS_ORACLE = rf"""
WITH t AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT)
             AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, n_tokens,
         COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
  FROM t
),
s AS (SELECT doc_id, n_tokens, CAST(cum // {TOKEN_SHARDS_BUDGET} AS BIGINT) AS shard_id FROM c)
SELECT shard_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS shard_tokens,
       CAST(min(doc_id) AS BIGINT) AS first_doc_id,
       CAST(max(doc_id) AS BIGINT) AS last_doc_id
FROM s GROUP BY shard_id
"""


@query("balanced_token_shards", oracle=TOKEN_SHARDS_ORACLE)
def balanced_token_shards_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-balanced contiguous output shards (operators/packing.py:
    assign_token_shards): shard k opens at the first doc whose exclusive
    running token sum reaches k*budget — corpus order preserved (unlike
    pack_sequences), every output file carries ~budget tokens (which
    maxRecordsPerFile cannot achieve for variable-length docs).
    Distributed prefix sum: range shuffle + per-partition offsets, no
    single-partition window anywhere."""
    d = Catalog(spark, sf_dir).documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        text.token_count_bpe(F.col("text")).alias("n_tokens"),
    )
    sharded = packing.assign_token_shards(
        d, ["doc_id"], "n_tokens", budget=TOKEN_SHARDS_BUDGET
    )
    return sharded.groupBy("shard_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("shard_tokens"),
        F.min("doc_id").cast("long").alias("first_doc_id"),
        F.max("doc_id").cast("long").alias("last_doc_id"),
    )


# --------------------------------------------------------------------------
# Chat-transcript (SFT) normalization — messages-array JSON to turn rows
# --------------------------------------------------------------------------

CHAT_TURNS_ORACLE = r"""
WITH s AS (
  SELECT doc_id,
         regexp_replace(substring(lower(text), 1, 60), '[^a-z0-9 ]', '', 'g') AS sv
  FROM documents
),
j AS (
  SELECT doc_id,
         '{"messages":[{"role":"user","content":"' || substring(sv, 1, 30) ||
         '"},{"role":"assistant","content":"' || substring(sv, 31, 30) ||
         '"}],"model":"synth-1"}' AS chat
  FROM s
),
t AS (
  SELECT doc_id, chat, CAST(u.i AS BIGINT) AS turn_idx
  FROM j CROSS JOIN (SELECT unnest(generate_series(0, 1)) AS i) u
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       turn_idx,
       json_extract_string(chat, '$.messages[' || turn_idx || '].role') AS role,
       json_extract_string(chat, '$.messages[' || turn_idx || '].content') AS content,
       CAST(len(regexp_extract_all(
         json_extract_string(chat, '$.messages[' || turn_idx || '].content'), '\S+'
       )) AS BIGINT) AS n_tokens,
       json_extract_string(chat, '$.model') AS model
FROM t
"""


@query("chat_turns_extract", oracle=CHAT_TURNS_ORACLE)
def chat_turns_extract_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT chat normalization: parse OpenAI-style messages-array JSON
    transcripts into one row per turn (from_json into a typed array
    struct + posexplode — the same JVM JSON path as the FHIR family),
    with per-turn whitespace token counts for downstream packing/cost
    accounting. The transcript JSON is constructed deterministically
    from the documents table in BOTH engines (test vehicle — production
    reads real transcript JSON); the extraction half is the operator."""
    d = Catalog(spark, sf_dir).documents
    sv = F.regexp_replace(
        F.substring(F.lower(F.col("text")), 1, 60), "[^a-z0-9 ]", ""
    )
    chat_json = F.concat(
        F.lit('{"messages":[{"role":"user","content":"'),
        F.substring(sv, 1, 30),
        F.lit('"},{"role":"assistant","content":"'),
        F.substring(sv, 31, 30),
        F.lit('"}],"model":"synth-1"}'),
    )
    parsed = F.from_json(
        chat_json,
        "messages array<struct<role:string,content:string>>, model string",
    )
    turns = d.select(
        F.col("doc_id").cast("long").alias("doc_id"), parsed.alias("chat")
    ).select(
        "doc_id",
        F.col("chat.model").alias("model"),
        F.posexplode("chat.messages").alias("turn_idx", "msg"),
    )
    return turns.select(
        "doc_id",
        F.col("turn_idx").cast("long").alias("turn_idx"),
        F.col("msg.role").alias("role"),
        F.col("msg.content").alias("content"),
        text.token_count_ws(F.col("msg.content")).alias("n_tokens"),
        "model",
    )


# --------------------------------------------------------------------------
# DSIR-style importance resampling — distributional data selection
# --------------------------------------------------------------------------

DSIR_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS tok
  FROM documents
), clean AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
src AS (SELECT tok, count(*) AS src_count FROM clean GROUP BY 1),
ttoks AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS tok
  FROM documents WHERE lang = 'en'
), tclean AS (SELECT doc_id, tok FROM ttoks WHERE tok <> ''),
tgt AS (SELECT tok, count(*) AS tgt_count FROM tclean GROUP BY 1),
stot AS (SELECT sum(src_count) AS src_total, count(*) AS src_vocab FROM src),
ttot AS (SELECT sum(tgt_count) AS tgt_total, count(*) AS tgt_vocab FROM tgt),
scored AS (
  SELECT clean.doc_id,
         ln((coalesce(tgt.tgt_count, 0) + 1.0)
            / (ttot.tgt_total + ttot.tgt_vocab + 1.0))
       - ln((coalesce(src.src_count, 0) + 1.0)
            / (stot.src_total + stot.src_vocab + 1.0)) AS lr
  FROM clean LEFT JOIN src USING (tok) LEFT JOIN tgt USING (tok)
  CROSS JOIN stot CROSS JOIN ttot
),
w AS (SELECT doc_id, count(*) AS n_tokens, sum(lr) AS lw FROM scored GROUP BY 1),
keyed AS (
  SELECT doc_id, n_tokens,
         round(lw, 6) AS log_weight,
         round(lw + -ln(-ln(
           (CAST(('0x' || substring(md5('dsir1' || '|' || CAST(doc_id AS VARCHAR)), 1, 8))
                 AS BIGINT) + 1) / 4294967297.0)), 6) AS sel_key
  FROM w
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       log_weight,
       sel_key
FROM keyed ORDER BY sel_key DESC, doc_id LIMIT 100
"""


@query("dsir_selection", oracle=DSIR_ORACLE)
def dsir_selection_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (operators/selection.py): weight every
    doc by its unigram log likelihood ratio against a target
    distribution (here the corpus' English slice — production passes a
    curated reference corpus), then draw 100 docs ∝ exp(weight) via the
    deterministic hash-seeded Gumbel-top-k. Two vocabulary aggregates +
    one per-doc sum + TakeOrderedAndProject — no global sort, nothing
    data-proportional at the driver."""
    from eligibility_etl_airflow_spark.operators import selection

    d = Catalog(spark, sf_dir).documents
    target = d.filter(F.col("lang") == "en")
    w = selection.importance_log_weights(d, target, "doc_id", "text")
    sel = selection.gumbel_topk_select(w, "id", "log_weight", k=100, seed="dsir1")
    return sel.select(
        F.col("id").cast("long").alias("doc_id"),
        "n_tokens",
        F.round("log_weight", 6).alias("log_weight"),
        "sel_key",
    )


TEMPERATURE_MIX_ORACLE = """
WITH c AS (
  SELECT lang AS s, count(*) AS n
  FROM documents WHERE lang IS NOT NULL GROUP BY lang
),
sh AS (
  SELECT s, n, pow(CAST(n AS DOUBLE), 0.5) / SUM(pow(CAST(n AS DOUBLE), 0.5)) OVER () AS share
  FROM c
),
f AS (
  SELECT s, LEAST(1.0, MIN(n / share) OVER () * share / n) AS frac FROM sh
)
SELECT d.doc_id, d.lang, d.source, d.n_chars
FROM documents d JOIN f ON d.lang = f.s
WHERE (CAST(('0x' || substring(md5('mix7' || '|' || CAST(d.doc_id AS VARCHAR)), 1, 8))
            AS BIGINT) + 1) / 4294967297.0 <= f.frac
"""


@query("temperature_mix_resample", oracle=TEMPERATURE_MIX_ORACLE)
def temperature_mix_resample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature (alpha = 0.5) mixture resampling over the language
    strata (operators/sampling.py:temperature_mix) — the multilingual
    alpha-sampling rule: scarce languages upweighted toward uniform
    without row duplication. Shares ∝ count^alpha; the draw is the same
    key-hash Bernoulli as domain_mix_resample, so the oracle re-derives
    shares (pow/sum window), fractions (min-feasibility window) and the
    md5 threshold in SQL. Share-derivation and proportion invariants
    are unit-tested."""
    from eligibility_etl_airflow_spark.operators import sampling

    d = Catalog(spark, sf_dir).documents
    return sampling.temperature_mix(
        d, "lang", alpha=0.5, seed=7, id_col="doc_id"
    ).select("doc_id", "lang", "source", "n_chars")


# --------------------------------------------------------------------------
# Cross-corpus priority merge — curated-over-crawl collision resolution
# --------------------------------------------------------------------------

MERGE_PRIORITY_ORACLE = r"""
WITH lab AS (
  SELECT doc_id, text,
         COALESCE(TRY_CAST(regexp_extract(source, '[0-9]+') AS INT), 0) % 3 AS pr
  FROM documents
),
h AS (
  SELECT doc_id, pr,
         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS content_hash
  FROM lab
),
r AS (
  SELECT doc_id, pr, content_hash,
         ROW_NUMBER() OVER (PARTITION BY content_hash
                            ORDER BY pr DESC, doc_id ASC) AS rn,
         COUNT(*) OVER (PARTITION BY content_hash) AS n
  FROM h
)
SELECT content_hash,
       CAST(doc_id AS BIGINT) AS kept_doc_id,
       CAST(pr AS BIGINT) AS kept_priority,
       CAST(n AS BIGINT) AS n_copies
FROM r WHERE rn = 1
"""


@query("merge_corpora_priority", oracle=MERGE_PRIORITY_ORACLE)
def merge_corpora_priority_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus merge with priority collision resolution
    (operators/dedup.py:merge_corpora_priority): the documents table
    split into three tiers by source number (the test vehicle for
    curated > books > crawl), merged back with highest-priority-wins
    per content hash, min doc_id tie-break. One union + one
    hash-partitioned window — exact-dedup cost. The tiered relation is
    persisted so the three filter branches probe one cached scan
    instead of re-reading the parquet (and re-running the tier regex)
    per corpus; lifecycle is left to LRU / the bench's clearCache (the
    shingle-table contract — registered queries are self-contained)."""
    from pyspark import StorageLevel

    from eligibility_etl_airflow_spark.operators import dedup

    # digit-less sources tier to 0 in BOTH engines (coalesce over
    # try_cast, mirroring the oracle's TRY_CAST — a bare cast would
    # silently NULL the tier here but ERROR in DuckDB, an asymmetric
    # failure with a silent-drop arm)
    d = Catalog(spark, sf_dir).documents.withColumn(
        "pr",
        F.coalesce(
            F.regexp_extract(F.col("source"), "[0-9]+", 0).try_cast("int"),
            F.lit(0),
        )
        % 3,
    ).persist(StorageLevel.MEMORY_AND_DISK)
    corpora = [
        (f"tier{p}", p, d.filter(F.col("pr") == p).select("doc_id", "text"))
        for p in (2, 1, 0)
    ]
    merged = dedup.merge_corpora_priority(corpora, "doc_id", "text")
    return merged.select(
        "content_hash",
        F.col("doc_id").cast("long").alias("kept_doc_id"),
        F.col("priority").cast("long").alias("kept_priority"),
        F.col("n_copies").cast("long").alias("n_copies"),
    )


# --------------------------------------------------------------------------
# n-gram novelty scoring — how much of a doc exists nowhere else
# --------------------------------------------------------------------------

NOVELTY_ORACLE = r"""
WITH sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           generate_series(1, greatest(len(norm) - 4, 1)),
           i -> norm[i:i+4]
         ))) AS g
  FROM (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
        FROM documents)
),
dfreq AS (SELECT g, count(*) AS df FROM sh GROUP BY 1),
per AS (
  SELECT sh.doc_id, count(*) AS n_grams,
         sum(CASE WHEN dfreq.df = 1 THEN 1 ELSE 0 END) AS n_unique
  FROM sh JOIN dfreq USING (g) GROUP BY 1
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(n_grams AS BIGINT) AS n_grams,
       CAST(n_unique AS BIGINT) AS n_unique,
       round(n_unique * 1.0 / n_grams, 6) AS novelty
FROM per
"""


@query("ngram_novelty_scores", oracle=NOVELTY_ORACLE)
def ngram_novelty_scores_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document novelty: the fraction of a doc's distinct 5-char
    shingles that occur in NO other document — the redundancy/diversity
    diagnostic (novelty ~0 = templated boilerplate even when no dedup
    pair fires; ~1 = unique content).

    Plan shape — deliberately NOT the TF-IDF join-back: a df==1 shingle
    has exactly ONE owner, so ``min(id)`` inside the same frequency
    aggregate already names the doc it belongs to, and the per-doc
    unique counts come from a second (tiny, df==1-only) aggregate — the
    shingle relation is never joined back against the vocabulary
    (at character grain that join is |corpus shingles| × |vocabulary|,
    the measured 12 s hotspot at sf0.1; this shape runs in ~2 s).
    Denominators are map-only ``size(shingles)``. Shingles are 64-bit
    hashes (the ``ngram_jaccard_pairs`` default): counts are exact up
    to xxhash64 collision-freeness — a collision could only merge two
    shingles and LOWER a novelty score w.h.p.-never; the DuckDB oracle
    counts collision-free strings, so parity itself certifies no
    collision fired at the graded scale."""
    from pyspark import StorageLevel

    from eligibility_etl_airflow_spark.operators import neardup

    d = Catalog(spark, sf_dir).documents
    # persisted: the denominator pass and the frequency aggregate both
    # consume the shingled relation (the shingle_table cache contract)
    sh = neardup.shingle_table(d, "doc_id", "text", shingle_k=5).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    per_doc = sh.select(
        F.col("id").cast("long").alias("doc_id"),
        F.size("shingles").cast("long").alias("n_grams"),
    )
    uniq = (
        sh.select("id", F.explode("shingles").alias("g"))
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"), F.min("id").alias("owner"))
        .filter(F.col("df") == 1)
        .groupBy("owner")
        .agg(F.count(F.lit(1)).cast("long").alias("n_unique"))
        .select(F.col("owner").cast("long").alias("doc_id"), "n_unique")
    )
    return per_doc.join(uniq, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        F.coalesce(F.col("n_unique"), F.lit(0)).cast("long").alias("n_unique"),
        F.round(F.coalesce(F.col("n_unique"), F.lit(0)) / F.col("n_grams"), 6).alias(
            "novelty"
        ),
    )


# --------------------------------------------------------------------------
# Data-budget planning — epochs/feasibility table for a target mixture
# --------------------------------------------------------------------------

DATA_BUDGET_ORACLE = r"""
WITH stats AS (
  SELECT lang AS stratum,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT)
             AS tokens_available
  FROM documents GROUP BY 1
),
mix AS (
  SELECT * FROM (VALUES
    ('de', 0.2), ('en', 0.4), ('es', 0.2), ('fr', 0.1), ('zh', 0.1)
  ) AS t(stratum, target_share)
)
SELECT mix.stratum,
       COALESCE(stats.n_docs, 0) AS n_docs,
       COALESCE(stats.tokens_available, 0) AS tokens_available,
       mix.target_share,
       CAST(round(2000000.0 * mix.target_share) AS BIGINT) AS tokens_requested,
       CASE WHEN COALESCE(stats.tokens_available, 0) > 0
            THEN round(CAST(round(2000000.0 * mix.target_share) AS BIGINT)
                       * 1.0 / stats.tokens_available, 6) END AS epochs_needed,
       CAST(CASE WHEN COALESCE(stats.tokens_available, 0)
                      >= CAST(round(2000000.0 * mix.target_share) AS BIGINT)
                 THEN 1 ELSE 0 END AS BIGINT) AS fits_in_one_epoch
FROM mix LEFT JOIN stats USING (stratum)
"""


@query("data_budget_plan", oracle=DATA_BUDGET_ORACLE)
def data_budget_plan_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining data-budget planning (operators/sampling.py:
    plan_data_budget): per language, the tokens available vs the tokens
    a 2M-token training mix requests, and the implied epoch count —
    the feasibility table a mix designer reads before committing a run
    (epochs >> 1 means repeating data). One partial-agg corpus pass +
    a mix-sized literal join; strata absent from the corpus still emit
    an alarm row."""
    from eligibility_etl_airflow_spark.operators import sampling

    d = Catalog(spark, sf_dir).documents
    return sampling.plan_data_budget(
        d,
        "lang",
        text.token_count_bpe(F.col("text")),
        {"en": 0.4, "de": 0.2, "es": 0.2, "fr": 0.1, "zh": 0.1},
        total_token_budget=2_000_000,
    )


# --------------------------------------------------------------------------
# Leakage-safe split — whole near-dup clusters on one side of train/test
# --------------------------------------------------------------------------

LEAKAGE_SAFE_SPLIT_ORACLE = f"""
WITH labels AS ({CC_ORACLE})
SELECT doc_id, cluster_id,
       CASE WHEN substring(md5('split-v1' || '|' || CAST(cluster_id AS VARCHAR)), 1, 8)
                 < '19999999'
            THEN 'test' ELSE 'train' END AS split
FROM labels
"""


@query("leakage_safe_split", oracle=LEAKAGE_SAFE_SPLIT_ORACLE)
def leakage_safe_split_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-granular train/test split (operators/sampling.py::
    assign_split_by_group over operators/components labels): near-dup
    components from the blocked 3-gram-Jaccard graph, then split
    membership hashed from the CLUSTER id — two near-duplicate
    documents can never land on opposite sides, the leakage mode a
    doc-id split admits with probability 2f(1-f) per duplicated pair.
    The split itself is map-only; the oracle recomputes the full
    closure (recursive CTE) plus the md5 threshold, so the composition
    is graded end to end."""
    from eligibility_etl_airflow_spark.operators import sampling
    from eligibility_etl_airflow_spark.plans.llm_pipeline import (
        blocked_component_labels,
    )

    _, labels = blocked_component_labels(spark, sf_dir)
    return sampling.assign_split_by_group(labels, "cluster_id", test_frac=0.1)


# --------------------------------------------------------------------------
# Deterministic per-epoch shuffle — reproducible training data order
# --------------------------------------------------------------------------

EPOCH_SHUFFLE_ORACLE = r"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(row_number() OVER (
           ORDER BY md5('epoch-v1' || '|' || '2' || '|' || CAST(doc_id AS VARCHAR)),
                    doc_id) - 1 AS BIGINT) AS position
FROM documents
"""


@query("epoch_shuffle_order", oracle=EPOCH_SHUFFLE_ORACLE)
def epoch_shuffle_order_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-epoch training-data permutation (operators/sampling.py::
    epoch_shuffle_order): position = rank of md5(seed | epoch | id) —
    a different, REPRODUCIBLE global shuffle per epoch, independent of
    partitioning and engine (resume-from-step depends on exactly this).
    Rank via the distributed prefix-sum family (range partition + one
    scalar per partition + broadcast offsets), not a global window."""
    from eligibility_etl_airflow_spark.operators import sampling

    d = Catalog(spark, sf_dir).documents.select(
        F.col("doc_id").cast("long").alias("doc_id")
    )
    out = sampling.epoch_shuffle_order(d, "doc_id", epoch=2)
    return out.select("doc_id", F.col("position").cast("long").alias("position"))


# --------------------------------------------------------------------------
# Exact-substring decontamination — verbatim eval-answer leak check
# --------------------------------------------------------------------------

SUBSTRING_DECONTAM_ORACLE = r"""
WITH norm AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS n
  FROM documents
),
bench AS (
  -- trim mirrors the operator, which re-normalizes the needle: a
  -- 24-char prefix ending in a space becomes a 23-char Spark needle,
  -- and an untrimmed oracle needle would miss end-of-text matches
  SELECT doc_id AS bench_id, trim(substring(n, 1, 24)) AS b
  FROM norm WHERE doc_id % 97 = 0 AND length(n) >= 24
),
hits AS (
  SELECT norm.doc_id, count(bench.bench_id) AS n_bench_hits
  FROM norm LEFT JOIN bench ON contains(norm.n, bench.b)
  GROUP BY 1
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(n_bench_hits AS BIGINT) AS n_bench_hits,
       CAST(CASE WHEN n_bench_hits > 0 THEN 1 ELSE 0 END AS BIGINT)
           AS contaminated
FROM hits
"""


@query("substring_decontam_flags", oracle=SUBSTRING_DECONTAM_ORACLE)
def substring_decontam_flags_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring decontamination (operators/decontam.py::
    substring_contamination_flags): the verbatim eval-answer leak check
    — a different net from the n-gram tier (short answers never span an
    8-gram). Bench vehicle: the first 24 normalized chars of every
    ~97th document (planting each bench doc as its own guaranteed hit).
    Bench broadcasts into a contains-predicate nested-loop join; the
    corpus scans once and never shuffles at pair grain."""
    from eligibility_etl_airflow_spark.operators import decontam

    d = Catalog(spark, sf_dir).documents
    norm = text.normalize_text(F.col("text"))
    bench = d.filter((F.col("doc_id") % 97 == 0) & (F.length(norm) >= 24)).select(
        F.col("doc_id").alias("bench_id"),
        F.substring(norm, 1, 24).alias("bench_text"),
    )
    out = decontam.substring_contamination_flags(d, bench)
    return out.withColumn("doc_id", F.col("doc_id").cast("long"))


# --------------------------------------------------------------------------
# Containment join — inclusion/quotation detection Jaccard cannot see
# --------------------------------------------------------------------------

CONTAINMENT_ORACLE = r"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, substring(text, 1, 120) AS text
  FROM documents WHERE doc_id % 50 = 0 AND length(text) >= 120
),
toks AS (
  SELECT doc_id,
         regexp_split_to_array(trim(regexp_replace(lower(text),'\s+',' ','g')), ' ') AS tk
  FROM corpus
),
pos AS (
  SELECT doc_id, tk, unnest(range(1, len(tk) - 2)) AS i FROM toks WHERE len(tk) >= 4
),
sh AS (SELECT DISTINCT doc_id,
         tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] AS sh
       FROM pos),
agg AS (SELECT doc_id, list(sh) AS s FROM sh GROUP BY 1)
SELECT CAST(a.doc_id AS BIGINT) AS id_a,
       CAST(b.doc_id AS BIGINT) AS id_b,
       CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS inter_size,
       CAST(len(a.s) AS BIGINT) AS len_a,
       CAST(len(b.s) AS BIGINT) AS len_b,
       round(len(list_intersect(a.s, b.s)) * 1.0 / len(a.s), 6) AS containment_a,
       round(len(list_intersect(a.s, b.s)) * 1.0 / len(b.s), 6) AS containment_b
FROM agg a JOIN agg b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.s, b.s)) * 1000000 >= 800000 * least(len(a.s), len(b.s))
"""


@query("containment_pairs", oracle=CONTAINMENT_ORACLE)
def containment_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inclusion/quotation detection (operators/neardup.py::
    containment_join): pairs whose overlap coefficient
    |∩|/min(|A|,|B|) ≥ 0.8 on word-4-shingles. The vehicle plants a
    120-char excerpt of every ~50th document as a new doc (+1e6 id):
    the excerpt's containment in its source is ≈1 while its Jaccard is
    tiny — the aggregator/quote shape no Jaccard tier can surface. The
    oracle is the brute-force all-pairs join, so parity also proves
    the contained-prefix ⋈ full-postings pruning loses nothing."""
    from eligibility_etl_airflow_spark.operators import neardup

    d = Catalog(spark, sf_dir).documents.select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    planted = d.filter(
        (F.col("doc_id") % 50 == 0) & (F.length("text") >= 120)
    ).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.substring("text", 1, 120).alias("text"),
    )
    corpus = d.unionByName(planted)
    return neardup.containment_join(
        corpus, "doc_id", "text", threshold=0.8, shingle_k=4
    )


# --------------------------------------------------------------------------
# Line-level boilerplate removal — the dedup tier below document near-dup
# --------------------------------------------------------------------------

LINE_DEDUP_ORACLE = r"""
WITH docs2 AS (
  SELECT doc_id,
         'NAV HEADER SHARED' || chr(10) || text || chr(10) || 'FOOTER ' || lang AS t
  FROM documents
),
spl AS (SELECT doc_id, string_split(t, chr(10)) AS l FROM docs2),
lines AS (
  SELECT doc_id, i, l[i] AS line, trim(l[i]) AS key
  FROM spl, unnest(range(1, len(l) + 1)) AS u(i)
),
freq AS (
  SELECT key FROM (
    SELECT key, count(DISTINCT doc_id) AS line_df
    FROM lines WHERE key <> '' GROUP BY 1
  ) WHERE line_df >= 10
),
kept AS (
  SELECT doc_id, i, line FROM lines
  WHERE key = '' OR key NOT IN (SELECT key FROM freq)
),
tot AS (SELECT doc_id, count(*) AS n_lines FROM lines GROUP BY 1),
keptagg AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(line, chr(10) ORDER BY i) AS text_clean
  FROM kept GROUP BY 1
)
SELECT CAST(t.doc_id AS BIGINT) AS doc_id,
       COALESCE(k.text_clean, '') AS text_clean,
       CAST(t.n_lines AS BIGINT) AS n_lines,
       CAST(t.n_lines - COALESCE(k.n_kept, 0) AS BIGINT) AS n_lines_dropped
FROM tot t LEFT JOIN keptagg k USING (doc_id)
"""


@query("line_dedup_boilerplate", oracle=LINE_DEDUP_ORACLE)
def line_dedup_boilerplate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level boilerplate removal (operators/dedup.py::line_dedup):
    the CCNet/RefinedWeb tier BELOW document near-dup — lines whose
    trimmed form appears in ≥10 distinct docs drop (site chrome), while
    unique content survives in original order. The vehicle wraps every
    document in a shared nav header (df = corpus) and a per-language
    footer (df ≈ corpus/5) — both drop; bodies survive. Explode → line
    doc-frequency agg → anti-join of frequent lines → ordered rebuild;
    the frequent-line relation is capped at |lines|/threshold so it
    broadcasts at any scale."""
    from eligibility_etl_airflow_spark.operators import dedup

    d = Catalog(spark, sf_dir).documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.concat(
            F.lit("NAV HEADER SHARED\n"),
            F.col("text"),
            F.lit("\nFOOTER "),
            F.col("lang"),
        ).alias("text"),
    )
    return dedup.line_dedup(d, "doc_id", "text", max_line_df=10)


# --------------------------------------------------------------------------
# Blocklist filtering — the C4 "bad words" curation stage
# --------------------------------------------------------------------------

BLOCKLIST_ORACLE = r"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                            x -> x <> '')) AS BIGINT) AS n_tokens,
       CAST(len(regexp_extract_all(lower(text),
                '\b(dup|spark|vector)\b')) AS BIGINT) AS blocklist_hits,
       round(CASE WHEN len(list_filter(string_split_regex(trim(text), '\s+'),
                                       x -> x <> '')) = 0 THEN 0.0
             ELSE CAST(len(regexp_extract_all(lower(text),
                      '\b(dup|spark|vector)\b')) AS DOUBLE)
                  / len(list_filter(string_split_regex(trim(text), '\s+'),
                                    x -> x <> ''))
             END, 6) AS hit_fraction,
       round(CASE WHEN len(list_filter(string_split_regex(trim(text), '\s+'),
                                       x -> x <> '')) = 0 THEN 0.0
             ELSE CAST(len(regexp_extract_all(lower(text),
                      '\b(dup|spark|vector)\b')) AS DOUBLE)
                  / len(list_filter(string_split_regex(trim(text), '\s+'),
                                    x -> x <> ''))
             END, 6) <= 0.05 AS keep
FROM documents
"""


@query("blocklist_filter", oracle=BLOCKLIST_ORACLE)
def blocklist_filter_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style blocklist filtering (operators/text.py::blocklist_metrics):
    whole-word hit count over a term list folded into ONE JVM-compiled
    alternation — map-only, no explode/join/Python — plus the fraction
    threshold keep decision (0.05 here; 0.0 is C4's any-hit-drops).
    The vehicle blocklist (dup/spark/vector) is drawn from the corpus
    vocabulary so both keep outcomes occur."""
    d = Catalog(spark, sf_dir).documents.select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    return text.blocklist_metrics(
        d, "doc_id", "text", terms=("dup", "spark", "vector"), max_fraction=0.05
    )


# --------------------------------------------------------------------------
# Compression-ratio quality signal — the model-free entropy proxy
# --------------------------------------------------------------------------


@query("compression_ratio_scores")
def compression_ratio_scores_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-ratio quality scoring (operators/text.py::zlib_sizes):
    zlib-compressed bytes / raw UTF-8 bytes per document — repetitive or
    templated text compresses far below natural prose; near-random
    gibberish barely compresses. Arrow-batched pandas UDF (Spark has no
    deflate expression), map-only, composes into the scan stage.
    Rows-only by nature: DuckDB has no zlib surface; the pytest suite
    cross-checks every emitted size against direct ``zlib.compress`` and
    pins the repetitive-vs-random ordering. Flags the low-entropy tail
    (ratio < 0.1) the repetition filters are designed to catch."""
    d = Catalog(spark, sf_dir).documents.select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    sized = d.select(
        "doc_id", text.zlib_sizes(F.col("text")).alias("z")
    ).select(
        "doc_id",
        F.col("z.raw_bytes").alias("raw_bytes"),
        F.col("z.comp_bytes").alias("comp_bytes"),
    )
    ratio = F.when(F.col("raw_bytes") == 0, F.lit(0.0)).otherwise(
        F.round(F.col("comp_bytes").cast("double") / F.col("raw_bytes"), 6)
    )
    return sized.select(
        "doc_id",
        "raw_bytes",
        "comp_bytes",
        ratio.alias("compression_ratio"),
        (ratio < 0.1).alias("low_entropy"),
    )


# --------------------------------------------------------------------------
# URL parsing / canonicalization / domain rollup — the web-crawl tier
# --------------------------------------------------------------------------

# Shared vehicle + parse CTE: the corpus has no URL column, so both
# engines construct one deterministically from doc fields (same
# construct-then-process discipline as the NFC/FHIR vehicles), then run
# the IDENTICAL RE2-compatible grammar regex.
_URL_PARSE_CTE = r"""
WITH withurl AS (
  SELECT doc_id,
         'HTTPS://WWW.' || source || '.Example.COM'
         || CASE WHEN doc_id % 4 = 0 THEN ':443'
                 WHEN doc_id % 4 = 1 THEN ':8080' ELSE '' END
         || '/docs/' || CAST(doc_id % 7 AS VARCHAR)
         || CASE WHEN doc_id % 3 = 0
                 THEN '?utm_source=feed&page=' || CAST(doc_id % 5 AS VARCHAR)
                 WHEN doc_id % 3 = 1
                 THEN '?page=' || CAST(doc_id % 5 AS VARCHAR) || '&ref=rss'
                 ELSE '' END
         || CASE WHEN doc_id % 5 = 0 THEN '#sec' ELSE '' END AS u
  FROM documents
),
parsed AS (
  SELECT doc_id, u,
         lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]+)([^?#]*)(?:\?([^#]*))?(?:#(.*))?$', 1)) AS scheme,
         lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]+)([^?#]*)(?:\?([^#]*))?(?:#(.*))?$', 2)) AS hostport,
         regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]+)([^?#]*)(?:\?([^#]*))?(?:#(.*))?$', 3) AS path,
         coalesce(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]+)([^?#]*)(?:\?([^#]*))?(?:#(.*))?$', 4), '') AS qraw,
         coalesce(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]+)([^?#]*)(?:\?([^#]*))?(?:#(.*))?$', 5), '') AS frag
  FROM withurl
),
comp AS (
  SELECT doc_id, scheme, path, frag,
         regexp_replace(hostport, ':[0-9]+$', '') AS host,
         regexp_extract(hostport, ':([0-9]+)$', 1) AS explicit_port,
         coalesce(array_to_string(list_filter(string_split(qraw, '&'),
           x -> x <> ''
                AND NOT starts_with(split_part(x, '=', 1), 'utm_')
                AND split_part(x, '=', 1) NOT IN ('fbclid', 'gclid', 'ref')),
           '&'), '') AS q
  FROM parsed
),
final AS (
  SELECT doc_id, scheme, host, path, q, frag,
         CASE WHEN explicit_port <> '' THEN explicit_port
              WHEN scheme = 'https' THEN '443'
              WHEN scheme = 'http' THEN '80' ELSE '' END AS port,
         CASE WHEN len(string_split(host, '.')) >= 2
              THEN string_split(host, '.')[-2] || '.' || string_split(host, '.')[-1]
              ELSE host END AS domain,
         CASE WHEN scheme = '' THEN NULL
              ELSE scheme || '://' || host
                   || CASE WHEN explicit_port <> ''
                           AND NOT ((scheme = 'https' AND explicit_port = '443')
                                    OR (scheme = 'http' AND explicit_port = '80'))
                           THEN ':' || explicit_port ELSE '' END
                   || CASE WHEN path = '' THEN '/' ELSE path END
                   || CASE WHEN q <> '' THEN '?' || q ELSE '' END
         END AS canonical
  FROM comp
)
"""

URL_COMPONENTS_ORACLE = (
    _URL_PARSE_CTE
    + """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       scheme AS url_scheme, host AS url_host, port AS url_port,
       path AS url_path, q AS url_query, frag AS url_fragment,
       domain AS url_domain, canonical AS url_canonical
FROM final
"""
)

URL_DOMAIN_STATS_ORACLE = (
    _URL_PARSE_CTE
    + """
SELECT domain,
       CAST(count(*) AS BIGINT) AS n_pages,
       CAST(count(DISTINCT canonical) AS BIGINT) AS n_unique_urls,
       CAST(count(DISTINCT host) AS BIGINT) AS n_hosts
FROM final GROUP BY 1
"""
)


def _with_vehicle_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).documents
    mod = F.col("doc_id") % 4
    q = F.col("doc_id") % 3
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.concat(
            F.lit("HTTPS://WWW."),
            F.col("source"),
            F.lit(".Example.COM"),
            F.when(mod == 0, ":443").when(mod == 1, ":8080").otherwise(""),
            F.lit("/docs/"),
            (F.col("doc_id") % 7).cast("string"),
            F.when(
                q == 0,
                F.concat(
                    F.lit("?utm_source=feed&page="),
                    (F.col("doc_id") % 5).cast("string"),
                ),
            )
            .when(
                q == 1,
                F.concat(
                    F.lit("?page="),
                    (F.col("doc_id") % 5).cast("string"),
                    F.lit("&ref=rss"),
                ),
            )
            .otherwise(""),
            F.when(F.col("doc_id") % 5 == 0, "#sec").otherwise(""),
        ).alias("u"),
    )


@query("url_components_parse", oracle=URL_COMPONENTS_ORACLE)
def url_components_parse_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL parsing + canonicalization (operators/urls.py): one shared
    RE2-compatible grammar regex splits scheme/host/port/path/query/
    fragment; canonicalization lowercases scheme+host, drops default
    ports and fragments, strips tracking params (utm_* by prefix,
    fbclid/gclid/ref by exact name), folds empty paths to "/". All
    built-in column expressions over one scan — map-only, codegen'd,
    the primitive URL-level dedup and domain blocklists key off."""
    from eligibility_etl_airflow_spark.operators import urls

    return urls.url_components(_with_vehicle_url(spark, sf_dir), "u").drop("u")


@query("url_domain_stats", oracle=URL_DOMAIN_STATS_ORACLE)
def url_domain_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-registered-domain crawl rollup (operators/urls.py::
    domain_stats): page count, distinct canonical URLs (the URL-dedup
    grain), distinct hosts. One partial-aggregated shuffle on the
    domain key; output is domains-sized, never pages-sized."""
    from eligibility_etl_airflow_spark.operators import urls

    return urls.domain_stats(_with_vehicle_url(spark, sf_dir), "u")


# --------------------------------------------------------------------------
# HTML → text extraction + script profile — raw-crawl cleaning tier
# --------------------------------------------------------------------------

HTML_EXTRACT_ORACLE = r"""
WITH page AS (
  SELECT doc_id,
         '<html><head><style>p { color: red }</style>'
         || '<script>var t = "<b>' || source || '</b>";</script></head>'
         || '<body><!-- hdr --><h1>' || lang || '</h1><p>'
         || substring(text, 1, 120)
         || ' &amp; ' || source || '&nbsp;&#39;q&#39;</p></body></html>' AS h
  FROM documents
),
stripped AS (
  SELECT doc_id,
         replace(replace(replace(replace(replace(replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(h, '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
                 '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
               '(?s)<!--.*?-->', ' ', 'g'),
             '<[^>]+>', ' ', 'g'),
           '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
           '&#39;', chr(39)), '&nbsp;', ' '), '&amp;', '&') AS s
  FROM page
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       trim(regexp_replace(s, '\s+', ' ', 'g')) AS clean_text,
       CAST(len(list_filter(string_split_regex(
              trim(regexp_replace(s, '\s+', ' ', 'g')), '\s+'),
            x -> x <> '')) AS BIGINT) AS n_tokens
FROM stripped
"""


@query("html_text_extract", oracle=HTML_EXTRACT_ORACLE)
def html_text_extract_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML → text extraction (operators/text.py::strip_html): drop
    script/style/comment blocks WITH contents, then tags, then unescape
    the common named entities (&amp; last — decode-order rule), then
    collapse whitespace. The vehicle wraps every document in a full
    page (style+script head, entity-laden body) both engines construct
    identically. Pure regexp/replace chain — map-only, codegen'd; the
    stage that turns a raw crawl column into the text every downstream
    operator consumes."""
    d = Catalog(spark, sf_dir).documents
    page = d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.concat(
            F.lit('<html><head><style>p { color: red }</style>'),
            F.lit('<script>var t = "<b>'),
            F.col("source"),
            F.lit('</b>";</script></head>'),
            F.lit("<body><!-- hdr --><h1>"),
            F.col("lang"),
            F.lit("</h1><p>"),
            F.substring(F.col("text"), 1, 120),
            F.lit(" &amp; "),
            F.col("source"),
            F.lit("&nbsp;&#39;q&#39;</p></body></html>"),
        ).alias("h"),
    )
    clean = text.strip_html(F.col("h"))
    return page.select(
        "doc_id",
        clean.alias("clean_text"),
        text.token_count_ws(clean).alias("n_tokens"),
    )


SCRIPT_PROFILE_ORACLE = r"""
WITH mixed AS (
  SELECT doc_id,
         substring(text, 1, 40) || ' ' ||
         repeat(chr(1055) || chr(1088), doc_id % 3) ||
         repeat(chr(20013) || chr(25991), doc_id % 2) ||
         CAST(doc_id % 100 AS VARCHAR) AS t
  FROM documents
),
counted AS (
  SELECT doc_id,
         CAST(length(t) AS DOUBLE) AS total,
         CAST(length(t) - length(regexp_replace(t, '[\p{Latin}]', '', 'g')) AS DOUBLE) AS n_latin,
         CAST(length(t) - length(regexp_replace(t, '[\p{Cyrillic}]', '', 'g')) AS DOUBLE) AS n_cyr,
         CAST(length(t) - length(regexp_replace(t, '[\p{Han}]', '', 'g')) AS DOUBLE) AS n_han,
         CAST(length(t) - length(regexp_replace(t, '[\p{Arabic}]', '', 'g')) AS DOUBLE) AS n_ar,
         CAST(length(t) - length(regexp_replace(t, '[0-9]', '', 'g')) AS DOUBLE) AS n_dig,
         CAST(length(t) - length(regexp_replace(t, '[\s]', '', 'g')) AS DOUBLE) AS n_sp
  FROM mixed
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       round(n_latin / greatest(total, 1), 6) AS frac_latin,
       round(n_cyr / greatest(total, 1), 6) AS frac_cyrillic,
       round(n_han / greatest(total, 1), 6) AS frac_han,
       round(n_ar / greatest(total, 1), 6) AS frac_arabic,
       round(n_dig / greatest(total, 1), 6) AS frac_digit,
       round(n_sp / greatest(total, 1), 6) AS frac_space,
       round((total - n_latin - n_cyr - n_han - n_ar - n_dig - n_sp)
             / greatest(total, 1), 6) AS frac_other
FROM counted
"""


@query("script_profile_mixed", oracle=SCRIPT_PROFILE_ORACLE)
def script_profile_mixed_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-script character fractions (operators/text.py::
    script_profile): the mixed-script signal marker-word language ID
    cannot see — wrong-script contamination, transliteration spam,
    mojibake. The vehicle appends deterministic Cyrillic/Han runs and
    digits to each doc; the operator states the script sets in Java
    \\p{IsX} syntax, the oracle in RE2 \\p{X} — the parity hash proves
    the two engines agree on every class. Length-difference counting:
    no explode, no Python, map-only (BMP-only vehicle: both engines
    count BMP chars identically)."""
    d = Catalog(spark, sf_dir).documents
    mixed = d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.concat(
            F.substring(F.col("text"), 1, 40),
            F.lit(" "),
            F.repeat(F.lit("Пр"), (F.col("doc_id") % 3).cast("int")),
            F.repeat(F.lit("中文"), (F.col("doc_id") % 2).cast("int")),
            (F.col("doc_id") % 100).cast("string"),
        ).alias("t"),
    )
    return mixed.select("doc_id", *text.script_profile(F.col("t")))


# --------------------------------------------------------------------------
# Link-graph PageRank — the crawl-tier authority signal
# --------------------------------------------------------------------------

# 5 unrolled power iterations; every iteration rounds to 9 dp on BOTH
# engines so double-sum ordering cannot drift (operators/linkgraph.py
# does the same per-iteration rounding).
PAGERANK_ORACLE = r"""
WITH e0 AS (
  SELECT DISTINCT doc_id % 50 AS src, (doc_id * 7 + 3) % 50 AS dst
  FROM documents WHERE doc_id % 50 <> (doc_id * 7 + 3) % 50
),
nodes AS (
  SELECT DISTINCT id FROM (
    SELECT src AS id FROM e0 UNION ALL SELECT dst FROM e0
  )
),
total AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
od AS (SELECT src, CAST(count(*) AS DOUBLE) AS deg FROM e0 GROUP BY 1),
ind AS (SELECT dst, count(*) AS indeg FROM e0 GROUP BY 1),
it0 AS (
  SELECT id, round(1.0 / (SELECT n FROM total), 9) AS rank FROM nodes
),
it1 AS (
  SELECT nd.id, round(0.15 / (SELECT n FROM total)
         + 0.85 * coalesce(s.c, 0), 9) AS rank
  FROM nodes nd LEFT JOIN (
    SELECT e.dst AS id, sum(p.rank / od.deg) AS c
    FROM e0 e JOIN it0 p ON e.src = p.id JOIN od ON od.src = e.src
    GROUP BY e.dst) s ON nd.id = s.id
),
it2 AS (
  SELECT nd.id, round(0.15 / (SELECT n FROM total)
         + 0.85 * coalesce(s.c, 0), 9) AS rank
  FROM nodes nd LEFT JOIN (
    SELECT e.dst AS id, sum(p.rank / od.deg) AS c
    FROM e0 e JOIN it1 p ON e.src = p.id JOIN od ON od.src = e.src
    GROUP BY e.dst) s ON nd.id = s.id
),
it3 AS (
  SELECT nd.id, round(0.15 / (SELECT n FROM total)
         + 0.85 * coalesce(s.c, 0), 9) AS rank
  FROM nodes nd LEFT JOIN (
    SELECT e.dst AS id, sum(p.rank / od.deg) AS c
    FROM e0 e JOIN it2 p ON e.src = p.id JOIN od ON od.src = e.src
    GROUP BY e.dst) s ON nd.id = s.id
),
it4 AS (
  SELECT nd.id, round(0.15 / (SELECT n FROM total)
         + 0.85 * coalesce(s.c, 0), 9) AS rank
  FROM nodes nd LEFT JOIN (
    SELECT e.dst AS id, sum(p.rank / od.deg) AS c
    FROM e0 e JOIN it3 p ON e.src = p.id JOIN od ON od.src = e.src
    GROUP BY e.dst) s ON nd.id = s.id
),
it5 AS (
  SELECT nd.id, round(0.15 / (SELECT n FROM total)
         + 0.85 * coalesce(s.c, 0), 9) AS rank
  FROM nodes nd LEFT JOIN (
    SELECT e.dst AS id, sum(p.rank / od.deg) AS c
    FROM e0 e JOIN it4 p ON e.src = p.id JOIN od ON od.src = e.src
    GROUP BY e.dst) s ON nd.id = s.id
)
SELECT CAST(r.id AS BIGINT) AS node_id,
       CAST(coalesce(od.deg, 0) AS BIGINT) AS out_degree,
       CAST(coalesce(ind.indeg, 0) AS BIGINT) AS in_degree,
       round(r.rank, 6) AS rank
FROM it5 r
LEFT JOIN od ON od.src = r.id
LEFT JOIN ind ON ind.dst = r.id
"""


@query("domain_pagerank", oracle=PAGERANK_ORACLE)
def domain_pagerank_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over a link graph (operators/linkgraph.py::pagerank):
    the crawl-tier authority prior (sampling weights, spam
    downweighting, seed selection). The vehicle derives a deterministic
    50-node digraph from doc ids (dedup'd, self-loops removed — the
    same normalization a crawl extractor applies). 5 power iterations,
    damping 0.85, per-iteration 9-dp rounding pins cross-engine and
    cross-partitioning determinism; per iteration: one src-key join,
    one dst-key partial-agg sum, lineage checkpoint-truncated. Degrees
    attached from the shared distinct edge relation."""
    from eligibility_etl_airflow_spark.operators import linkgraph

    d = Catalog(spark, sf_dir).documents
    edges = (
        d.select(
            (F.col("doc_id") % 50).alias("src"),
            ((F.col("doc_id") * 7 + 3) % 50).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    pr = linkgraph.pagerank(edges, iterations=5)
    deg = linkgraph.degree_stats(edges)
    return pr.join(deg, "id", "left").select(
        F.col("id").cast("long").alias("node_id"),
        F.coalesce("out_degree", F.lit(0)).cast("long").alias("out_degree"),
        F.coalesce("in_degree", F.lit(0)).cast("long").alias("in_degree"),
        F.round("rank", 6).alias("rank"),
    )


# --------------------------------------------------------------------------
# HTML link harvesting → domain-grain edge rollup
# --------------------------------------------------------------------------

# The oracle is an INDEPENDENT construction of the expected edges: the
# vehicle builds each page's hrefs from doc_id arithmetic, so the
# expected (src, dst) pairs are computable without parsing any HTML at
# all — the whole harvest → resolve → canonicalize → domain chain is
# checked end-to-end against first principles. The in-page root-relative
# and self-domain links must vanish (self-edges drop at domain grain),
# and the tracking-parameterized href must COLLAPSE onto the plain one
# via canonicalization — hence exactly 2 links per page per target (a
# canonicalization regression would surface as distinct utm dst rows).
LINK_EDGES_ORACLE = """
SELECT 'example' || CAST(doc_id % 2 AS VARCHAR) || '.com' AS src,
       'site' || CAST(doc_id % 7 AS VARCHAR) || '.org' AS dst,
       CAST(2 * count(*) AS BIGINT) AS n_links
FROM documents
GROUP BY 1, 2
"""


@query("link_graph_edges", oracle=LINK_EDGES_ORACLE)
def link_graph_edges_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML link harvesting (operators/urls.py::html_links +
    extract_link_edges): hrefs out of raw HTML (one regexp pass),
    protocol-/root-relative targets resolved against the source page,
    both ends canonicalized, domain-grain edges emitted with self-domain
    links dropped — the relation domain_pagerank consumes. The vehicle
    plants one external link, one tracking-parameterized variant of it,
    one root-relative self link, and one absolute self-domain link per
    page; the oracle reconstructs the expected edges from the same
    doc-id arithmetic without parsing HTML, so the entire chain is
    verified end to end. One explode + one partial-agg shuffle."""
    from eligibility_etl_airflow_spark.operators import urls

    d = Catalog(spark, sf_dir).documents
    src_url = F.concat(
        F.lit("https://www.example"),
        (F.col("doc_id") % 2).cast("string"),
        F.lit(".com/p/"),
        (F.col("doc_id") % 20).cast("string"),
    )
    dst = F.concat(
        F.lit("https://site"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".org/q/"),
        (F.col("doc_id") % 5).cast("string"),
    )
    html = F.concat(
        F.lit('<html><body><a href="'),
        dst,
        F.lit('">x</a> <a href="'),
        dst,
        F.lit('?utm_source=z">x-tracked</a> <a href="/about">self-rel</a>'),
        F.lit(' <a href="'),
        src_url,
        F.lit('/other">self-abs</a></body></html>'),
    )
    # The whole synth→harvest→resolve→canonicalize chain hangs off
    # doc_id alone, and the documents scan is a single split at bench
    # scale — spread the narrow doc_id column BEFORE synthesizing so
    # the regex parse + PSL canonicalization run in parallel (the
    # round-robin ships only longs; passthrough on a split scan).
    from eligibility_etl_airflow_spark.operators.parallel import ensure_parallelism

    crawl = ensure_parallelism(d.select("doc_id")).select(
        src_url.alias("url"), html.alias("html")
    )
    return (
        urls.extract_link_edges(crawl, "url", "html")
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("long").alias("n_links"))
    )


# --------------------------------------------------------------------------
# Anchor-text pairs — the free query→document relevance signal
# --------------------------------------------------------------------------

# First-principles oracle (no HTML parsing): the vehicle's two anchors
# per page are reconstructed from the same doc-id arithmetic. The second
# anchor carries nested markup + ragged whitespace that must normalize
# to single-space text.
ANCHOR_PAIRS_ORACLE = """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       'https://t' || CAST(doc_id % 9 AS VARCHAR) || '.example.org/d' AS href,
       'read about ' || lang AS anchor
FROM documents
UNION ALL
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       '/local/' || CAST(doc_id % 4 AS VARCHAR) AS href,
       'bold ' || source || ' link' AS anchor
FROM documents
"""


@query("anchor_text_pairs", oracle=ANCHOR_PAIRS_ORACLE)
def anchor_text_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text harvesting (operators/urls.py::html_anchor_texts):
    (href, anchor) pairs — what the linking page calls the target, the
    classic free relevance signal for retrieval corpora (anchor →
    target is a query→document pair). One case-insensitive regexp pass
    per page extracts whole <a> elements; href + inner text peel per
    element with nested tags stripped and whitespace collapsed. The
    oracle reconstructs both planted anchors per page from first
    principles — markup normalization is verified end to end. One
    explode, no joins, no Python."""
    from eligibility_etl_airflow_spark.operators import urls

    d = Catalog(spark, sf_dir).documents
    html = F.concat(
        F.lit('<html><body><a href="https://t'),
        (F.col("doc_id") % 9).cast("string"),
        F.lit('.example.org/d">read   about\n'),
        F.col("lang"),
        F.lit("</a> <p>filler</p> <a href='/local/"),
        (F.col("doc_id") % 4).cast("string"),
        F.lit("'><b>bold</b> "),
        F.col("source"),
        F.lit(" <i>link</i></a></body></html>"),
    )
    pagified = d.select(
        F.col("doc_id").cast("long").alias("doc_id"), html.alias("html")
    )
    return pagified.select(
        "doc_id",
        F.explode(urls.html_anchor_texts(F.col("html"))).alias("p"),
    ).select("doc_id", F.col("p.href").alias("href"), F.col("p.anchor").alias("anchor"))


# --------------------------------------------------------------------------
# Crawl politeness: robots.txt admission + frontier scheduling
# --------------------------------------------------------------------------

# First-principles oracle: the vehicle's robots.txt (identical rules per
# domain, crawl-delay varying by domain) and six URL path shapes are both
# reconstructed from doc_id arithmetic, so the oracle knows each URL's
# fate without parsing anything — which is exactly what makes it a check
# of the WHOLE chain (group-stateful parse, specific-agent precedence,
# wildcard compile, longest-match + allow-tie resolution, delay lookup).
ROBOTS_FILTER_ORACLE = """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       'https://h' || CAST(doc_id % 3 AS VARCHAR) || '.ex'
           || CAST(doc_id % 7 AS VARCHAR) || '.org'
           || CASE doc_id % 6
                WHEN 0 THEN '/index.html'
                WHEN 1 THEN '/private/x'
                WHEN 2 THEN '/private/pub/x'
                WHEN 3 THEN '/files/a.pdf'
                WHEN 4 THEN '/files/a.pdf?x=1'
                ELSE '/privateer' END AS url,
       doc_id % 6 IN (0, 2, 4) AS crawl_allowed,
       CASE doc_id % 6
            WHEN 1 THEN '/private'
            WHEN 5 THEN '/private'
            WHEN 2 THEN '/private/pub'
            WHEN 3 THEN '/*.pdf$'
            ELSE '' END AS matched_pattern,
       CAST((doc_id % 7) % 4 + 1 AS DOUBLE) AS crawl_delay
FROM documents
"""


@query("robots_url_filter", oracle=ROBOTS_FILTER_ORACLE)
def robots_url_filter_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robots.txt URL admission (operators/robots.py): parse per-domain
    robots.txt (JVM fold — group-stateful, comment-stripping,
    specific-agent precedence: the googlebot Disallow-everything group
    must NOT leak into the '*' decision), compile ``*``/``$`` wildcard
    rules to anchored regexes by column arithmetic, and resolve every
    frontier URL by longest-match with Allow-beats-Disallow ties; the
    per-domain Crawl-delay rides along. URLs matching no rule are
    allowed (robots is deny-by-exception). Rules relation is
    domain-sized; the admission join broadcasts it here."""
    from eligibility_etl_airflow_spark.operators import robots as R

    d = Catalog(spark, sf_dir).documents
    m = (F.col("doc_id") % 7).cast("string")
    path = (
        F.when(F.col("doc_id") % 6 == 0, "/index.html")
        .when(F.col("doc_id") % 6 == 1, "/private/x")
        .when(F.col("doc_id") % 6 == 2, "/private/pub/x")
        .when(F.col("doc_id") % 6 == 3, "/files/a.pdf")
        .when(F.col("doc_id") % 6 == 4, "/files/a.pdf?x=1")
        .otherwise("/privateer")
    )
    frontier = d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.concat(
            F.lit("https://h"),
            (F.col("doc_id") % 3).cast("string"),
            F.lit(".ex"),
            m,
            F.lit(".org"),
            path,
        ).alias("url"),
    )
    robots_txt = F.concat(
        F.lit(
            "# synthetic policy\nUser-agent: googlebot\nDisallow: /\n\n"
            "User-agent: *\nDisallow: /private   # comment\n"
            "Allow: /private/pub\nDisallow: /*.pdf$\nCrawl-delay: "
        ),
        ((F.col("dnum") % 4) + 1).cast("string"),
        F.lit("\n\nUser-agent: other\nDisallow: /other\n"),
    )
    # robots.txt is fetched per HOST (RFC 9309), so the dim enumerates
    # every host the frontier can produce; the policy text varies only
    # by the ex{d} site, the delay by d%4+1
    dim = (
        d.select(
            (F.col("doc_id") % 3).alias("hnum"), (F.col("doc_id") % 7).alias("dnum")
        )
        .distinct()
        .select(
            F.concat(
                F.lit("h"),
                F.col("hnum").cast("string"),
                F.lit(".ex"),
                F.col("dnum").cast("string"),
                F.lit(".org"),
            ).alias("rhost"),
            robots_txt.alias("robots"),
        )
    )
    rules = R.robots_rules(dim, "rhost", "robots")
    admitted = R.robots_allowed(frontier, "url", rules, broadcast_rules=True)
    from eligibility_etl_airflow_spark.operators import urls as U

    delays = dim.select(
        F.col("rhost"),
        R.robots_crawl_delay(F.col("robots")).alias("crawl_delay"),
    )
    return admitted.join(
        F.broadcast(delays),
        U.url_host(F.col("url")) == F.col("rhost"),
    ).select("doc_id", "url", "crawl_allowed", "matched_pattern", "crawl_delay")


FRONTIER_SCHEDULE_ORACLE = """
WITH fr AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         'https://www.ex' || CAST(doc_id % 7 AS VARCHAR) || '.org/p'
             || CAST(doc_id AS VARCHAR) AS url,
         CAST(doc_id % 101 AS DOUBLE) AS priority,
         'ex' || CAST(doc_id % 7 AS VARCHAR) || '.org' AS domain
  FROM documents
), r AS (
  SELECT *,
         row_number() OVER (PARTITION BY domain
                            ORDER BY priority DESC, url) - 1 AS rk
  FROM fr
)
SELECT doc_id, url, priority, domain,
       CAST(FLOOR(rk / 5.0) AS INT) AS fetch_cycle,
       CAST(rk % 5 AS INT) AS cycle_slot
FROM r WHERE rk < 40
"""


@query("frontier_schedule", oracle=FRONTIER_SCHEDULE_ORACLE)
def frontier_schedule_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness-budgeted frontier scheduling
    (operators/robots.py::frontier_schedule): within each registered
    domain, URLs rank by priority (PageRank × novelty in the real
    funnel; deterministic arithmetic here) and get a fetch cycle of at
    most 5 URLs per domain per cycle, queue capped at 40 per domain.
    One window over the domain partition — politeness is per-domain
    sequential by definition, so domain is the minimal partition
    grain."""
    from eligibility_etl_airflow_spark.operators import robots as R

    d = Catalog(spark, sf_dir).documents
    frontier = d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.concat(
            F.lit("https://www.ex"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".org/p"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        (F.col("doc_id") % 101).cast("double").alias("priority"),
    )
    return R.frontier_schedule(
        frontier, "url", "priority", per_domain_budget=5, max_per_domain=40
    )


# --------------------------------------------------------------------------
# Export shard manifest — the data-loader contract of the training export
# --------------------------------------------------------------------------

SHARD_MANIFEST_ORACLE = """
SELECT CAST(doc_id % 8 AS INT) AS shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS n_tokens,
       CAST(min(doc_id) AS BIGINT) AS min_id,
       CAST(max(doc_id) AS BIGINT) AS max_id,
       CAST(CAST(sum(CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT))
            AS DECIMAL(38,0)) AS VARCHAR) AS checksum
FROM documents
GROUP BY 1
"""


@query("shard_manifest", oracle=SHARD_MANIFEST_ORACLE)
def shard_manifest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-export shard manifest (operators/packing.py::
    shard_manifest): per-shard doc count, token sum, id span, and an
    order-independent content checksum (sum of 60-bit md5 prefixes as
    decimal — commutative, so layout/partitioning-invariant; a reader
    re-derives it shard-local to detect corruption). One
    partial-aggregated groupBy on the shard key; output is shards-sized.
    Shard here is doc_id%8 so the oracle can reconstruct membership;
    production uses balanced_token_shards' contiguous assignment."""
    from eligibility_etl_airflow_spark.operators import packing as P

    d = Catalog(spark, sf_dir).documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        (F.col("doc_id") % 8).cast("int").alias("shard"),
        F.col("n_chars").cast("long").alias("tokens"),
        "text",
    )
    m = P.shard_manifest(d, "shard", "doc_id", "tokens", "text")
    # decimal -> string for the compare harness (pandas renders DuckDB
    # decimals as float64 and loses the low digits)
    return m.withColumn("checksum", F.col("checksum").cast("string"))


# --------------------------------------------------------------------------
# PCA whitening over the embeddings table — ANN/semantic-dedup preprocessing
# --------------------------------------------------------------------------


@query("pca_whiten_embeddings")
def pca_whiten_embeddings_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA whitening (operators/pca.py): fit on one distributed
    moment pass (d²+d+1 scalars to the driver, corpus-size-independent),
    eigendecompose driver-side, project back as one Arrow-batched matmul
    per batch. Rows-only: the basis is data-learned so no static SQL
    twin exists; tests/test_pca.py pins the math against numpy
    (moments, identity covariance after whitening, sign-pinned
    layout-stable basis). Emits the top-4 whitened coordinates rounded
    to 4 dp plus the explained-variance share of the retained basis
    (retained eigenvalue mass / full covariance trace, in [0,1])."""
    from eligibility_etl_airflow_spark.operators import pca as P

    e = Catalog(spark, sf_dir).embeddings
    model = P.fit_pca(e, "embedding", k=4)
    share = model.explained_share
    y = P.pca_transform(model, F.col("embedding"))
    return e.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.round(F.element_at(y, 1), 4).alias("w1"),
        F.round(F.element_at(y, 2), 4).alias("w2"),
        F.round(F.element_at(y, 3), 4).alias("w3"),
        F.round(F.element_at(y, 4), 4).alias("w4"),
        F.lit(round(share, 6)).alias("explained_share"),
    )


# --------------------------------------------------------------------------
# Corpus drift: per-source Jensen-Shannon divergence vs the whole corpus
# --------------------------------------------------------------------------

CORPUS_DRIFT_ORACLE = """
WITH toks AS (
  SELECT source AS slice,
         unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS tok
  FROM documents
), t2 AS (
  SELECT slice, tok FROM toks WHERE tok <> ''
), sc AS (
  SELECT slice, tok, CAST(count(*) AS DOUBLE) AS c FROM t2 GROUP BY 1, 2
), stot AS (
  SELECT slice, sum(c) AS n_slice, count(*) AS vocab_slice FROM sc GROUP BY 1
), gc AS (
  SELECT tok, sum(c) AS g FROM sc GROUP BY 1
), gtot AS (
  SELECT sum(g) AS n_all FROM gc
), pq AS (
  SELECT sc.slice, stot.n_slice, stot.vocab_slice,
         sc.c / stot.n_slice AS p,
         gc.g / gtot.n_all AS q
  FROM sc JOIN stot USING (slice) JOIN gc USING (tok) CROSS JOIN gtot
)
SELECT slice,
       CAST(n_slice AS BIGINT) AS n_tokens,
       CAST(vocab_slice AS BIGINT) AS vocab_size,
       round(sum(p / 2 * log2(p / ((p + q) / 2))
                 + q / 2 * log2(q / ((p + q) / 2)))
             + (1 - sum(q)) / 2, 6) AS js_divergence
FROM pq
GROUP BY slice, n_slice, vocab_slice
"""


@query("corpus_drift_js", oracle=CORPUS_DRIFT_ORACLE)
def corpus_drift_js_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus drift monitor (operators/drift.py): Jensen-Shannon
    divergence between each source slice's unigram distribution and the
    corpus-wide one — symmetric, bounded [0,1] bits, defined across
    differing supports. The p=0 tail telescopes to (1-Σq)/2, so no
    outer join against the vocabulary: one explode, two partial-agg
    shuffles, one token join, one per-slice sum; output is
    slices-sized."""
    from eligibility_etl_airflow_spark.operators import drift

    d = Catalog(spark, sf_dir).documents
    return drift.js_divergence_by_slice(d, "source", "text")


# --------------------------------------------------------------------------
# Contrastive triplet mining — embedding-model training pairs
# --------------------------------------------------------------------------


@query("contrastive_triplets")
def contrastive_triplets_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive (anchor, positive, hard-negative) mining
    (operators/contrastive.py): one MinHash-LSH candidate pass serves
    both sides — verified Jaccard in [0.4, 0.98] is a positive
    (paraphrase, not exact dup), band collisions at <= 0.25 are the
    lexically-colliding hard negatives. r=1 banding (bands == num_perm)
    trades band selectivity for recall of the low-Jaccard colliders;
    the BUCKET CAP is the cost knob — pair expansion is quadratic in
    it, and cap=32 keeps ~90% of the triplet yield at ~1/5 the cost of
    cap=200 (measured at sf0.1; mining is opportunistic by contract,
    so a capped-away collider just means that anchor tops up with a
    random negative downstream). Rows-only: LSH candidate sets have no
    SQL twin; tests/test_contrastive.py pins planted-positive/collider
    behavior and determinism."""
    from eligibility_etl_airflow_spark.operators import contrastive as C

    d = Catalog(spark, sf_dir).documents
    return C.contrastive_triplets(
        d,
        "doc_id",
        "text",
        pos_min=0.4,
        pos_max=0.98,
        neg_max=0.25,
        num_perm=16,
        bands=16,
        max_bucket_size=32,
    )


# --------------------------------------------------------------------------
# Sitemap parsing — the crawler's other frontier seed
# --------------------------------------------------------------------------

SITEMAP_ORACLE = """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       'https://s' || CAST(doc_id % 5 AS VARCHAR) || '.example.org/page/'
           || CAST(doc_id AS VARCHAR) AS loc,
       CAST(CAST(DATE '2026-01-01' + INTERVAL (doc_id % 28) DAY AS DATE)
            AS VARCHAR) AS lastmod
FROM documents
UNION ALL
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       'https://s' || CAST(doc_id % 5 AS VARCHAR) || '.example.org/extra/'
           || CAST(doc_id AS VARCHAR) AS loc,
       '' AS lastmod
FROM documents
"""


@query("sitemap_parse", oracle=SITEMAP_ORACLE)
def sitemap_parse_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap harvesting (operators/urls.py::sitemap_entries): (loc,
    lastmod) entries out of sitemap.xml — what a site asks to have
    crawled, the frontier seed complementing link discovery. One
    case-insensitive regexp pass per document for whole <url> elements,
    per-element peel for loc/lastmod (the second entry has none —
    lastmod=''), whitespace trimmed. The oracle reconstructs both
    planted entries from doc_id arithmetic. Map-only + one explode."""
    from eligibility_etl_airflow_spark.operators import urls as U

    d = Catalog(spark, sf_dir).documents
    lastmod = F.date_format(
        F.date_add(F.to_date(F.lit("2026-01-01")), (F.col("doc_id") % 28).cast("int")),
        "yyyy-MM-dd",
    )
    xml = F.concat(
        F.lit('<?xml version="1.0"?><urlset><url><loc> https://s'),
        (F.col("doc_id") % 5).cast("string"),
        F.lit(".example.org/page/"),
        F.col("doc_id").cast("string"),
        F.lit(" </loc><lastmod>"),
        lastmod,
        F.lit("</lastmod></url><URL><loc>https://s"),
        (F.col("doc_id") % 5).cast("string"),
        F.lit(".example.org/extra/"),
        F.col("doc_id").cast("string"),
        F.lit("</loc></URL></urlset>"),
    )
    return (
        d.select(F.col("doc_id").cast("long").alias("doc_id"), xml.alias("xml"))
        .select("doc_id", F.explode(U.sitemap_entries(F.col("xml"))).alias("e"))
        .select(
            "doc_id",
            F.col("e.loc").alias("loc"),
            F.col("e.lastmod").alias("lastmod"),
        )
    )


# --------------------------------------------------------------------------
# HITS hubs & authorities — PageRank's complement in the link tier
# --------------------------------------------------------------------------

# 3 unrolled iterations, L1 normalization, per-iteration 9-dp rounding on
# both engines (the pagerank oracle's discipline, doubled: two relations
# per iteration).
HITS_ORACLE = r"""
WITH e0 AS (
  SELECT DISTINCT doc_id % 40 AS src, (doc_id * 11 + 5) % 40 AS dst
  FROM documents WHERE doc_id % 40 <> (doc_id * 11 + 5) % 40
),
nodes AS (
  SELECT DISTINCT id FROM (
    SELECT src AS id FROM e0 UNION ALL SELECT dst FROM e0
  )
),
h0 AS (
  SELECT id, round(1.0 / (SELECT count(*) FROM nodes), 9) AS hub FROM nodes
),
a1r AS (SELECT e.dst AS id, sum(h.hub) AS s FROM e0 e JOIN h0 h ON e.src = h.id GROUP BY 1),
a1 AS (SELECT nd.id, round(coalesce(r.s, 0) / (SELECT sum(s) FROM a1r), 9) AS authority
       FROM nodes nd LEFT JOIN a1r r ON nd.id = r.id),
h1r AS (SELECT e.src AS id, sum(a.authority) AS s FROM e0 e JOIN a1 a ON e.dst = a.id GROUP BY 1),
h1 AS (SELECT nd.id, round(coalesce(r.s, 0) / (SELECT sum(s) FROM h1r), 9) AS hub
       FROM nodes nd LEFT JOIN h1r r ON nd.id = r.id),
a2r AS (SELECT e.dst AS id, sum(h.hub) AS s FROM e0 e JOIN h1 h ON e.src = h.id GROUP BY 1),
a2 AS (SELECT nd.id, round(coalesce(r.s, 0) / (SELECT sum(s) FROM a2r), 9) AS authority
       FROM nodes nd LEFT JOIN a2r r ON nd.id = r.id),
h2r AS (SELECT e.src AS id, sum(a.authority) AS s FROM e0 e JOIN a2 a ON e.dst = a.id GROUP BY 1),
h2 AS (SELECT nd.id, round(coalesce(r.s, 0) / (SELECT sum(s) FROM h2r), 9) AS hub
       FROM nodes nd LEFT JOIN h2r r ON nd.id = r.id),
a3r AS (SELECT e.dst AS id, sum(h.hub) AS s FROM e0 e JOIN h2 h ON e.src = h.id GROUP BY 1),
a3 AS (SELECT nd.id, round(coalesce(r.s, 0) / (SELECT sum(s) FROM a3r), 9) AS authority
       FROM nodes nd LEFT JOIN a3r r ON nd.id = r.id),
h3r AS (SELECT e.src AS id, sum(a.authority) AS s FROM e0 e JOIN a3 a ON e.dst = a.id GROUP BY 1),
h3 AS (SELECT nd.id, round(coalesce(r.s, 0) / (SELECT sum(s) FROM h3r), 9) AS hub
       FROM nodes nd LEFT JOIN h3r r ON nd.id = r.id)
SELECT CAST(nd.id AS BIGINT) AS node_id,
       round(h3.hub, 6) AS hub,
       round(a3.authority, 6) AS authority
FROM nodes nd JOIN h3 ON nd.id = h3.id JOIN a3 ON nd.id = a3.id
"""


@query("domain_hits", oracle=HITS_ORACLE)
def domain_hits_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (operators/linkgraph.py::hits) —
    PageRank's complement: hubs are link directories, authorities are
    what good hubs point AT; crawl seed-list builders want both. Same
    deterministic digraph-vehicle discipline as domain_pagerank (40
    nodes from doc-id arithmetic), 3 L1-normalized iterations,
    per-iteration 9-dp rounding both engines. Per iteration: two key
    joins + two partial-agg sums + two broadcast scalar
    normalizations."""
    from eligibility_etl_airflow_spark.operators import linkgraph

    d = Catalog(spark, sf_dir).documents
    edges = (
        d.select(
            (F.col("doc_id") % 40).alias("src"),
            ((F.col("doc_id") * 11 + 5) % 40).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    return linkgraph.hits(edges, iterations=3).select(
        F.col("id").cast("long").alias("node_id"),
        F.round("hub", 6).alias("hub"),
        F.round("authority", 6).alias("authority"),
    )


# --------------------------------------------------------------------------
# Corpus data card — the dataset's cover page
# --------------------------------------------------------------------------

DATA_CARD_ORACLE = r"""
WITH base AS (
  SELECT len(regexp_extract_all(text, '\S+')) AS nt,
         length(text) AS nc,
         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
         lang, source
  FROM documents
),
tot AS (
  SELECT count(*) AS n, sum(nt) AS t, avg(nc) AS mc,
         count(DISTINCT fp) AS df
  FROM base
)
SELECT 'n_docs' AS metric, CAST(n AS DOUBLE) AS value FROM tot
UNION ALL SELECT 'total_ws_tokens', CAST(t AS DOUBLE) FROM tot
UNION ALL SELECT 'mean_chars', round(mc, 6) FROM tot
UNION ALL SELECT 'exact_dup_rate',
                 round(1.0 - CAST(df AS DOUBLE) / n, 6) FROM tot
UNION ALL
SELECT 'lang_share:' || lang,
       round(CAST(count(*) AS DOUBLE) / (SELECT n FROM tot), 6)
FROM base GROUP BY lang
UNION ALL
SELECT 'source_share:' || source,
       round(CAST(count(*) AS DOUBLE) / (SELECT n FROM tot), 6)
FROM base GROUP BY source
"""


@query("corpus_data_card", oracle=DATA_CARD_ORACLE)
def corpus_data_card_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus data card (pipelines.corpus_data_card): the dataset
    cover-page metrics as (metric, value) rows — size, token total,
    mean length, exact-dup rate at the content-fingerprint grain, and
    lang/source mix shares. Two partial-agg passes + broadcast share
    normalization; output is facets-sized, nothing data-proportional
    moves."""
    from eligibility_etl_airflow_spark import pipelines as pl

    return pl.corpus_data_card(Catalog(spark, sf_dir).documents)


# --------------------------------------------------------------------------
# Binary payload triage — the ingest gate ahead of the text pipeline
# --------------------------------------------------------------------------

PAYLOAD_TRIAGE_ORACLE = r"""
WITH base AS (
  SELECT doc_id,
         regexp_replace(lower(substring(text, 1, 40)), '[^a-z ]', '', 'g') AS t
  FROM documents
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       doc_id % 3 <> 1 AS valid_utf8,
       doc_id % 3 = 2 AS has_nul,
       doc_id % 3 = 0 AS is_text,
       CAST(length(t) + CASE WHEN doc_id % 3 = 0 THEN 0 ELSE 1 END
            AS BIGINT) AS n_bytes,
       CASE doc_id % 3
            WHEN 0 THEN t
            WHEN 1 THEN t || chr(65533)
            ELSE NULL END AS text
FROM base
"""


@query("payload_triage", oracle=PAYLOAD_TRIAGE_ORACLE)
def payload_triage_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload triage (operators/multimodal.py::payload_triage):
    classify raw bytes before the text pipeline — valid UTF-8 + no NUL
    = text; invalid sequences repair to U+FFFD (page demoted, not
    lost); NUL byte = binary, routed to the media tier. The vehicle
    plants all three shapes from doc-id arithmetic (clean / trailing
    0xFF / NUL prefix) over ASCII-normalized text so the oracle
    reconstructs every output including the repaired string. Built-in
    JVM UTF-8 validation family, map-only."""
    from eligibility_etl_airflow_spark.operators import multimodal as M

    d = Catalog(spark, sf_dir).documents
    t = F.regexp_replace(
        F.lower(F.substring(F.col("text"), 1, 40)), "[^a-z ]", ""
    )
    payload = (
        F.when(F.col("doc_id") % 3 == 1,
               F.concat(F.encode(t, "UTF-8"), F.unhex(F.lit("FF"))))
        .when(F.col("doc_id") % 3 == 2,
              F.concat(F.unhex(F.lit("00")), F.encode(t, "UTF-8")))
        .otherwise(F.encode(t, "UTF-8"))
    )
    rel = d.select(
        F.col("doc_id").cast("long").alias("doc_id"), payload.alias("payload")
    )
    return M.payload_triage(rel, "payload").drop("payload")


PAIR_DRIFT_ORACLE = r"""
WITH ta AS (
  SELECT tok, CAST(count(*) AS DOUBLE) AS c FROM (
    SELECT unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS tok
    FROM documents WHERE doc_id % 2 = 0
  ) WHERE tok <> '' GROUP BY tok
), tb AS (
  SELECT tok, CAST(count(*) AS DOUBLE) AS c FROM (
    SELECT unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS tok
    FROM documents WHERE doc_id % 2 = 1
  ) WHERE tok <> '' GROUP BY tok
), na AS (SELECT sum(c) AS n, count(*) AS v FROM ta),
   nb AS (SELECT sum(c) AS n, count(*) AS v FROM tb),
sh AS (
  SELECT ta.c / (SELECT n FROM na) AS p,
         tb.c / (SELECT n FROM nb) AS q
  FROM ta JOIN tb USING (tok)
), agg AS (
  SELECT coalesce(sum(p / 2 * log2(p / ((p + q) / 2))
                      + q / 2 * log2(q / ((p + q) / 2))), 0) AS body,
         coalesce(sum(p), 0) AS pcov,
         coalesce(sum(q), 0) AS qcov,
         count(*) AS vocab_shared
  FROM sh
)
SELECT CAST((SELECT n FROM na) AS BIGINT) AS n_tokens_a,
       CAST((SELECT n FROM nb) AS BIGINT) AS n_tokens_b,
       CAST((SELECT v FROM na) AS BIGINT) AS vocab_a,
       CAST((SELECT v FROM nb) AS BIGINT) AS vocab_b,
       CAST(vocab_shared AS BIGINT) AS vocab_shared,
       round(body + (1 - pcov) / 2 + (1 - qcov) / 2, 6) AS js_divergence
FROM agg
"""


@query("corpus_pair_drift", oracle=PAIR_DRIFT_ORACLE)
def corpus_pair_drift_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise corpus drift (operators/drift.py::js_divergence_pair):
    JSD between two corpora as one scalar row — the per-batch monitor
    beside the continuous crawl ingest (incoming batch vs accepted
    state). The two-sided telescoping closed form needs only the INNER
    vocabulary join; disjoint tails never materialize. Vehicle: the
    documents table split by doc-id parity."""
    from eligibility_etl_airflow_spark.operators import drift

    d = Catalog(spark, sf_dir).documents
    return drift.js_divergence_pair(
        d.filter(F.col("doc_id") % 2 == 0), d.filter(F.col("doc_id") % 2 == 1)
    )


# --------------------------------------------------------------------------
# Frequent-phrase mining — corpus-wide top-k word n-grams
# --------------------------------------------------------------------------

FREQUENT_NGRAMS_ORACLE = r"""
WITH toks AS (
  -- explicit class == Java \s (RE2 \s lacks \x0b): operators/text.py
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '[ \t\n\f\r\x0b]+', ' ', 'g')), ' ') AS t
  FROM documents
), grams AS (
  SELECT doc_id,
         array_to_string(t[i:i+4], ' ') AS g
  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 3)) AS i
        FROM toks WHERE len(t) >= 5)
), counted AS (
  SELECT g AS ngram,
         CAST(count(*) AS BIGINT) AS n_occurrences,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM grams GROUP BY 1
)
SELECT ngram, n_occurrences, n_docs
FROM counted
ORDER BY n_occurrences DESC, ngram ASC
LIMIT 40
"""


@query("frequent_ngrams", oracle=FREQUENT_NGRAMS_ORACLE)
def frequent_ngrams_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide frequent-phrase table: the top-40 5-word n-grams by
    total occurrence count, with document frequency — the boilerplate
    DISCOVERY surface (line_dedup and blocklist_filter act on phrases;
    this is where an operator finds which phrases to act on, and the
    data-card companion for 'what does this corpus repeat'). Ties break
    lexicographically so the table is fully deterministic.

    Scale shape: stride-1 word windows (staged token-array projection,
    no lambda re-split), ONE partial-agg shuffle on the gram — a phrase
    repeated a million times collapses map-side — then
    TakeOrderedAndProject for the top-k: no global sort, driver traffic
    bounded at k rows. count_distinct(doc_id) rides the same aggregate."""
    d = Catalog(spark, sf_dir).documents
    toked = d.select(
        "doc_id",
        # WS_CLASS == Java \s exactly, matching the oracle's class
        F.split(
            F.trim(F.regexp_replace(F.lower("text"), text.WS_CLASS, " ")),
            " ",
        ).alias("_t"),
    ).filter(F.size("_t") >= 5)
    grams = toked.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("_t") - 5),
                lambda i: F.array_join(F.slice("_t", i + 1, 5), " "),
            )
        ).alias("ngram"),
    )
    return (
        grams.groupBy("ngram")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.count_distinct("doc_id").cast("long").alias("n_docs"),
        )
        .orderBy(F.col("n_occurrences").desc(), F.col("ngram").asc())
        .limit(40)
    )



# --------------------------------------------------------------------------
# Mojibake (double-encoding) detection -- crawl hygiene the byte-level
# payload triage cannot see (mojibake is valid UTF-8 carrying wrong text)
# --------------------------------------------------------------------------

def _mojibake_oracle() -> str:
    from eligibility_etl_airflow_spark.operators.text import (
        MOJIBAKE_SEQUENCES,
        _cp1252_signature,
    )

    pattern = "|".join(MOJIBAKE_SEQUENCES)
    sig_e = _cp1252_signature("\u00e9")
    sig_q = _cp1252_signature("\u2019")
    return f"""
WITH vehicle AS (
  SELECT doc_id,
         text || CASE WHEN doc_id % 5 = 0
                      THEN ' caf{sig_e} it{sig_q}s broken'
                      ELSE '' END AS t
  FROM documents
), m AS (
  SELECT doc_id, t,
         len(regexp_extract_all(t, '{pattern}')) AS n
  FROM vehicle
)
SELECT CAST(doc_id AS BIGINT) AS id,
       CAST(n AS BIGINT) AS n_mojibake,
       CAST(length(t) AS BIGINT) AS chars,
       round(n * 1000.0 / greatest(length(t), 1), 6) AS mojibake_per_kchar,
       (round(n * 1000.0 / greatest(length(t), 1), 6) <= 2.0) AS keep
FROM m
"""


MOJIBAKE_ORACLE = _mojibake_oracle()


@query("mojibake_metrics", oracle=MOJIBAKE_ORACLE)
def mojibake_metrics_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Double-encoding (mojibake) detection (operators/text.py::
    mojibake_metrics): density of derived cp1252-round-trip signatures
    per document, with the keep gate at 2 hits per 1000 chars. The
    corpus is clean by construction, so both engines inject the same
    deterministic mojibake into every fifth document (the construct-
    then-process vehicle discipline of the NFC/URL queries); the
    signature table itself is DERIVED from the encoding math
    (utf-8 bytes read as cp1252), never hand-typed, and contains only
    literal sequences so the identical alternation runs in Java regex
    and RE2. Map-only, one scan."""
    from eligibility_etl_airflow_spark.operators.text import (
        _cp1252_signature,
        mojibake_metrics,
    )

    sig_e = _cp1252_signature("\u00e9")
    sig_q = _cp1252_signature("\u2019")
    d = Catalog(spark, sf_dir).documents
    vehicle = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.lit(f" caf{sig_e} it{sig_q}s broken"),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return mojibake_metrics(vehicle, "doc_id", "text", max_per_kchar=2.0)


# --------------------------------------------------------------------------
# Token frequency spectrum — the corpus Zipf table
# --------------------------------------------------------------------------

TOKEN_SPECTRUM_ORACLE = r"""
WITH toks AS (
  SELECT unnest(list_filter(
           string_split_regex(lower(text), '[^a-z]+'), x -> x <> ''
         )) AS tok
  FROM documents
), counted AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS freq FROM toks GROUP BY 1
), tot AS (SELECT sum(freq) AS n FROM counted)
SELECT CAST(row_number() OVER (ORDER BY freq DESC, tok ASC) AS BIGINT) AS rank,
       tok, freq,
       round(freq * 1.0 / (SELECT n FROM tot), 6) AS prob
FROM counted
ORDER BY freq DESC, tok ASC
LIMIT 100
"""


@query("token_frequency_spectrum", oracle=TOKEN_SPECTRUM_ORACLE)
def token_frequency_spectrum_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus Zipf table: the top-100 unigram tokens with rank,
    frequency, and probability mass — the data-card companion every
    corpus report leads with (a healthy natural corpus is near-Zipfian;
    a templated one has a cliff) and the sanity baseline for the LM /
    DSIR tiers (same [^a-z]+ tokenizer, so their probabilities are
    directly comparable). Deterministic: ties rank lexicographically.

    Scale shape: drift.unigram_counts (one partial-agg shuffle; a token
    appearing a billion times collapses map-side), total mass as a
    broadcast scalar, then TakeOrderedAndProject for the top-k — the
    only window (row_number for rank) runs over the ALREADY-truncated
    100 rows, never the vocabulary."""
    from eligibility_etl_airflow_spark.operators import drift as drift_ops

    d = Catalog(spark, sf_dir).documents
    counts = drift_ops.unigram_counts(d, "text").select(
        "tok", F.col("c").cast("long").alias("freq")
    )
    tot = counts.agg(F.sum("freq").alias("n"))
    top = (
        counts.orderBy(F.col("freq").desc(), F.col("tok").asc())
        .limit(100)
        .crossJoin(F.broadcast(tot))
        .select(
            "tok",
            "freq",
            F.round(F.col("freq") / F.col("n"), 6).alias("prob"),
        )
    )
    from pyspark.sql.window import Window

    rank = F.row_number().over(
        Window.orderBy(F.col("freq").desc(), F.col("tok").asc())
    )
    return top.select(rank.cast("long").alias("rank"), "tok", "freq", "prob")
