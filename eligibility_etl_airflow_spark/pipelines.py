"""End-to-end pipeline composition — the three reference DAG lifecycles
(SURVEY.md §3) as single Spark jobs.

The reference splits each pipeline into Airflow tasks that exchange
parquet paths through XCom (dags/eligibilty_etl.py:100-103): extract →
two parallel transforms → quality-gated load → cleanup, each a separate
OS process. Here each pipeline is ONE lazy Spark plan: the "parallel"
transforms are independent subtrees over a shared extract, the quality
gate is an aggregate pass before the sink, and the sink is idempotent —
so a retried run cannot duplicate rows (the reference's append can,
src/etl_utils.py:231-238). Any orchestrator (Airflow, cron, a scheduler
of your choice) calls one function per run; nothing in the engine
depends on the orchestrator.

Each run returns a small dict of metrics (row counts, gate stats,
appended rows) — the engine-level replacement for the reference's log
lines and XCom record counts. The curation and crawl funnels run every
stage through one :class:`_Funnel`, which caches, counts and releases
each stage's output.
"""

from __future__ import annotations

import os
from functools import reduce

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eligibility_etl_airflow_spark import registry
from eligibility_etl_airflow_spark.sources import sinks
from eligibility_etl_airflow_spark.sources.sinks import _stable


def _query(name: str):
    registry.load_all()
    return registry.QUERIES[name]


class _Funnel:
    """The stage chain of a curation or crawl funnel.

    Persist before count: a stage's output is persisted
    (``MEMORY_AND_DISK``) BEFORE its count, so the count materializes
    the cache and every later consumer — the next stage, a keeper
    aggregate, an audit anti-join, the final write — reads the cache
    instead of re-running the lineage back to the source scan. The
    counts are aggregates only; nothing data-proportional reaches the
    driver. Every cache taken here is released on exit, on success and
    on error.

    ``stats`` collects the named counts, ``snapshots`` the
    ``(stage, relation)`` sequence :func:`_snapshot_drops` attributes
    dropped rows from."""

    def __init__(self) -> None:
        self.stats: dict = {}
        self.snapshots: list[tuple[str, DataFrame]] = []
        self._caches: list[DataFrame] = []

    def __enter__(self) -> _Funnel:
        return self

    def __exit__(self, *exc) -> None:
        for df in self._caches:
            df.unpersist()

    def cache(self, df: DataFrame) -> DataFrame:
        """Persist ``df`` until exit (a relation already cached is
        returned as is, and left to its owner)."""
        if df.is_cached:
            return df
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        self._caches.append(df)
        return df

    def stage(
        self, df: DataFrame, stat: str | None = None, snapshot: str | None = None
    ) -> DataFrame:
        """Cache a stage's output; count it into ``stats[stat]`` and
        record it as snapshot ``snapshot`` when those are named."""
        df = self.cache(df)
        if stat is not None:
            self.stats[stat] = df.count()
        if snapshot is not None:
            self.snapshots.append((snapshot, df))
        return df


def _snapshot_drops(snapshots: list[tuple[str, DataFrame]], label: str) -> DataFrame:
    """One row per ``doc_id`` present in a snapshot but missing from the
    next, with ``label`` naming the stage that dropped it — the
    curation audit trail and the crawl quarantine. Each snapshot carries
    the columns the output keeps; the first-dropping stage wins, so the
    drops and the last snapshot partition the first."""
    return reduce(
        DataFrame.unionByName,
        [
            prev.join(cur.select("doc_id"), "doc_id", "left_anti").withColumn(
                label, F.lit(name)
            )
            for (_, prev), (name, cur) in zip(snapshots, snapshots[1:])
        ],
    )


def _blocklist_gate(
    df: DataFrame, id_col: str, terms: tuple[str, ...], max_fraction: float
) -> DataFrame:
    """The C4 "bad words" stage (operators/text.py::blocklist_metrics):
    one map-only regexp pass; the DROP side is selected so null-text
    docs (keep=True by contract) survive."""
    from eligibility_etl_airflow_spark.operators import text

    drop_ids = (
        text.blocklist_metrics(
            df, id_col, "text", terms=terms, max_fraction=max_fraction
        )
        .filter(~F.col("keep"))
        .select(id_col)
    )
    return df.join(drop_ids, id_col, "left_anti")


def _script_gate(df: DataFrame, id_col: str, min_latin_fraction: float) -> DataFrame:
    """Docs whose Latin character fraction falls below
    ``min_latin_fraction`` drop (the mixed-script net)."""
    from eligibility_etl_airflow_spark.operators import text

    ok = df.select(id_col, *text.script_profile(F.col("text"))).filter(
        F.col("frac_latin") >= min_latin_fraction
    )
    return df.join(ok.select(id_col), id_col, "left_semi")


def _robots_admitted(
    df: DataFrame,
    url_col: str,
    robots_df: DataFrame,
    domain_col: str,
    text_col: str,
    agent: str,
    key: str,
) -> DataFrame:
    """Rows of ``df`` whose URL the site's robots.txt allows ``agent`` to
    fetch (operators/robots.py); sites without a robots row allow all."""
    from eligibility_etl_airflow_spark.operators import robots

    rules = robots.robots_rules(robots_df, domain_col, text_col, agent=agent)
    return (
        robots.robots_allowed(df, url_col, rules, key=key)
        .filter(F.col("crawl_allowed"))
        .drop("crawl_allowed", "matched_pattern")
    )


def _url_deduped(
    df: DataFrame, url_col: str, id_col: str
) -> tuple[DataFrame, DataFrame]:
    """URL canonicalization (operators/urls.py) then URL-level exact
    dedup: returns ``(with_url, deduped)`` — malformed URLs (canonical
    NULL) dropped, then the min-id record kept per canonical form."""
    from eligibility_etl_airflow_spark.operators import urls

    with_url = urls.url_components(df, url_col).filter(
        F.col("url_canonical").isNotNull()
    )
    keeper = (
        with_url.groupBy("url_canonical")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return with_url, with_url.join(keeper, id_col, "left_semi")


def _clean_html(
    funnel: _Funnel,
    df: DataFrame,
    id_col: str,
    html_col: str,
    line_max_df: int,
    nfc: bool,
) -> DataFrame:
    """HTML → text (newline-preserving) → line-level boilerplate removal
    (dedup.line_dedup: lines shared by >= ``line_max_df`` docs of ``df``
    drop, docs left empty drop) → optional Unicode NFC. Output is
    (id, url_canonical, domain, text)."""
    from eligibility_etl_airflow_spark.operators import dedup, text

    # cached: line_dedup consumes its input through TWO physical
    # subtrees (the line-frequency aggregate and the join probe), so
    # without the cache the strip_html regexp chain — the dominant map
    # cost at crawl scale — would execute twice
    texted = funnel.cache(
        df.select(
            id_col,
            "url_canonical",
            F.col("url_domain").alias("domain"),
            text.strip_html(F.col(html_col), collapse_ws=False).alias("text"),
        )
    )
    lined = dedup.line_dedup(texted, id_col, "text", max_line_df=line_max_df)
    cleaned = (
        texted.drop("text")
        .join(lined.select(id_col, "text_clean"), id_col)
        .filter(F.trim(F.col("text_clean")) != "")
        .withColumnRenamed("text_clean", "text")
    )
    if nfc:
        cleaned = cleaned.withColumn("text", text.unicode_nfc(F.col("text")))
    return cleaned


def _documents_table(df: DataFrame, id_col: str, *extra: str) -> DataFrame:
    """The curation-compatible documents columns (doc_id, text, lang via
    the marker heuristic, source = registered domain, n_chars,
    url_canonical, domain) plus ``extra``."""
    from eligibility_etl_airflow_spark.operators import text

    return df.select(
        F.col(id_col).alias("doc_id"),
        "text",
        text.lang_id(F.col("text")).alias("lang"),
        F.col("domain").alias("source"),
        F.length("text").cast("long").alias("n_chars"),
        "url_canonical",
        "domain",
        *extra,
    )


def run_eligibility_pipeline(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    max_invalid_ratio: float = 0.5,
    audit_csv: bool = True,
) -> dict:
    """§3.1 lifecycle: extract + enrich (flagship plan) → quality gate →
    idempotent load → audit CSV copy. Raises QualityGateError (aborting
    the load, reference behavior at dags/eligibilty_etl.py:288-321) if
    the invalid ratio breaches. The flagship plan runs once: the gate,
    the append and the audit copy all read its materialized rows."""
    df = _stable(_query("eligibility_flagship")(spark, sf_dir))
    gate = sinks.expect(
        df,
        F.col("status_name").isNull(),
        max_invalid_ratio=max_invalid_ratio,
        label_col="priority_class",
    )
    appended = sinks.append_dedup(
        spark, os.path.join(out_dir, "eligibility"), df, keys=["order_id"]
    )
    if audit_csv:
        sinks.write_csv(df, os.path.join(out_dir, "eligibility_audit_csv"))
    return {"gate": gate, "rows_appended": appended}


def run_predictions_pipeline(spark: SparkSession, sf_dir: str, out_dir: str) -> dict:
    """§3.3 lifecycle: per-visit grouping → (mock) LLM → parse/validate →
    merge-back → idempotent load, with anti-join resume making re-runs
    no-ops (replaces the reference's checkpoint Excel files)."""
    df = _query("llm_predictions_pipeline")(spark, sf_dir)
    target = os.path.join(out_dir, "predictions")
    fresh = sinks.resume_filter(df, spark, target, keys=["service_uid"])
    appended = sinks.append_dedup(spark, target, fresh, keys=["service_uid"])
    return {"rows_appended": appended}


def run_resubmission_pipeline(spark: SparkSession, sf_dir: str, out_dir: str) -> dict:
    """§3.2 lifecycle: two-branch union extract with latest-transaction
    window dedup → per-visit justification → MERGE upsert into the final
    table (stage+MERGE of src/etl_utils.py:87-145, here a parquet MERGE).
    The keep-last order is total — ``request_date`` alone ties within a
    service — so the kept row does not depend on partitioning."""
    df = _query("resubmission_flagship")(spark, sf_dir)
    deduped = sinks.keep_last(
        df, ["service_id"], [F.col("request_date"), F.col("request_id"), F.col("sequence")]
    )
    n = sinks.merge_upsert(
        spark, os.path.join(out_dir, "resubmission"), deduped, ["service_id"]
    )
    return {"rows_upserted": n}


def run_events_stream_pipeline(
    spark: SparkSession, sf_dir: str, out_dir: str, checkpoint_dir: str | None = None
) -> dict:
    """§2.11 lifecycle as one streaming job: events replayed from files →
    watermark dedup → checkpointed idempotent foreachBatch parquet sink.
    Re-running with the same checkpoint is a no-op (no new input) — the
    streaming replacement for every cron-plus-overlap extraction in the
    reference.

    The query runs on a clone of ``spark`` with one shuffle partition
    per core (``defaultParallelism``), so the dedup state keeps one
    state-store partition, and writes one set of checkpoint files per
    micro-batch, per core. An existing checkpoint keeps the partition
    count recorded in its offset log. The clone also runs no micro-batch
    without new data: such a batch would only advance the watermark, yet
    commit state for every partition and write an empty ``batch_id=N``
    directory. The dedup emits a row when it first arrives, so output
    is unchanged; evicting expired state moves to the next data batch,
    which sees the same watermark."""
    from eligibility_etl_airflow_spark.streaming import ops

    ckpt = checkpoint_dir or os.path.join(out_dir, "_checkpoint")
    stream_spark = SparkSession(spark.sparkContext, spark._jsparkSession.cloneSession())
    stream_spark.conf.set(
        "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
    )
    stream_spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    stream = ops.dedup_under_watermark(ops.events_stream(stream_spark, sf_dir))
    ops.foreach_batch_parquet_sink(
        stream, os.path.join(out_dir, "events_clean"), ckpt, dedup_keys=["event_id"]
    )
    n = spark.read.parquet(os.path.join(out_dir, "events_clean")).count()
    return {"rows_in_sink": n}


def run_corpus_curation_pipeline(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    min_quality: float = 0.5,
    langs: tuple[str, ...] = ("en", "de", "es", "fr"),
    jaccard_threshold: float = 0.8,
    neardup_removal: str = "component",
    neardup_keeper: str = "min_id",
    blocklist_terms: tuple[str, ...] | None = None,
    blocklist_max_fraction: float = 0.0,
    repetition_filter: bool = False,
    decontam_bench: DataFrame | None = None,
    semantic_decontam_bench: DataFrame | None = None,
    semantic_decontam_threshold: float = 0.95,
    fluency_cut: float | None = None,
    semantic_eps: float | None = None,
    embeddings: DataFrame | None = None,
    semantic_k: int | str = "auto",
    quality_model: dict | None = None,
    quality_model_min: float = 0.5,
    lang_model: dict | None = None,
    audit_path: str | None = None,
    documents: DataFrame | None = None,
) -> dict:
    """The LLM-training-data lifecycle the beyond-reference operators
    exist for, composed end to end: quality filter → language mix →
    [optional repetition filter → optional benchmark decontamination] →
    exact dedup (hash keeper) → MinHash near-dup removal → clustered
    curated write. Every stage is the already-tested operator; this
    function is only the composition and the stats contract.
    ``blocklist_terms`` adds the C4 "bad words" stage first among the
    hygiene tiers (cheapest: one map-only regexp pass —
    operators/text.py::blocklist_metrics); docs whose blocklist-token
    fraction exceeds ``blocklist_max_fraction`` drop (0.0 = any hit).
    ``repetition_filter=True`` drops docs failing the Gopher-family
    self-similarity thresholds (operators/repetition.py);
    ``decontam_bench`` (a DataFrame with a ``text`` column) drops docs
    sharing any 8-gram with that eval set (operators/decontam.py);
    ``fluency_cut`` (e.g. 0.1) drops that fraction of surviving docs
    with the highest unigram-LM mean NLL — the CCNet perplexity cut
    (operators/lm.py), cutoff found with one approx-percentile
    aggregate. All read the cached quality-filtered relation — no extra
    source scans. ``semantic_eps`` (e.g. 0.95) adds a SemDeDup-style
    semantic stage AFTER the byte-level dedup tiers: k-means the
    survivors' embeddings (``semantic_k`` clusters — default ``"auto"``,
    k ∝ corpus/1000, the linearity knob: fixed k makes the per-cluster
    quadratic compare grow ~quadratically with the corpus (the r8 probe
    measured 7.7× cost at 20× data at fixed k=64) while auto-k holds
    expected cluster size constant; pin an int to freeze the clustering
    instead. ``embeddings``
    defaults to the catalog's embeddings table keyed vec_id==doc_id)
    and drop within-cluster members ``eps``-cosine-close to an
    earlier-kept one — the paraphrase tier that shingle-based dedup
    cannot see (operators/semdedup.py; centroids broadcast, per-cluster
    work capped, never corpus all-pairs). Docs without an embedding row
    survive by construction (the drop side is an anti-join).
    ``semantic_decontam_bench`` (a (bench_id, embedding) relation — the
    eval suite's embeddings) adds the EMBEDDING tier of decontamination
    after the n-gram tier: docs whose embedding is
    ``semantic_decontam_threshold``-cosine-close to ANY benchmark item
    drop — the paraphrased-contamination net
    (operators/similarity.py:semantic_decontam_flags; bench broadcast,
    corpus never shuffled at pair grain). Docs without an embedding row
    survive by construction (the drop side is an anti-join).
    ``neardup_keeper="quality"`` changes WHICH doc each near-dup
    component keeps: the argmax quality-score member (min doc_id
    tie-break) instead of the min id — the cluster_representatives
    policy composed into the funnel (one extra map-only quality column
    + a window over the graph nodes only, never the corpus).
    ``audit_path`` writes the funnel's AUDIT TRAIL: one (doc_id,
    dropped_at) row per dropped document, naming the stage that removed
    it — the provenance answer to "why is doc X not in my training
    set". Built from anti-joins of consecutive stage snapshots (every
    intermediate snapshot is persisted, so each anti-join probes a
    cache; the source end costs one doc_id-pruned re-scan); drops are
    attributed to
    the FIRST stage that removed the doc, and the audit rows plus the
    curated ids partition the source exactly (test-pinned).
    ``quality_model`` (a ``train_quality_classifier`` output dict) adds
    the LEARNED quality gate after the heuristic hygiene stages: docs
    scoring below ``quality_model_min`` drop. Pass a model trained on
    labels you trust (human tags, an LLM judge, a cleaner corpus) — the
    classifier generalizes them to the whole corpus at pure-column-
    arithmetic cost (operators/quality_model.py).

    Scale shape: one documents scan feeds the quality/lang filter; exact
    dedup is one hash aggregate; near-dup pairs come from the bucketed
    LSH path (never corpus²); removal keeps ONE doc per transitive
    near-dup group (``neardup_removal="component"``: connected
    components over the pair graph, then the component's min doc_id —
    the production semantics; a chain a~b, b~c keeps only a). Pass
    ``neardup_removal="pair"`` for the cheaper per-pair anti-join that
    keeps every locally-minimal doc instead (one job, no iteration —
    but a chain keeps both endpoints' minima). The curated output
    writes range-clustered by doc_id so downstream range reads prune
    files. Stats are aggregate counts only — nothing data-proportional
    reaches the driver.

    ``n_total`` is a bare ``count()`` on the parquet source (footer
    metadata, no column IO) and ``n_curated`` is counted from the
    written sink's own footers, so neither recomputes the funnel
    lineage."""
    from eligibility_etl_airflow_spark.catalog import Catalog
    from eligibility_etl_airflow_spark.operators import neardup, text

    # fail-fast: pure parameter validation must run before ANY Spark job
    # (the funnel below launches many materializing counts)
    if neardup_removal not in ("component", "pair"):
        raise ValueError(
            f"neardup_removal must be 'component' or 'pair', got {neardup_removal!r}"
        )
    if neardup_keeper not in ("min_id", "quality"):
        raise ValueError(
            f"neardup_keeper must be 'min_id' or 'quality', got {neardup_keeper!r}"
        )
    if neardup_removal == "pair" and neardup_keeper == "quality":
        raise ValueError(
            "neardup_keeper='quality' requires neardup_removal='component' — "
            "the per-pair anti-join keeps minima by construction and would "
            "silently ignore quality"
        )
    if fluency_cut is not None and not (0.0 < fluency_cut < 1.0):
        raise ValueError(f"fluency_cut must be in (0, 1), got {fluency_cut}")

    # ``documents`` overrides the catalog table — the seam that chains
    # this funnel onto a previous stage's output (e.g.
    # run_crawl_preprocess_pipeline's documents.parquet) or any
    # caller-built relation with (doc_id, text, lang) columns
    docs = documents if documents is not None else Catalog(spark, sf_dir).documents
    with _Funnel() as f:
        # ``lang_model`` (a train_softmax_classifier dict) re-identifies
        # the language from the TEXT — the learned char-n-gram
        # classifier replaces whatever the source metadata claimed,
        # which is the production posture (crawl-provided lang tags are
        # unreliable). The language-mix filter below then runs on the
        # predicted label. Pure column arithmetic + one broadcast weight
        # join (score_softmax); a doc the scorer can't featurize keeps
        # the model's prior. Cached: n_total, the quality/lang filter
        # and the audit's source snapshot all read the scored relation.
        if lang_model is not None:
            from eligibility_etl_airflow_spark.operators import (
                quality_model as _qm_ops,
            )

            pred = _qm_ops.score_softmax(docs, "doc_id", "text", lang_model).select(
                F.col("id").alias("doc_id"),
                F.col("pred_label").alias("_pred_lang"),
            )
            docs = f.cache(
                docs.join(pred, "doc_id", "left")
                .withColumn("lang", F.coalesce("_pred_lang", F.col("lang")))
                .drop("_pred_lang")
            )
        f.stats["n_total"] = docs.count()
        f.snapshots.append(("source", docs))

        hygienic = f.stage(
            docs.filter(
                (text.quality_score(F.col("text")) >= min_quality)
                & (F.col("lang").isin(*langs))
            ),
            "n_after_quality_lang",
            "quality_lang",
        )

        # optional corpus hygiene, cheapest tier first, each reading the
        # previous stage's cache (no re-scan): blocklist, repetition
        # (looping/stuffed docs), n-gram decontamination (docs sharing
        # any 8-gram with the provided eval set), embedding
        # decontamination, fluency cut, learned quality gate
        if blocklist_terms is not None:
            hygienic = f.stage(
                _blocklist_gate(
                    hygienic, "doc_id", blocklist_terms, blocklist_max_fraction
                ),
                "n_after_blocklist",
                "blocklist",
            )
        if repetition_filter:
            from eligibility_etl_airflow_spark.operators import repetition

            keep_ids = (
                repetition.repetition_metrics(hygienic)
                .filter(F.col("keep"))
                .select("doc_id")
            )
            hygienic = f.stage(
                hygienic.join(keep_ids, "doc_id", "left_semi"),
                "n_after_repetition",
                "repetition",
            )
        if decontam_bench is not None:
            from eligibility_etl_airflow_spark.operators import decontam

            dirty_ids = (
                decontam.contamination_flags(hygienic, decontam_bench)
                .filter(F.col("contaminated"))
                .select("doc_id")
            )
            hygienic = f.stage(
                hygienic.join(dirty_ids, "doc_id", "left_anti"),
                "n_after_decontam",
                "decontam_ngram",
            )
        if semantic_decontam_bench is not None:
            from eligibility_etl_airflow_spark.operators import similarity

            # corpus side: the survivors' embeddings (doc without an
            # embedding row → no flag row → survives the anti-join)
            corpus_emb = (
                embeddings
                if embeddings is not None
                else Catalog(spark, sf_dir).embeddings.select(
                    F.col("vec_id").alias("doc_id"), "embedding"
                )
            ).join(hygienic.select("doc_id"), "doc_id", "left_semi")
            flagged = (
                similarity.semantic_decontam_flags(
                    corpus_emb,
                    semantic_decontam_bench,
                    id_col="doc_id",
                    threshold=semantic_decontam_threshold,
                )
                .filter(F.col("contaminated") == 1)
                .select("doc_id")
            )
            hygienic = f.stage(
                hygienic.join(flagged, "doc_id", "left_anti"),
                "n_after_semantic_decontam",
                "decontam_semantic",
            )
        if fluency_cut is not None:
            from eligibility_etl_airflow_spark.operators import lm

            # cached: the self-model feeds the scores' totals and join,
            # and the scores feed BOTH the cutoff aggregate and the
            # drop-id filter
            model = f.cache(lm.unigram_model(hygienic, "doc_id", "text"))
            scores = f.cache(
                lm.unigram_nll_scores(hygienic, "doc_id", "text", model=model)
            )
            # one aggregate finds the cut; only the scalar reaches the
            # driver (approx sketch — exact percentile would sort)
            cutoff = scores.agg(
                F.percentile_approx("mean_nll", 1.0 - fluency_cut).alias("c")
            ).collect()[0]["c"]
            # anti-join on the docs ABOVE the cut: token-less docs have
            # no score row and must survive (a semi join on the keep set
            # would silently drop them regardless of the cut fraction);
            # an empty score relation (cutoff None) then drops nothing
            drop_ids = scores.filter(
                F.col("mean_nll") > F.lit(cutoff)
                if cutoff is not None
                else F.lit(False)
            ).select(F.col("id").alias("doc_id"))
            hygienic = f.stage(
                hygienic.join(drop_ids, "doc_id", "left_anti"),
                "n_after_fluency",
                "fluency_cut",
            )
        if quality_model is not None:
            from eligibility_etl_airflow_spark.operators import quality_model as qm

            # a TRAINED model (train_quality_classifier output — distilled
            # from human tags, an LLM judge, or a cleaner corpus) gates the
            # funnel; scoring is the UDF-free broadcast-join aggregate, so
            # this stage adds one partial-agg pass over the cached relation
            drop_ids = (
                qm.score_quality(hygienic, "doc_id", "text", quality_model)
                .filter(F.col("score") < quality_model_min)
                .select(F.col("id").alias("doc_id"))
            )
            hygienic = f.stage(
                hygienic.join(drop_ids, "doc_id", "left_anti"),
                "n_after_learned_quality",
                "learned_quality",
            )

        # exact dedup: keep min doc_id per content hash
        keeper = (
            hygienic.select(
                "doc_id", text.fingerprint_md5(F.col("text")).alias("content_hash")
            )
            .groupBy("content_hash")
            .agg(F.min("doc_id").alias("doc_id"))
            .select("doc_id")
        )
        exact_kept = f.stage(
            hygienic.join(keeper, "doc_id", "left_semi"),
            "n_after_exact_dedup",
            "exact_dedup",
        )

        # the shingle table feeds both the signatures and the exact
        # Jaccard verification (minhash_lsh_pairs' own staging, here
        # owned by the funnel so it is released with the rest)
        pairs = neardup.lsh_pairs_from_shingles(
            f.cache(neardup.shingle_table(exact_kept, "doc_id", "text")),
            jaccard_threshold=jaccard_threshold,
        )
        if neardup_removal == "component":
            # one keeper per transitive near-dup group (LSH pairs are
            # unblocked, so this takes the iterative components tier)
            from eligibility_etl_airflow_spark.operators import components

            labeled = components.connected_components(
                pairs, cluster_col="cluster_id"
            )
            if neardup_keeper == "quality":
                # keep the BEST-quality member of each component (min
                # doc_id tie-break) — the cluster_representatives policy.
                # Only graph nodes reach the window; the corpus never
                # shuffles on cluster_id.
                from pyspark.sql.window import Window

                scored = labeled.join(
                    exact_kept.select(
                        F.col("doc_id").alias("id"),
                        text.quality_score(F.col("text")).alias("__q"),
                    ),
                    "id",
                )
                w = Window.partitionBy("cluster_id").orderBy(
                    F.col("__q").desc(), F.col("id").asc()
                )
                losers = (
                    scored.withColumn("__rn", F.row_number().over(w))
                    .filter(F.col("__rn") > 1)
                    .select(F.col("id").alias("doc_id"))
                )
            else:
                losers = labeled.filter(F.col("id") != F.col("cluster_id")).select(
                    F.col("id").alias("doc_id")
                )
        else:  # "pair" — validated at entry
            # drop the higher doc_id of each verified pair
            losers = pairs.select(F.col("id_b").alias("doc_id")).distinct()
        # cached, not counted: the survivor set feeds the clustered
        # write, the audit anti-join, and (when enabled) the semantic
        # stage's embedding semi-join + k-means E/M rounds
        curated = f.stage(
            exact_kept.join(losers, "doc_id", "left_anti"), snapshot="neardup_removal"
        )

        if semantic_eps is not None:
            from eligibility_etl_airflow_spark.operators import semdedup
            emb = (
                embeddings
                if embeddings is not None
                else Catalog(spark, sf_dir).embeddings.select(
                    F.col("vec_id").alias("doc_id"), "embedding"
                )
            )
            surv_emb = emb.join(curated.select("doc_id"), "doc_id", "left_semi")
            sem_drops = (
                semdedup.semantic_dedup_drops(
                    surv_emb, "doc_id", "embedding", k=semantic_k, eps=semantic_eps
                )
                .filter(~F.col("capped_cluster"))
                .select(F.col("id").alias("doc_id"))
            )
            curated = f.stage(
                curated.join(sem_drops, "doc_id", "left_anti"),
                "n_after_semantic",
                "semantic_dedup",
            )

        out_path = os.path.join(out_dir, "curated_docs")
        sinks.write_clustered(curated, out_path, ["doc_id"])
        f.stats["n_curated"] = spark.read.parquet(out_path).count()
        if audit_path is not None:
            # which stage dropped each doc, (doc_id, dropped_at): every
            # snapshot but the source is cached, so each anti-join probes
            # a cache; the source end re-reads the documents parquet
            # once, column-pruned to doc_id (the one extra scan the
            # audit costs)
            sinks.write_parquet(
                _snapshot_drops(
                    [(name, df.select("doc_id")) for name, df in f.snapshots],
                    "dropped_at",
                ),
                audit_path,
            )
    return f.stats


def run_multi_business_unit(
    spark: SparkSession,
    query_name: str,
    sources: dict[str, str],
    out_dir: str | None = None,
    bu_col: str = "business_unit",
) -> DataFrame:
    """One plan × N business units → union with a BU label column.

    The reference's clinics DAG runs the same resubmission query against
    five separate databases in parallel tasks and concatenates the frames
    (dags/clinics_resubmission_etl.py:116-123, one task per BU engine).
    Here the fan-out is ONE Spark job: each source directory contributes
    an independent subtree (scheduled concurrently by Spark — no
    orchestrator-level parallelism needed), tagged with a literal BU
    column and combined with ``unionByName``. At scale each subtree
    prunes/pushes down independently; the union is a no-shuffle
    concatenation of the subtrees' outputs.

    ``sources`` maps BU name → source dir (a per-BU JDBC catalog slots in
    the same way — anything ``registry`` queries accept as ``sf_dir``).
    When ``out_dir`` is set the union is also written to
    ``out_dir/<query_name>``; the lazy union is returned either way for
    further composition.
    """
    if not sources:
        raise ValueError("sources must not be empty: pass {business_unit: source_dir}")
    fn = _query(query_name)
    parts = [
        fn(spark, src).withColumn(bu_col, F.lit(bu)) for bu, src in sources.items()
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    if out_dir is not None:
        sinks.write_parquet(out, os.path.join(out_dir, query_name))
    return out


def run_training_prep_pipeline(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    chunk_tokens: int = 64,
    overlap: int = 8,
    budget: int = 512,
    test_frac: float = 0.1,
    cluster_labels: DataFrame | None = None,
    span_dedup: bool = False,
    span_min_tokens: int = 16,
    span_exact: bool = False,
    documents: DataFrame | None = None,
) -> dict:
    """From curated documents to packed training examples: chunk →
    document-level train/test split → per-split sequence packing →
    partitioned parquet. The composition the chunking/split/packing
    operators exist for.

    The split is assigned on the DOCUMENT id, then inherited by every
    chunk — splitting at chunk level would put sibling chunks of one
    document (overlapping by construction) on both sides, which is
    verbatim train/test leakage. Packing runs independently per split so
    no pack mixes sides. Output is one parquet tree partitioned by
    ``split``, rows = (doc_id, chunk_idx, chunk_uid, n_chunk_tokens,
    pack_id, oversize, chunk_text).

    ``cluster_labels`` (optional, (doc_id, cluster_id) — e.g. from
    operators/components.attach_components over a near-dup pair graph)
    raises the split granularity from document to CLUSTER: membership
    hashes the cluster id (``assign_split_by_group``), so two
    near-duplicate documents can never land on opposite sides — the
    leakage mode a doc-id split admits whenever the corpus still
    contains near-dups. Docs missing from the labels get a null cluster
    and fall to train (an unlabeled doc cannot be leakage-checked).

    ``span_dedup=True`` runs exact-substring span removal first
    (remove_duplicate_spans): every duplicated ``span_min_tokens``-token
    window keeps only its corpus-first copy, cut at exact offsets — the
    Lee et al. 2022 intervention, applied before example construction
    so a popular quote trains once, not once per containing document.
    Stats gain ``n_span_tokens_removed``. Window keys are hashed
    (xxhash64) by default — fine through ~10⁹ windows; set
    ``span_exact=True`` past that bound, where a collision would cut
    never-duplicated text (remove_duplicate_spans' documented caveat —
    removal, unlike location, is harmed by collisions).

    Scale shape: every stage is an already-argued operator (chunking is
    a scan-stage map; the split is map-only; packing is one shuffle into
    hash shards); the only new cost here is the final partitioned write.
    """
    from eligibility_etl_airflow_spark.catalog import Catalog
    from eligibility_etl_airflow_spark.operators import chunking, packing, sampling

    # ``documents`` overrides the catalog table — chains this stage onto
    # a curation/preprocess output relation instead of the raw corpus
    docs = documents if documents is not None else Catalog(spark, sf_dir).documents
    # counted BEFORE the optional span rewrite: the count is the same
    # (removal rewrites text, never drops rows) and counting afterwards
    # would re-run the whole span pipeline just for the stat
    n_docs = docs.count()
    # span_dedup: the Lee-et-al position for exact-substring dedup —
    # BEFORE example construction, so a duplicated quote enters the
    # training set exactly once (the corpus-first copy) instead of once
    # per containing document. Doc-level curation upstream can only
    # drop whole docs; this rewrites text at exact token offsets
    # (operators/dedup.py::remove_duplicate_spans, hashed scale path).
    n_span_tokens_removed = None
    if span_dedup:
        from eligibility_etl_airflow_spark.operators import dedup as dedup_ops

        # eager checkpoint: the stats aggregate below AND the chunking
        # join both consume this relation — without truncation the whole
        # span pipeline (window shuffle + count shuffle) would run twice
        cleaned = _stable(
            dedup_ops.remove_duplicate_spans(
                docs, "doc_id", "text",
                min_tokens=span_min_tokens,
                hashed=not span_exact,
            ).select("doc_id", "clean_text", "n_tokens_removed")
        )
        n_span_tokens_removed = (
            cleaned.agg(F.sum("n_tokens_removed")).collect()[0][0] or 0
        )
        docs = (
            docs.drop("text")
            .join(
                cleaned.select(
                    "doc_id", F.col("clean_text").alias("text")
                ),
                "doc_id",
            )
        )
    chunks = chunking.chunk_documents(
        docs, chunk_tokens=chunk_tokens, overlap=overlap
    ).withColumn(
        "chunk_uid",
        F.concat_ws(":", F.col("doc_id").cast("string"), F.col("chunk_idx").cast("string")),
    )
    # the split hashes the DOCUMENT id (or the cluster id when labels
    # are supplied), so applying it directly to the chunk rows IS the
    # document/cluster-level split (membership = f(seed, key)) — no
    # join back to a docs-side assignment needed
    if cluster_labels is not None:
        chunks = sampling.assign_split_by_group(
            chunks.join(cluster_labels, "doc_id", "left"),
            "cluster_id",
            test_frac=test_frac,
        )
    else:
        chunks = sampling.assign_split(chunks, "doc_id", test_frac=test_frac)
    with _Funnel() as f:
        # the cached chunk relation feeds four subtrees of the one write
        # below (pack input + join-back per side) — without it the
        # documents scan and posexplode would run ~4x inside the job
        chunks = f.cache(chunks)
        packed_parts = []
        for side in ("train", "test"):
            part = chunks.filter(F.col("split") == side)
            packed = packing.pack_sequences(
                part.select("chunk_uid", "n_chunk_tokens"),
                "chunk_uid",
                "n_chunk_tokens",
                budget=budget,
            )
            packed_parts.append(
                part.join(packed.select("chunk_uid", "pack_id", "oversize"), "chunk_uid")
            )
        out = packed_parts[0].unionByName(packed_parts[1])
        out_path = os.path.join(out_dir, "packed_chunks")
        out.write.mode("overwrite").partitionBy("split").parquet(out_path)

    written = spark.read.parquet(out_path)
    counts = {
        r["split"]: r["n"]
        for r in written.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    n_packs = written.select("split", "pack_id").distinct().count()
    stats = {
        "n_docs": n_docs,
        "n_chunks_train": counts.get("train", 0),
        "n_chunks_test": counts.get("test", 0),
        "n_packs": n_packs,
    }
    if n_span_tokens_removed is not None:
        stats["n_span_tokens_removed"] = int(n_span_tokens_removed)
    return stats


# Pruning layout applied when a state index is compacted (the rewrite
# happens anyway, so clustering is free): files come out key-disjoint
# and internally sorted on the keys each index is PROBED by, making
# parquet row-group min/max stats selective for the per-batch key-scoped
# reads. accepted_docs is deliberately absent: it is read whole (corpus
# counts, survival feedback), never key-probed, so plain compaction is
# the right layout.
STATE_INDEX_CLUSTER_KEYS: dict[str, list[str]] = {
    "index_hashes": ["content_hash"],
    "index_bands": ["band_idx", "band_sig"],
    "index_shingles": ["id"],
    "index_vectors": ["cluster", "id"],
    "index_urls": ["url_canonical"],
}


def _maybe_compact_state_indexes(
    spark: SparkSession,
    paths: list[str],
    threshold: int | None,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict[str, dict]:
    """Between-batches housekeeping for the incremental loops' state
    relations: ``append_dedup`` adds one parquet delta file per batch
    forever, so after 10⁴ micro-batches every vs-state anti-join lists
    10⁴ files (a metadata storm at cluster scale). This rewrites a
    relation via ``sinks.compact_parquet`` (staged write + rename swap)
    when its file count exceeds ``max(threshold, 2 × the count a fresh
    compaction would produce)``.

    The second term is the log-structured amortization bound: a huge
    relation is only rewritten once its DELTA tail is as large as the
    relation itself, so total rewrite bytes stay O(2×) the bytes ever
    appended, while small relations compact at the flat ``threshold``
    (the file-count regime where listing cost, not size, is the
    problem). ``threshold=None`` disables.

    Call sites run this AFTER all of a batch's appends, merges and
    token-index folds, and after the batch's cached plans are
    unpersisted — compaction rewrites the path, and Spark's
    refresh-by-path invalidates every cached plan whose lineage reads
    it (the repo's documented trap), so it must land between batches,
    never mid-fold. The token index is deliberately NOT in any call
    site's list: each fold already rewrites it whole (staged rename),
    so it self-compacts."""
    report: dict[str, dict] = {}
    if threshold is None:
        return report
    for path in paths:
        # heal a previous cycle's mid-swap crash before (re-)compacting
        sinks.recover_interrupted_compaction(path)
        if not os.path.isdir(path):
            continue
        files = [
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet")
        ]
        n_files = len(files)
        total_bytes = sum(os.path.getsize(f) for f in files)
        expected = max(1, -(-total_bytes // target_file_bytes))
        if n_files > max(threshold, 2 * expected):
            base = os.path.basename(path)
            report[base] = sinks.compact_parquet(
                spark,
                path,
                target_file_bytes,
                cluster_by=STATE_INDEX_CLUSTER_KEYS.get(base),
            )
    return report


def run_incremental_curation(
    spark: SparkSession,
    batch: DataFrame,
    state_dir: str,
    jaccard_threshold: float = 0.8,
    shingle_k: int = 5,
    num_perm: int = 64,
    bands: int = 16,
    boilerplate_band_cap: int = 1000,
    semantic_eps: float | None = None,
    embedding_col: str = "embedding",
    semantic_k: int | str = "auto",
    drift_report: bool = False,
    compact_threshold: int | None = 32,
) -> dict:
    """Curate a NEW batch against a persisted corpus index — the
    production dedup shape at 100 TB, where re-scanning the accepted
    corpus per batch is the cost that kills naive designs. The state
    directory holds three INDEX relations maintained incrementally
    (content hashes, exploded MinHash band keys, hashed shingle sets) so
    each batch pays:

    1. internal exact dedup (one hash aggregate over the batch);
    2. exact-vs-state: anti-join on content hash against the hash index
       — catches re-ingested duplicates under NEW doc ids;
    3. fuzzy-vs-state: the batch's band keys (small side) join the band
       index; state bands hotter than ``boilerplate_band_cap`` are
       dropped as boilerplate (same cap discipline as
       ``minhash_lsh_pairs_bipartite``); candidates verify by exact
       hashed-shingle Jaccard against the shingle index;
    4. fuzzy within the batch (``minhash_lsh_pairs``, higher id drops).

    Accepted docs and their index rows append idempotently
    (``append_dedup``) — replaying a batch is a no-op, and the index
    keys make the whole pipeline restart-safe without checkpoint files.
    Nothing ever re-reads accepted TEXT: fuzzy verification runs against
    the stored shingle sets.

    Contract: ``doc_id`` is the document's IDENTITY — new content must
    arrive under a new id. A batch row that reuses an already-accepted
    doc_id is indistinguishable from a replay of that doc and is dropped
    by the id-keyed appends regardless of its text (the per-stage stats,
    which count before the append, will still show it as accepted).

    ``semantic_eps`` adds the SemDeDup tier's incremental form: the
    batch's ``embedding_col`` vectors (docs without one survive by
    construction) check against a persisted VECTOR index — k-means
    centroids trained on the first semantic batch and stored
    (``index_centroids``), accepted vectors stored WITH their cluster
    assignment (``index_vectors``) so later batches never re-assign or
    re-scan state: the bipartite comparison is cluster-cogrouped,
    batch-side × state-side only (operators/semdedup.py). Within-batch
    semantic dedup runs under the same stored centroids.

    ``drift_report=True`` adds ``batch_js_divergence`` /
    ``batch_vocab_shared`` to the stats: the accepted batch's unigram
    JSD against the corpus BEFORE the append, computed against a
    persisted (token, count) index (``index_tokens``) maintained
    incrementally from each accepted batch — O(batch + vocab) per
    batch, the same no-state-re-read discipline as every other index
    here (and as run_incremental_crawl_ingest's monitor). The index
    stays in sync whenever it exists, even on later
    ``drift_report=False`` calls; a pre-index state directory is
    backfilled once (staged write + rename).

    ``compact_threshold`` bounds state-index small-file growth: after
    the batch's appends and folds complete (and its caches unpersist),
    any index whose parquet file count crossed the threshold is
    rewritten in place (``_maybe_compact_state_indexes`` — staged
    write + rename, amortized-O(1) per batch). Without it, continuous
    operation appends one delta file per batch forever and every
    vs-state join pays the listing. ``None`` disables.
    """
    from eligibility_etl_airflow_spark.operators import drift as drift_ops
    from eligibility_etl_airflow_spark.operators import neardup, text

    if semantic_eps is not None:
        # fail-fast, schema only: both checks run before any Spark job
        if embedding_col not in batch.columns:
            raise ValueError(
                f"semantic_eps requires the batch to carry an "
                f"{embedding_col!r} column (null for docs without an "
                "embedding — those survive the stage)"
            )
        if semantic_k != "auto" and not isinstance(semantic_k, int):
            raise ValueError(
                f"semantic_k must be an int or 'auto', got {semantic_k!r}"
            )

    docs_path = os.path.join(state_dir, "accepted_docs")
    hash_path = os.path.join(state_dir, "index_hashes")
    band_path = os.path.join(state_dir, "index_bands")
    shingle_path = os.path.join(state_dir, "index_shingles")
    token_path = os.path.join(state_dir, "index_tokens")
    # a compaction that crashed mid-swap last cycle leaves an index
    # MISSING (its data intact in __old_*) — healing must precede the
    # has_state probe or a replayed batch reads "no state" and
    # re-accepts duplicates
    # token_path rides along: its fold swaps via __old_/__merge_ and its
    # first build stages a __backfill_ tmp — a crash between write and
    # rename would otherwise leak a full-index-sized dir forever, and a
    # mid-swap crash heals here (restore newest __old_; the surviving
    # __pending_ intent then re-folds via the recovery path below)
    for _p in (
        docs_path,
        hash_path,
        band_path,
        shingle_path,
        token_path,
        os.path.join(state_dir, "index_vectors"),
    ):
        sinks.recover_interrupted_compaction(_p)
    has_state = os.path.exists(hash_path)

    with _Funnel() as f:
        f.stats["n_batch"] = batch.count()
        hashed = batch.withColumn("content_hash", text.fingerprint_md5(F.col("text")))
        keeper = hashed.groupBy("content_hash").agg(F.min("doc_id").alias("doc_id"))
        internal = f.stage(
            hashed.join(keeper.select("doc_id"), "doc_id", "left_semi"),
            "n_after_internal_exact",
        )

        fresh = internal
        if has_state:
            # state-shuffle-free anti-join (the r9 scaling fix): the
            # naive batch-anti-state shape shuffle-sorts the ENTIRE hash
            # index per batch. Instead scan the index once against a
            # broadcast of the batch's (bounded) hash set to get the
            # ``present`` intersection, then anti-join that — both joins
            # broadcast; the index contributes one column-pruned scan,
            # zero shuffle, at any state size.
            seen = spark.read.parquet(hash_path).select("content_hash")
            present = seen.join(
                F.broadcast(internal.select("content_hash")),
                "content_hash",
                "left_semi",
            )
            fresh = internal.join(F.broadcast(present), "content_hash", "left_anti")
        fresh = f.stage(fresh, "n_after_exact_vs_state")

        sh = f.cache(neardup.shingle_table(fresh, "doc_id", "text", shingle_k))
        band_tab = neardup.signature_band_table(sh, num_perm, bands).select(
            "id", F.posexplode_outer("bands").alias("band_idx", "band_sig")
        )

        survivors = fresh
        if has_state and os.path.exists(band_path):
            state_bands = spark.read.parquet(band_path)

            # state-shuffle-free band probe (r9): only bands the BATCH
            # actually probes matter, so restrict the index first with a
            # broadcast semi-join against the batch's (bounded) band set
            # — one scan of the index, zero state shuffle — instead of
            # the old shape, which both group-aggregated the ENTIRE
            # index (the boilerplate-cap count) and shuffle-joined the
            # ENTIRE index per batch. The output is bounded by the
            # probed bands' state fan-out, which the cap below then
            # trims exactly as before: counting hot bands within the
            # probed subset is equivalent to the global count for every
            # band that can produce a candidate.
            probe = band_tab.select("band_idx", "band_sig").distinct()
            state_hits = f.cache(
                state_bands.join(
                    F.broadcast(probe), ["band_idx", "band_sig"], "left_semi"
                )
            )
            # boilerplate cap on the STATE side: a band shared by
            # everyone has no discriminative signal but linear fan-out
            hot = (
                state_hits.groupBy("band_idx", "band_sig")
                .agg(F.count(F.lit(1)).alias("n"))
                .filter(F.col("n") > boilerplate_band_cap)
                .select("band_idx", "band_sig")
            )
            pruned = state_hits.join(
                F.broadcast(hot), ["band_idx", "band_sig"], "left_anti"
            )
            cand = (
                band_tab.withColumnRenamed("id", "new_id")
                .join(
                    pruned.withColumnRenamed("id", "old_id"),
                    ["band_idx", "band_sig"],
                )
                .select("new_id", "old_id")
                .distinct()
            )
            state_sh = spark.read.parquet(shingle_path)
            # the shingle fetch reads only candidate partners' rows: a
            # broadcast semi-join against the (small, distinct) old_id
            # set — one scan, no state shuffle. With the clustered
            # compaction layout (STATE_INDEX_CLUSTER_KEYS: id) the scan
            # also row-group-skips on id min/max once the index has been
            # compacted. The heavy shingle ARRAY column is only
            # materialized for surviving rows either way.
            old_ids = cand.select(F.col("old_id").alias("id")).distinct()
            dup_new = (
                cand.join(
                    sh.select(
                        F.col("id").alias("new_id"), F.col("shingles").alias("sh_n")
                    ),
                    "new_id",
                )
                .join(
                    # the state shingle index must never broadcast — its
                    # Catalyst estimate is parquet scan bytes while the
                    # shingle arrays occupy ~50x on the heap (the
                    # mis-broadcast OOM found by the round-7 scale probe
                    # in lsh_pairs_from_shingles; same relation here).
                    # Restricting via broadcast-semi BEFORE the join
                    # keeps the state side scan-only.
                    state_sh.join(F.broadcast(old_ids), "id", "left_semi")
                    .select(
                        F.col("id").alias("old_id"), F.col("shingles").alias("sh_o")
                    )
                    # merge hint retained: even restricted, the relation
                    # carries shingle arrays (~50x heap vs scan-bytes
                    # estimate) — never let Catalyst broadcast it
                    .hint("merge"),
                    "old_id",
                )
                .withColumn(
                    "j",
                    F.size(F.array_intersect("sh_n", "sh_o"))
                    / F.size(F.array_union("sh_n", "sh_o")).cast("double"),
                )
                .filter(F.col("j") >= jaccard_threshold)
                .select(F.col("new_id").alias("doc_id"))
                .distinct()
            )
            survivors = fresh.join(dup_new, "doc_id", "left_anti")
        survivors = f.stage(survivors, "n_after_fuzzy_vs_state")

        # within-batch fuzzy dedup reuses the persisted shingle relation
        # (restricted to survivors) under the SAME shingle_k/num_perm/
        # bands as the vs-state check and the index appends — one
        # signature scheme end to end, and no second shingling pass.
        pairs = neardup.lsh_pairs_from_shingles(
            sh.join(
                survivors.select(F.col("doc_id").alias("id")), "id", "left_semi"
            ),
            num_perm=num_perm,
            bands=bands,
            jaccard_threshold=jaccard_threshold,
        )
        losers = pairs.select(F.col("id_b").alias("doc_id")).distinct()
        accepted = f.stage(
            survivors.join(losers, "doc_id", "left_anti"), "n_after_byte_dedup"
        )

        acc_vecs = None
        if semantic_eps is not None:
            from eligibility_etl_airflow_spark.operators import semdedup
            from eligibility_etl_airflow_spark.operators.similarity import (
                as_double_array,
                nearest_centroid_assign,
            )

            cent_path = os.path.join(state_dir, "index_centroids")
            vec_path = os.path.join(state_dir, "index_vectors")
            bvec = f.cache(
                accepted.where(F.col(embedding_col).isNotNull()).select(
                    "doc_id", as_double_array(F.col(embedding_col)).alias("v")
                )
            )
            if os.path.exists(cent_path):
                cents = spark.read.parquet(cent_path)
            else:
                # first semantic batch WITH embeddings trains the index's
                # centroids; every later batch loads them — one clustering
                # for the corpus' lifetime (persisted-index discipline).
                # An embedding-less first batch trains NOTHING and writes
                # nothing, so a later batch that does carry embeddings
                # still gets to train — an empty centroid file would
                # silently disable the tier forever.
                # auto-k resolves against the FIRST embedding-carrying
                # batch (centroids are frozen for the corpus lifetime by
                # the persisted-index contract — re-index to rescale k);
                # same k ∝ n/1000 rule as semantic_dedup_drops(k="auto")
                k_resolved = semantic_k
                if semantic_k == "auto":
                    k_resolved = max(16, -(-bvec.count() // 1000))
                cents = semdedup.kmeans_centroids(bvec, "doc_id", "v", k=k_resolved)
                if cents.limit(1).count() > 0:
                    cents.write.mode("overwrite").parquet(cent_path)
                    cents = spark.read.parquet(cent_path)
                else:
                    cents = None
            # batch members of over-cap clusters are ACCEPTED without a
            # semantic check (reported, not silently skipped): at 0 this
            # is free; when it grows, the cluster needs a re-index
            # (delete index_centroids + index_vectors and replay —
            # centroids are frozen per corpus lifetime by design, so a
            # hot cluster cannot be split without retraining)
            f.stats["n_semantic_capped"] = 0
            if cents is None:
                f.stats["n_after_semantic"] = f.stats["n_after_byte_dedup"]
            else:
                sem_drop_ids = None
                if os.path.exists(vec_path):
                    # the index stores (id, cluster, v); surface the id
                    # under the batch's column name, keep the stored
                    # cluster so the operator skips state re-assignment.
                    # State rows whose id is IN this batch are excluded:
                    # a batch replayed after a crash between the vector
                    # append and the hash-index append would otherwise
                    # match its own stored vectors (sim 1.0) and drop
                    # every doc as a duplicate of itself — the replay
                    # must stay a no-op through that window too.
                    state_vecs = (
                        spark.read.parquet(vec_path)
                        .select(F.col("id").alias("doc_id"), "cluster", "v")
                        # broadcast the (bounded) batch id set so the
                        # vector index streams through the anti-join
                        # without shuffling (r9 state-shuffle-free shape)
                        .join(F.broadcast(bvec.select("doc_id")), "doc_id", "left_anti")
                    )
                    # eager checkpoint, not a bare persist: the drop
                    # relations nest the full bipartite/assignment trees,
                    # and carrying that lineage into accepted + the five
                    # index appends compounds the PLAN (explain-string
                    # heap blowup), not just the compute — truncation at
                    # the stage boundary keeps every downstream plan flat
                    # (same discipline as connected_components' rounds)
                    vs_state = _stable(
                        semdedup.semantic_dedup_drops_bipartite(
                            bvec, state_vecs, "doc_id", "v", cents, eps=semantic_eps
                        )
                    )
                    sem_drop_ids = (
                        vs_state.filter(~F.col("capped_cluster"))
                        .select(F.col("id").alias("doc_id"))
                        .distinct()
                    )
                    f.stats["n_semantic_capped"] += (
                        vs_state.filter(F.col("capped_cluster"))
                        .select("id")
                        .distinct()
                        .count()
                    )
                    bvec_in = bvec.join(sem_drop_ids, "doc_id", "left_anti")
                else:
                    bvec_in = bvec
                within = _stable(
                    semdedup.semantic_dedup_drops(
                        bvec_in, "doc_id", "v", centroids=cents, eps=semantic_eps
                    )
                )
                within_ids = within.filter(~F.col("capped_cluster")).select(
                    F.col("id").alias("doc_id")
                )
                f.stats["n_semantic_capped"] += (
                    within.filter(F.col("capped_cluster")).select("id").distinct().count()
                )
                all_sem = (
                    within_ids
                    if sem_drop_ids is None
                    else sem_drop_ids.unionByName(within_ids).distinct()
                )
                accepted = f.stage(
                    accepted.join(all_sem, "doc_id", "left_anti"), "n_after_semantic"
                )
                # the accepted vectors enter the index WITH their
                # assignment, so future batches compare without
                # re-assigning state
                acc_vecs = (
                    nearest_centroid_assign(
                        bvec.join(accepted.select("doc_id"), "doc_id", "left_semi"),
                        cents,
                        "doc_id",
                        "v",
                    )
                    .select("id", F.col("assigned_label").cast("long").alias("cluster"))
                    .join(bvec.select(F.col("doc_id").alias("id"), "v"), "id")
                )
        n_accepted = f.stats.get("n_after_semantic", f.stats["n_after_byte_dedup"])

        # Materialize EVERY index-append relation (eager checkpoint,
        # lineage truncated) BEFORE the first index write: append_dedup's
        # path write triggers Spark's refresh-by-path, which invalidates
        # any cached plan READING that path — and fresh/sh/bvec all read
        # the hash index. Without truncation, each append after the hash
        # write would lazily recompute its input against the
        # just-updated index and silently write NOTHING for this batch
        # (the shingle/band/vector rows would be lost while
        # accepted_docs kept the docs).
        accepted = _stable(accepted)
        acc_sh = _stable(
            sh.join(accepted.select(F.col("doc_id").alias("id")), "id", "left_semi")
        )
        if acc_vecs is not None:
            acc_vecs = _stable(acc_vecs)

        # drift vs the PRE-append corpus via the persisted token index,
        # backfilled once from accepted_docs for a pre-index state
        maintain_tokens, drift_row = drift_ops.token_index_prepare(
            spark,
            token_path,
            docs_path,
            accepted if n_accepted else None,
            drift_report,
            backfill=os.path.exists(docs_path),
        )

        # idempotent index + corpus maintenance (doc_id-keyed appends).
        # The corpus append's return value is the id-reuse detector: a
        # row the stage stats counted as accepted but the id-keyed
        # append skipped is either a replayed doc (normal, n_accepted is
        # then 0 anyway) or NEW content under an already-accepted doc_id
        # — an upstream id-allocation bug worth surfacing, not hiding
        n_docs_appended = sinks.append_dedup(
            spark, docs_path, accepted.drop("content_hash"), ["doc_id"]
        )
        sinks.append_dedup(
            spark, hash_path, accepted.select("doc_id", "content_hash"), ["doc_id"]
        )
        sinks.append_dedup(spark, shingle_path, acc_sh, ["id"])
        acc_bands = neardup.signature_band_table(acc_sh, num_perm, bands).select(
            "id", F.posexplode_outer("bands").alias("band_idx", "band_sig")
        )
        sinks.append_dedup(spark, band_path, acc_bands, ["id", "band_idx"])
        if acc_vecs is not None:
            # the vector index appends LAST: combined with the batch-id
            # exclusion above, a crash anywhere between these appends
            # leaves a state a replayed batch handles as a no-op (the
            # byte-level indexes are complete before any vector lands)
            sinks.append_dedup(
                spark,
                os.path.join(state_dir, "index_vectors"),
                acc_vecs,
                ["id"],
            )

        # fold the staged intent into the token index LAST; the batch
        # key inside the index directory makes the fold exactly-once
        # across crash/replay (see the crawl twin); landed check skipped
        # in-process
        if maintain_tokens:
            drift_ops.token_index_fold(spark, token_path, kind="acc")
    # between-batches index compaction: all appends and folds above have
    # landed and every batch cache is unpersisted, so the rewrite's
    # refresh-by-path cannot invalidate a live plan; the token index
    # self-compacts per fold and is excluded. Defensive WAL guard: a
    # pending intent here means a fold above failed mid-protocol —
    # structurally unreachable (the exception would have propagated),
    # but compacting in that state would interleave a rewrite with an
    # open recovery window, so skip and let the next ingest heal first.
    compacted = (
        {}
        if drift_ops.token_index_has_pending(token_path)
        else _maybe_compact_state_indexes(
            spark,
            [
                docs_path,
                hash_path,
                band_path,
                shingle_path,
                os.path.join(state_dir, "index_vectors"),
            ],
            compact_threshold,
        )
    )
    stats = f.stats
    stats["n_accepted"] = n_accepted
    # accepted-by-stages minus actually-appended: >0 means rows reused
    # an already-accepted doc_id (id-allocation bug upstream or a
    # partially-replayed batch) — see the docstring contract
    stats["n_id_reuse_skipped"] = n_accepted - n_docs_appended
    stats["n_corpus_total"] = (
        spark.read.parquet(docs_path).count() if os.path.exists(docs_path) else 0
    )
    if drift_row is not None:
        stats["batch_js_divergence"] = drift_row["js_divergence"]
        stats["batch_vocab_shared"] = drift_row["vocab_shared"]
    if compacted:
        stats["compacted_indexes"] = compacted
    return stats


def run_media_curation_pipeline(
    spark: SparkSession,
    media: DataFrame,
    out_dir: str,
    id_col: str = "media_id",
    binary_col: str = "payload",
    kind: str = "image",
    max_hamming: int = 3,
) -> dict:
    """Curate a binary media corpus the way the text funnel curates
    documents: metadata/validation → unreadable quarantine → exact
    byte dedup → perceptual near-dup dedup → clustered write.

    Stages:

    1. **metadata + validation** — format sniff, byte size, content
       md5 (operators/multimodal.binary_metadata: no decode). Null
       payloads and payloads whose magic bytes are not a format THIS
       KIND can actually decode (bmp for images, riff/WAV for audio —
       anything else would crash the perceptual-hash stage, not merge)
       are QUARANTINED, not dropped silently: the quarantine parquet is
       written unconditionally (empty on a clean corpus, so audits read
       a relation, never probe for a path) and is the operator's audit
       answer.
    2. **exact dedup** — min-id keeper per content md5 (the byte-level
       tier; re-encodes at new gain/scale survive this and are the
       next tier's job).
    3. **perceptual near-dup** — aHash (``kind="image"``) or spectral
       fingerprint (``kind="audio"``) pairs via the shared simhash
       banding, transitive min-id keeper via connected components over
       the pair graph (the text funnel's "component" removal policy).
    4. **clustered write** partitioned for downstream scans.

    At 100 TB the payloads never shuffle: metadata and hashing are
    narrow maps; only md5 strings and 64-bit hashes hit exchanges; the
    quarantine/eliminated relations are id-only. Returns the funnel
    counts dict."""
    from eligibility_etl_airflow_spark.operators import components, multimodal

    if kind not in ("image", "audio"):
        raise ValueError(f"kind must be 'image' or 'audio', got {kind!r}")
    decodable = {"image": ("bmp",), "audio": ("riff",)}[kind]

    with_meta = media.withColumn(
        "meta", multimodal.binary_metadata(F.col(binary_col))
    ).select(
        id_col,
        binary_col,
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.format").alias("format"),
        F.col("meta.content_md5").alias("content_md5"),
    )
    with _Funnel() as f:
        f.stats["n_total"] = media.count()
        readable = f.stage(
            with_meta.filter(
                F.col(binary_col).isNotNull() & F.col("format").isin(*decodable)
            ),
            "n_readable",
        )
        f.stats["n_quarantined"] = f.stats["n_total"] - f.stats["n_readable"]
        quarantine = with_meta.filter(
            F.col(binary_col).isNull() | ~F.col("format").isin(*decodable)
        ).select(id_col, "format")
        sinks.write_parquet(quarantine, os.path.join(out_dir, "quarantine"))

        keeper = readable.groupBy("content_md5").agg(
            F.min(id_col).alias(id_col)
        )
        exact_kept = f.stage(
            readable.join(keeper.select(id_col), id_col, "left_semi"),
            "n_after_exact",
        )

        neardup_pairs = (
            multimodal.image_neardup_pairs
            if kind == "image"
            else multimodal.audio_neardup_pairs
        )
        pairs = neardup_pairs(
            exact_kept, id_col, binary_col, max_hamming=max_hamming
        )
        labeled = components.attach_components(
            exact_kept.select(id_col), id_col, pairs
        )
        losers = labeled.filter(F.col(id_col) != F.col("cluster_id")).select(id_col)
        curated = exact_kept.join(losers, id_col, "left_anti").drop(binary_col)
        out_path = os.path.join(out_dir, "curated_media")
        sinks.write_clustered(curated, out_path, [id_col])
        f.stats["n_curated"] = spark.read.parquet(out_path).count()
    return f.stats


def run_crawl_preprocess_pipeline(
    spark: SparkSession,
    raw: DataFrame,
    out_dir: str,
    id_col: str = "doc_id",
    url_col: str = "url",
    html_col: str = "html",
    blocklist_terms: tuple[str, ...] | None = None,
    blocklist_max_fraction: float = 0.0,
    min_latin_fraction: float | None = None,
    max_mojibake_per_kchar: float | None = None,
    line_max_df: int = 10,
    nfc: bool = True,
    robots_df: DataFrame | None = None,
    robots_domain_col: str = "domain",
    robots_text_col: str = "robots",
    robots_agent: str = "*",
    robots_key: str = "host",
    quarantine_path: str | None = None,
) -> dict:
    """Raw crawl → curable text: the preprocessing funnel that runs
    BEFORE run_corpus_curation_pipeline, turning (id, url, html) crawl
    records into the (doc_id, url, domain, text) relation every
    downstream operator expects.

    Stages, cheapest first, each the already-tested operator:
      0. Optional robots.txt admission (operators/robots.py) — when
         ``robots_df`` (site key, robots text) is given, pages whose
         URL the site's robots rules disallow for ``robots_agent``
         drop FIRST: a compliant crawler never fetched them, so
         nothing downstream should spend a cycle on them.
         ``robots_key`` picks the match grain: "host" (RFC 9309 —
         robots.txt is per host) or "domain". Rules are site-sized;
         the join shuffles on the site key.
      1. URL canonicalization (operators/urls.py) — malformed URLs
         (canonical NULL) drop; then URL-level exact dedup keeps the
         min-id record per canonical form (two crawls of the same page
         that differ only by tracking params / default port / fragment
         are one page).
      2. HTML → text (text.strip_html, collapse_ws=False so line
         structure survives for stage 3).
      3. Line-level boilerplate removal (dedup.line_dedup) — site
         chrome shared across >= ``line_max_df`` docs drops; docs whose
         every line was boilerplate (empty text_clean) drop.
      4. Unicode NFC (text.unicode_nfc) so downstream hashing sees one
         byte form per string (skippable with ``nfc=False``).
      5. Optional blocklist gate (text.blocklist_metrics).
      6. Optional script gate: docs whose Latin character fraction
         falls below ``min_latin_fraction`` drop (the mixed-script
         net; swap thresholds per target language mix).
      7. Optional mojibake gate: docs whose cp1252 double-encoding
         signature density exceeds ``max_mojibake_per_kchar`` drop —
         valid-UTF-8 wrong-text the byte triage cannot see
         (text.mojibake_metrics).

    Scale shape: stages 2/4/5/6/7 are map-only column work fused into
    one pass over the deduped relation; the only shuffles are the
    URL-dedup aggregate (canonical key), line_dedup's two (line key,
    id key), all partial-aggregated.

    ``quarantine_path`` (opt-in) writes one (doc_id, url, reason) row
    per DROPPED record — robots_disallowed / malformed_url /
    url_duplicate / boilerplate_empty / blocklist / script_gate — the
    crawl tier's "why is page X missing" provenance answer, same
    discipline as curation's audit_path. Reasons derive from anti-joins
    of the already-persisted stage relations, so the extra cost is the
    write itself; drops + survivors partition the input (test-pinned).

    The output is a full documents table — (doc_id, text, lang
    [marker-heuristic], source [= registered domain], n_chars,
    url_canonical, domain), range-clustered by doc_id under
    ``<out_dir>/documents.parquet`` — so ``out_dir`` is directly usable
    as the ``sf_dir`` of run_corpus_curation_pipeline /
    run_training_prep_pipeline: the crawl → curate → prep funnel chains
    end to end with no glue."""
    from eligibility_etl_airflow_spark.operators import text

    if line_max_df < 2:
        raise ValueError(f"line_max_df must be >= 2, got {line_max_df}")

    with _Funnel() as f:
        f.stats["n_total"] = raw.count()
        f.snapshots.append(("source", raw))
        # 0. robots admission (optional)
        admitted = raw
        if robots_df is not None:
            admitted = f.stage(
                _robots_admitted(
                    raw, url_col, robots_df, robots_domain_col,
                    robots_text_col, robots_agent, robots_key,
                ),
                "n_after_robots",
                "robots_disallowed",
            )

        # 1. canonicalize + URL dedup
        with_url, url_deduped = _url_deduped(admitted, url_col, id_col)
        f.snapshots.append(("malformed_url", with_url))
        url_deduped = f.stage(url_deduped, "n_after_url_dedup", "url_duplicate")

        # 2+3+4. HTML → text, line-level dedup, NFC
        current = f.stage(
            _clean_html(f, url_deduped, id_col, html_col, line_max_df, nfc),
            "n_after_line_dedup",
            "boilerplate_empty",
        )
        # 5. blocklist gate (optional)
        if blocklist_terms is not None:
            current = f.stage(
                _blocklist_gate(
                    current, id_col, blocklist_terms, blocklist_max_fraction
                ),
                "n_after_blocklist",
                "blocklist",
            )
        # 6. script gate (optional)
        if min_latin_fraction is not None:
            current = f.stage(
                _script_gate(current, id_col, min_latin_fraction),
                "n_after_script",
                "script_gate",
            )
        # 7. mojibake gate (optional): double-encoded text is valid
        # UTF-8, so the byte-level triage upstream cannot catch it —
        # the derived cp1252-signature density does (operators/text.py)
        if max_mojibake_per_kchar is not None:
            ok = text.mojibake_metrics(
                current, id_col, "text",
                max_per_kchar=max_mojibake_per_kchar,
            ).filter(F.col("keep")).select(F.col("id").alias(id_col))
            current = f.stage(
                current.join(ok, id_col, "left_semi"),
                "n_after_mojibake",
                "mojibake_gate",
            )

        # the output IS a documents table, written under
        # documents.parquet so this stage's out_dir is a valid sf_dir
        # for run_corpus_curation_pipeline / run_training_prep_pipeline
        out_path = os.path.join(out_dir, "documents.parquet")
        sinks.write_clustered(_documents_table(current, id_col), out_path, ["doc_id"])
        f.stats["n_preprocessed"] = spark.read.parquet(out_path).count()
        if quarantine_path is not None:
            # relations past the HTML strip carry only the canonical URL
            _snapshot_drops(
                [
                    (
                        reason,
                        df.select(
                            F.col(id_col).alias("doc_id"),
                            F.col(
                                url_col if url_col in df.columns else "url_canonical"
                            ).alias("url"),
                        ),
                    )
                    for reason, df in f.snapshots
                ],
                "reason",
            ).write.mode("overwrite").parquet(quarantine_path)
            f.stats["n_quarantined"] = spark.read.parquet(quarantine_path).count()
    return f.stats


def run_incremental_crawl_ingest(
    spark: SparkSession,
    batch: DataFrame,
    state_dir: str,
    id_col: str = "doc_id",
    url_col: str = "url",
    html_col: str = "html",
    blocklist_terms: tuple[str, ...] | None = None,
    blocklist_max_fraction: float = 0.0,
    min_latin_fraction: float | None = None,
    line_max_df: int = 10,
    nfc: bool = True,
    robots_df: DataFrame | None = None,
    robots_domain_col: str = "domain",
    robots_text_col: str = "robots",
    robots_agent: str = "*",
    robots_key: str = "host",
    recrawl_policy: str = "skip",
    drift_report: bool = False,
    compact_threshold: int | None = 32,
) -> dict:
    """Ingest a NEW crawl batch against persisted crawl state — the
    continuous form of run_crawl_preprocess_pipeline, where re-crawls
    arrive forever and re-scanning accepted pages per batch is the cost
    that kills naive designs. The state directory holds the accepted
    documents plus two INDEX relations:

      * ``index_urls`` (canonical URL) — a re-crawl of an already-
        accepted page (same canonical form, any tracking-param/port/
        fragment variation) skips in one anti-join;
      * ``index_hashes`` (content md5 of the CLEANED text) — the same
        content re-appearing at a NEW URL (mirrors, CDNs, domain moves)
        skips in a second anti-join.

    Per batch: canonicalize + within-batch URL dedup → URL-vs-state
    anti-join → HTML strip → within-batch line dedup → optional NFC/
    blocklist/script gates → within-batch content dedup →
    content-vs-state anti-join → idempotent appends (``append_dedup``
    on doc_id / url_canonical / content_hash). Replaying a batch is a
    no-op, so the foreachBatch wrapper (streaming/ops.py::
    stream_crawl_ingest) is restart-safe end to end. Accepted-page TEXT
    is never re-read — both vs-state checks ride the key indexes.

    Re-crawls: ``recrawl_policy="skip"`` (default) drops already-seen
    canonical URLs in one anti-join — the cheapest correct behavior
    when snapshots rarely change. ``"update"`` additionally re-cleans
    the re-crawled pages and, where the cleaned content hash CHANGED,
    replaces the accepted document in place (URL identity wins:
    ``merge_upsert`` keyed on url_canonical updates the doc and the
    URL index; the new hash appends to the hash index, which stays
    append-only as an ever-seen-content filter — a page updated AWAY
    from some content keeps that content suppressed for future new
    URLs, the standard crawl-dedup semantics). Unchanged re-crawls are
    no-ops, so replaying a batch under either policy stays idempotent.
    ``drift_report=True`` adds ``batch_js_divergence`` (plus token/vocab
    counts) to the stats: the accepted batch's unigram JSD against the
    corpus state BEFORE the append. The corpus side comes from a THIRD
    state relation, ``index_tokens`` — persisted (token, count) unigram
    counts maintained incrementally from each accepted/updated batch —
    so the per-batch drift cost is O(batch + vocab), never O(corpus):
    accepted text is not re-read for the monitor either. The index is
    kept in sync whenever it exists, even on later drift_report=False
    calls; a pre-index state directory is backfilled once on the first
    drift_report=True ingest (staged write + rename, like the url-index
    migration). A batch that suddenly diverges (spam wave, encoding
    regression, topic shift) surfaces as one number before it pollutes
    the corpus.

    A url index written before the update-policy era (no content_hash
    column) is backfilled ONCE on the next ingest — hashes recomputed
    from the accepted docs' stored text, staged write + rename swap —
    under either policy, so appends never mix parquet schemas.

    Line-frequency note: the boilerplate tier sees one BATCH at a time,
    so chrome shared across batches but rare within one can survive —
    the documented trade for never re-scanning state; lower
    ``line_max_df`` or run a periodic batch re-pass if that matters.

    ``compact_threshold`` bounds state-index small-file growth exactly
    as in run_incremental_curation: once all appends/merges and token
    folds have landed (between batches, caches unpersisted — never
    mid-fold), any of accepted_docs / index_urls / index_hashes whose
    parquet file count crossed the threshold is rewritten in place.
    ``None`` disables."""
    from eligibility_etl_airflow_spark.operators import drift as drift_ops
    from eligibility_etl_airflow_spark.operators import text

    if recrawl_policy not in ("skip", "update"):
        raise ValueError(
            f"recrawl_policy must be 'skip' or 'update', got {recrawl_policy!r}"
        )
    if line_max_df < 2:
        raise ValueError(f"line_max_df must be >= 2, got {line_max_df}")
    docs_path = os.path.join(state_dir, "accepted_docs")
    url_index = os.path.join(state_dir, "index_urls")
    hash_index = os.path.join(state_dir, "index_hashes")
    token_index = os.path.join(state_dir, "index_tokens")
    # heal a mid-swap compaction crash BEFORE the has_state probe (see
    # run_incremental_curation — a missing url/hash index reads as "no
    # state" and a replay re-accepts duplicates)
    # token_index rides along for the same __backfill_/__merge_ stray-tmp
    # and mid-fold-swap healing as the curation loop's heal list
    for _p in (docs_path, url_index, hash_index, token_index):
        sinks.recover_interrupted_compaction(_p)
    has_state = os.path.exists(url_index)

    with _Funnel() as f:
        f.stats["n_batch"] = batch.count()
        # one-time state migration: a url index written before the
        # update-policy era lacks content_hash; appending 3-column rows
        # into a 2-column directory would mix parquet schemas (reads
        # then surface NULL hashes or nondeterministic footers), so the
        # index is backfilled FIRST — hash recomputed from the accepted
        # docs' stored text, staged write + rename swap, idempotent
        if has_state and "content_hash" not in spark.read.parquet(url_index).columns:
            import shutil
            import uuid

            migrated = _stable(
                spark.read.parquet(url_index)
                .select("url_canonical", "doc_id")
                .join(
                    spark.read.parquet(docs_path).select(
                        "doc_id", text.fingerprint_md5(F.col("text")).alias(
                            "content_hash"
                        )
                    ),
                    "doc_id",
                )
                .select("url_canonical", "doc_id", "content_hash")
            )
            tmp = f"{url_index}__migrate_{uuid.uuid4().hex[:8]}"
            migrated.write.mode("overwrite").parquet(tmp)
            old_dir = f"{url_index}__old_{uuid.uuid4().hex[:8]}"
            os.rename(url_index, old_dir)
            os.rename(tmp, url_index)
            shutil.rmtree(old_dir)

        # robots admission first (same stage-0 contract as
        # run_crawl_preprocess_pipeline)
        admitted = batch
        if robots_df is not None:
            admitted = f.stage(
                _robots_admitted(
                    batch, url_col, robots_df, robots_domain_col,
                    robots_text_col, robots_agent, robots_key,
                ),
                "n_after_robots",
            )

        batch_urls = _url_deduped(admitted, url_col, id_col)[1]
        url_deduped = batch_urls
        recrawls_src = None
        if has_state:
            # state-shuffle-free URL dedup (r9, same shape as the hash
            # index in run_incremental_curation): scan the url index
            # once against a broadcast of the batch's URL set; the
            # resulting ``present`` intersection (≤ batch rows) then
            # serves BOTH the update-mode semi and the anti — the index
            # never shuffles, whatever its size.
            seen_urls = spark.read.parquet(url_index).select("url_canonical")
            url_present = seen_urls.join(
                F.broadcast(batch_urls.select("url_canonical")),
                "url_canonical",
                "left_semi",
            )
            if recrawl_policy == "update":
                batch_urls = f.cache(batch_urls)
                url_present = f.cache(url_present)
                recrawls_src = batch_urls.join(
                    F.broadcast(url_present), "url_canonical", "left_semi"
                )
            url_deduped = batch_urls.join(
                F.broadcast(url_present), "url_canonical", "left_anti"
            )
        url_deduped = f.stage(url_deduped, "n_new_urls")

        def clean(rel: DataFrame) -> DataFrame:
            # strip -> line dedup -> NFC -> gates -> content hash; the
            # line-frequency window is the relation it is given (per
            # split in update mode — documented trade)
            current = _clean_html(f, rel, id_col, html_col, line_max_df, nfc)
            if blocklist_terms is not None:
                current = _blocklist_gate(
                    current, id_col, blocklist_terms, blocklist_max_fraction
                )
            if min_latin_fraction is not None:
                current = _script_gate(current, id_col, min_latin_fraction)
            return current.withColumn(
                "content_hash", text.fingerprint_md5(F.col("text"))
            )

        hashed = clean(url_deduped)
        ckeeper = hashed.groupBy("content_hash").agg(F.min(id_col).alias(id_col))
        deduped = hashed.join(ckeeper.select(id_col), id_col, "left_semi")
        if has_state and os.path.exists(hash_index):
            # same state-shuffle-free present shape as the url index
            seen_hashes = spark.read.parquet(hash_index).select("content_hash")
            hash_present = seen_hashes.join(
                F.broadcast(deduped.select("content_hash")),
                "content_hash",
                "left_semi",
            )
            deduped = deduped.join(
                F.broadcast(hash_present), "content_hash", "left_anti"
            )

        accepted = _stable(_documents_table(deduped, id_col, "content_hash"))
        n_accepted = accepted.count()

        # drift vs the PRE-append state via the persisted token index —
        # accepted text is NEVER re-read (the function's core
        # invariant); a state built before the token-index era is
        # backfilled once from the accepted docs
        maintain_tokens, drift_row = drift_ops.token_index_prepare(
            spark,
            token_index,
            docs_path,
            accepted if n_accepted else None,
            drift_report,
            backfill=has_state,
            kinds=("acc", "upd"),
        )

        # update path: re-crawled URLs whose CLEANED content changed
        # replace their accepted doc in place; computed (and _stable'd)
        # BEFORE any write below refreshes the state paths it reads
        n_updated = None
        if recrawls_src is not None:
            idx = spark.read.parquet(url_index)
            updated = _stable(
                _documents_table(
                    clean(recrawls_src)
                    .join(
                        idx.select(
                            "url_canonical", F.col("content_hash").alias("_old")
                        ),
                        "url_canonical",
                    )
                    .filter(F.col("content_hash") != F.col("_old")),
                    id_col,
                    "content_hash",
                )
            )
            n_updated = updated.count()

        # token-count deltas for the update path, staged as their own
        # write-ahead intent BEFORE merge_upsert rewrites docs_path: the
        # replaced documents' OLD text leaves the corpus, so its counts
        # must leave the index (else the index accretes ghost
        # vocabulary). The old-text read piggybacks on the update path,
        # which already rewrites docs_path wholesale — no new asymptotic
        # cost. A separate intent from the accepted appends' because
        # those writes land at different times — one combined intent
        # could fold the un-landed half after a crash between them, then
        # fold it again on replay.
        if maintain_tokens and n_updated:
            drift_ops.token_index_pending_write(
                token_index,
                drift_ops.batch_content_key(("upd", updated)),
                add=_stable(drift_ops.unigram_counts(updated.select("text"))),
                subtract=_stable(
                    drift_ops.unigram_counts(
                        spark.read.parquet(docs_path)
                        .join(
                            updated.select("url_canonical"),
                            "url_canonical",
                            "left_semi",
                        )
                        .select("text")
                    )
                ),
                ids=updated.select("doc_id"),
                kind="upd",
            )

        # appends AFTER the _stable: each write refreshes its path, and
        # an un-checkpointed lineage reading these paths would lazily
        # recompute against the just-updated state (append_dedup's
        # documented caller contract)
        n_docs_appended = sinks.append_dedup(
            spark, docs_path, accepted.drop("content_hash"), keys=["doc_id"]
        )
        sinks.append_dedup(
            spark,
            url_index,
            accepted.select("url_canonical", "doc_id", "content_hash"),
            keys=["url_canonical"],
        )
        sinks.append_dedup(
            spark,
            hash_index,
            accepted.select("content_hash", "doc_id"),
            keys=["content_hash"],
        )
        if n_updated:
            sinks.merge_upsert(
                spark,
                docs_path,
                updated.drop("content_hash"),
                keys=["url_canonical"],
            )
            sinks.merge_upsert(
                spark,
                url_index,
                updated.select("url_canonical", "doc_id", "content_hash"),
                keys=["url_canonical"],
            )
            # hash index stays append-only: an ever-seen-content filter
            sinks.append_dedup(
                spark,
                hash_index,
                updated.select("content_hash", "doc_id"),
                keys=["content_hash"],
            )

        # fold the staged deltas into the token index LAST, mirroring
        # exactly what the writes above did to docs_path (accepted
        # appended, updated replaced): counts + accepted + new_updated −
        # old_updated, zero-count rows dropped. O(vocab + batch) work;
        # each fold consumes its __pending intent, staged write + rename
        # with the batch key recorded inside the index directory — so a
        # crash anywhere in this window is healed by the recovery folds
        # at the next ingest, exactly once per kind. A replayed batch
        # stages nothing and the folds are no-ops (in-process folds skip
        # the landed check — the writes above just ran)
        if maintain_tokens:
            drift_ops.token_index_fold(spark, token_index, kind="acc")
            drift_ops.token_index_fold(spark, token_index, kind="upd")
    # between-batches index compaction (see run_incremental_curation):
    # appends/merges/folds have landed, caches are gone, token index
    # excluded (self-compacting per fold); same defensive WAL guard
    compacted = (
        {}
        if drift_ops.token_index_has_pending(token_index)
        else _maybe_compact_state_indexes(
            spark, [docs_path, url_index, hash_index], compact_threshold
        )
    )
    stats = f.stats
    stats["n_accepted"] = n_accepted
    # same id-reuse detector as run_incremental_curation: rows the
    # stages accepted but the doc_id-keyed corpus append skipped
    stats["n_id_reuse_skipped"] = n_accepted - n_docs_appended
    stats["n_total_accepted"] = spark.read.parquet(docs_path).count()
    if compacted:
        stats["compacted_indexes"] = compacted
    if n_updated is not None:
        stats["n_updated"] = n_updated
    if drift_row is not None:
        stats["batch_js_divergence"] = drift_row["js_divergence"]
        stats["batch_vocab_shared"] = drift_row["vocab_shared"]
    return stats


def run_crawl_frontier_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    id_col: str = "doc_id",
    url_col: str = "url",
    html_col: str = "html",
    robots_df: DataFrame | None = None,
    robots_domain_col: str = "domain",
    robots_text_col: str = "robots",
    robots_agent: str = "*",
    robots_key: str = "host",
    per_domain_budget: int = 10,
    max_per_domain: int | None = None,
    pagerank_iterations: int = 5,
    default_crawl_delay: float = 1.0,
    sitemaps_df: DataFrame | None = None,
    sitemap_xml_col: str = "xml",
    domain_quality_df: DataFrame | None = None,
    pagerank_init: DataFrame | None = None,
    pagerank_tol: float | None = None,
    crawled_urls_df: DataFrame | None = None,
    domain_edges_df: DataFrame | None = None,
    ranks_out_path: str | None = None,
    page_edges_df: DataFrame | None = None,
) -> dict:
    """Close the crawl loop: from the pages already fetched, decide
    WHAT to fetch next and in what order. The missing quarter of the
    crawl story — preprocess (what we got), incremental ingest (keep
    getting it), curation (keep the good parts) all exist; this emits
    the next fetch list.

    Stages, each an already-tested operator:
      1. Harvest page-grain link edges from the raw HTML
         (urls.extract_link_edges, domain_grain=False) and domain-grain
         edges for authority (one shared href pass, two projections).
      2. Candidate frontier = link TARGETS not already crawled
         (anti-join on canonical URL — re-discovering a fetched page
         costs one hash probe, never a fetch slot).
      3. Authority prior = domain-grain PageRank (linkgraph.pagerank);
         each candidate URL inherits its registered domain's rank as
         ``priority`` and carries its in-link count as the audit
         column. Unknown-domain candidates get rank 0 (they enter the
         crawl through the budget's tail, not never).
      4. Optional robots.txt admission (operators/robots.py) — don't
         schedule what compliance forbids fetching.
      5. Politeness scheduling (robots.frontier_schedule): at most
         ``per_domain_budget`` fetches per domain per cycle, best
         priority first, per-domain queue capped at ``max_per_domain``.

    Scale shape: one href-explode pass feeds both edge grains; the
    candidate set is distinct-ed on the canonical URL key (one
    partial-agg shuffle) and anti-joined against the crawled set on the
    same key; PageRank runs at DOMAIN grain (nodes = domains, not
    pages); the rank attach is a broadcast-or-shuffle join on the
    domain key; scheduling is the per-domain window. Output
    ``frontier.parquet`` is range-clustered by (fetch_cycle, domain) —
    the order a fetcher consumes it.

    Continuous operation: ``domain_edges_df`` overrides the
    batch-derived domain graph with an accumulated one, and
    ``ranks_out_path`` persists the computed ranks (staged write +
    rename) for the next cycle's ``pagerank_init`` — both wired
    together by :func:`run_incremental_frontier`.
    """
    from eligibility_etl_airflow_spark.operators import (
        linkgraph,
        robots as robots_ops,
        urls,
    )

    with _Funnel() as f:
        # page_edges_df lets run_incremental_frontier share ONE href
        # extraction pass between the edge-state append and this
        # pipeline — the raw-HTML regex explode is the dominant
        # per-batch cost and must not run twice per cycle
        page_edges = f.cache(
            page_edges_df
            if page_edges_df is not None
            else urls.extract_link_edges(pages, url_col, html_col, domain_grain=False)
        )
        crawled = (
            urls.url_components(pages, url_col)
            .select(F.col("url_canonical"))
            .filter(F.col("url_canonical").isNotNull())
            .distinct()
        )
        candidates = page_edges.groupBy(F.col("dst").alias("url")).agg(
            F.count(F.lit(1)).cast("long").alias("n_inlinks")
        )
        if sitemaps_df is not None:
            # the site's own enumeration seeds the frontier alongside link
            # discovery; locs canonicalize through the same grammar so a
            # sitemap variant of a linked URL merges, not duplicates
            seeds = (
                sitemaps_df.select(
                    F.explode(
                        urls.sitemap_entries(F.col(sitemap_xml_col))
                    ).alias("e")
                )
                .select(urls.canonical_url(F.col("e.loc")).alias("url"))
                .filter(F.col("url").isNotNull())
                .withColumn("n_inlinks", F.lit(0).cast("long"))
            )
            candidates = (
                candidates.unionByName(seeds)
                .groupBy("url")
                .agg(F.sum("n_inlinks").alias("n_inlinks"))
            )
        if crawled_urls_df is not None:
            # continuous operation: the full crawl history lives in the
            # ingest state's url index, not just in this batch's pages —
            # anti-join it on the same canonical key
            crawled = crawled.unionByName(
                crawled_urls_df.select("url_canonical").distinct()
            )
        candidates = f.stage(
            candidates.join(
                crawled, F.col("url") == F.col("url_canonical"), "left_anti"
            ),
            "n_candidates",
        )

        if domain_edges_df is not None:
            # continuous operation: authority comes from the FULL
            # accumulated link graph (run_incremental_frontier's edge
            # state), not just this batch's pages
            dom_edges = domain_edges_df
        else:
            dom_edges = page_edges.select(
                urls.registered_domain(urls.url_host(F.col("src"))).alias("src"),
                urls.registered_domain(urls.url_host(F.col("dst"))).alias("dst"),
            ).filter(F.col("src") != F.col("dst"))
        ranks = linkgraph.pagerank(
            dom_edges,
            iterations=pagerank_iterations,
            init=pagerank_init,
            tol=pagerank_tol,
        )
        if ranks_out_path is not None:
            # staged write + rename: pagerank() localCheckpoints its
            # result, so writing over the path that seeded init cannot
            # recompute-against-self (and the swap is atomic-enough for
            # a reader between cycles)
            import shutil as _shutil
            import uuid as _uuid

            tmp = f"{ranks_out_path}__cycle_{_uuid.uuid4().hex[:8]}"
            ranks.write.mode("overwrite").parquet(tmp)
            if os.path.exists(ranks_out_path):
                old = f"{ranks_out_path}__old_{_uuid.uuid4().hex[:8]}"
                os.rename(ranks_out_path, old)
                os.rename(tmp, ranks_out_path)
                _shutil.rmtree(old)
            else:
                os.rename(tmp, ranks_out_path)
            ranks = spark.read.parquet(ranks_out_path)
        scored = candidates.withColumn(
            "domain", urls.registered_domain(urls.url_host(F.col("url")))
        ).join(
            ranks.select(F.col("id").alias("domain"), F.col("rank")),
            "domain",
            "left",
        )
        if domain_quality_df is not None:
            # curation feedback: domains whose pages keep getting dropped
            # downstream earn a lower fetch priority — authority × yield.
            # Unseen domains keep factor 1 (no evidence is not bad
            # evidence)
            scored = scored.join(
                F.broadcast(
                    domain_quality_df.select("domain", "quality_rate")
                ),
                "domain",
                "left",
            ).withColumn(
                "rank",
                F.coalesce(F.col("rank"), F.lit(0.0))
                * F.coalesce(F.col("quality_rate"), F.lit(1.0)),
            ).drop("quality_rate")
        scored = scored.select(
            "url",
            "n_inlinks",
            F.coalesce(F.col("rank"), F.lit(0.0)).alias("priority"),
        )

        if robots_df is not None:
            scored = f.stage(
                _robots_admitted(
                    scored, "url", robots_df, robots_domain_col,
                    robots_text_col, robots_agent, robots_key,
                ),
                "n_admitted",
            )

        frontier = robots_ops.frontier_schedule(
            scored,
            "url",
            "priority",
            per_domain_budget=per_domain_budget,
            max_per_domain=max_per_domain,
        )
        if robots_df is not None:
            # earliest polite fetch time: a domain's cycle N starts after
            # N waits of its Crawl-delay (default_crawl_delay when the
            # robots file sets none) — the column a rate-limited fetcher
            # sorts on
            delays = robots_df.select(
                F.col(robots_domain_col).alias("_site"),
                robots_ops.robots_crawl_delay(
                    F.col(robots_text_col), robots_agent
                ).alias("_delay"),
            )
            site = (
                urls.url_host(F.col("url"))
                if robots_key == "host"
                else urls.registered_domain(urls.url_host(F.col("url")))
            )
            frontier = (
                frontier.join(delays, site == F.col("_site"), "left")
                .withColumn(
                    "eta_seconds",
                    # the i-th delay-compliant fetch of a domain happens
                    # after i waits: i = cycle*budget + slot (cycle alone
                    # would let a whole cycle fire simultaneously)
                    (
                        F.col("fetch_cycle") * per_domain_budget
                        + F.col("cycle_slot")
                    )
                    * F.coalesce(F.col("_delay"), F.lit(default_crawl_delay)),
                )
                .drop("_site", "_delay")
            )
        out_path = os.path.join(out_dir, "frontier.parquet")
        sinks.write_clustered(frontier, out_path, ["fetch_cycle", "domain"])
        written = spark.read.parquet(out_path)
        f.stats["n_scheduled"] = written.count()
        f.stats["n_domains"] = written.select("domain").distinct().count()
    return f.stats


def run_incremental_frontier(
    spark: SparkSession,
    pages: DataFrame,
    state_dir: str,
    out_dir: str,
    url_col: str = "url",
    html_col: str = "html",
    pagerank_iterations: int = 20,
    pagerank_tol: float | None = 1e-7,
    compact_threshold: int | None = 32,
    edge_stats: bool = False,
    **frontier_kwargs,
) -> dict:
    """Continuous form of :func:`run_crawl_frontier_pipeline` — the
    frontier analogue of run_incremental_crawl_ingest: per crawl cycle,
    this batch's domain-grain link edges merge idempotently into a
    persisted edge state (``index_domain_edges``, keyed (src, dst) —
    replaying a cycle appends nothing), PageRank runs over the FULL
    accumulated graph but WARM-STARTS from the previous cycle's
    persisted ranks (``frontier_ranks``) with ``pagerank_tol``
    early-stop — on a mature graph a new batch perturbs the fixed point
    locally, so convergence takes 1-3 iterations instead of the full
    budget from uniform; ``pagerank_iterations`` stays the hard cap and
    a COLD start (first cycle, or after deleting frontier_ranks) pays
    it once. New ranks persist back via staged write + rename, and the
    crawl-history anti-join automatically reads the ingest state's
    ``index_urls`` when the same ``state_dir`` is shared with
    run_incremental_crawl_ingest (pass ``crawled_urls_df`` to extend
    it). The edge state gets the same between-cycles compaction as the
    ingest indexes.

    Cost shape per cycle: edge extraction is batch-proportional
    (one href pass), the edge-state anti-join is keyed on (src, dst),
    and the PageRank iterations touch the full DOMAIN-grain graph —
    domains-sized, not pages-sized — with per-iteration cost bounded by
    the early-stop. Nothing re-reads accepted page text.

    Extra ``frontier_kwargs`` pass through (robots_df, sitemaps_df,
    domain_quality_df, per_domain_budget, ...)."""
    from eligibility_etl_airflow_spark.operators import urls

    edges_path = os.path.join(state_dir, "index_domain_edges")
    ranks_path = os.path.join(state_dir, "frontier_ranks")
    # heal mid-swap crashes from a previous cycle's edge compaction or
    # ranks persist (missing ranks only costs a cold start, but missing
    # EDGES would silently shrink the authority graph)
    sinks.recover_interrupted_compaction(edges_path)
    sinks.recover_interrupted_compaction(ranks_path)

    # ONE href-extraction pass per cycle: the page-grain edges feed the
    # pipeline below (page_edges_df=) and the domain-grain projection
    # of the SAME relation feeds the edge state — the domain grain of a
    # page-grain edge set is exactly extract_link_edges(domain_grain=
    # True)'s output (both drop same-grain self-edges)
    page_edges = _stable(
        urls.extract_link_edges(pages, url_col, html_col, domain_grain=False)
    )
    batch_edges = _stable(
        page_edges.select(
            urls.registered_domain(urls.url_host(F.col("src"))).alias("src"),
            urls.registered_domain(urls.url_host(F.col("dst"))).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    sinks.append_dedup(spark, edges_path, batch_edges, keys=["src", "dst"])

    init = spark.read.parquet(ranks_path) if os.path.exists(ranks_path) else None
    crawled = frontier_kwargs.pop("crawled_urls_df", None)
    url_index = os.path.join(state_dir, "index_urls")
    if os.path.exists(url_index):
        state_urls = spark.read.parquet(url_index).select("url_canonical")
        crawled = (
            state_urls
            if crawled is None
            else crawled.select("url_canonical").unionByName(state_urls)
        )

    # a link-free first batch appends nothing and creates no directory;
    # the graph is then just this batch's (empty) edge relation
    state_edges = (
        spark.read.parquet(edges_path)
        if os.path.exists(edges_path)
        else batch_edges
    )
    stats = run_crawl_frontier_pipeline(
        spark,
        pages,
        out_dir,
        url_col=url_col,
        html_col=html_col,
        pagerank_iterations=pagerank_iterations,
        pagerank_init=init,
        pagerank_tol=pagerank_tol,
        crawled_urls_df=crawled,
        domain_edges_df=state_edges,
        ranks_out_path=ranks_path,
        page_edges_df=page_edges,
        **frontier_kwargs,
    )
    stats["warm_start"] = init is not None
    if edge_stats:
        # telemetry only — a full-relation action per cycle (cheap at
        # domain grain, but nothing downstream needs it), so opt-in
        stats["n_state_edges"] = state_edges.count()
    compacted = _maybe_compact_state_indexes(
        spark, [edges_path], compact_threshold
    )
    if compacted:
        stats["compacted_indexes"] = compacted
    return stats


def domain_survival_rates(
    docs: DataFrame,
    audit: DataFrame,
    domain_col: str = "domain",
    id_col: str = "doc_id",
) -> DataFrame:
    """Curation feedback for the crawler: per-domain survival rate
    (docs NOT dropped / docs ingested) from a curation audit trail
    (``run_corpus_curation_pipeline(audit_path=)`` — one (doc_id,
    dropped_at) row per dropped doc). The output (domain,
    quality_rate, n_docs, n_dropped) plugs into
    ``run_crawl_frontier_pipeline(domain_quality_df=)`` so domains
    that keep producing boilerplate/junk earn a lower fetch priority —
    the crawl → curate → crawl feedback loop. One semi-join + one
    partial-agg shuffle on the domain key; output is domains-sized."""
    dropped = docs.join(
        audit.select(id_col).distinct(), id_col, "left_semi"
    ).groupBy(domain_col).agg(F.count(F.lit(1)).alias("n_dropped"))
    totals = docs.groupBy(domain_col).agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        totals.join(dropped, domain_col, "left")
        .select(
            F.col(domain_col).alias("domain"),
            "n_docs",
            F.coalesce("n_dropped", F.lit(0)).cast("long").alias("n_dropped"),
        )
        .withColumn(
            "quality_rate",
            F.round(1.0 - F.col("n_dropped") / F.col("n_docs"), 6),
        )
    )


def corpus_data_card(docs: DataFrame) -> DataFrame:
    """One-stop corpus summary — the numbers a dataset card leads with:
    (metric, value) rows for doc count, whitespace-token total, mean
    length, exact-duplicate rate (content-fingerprint grain), and the
    language / source mix shares. Exactly TWO scans of the corpus: one
    scalar partial-agg pass (its single row is collected and becomes a
    local relation, so the scalar metrics and the share denominators
    never re-trigger the scan) and one facet pass that counts BOTH
    facets in a single shuffle via an exploded (facet, value) pair.
    Output is facets-sized. Deeper cuts compose from the registered
    queries (quality histograms, drift, dup clusters) — this is the
    cover page.
    """
    from eligibility_etl_airflow_spark.operators import text as text_ops

    base = docs.select(
        text_ops.token_count_ws(F.col("text")).alias("nt"),
        F.length("text").cast("long").alias("nc"),
        text_ops.fingerprint_md5(F.col("text")).alias("fp"),
        "lang",
        "source",
    )
    tot = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("nt").alias("t"),
        F.avg("nc").alias("mc"),
        F.count_distinct("fp").alias("df"),
    )
    # scan 1: collect the 4 scalar totals (one row) and rebuild them as
    # a local relation — the rounding arithmetic stays IN Spark (same
    # F.round semantics as before) but its input is now literal, so
    # neither the scalar rows nor the share denominator below re-scan
    # the corpus
    trow = tot.first()
    spark = docs.sparkSession
    # JVM-only local relation (r10): createDataFrame([row]) is a
    # Python-RDD fan-out of defaultParallelism pickle tasks for one row
    from eligibility_etl_airflow_spark.operators.parallel import jvm_local_row

    tot_local = jvm_local_row(spark, trow, tot.schema)
    scalars = tot_local.select(
        F.explode(
            F.create_map(
                F.lit("n_docs"), F.col("n").cast("double"),
                F.lit("total_ws_tokens"), F.col("t").cast("double"),
                F.lit("mean_chars"), F.round(F.col("mc"), 6),
                F.lit("exact_dup_rate"),
                F.round(1.0 - F.col("df") / F.col("n"), 6),
            )
        ).alias("metric", "value")
    )
    # scan 2: both facet histograms in ONE pass — explode each doc into
    # (facet, value) pairs (map-side 2× row fan-out, partial-agg
    # combined before the single facets-sized shuffle)
    shares = (
        base.select(
            F.explode(
                F.create_map(
                    F.lit("lang"), F.col("lang"),
                    F.lit("source"), F.col("source"),
                )
            ).alias("facet", "val")
        )
        .groupBy("facet", "val")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            F.concat("facet", F.lit("_share:"), F.col("val")).alias("metric"),
            F.round(F.col("c") / F.lit(trow["n"]), 6).alias("value"),
        )
    )
    return scalars.unionByName(shares)


def ann_query_state(
    spark: SparkSession,
    state_dir: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 4,
) -> DataFrame:
    """ANN top-k over the curation state's persisted vector index — the
    serving side of the index ``run_incremental_curation`` maintains as
    a byproduct of semantic dedup (``index_centroids`` trained once per
    corpus lifetime, ``index_vectors`` rows stored WITH their cluster),
    so accepted-corpus similarity search needs no separate index build:
    query cost is centroid-ranking (broadcast) + exact cosine inside
    the probed clusters only (operators/similarity.py::
    ivf_topk_over_index). Heals interrupted compactions first — the
    same missing-relation crash window as every other state read."""
    from eligibility_etl_airflow_spark.operators.similarity import (
        ivf_topk_over_index,
    )

    cent_path = os.path.join(state_dir, "index_centroids")
    vec_path = os.path.join(state_dir, "index_vectors")
    sinks.recover_interrupted_compaction(vec_path)
    if not (os.path.exists(cent_path) and os.path.exists(vec_path)):
        raise FileNotFoundError(
            f"no semantic index under {state_dir} — run "
            "run_incremental_curation with semantic_eps= first "
            "(index_centroids + index_vectors are its byproduct)"
        )
    return ivf_topk_over_index(
        spark.read.parquet(vec_path),
        spark.read.parquet(cent_path),
        queries,
        id_col=id_col,
        vec_col=vec_col,
        k=k,
        nprobe=nprobe,
    )


def state_report(spark: SparkSession, state_dir: str) -> dict:
    """Operational summary of a continuous pipeline's state directory
    (crawl ingest or incremental curation): per-relation row counts,
    corpus totals, and whether any write-ahead token intents are
    pending (a pending intent after a clean shutdown means the last run
    crashed between a state write and its index fold — the next ingest
    heals it, but an operator watching the fleet wants to SEE it).
    Reads footers/metadata-level counts only — one count() per existing
    relation, no text column IO (the token total is one column's
    partial-agg sum) — so it is safe to run per monitoring tick against
    a 100 TB state."""
    import glob as _glob

    relations = (
        "accepted_docs",
        "index_urls",
        "index_hashes",
        "index_tokens",
        "index_bands",
        "index_shingles",
        "index_vectors",
        "index_centroids",
        "index_domain_edges",
        "frontier_ranks",
    )
    report: dict = {"state_dir": state_dir}
    for rel in relations:
        path = os.path.join(state_dir, rel)
        if os.path.exists(path):
            report[f"n_{rel}"] = spark.read.parquet(path).count()
            # delta-file count: the quantity the between-batches
            # compaction (_maybe_compact_state_indexes) keeps bounded —
            # an operator watching the fleet sees growth BEFORE the
            # listing cost shows up in batch latency
            report[f"files_{rel}"] = sum(
                1 for f in os.listdir(path) if f.endswith(".parquet")
            )
    token_index = os.path.join(state_dir, "index_tokens")
    report["pending_token_intents"] = sorted(
        os.path.basename(p).split("__pending_", 1)[1]
        for p in _glob.glob(f"{token_index}__pending_*")
    )
    if "n_index_tokens" in report:
        tot = (
            spark.read.parquet(token_index)
            .agg(F.sum("c").alias("t"))
            .first()["t"]
        )
        report["n_corpus_tokens"] = int(tot or 0)
    return report
