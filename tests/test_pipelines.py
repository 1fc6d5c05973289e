"""End-to-end pipeline lifecycles: run → idempotent re-run → verify sink."""

from __future__ import annotations

import json
import os

import pytest

from eligibility_etl_airflow_spark import pipelines
from eligibility_etl_airflow_spark.sources.sinks import QualityGateError


def test_eligibility_pipeline_idempotent(spark, sf_dir, tmp_path):
    out = str(tmp_path)
    first = pipelines.run_eligibility_pipeline(spark, sf_dir, out)
    assert first["rows_appended"] > 0
    assert first["gate"]["invalid_ratio"] < 0.5
    loaded = spark.read.parquet(f"{out}/eligibility")
    assert loaded.count() == first["rows_appended"]
    # retry of the same run appends nothing
    second = pipelines.run_eligibility_pipeline(spark, sf_dir, out)
    assert second["rows_appended"] == 0
    assert spark.read.parquet(f"{out}/eligibility").count() == first["rows_appended"]
    # audit CSV exists and row-counts match
    audit = spark.read.option("header", "true").csv(f"{out}/eligibility_audit_csv")
    assert audit.count() == first["rows_appended"]


def test_eligibility_pipeline_gate_aborts(spark, sf_dir, tmp_path):
    with pytest.raises(QualityGateError):
        pipelines.run_eligibility_pipeline(
            spark, sf_dir, str(tmp_path), max_invalid_ratio=0.0
        )
    # gate fired before the load: nothing written
    import os

    assert not os.path.exists(f"{tmp_path}/eligibility")


def test_predictions_pipeline_resumes(spark, sf_dir, tmp_path):
    out = str(tmp_path)
    first = pipelines.run_predictions_pipeline(spark, sf_dir, out)
    assert first["rows_appended"] > 0
    second = pipelines.run_predictions_pipeline(spark, sf_dir, out)
    assert second["rows_appended"] == 0


def test_resubmission_pipeline_upserts(spark, sf_dir, tmp_path):
    out = str(tmp_path)
    first = pipelines.run_resubmission_pipeline(spark, sf_dir, out)
    assert first["rows_upserted"] > 0
    target = spark.read.parquet(f"{out}/resubmission")
    n = target.count()
    assert n == target.select("service_id").distinct().count()  # keyed
    # re-run merges the same keys: no growth
    pipelines.run_resubmission_pipeline(spark, sf_dir, out)
    assert spark.read.parquet(f"{out}/resubmission").count() == n


def test_events_stream_pipeline_idempotent(spark, sf_dir, tmp_path):
    out = str(tmp_path)
    first = pipelines.run_events_stream_pipeline(spark, sf_dir, out)
    assert first["rows_in_sink"] > 0
    second = pipelines.run_events_stream_pipeline(spark, sf_dir, out)
    assert second["rows_in_sink"] == first["rows_in_sink"]


def test_predictions_pipeline_reads_a_source_rewritten_in_place(spark, sf_dir, tmp_path):
    """Two runs in one session over a lineitem file replaced in place
    between them, with no clearCache: the second run loads the second
    batch, LLM side included — no plan-level cache serves the first
    batch's rows again (they share the file's root path)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    lines = pq.read_table(os.path.join(sf_dir, "lineitem.parquet"))
    odd = pc.equal(pc.bit_wise_and(lines["l_orderkey"], 1), 1)
    batches = [lines.filter(pc.invert(odd)), lines.filter(odd)]
    src, out = tmp_path / "src", str(tmp_path / "out")
    src.mkdir()
    expected = set()
    for batch in batches:
        pq.write_table(batch, str(src / "lineitem.parquet"))
        pipelines.run_predictions_pipeline(spark, str(src), out)
        expected |= {
            f"{p}:{s}:{n}"
            for p, s, n in zip(
                batch["l_partkey"].to_pylist(),
                batch["l_suppkey"].to_pylist(),
                batch["l_linenumber"].to_pylist(),
            )
        }
    loaded = spark.read.parquet(f"{out}/predictions").select("service_uid").collect()
    assert {r.service_uid for r in loaded} == expected


def _offset_conf(ckpt: str, batch_id: int) -> dict:
    """The SQL conf a streaming checkpoint recorded for a micro-batch."""
    with open(os.path.join(ckpt, "offsets", str(batch_id))) as f:
        return json.loads(f.read().splitlines()[1])["conf"]


def test_events_stream_state_is_sized_to_the_cores(spark, sf_dir, tmp_path):
    out = str(tmp_path)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    pipelines.run_events_stream_pipeline(spark, sf_dir, out)
    conf = _offset_conf(os.path.join(out, "_checkpoint"), 0)
    assert conf["spark.sql.shuffle.partitions"] == str(spark.sparkContext.defaultParallelism)
    # the caller's session keeps its own setting
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_events_stream_restart_keeps_the_checkpoints_partitions(spark, sf_dir, tmp_path):
    """A checkpoint created at 32 shuffle partitions restarts with 32 and
    stays idempotent."""
    import pyarrow.parquet as pq

    from eligibility_etl_airflow_spark.streaming import ops

    events = pq.read_table(os.path.join(sf_dir, "events.parquet")).sort_by("ts")
    half = events.num_rows // 2
    src = tmp_path / "src"
    (src / "events.parquet").mkdir(parents=True)
    pq.write_table(events.slice(0, half), str(src / "events.parquet" / "part-0.parquet"))
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    sink = os.path.join(out, "events_clean")

    old = spark.newSession()
    old.conf.set("spark.sql.shuffle.partitions", "32")
    stream = ops.dedup_under_watermark(ops.events_stream(old, str(src)))
    ops.foreach_batch_parquet_sink(stream, sink, ckpt, dedup_keys=["event_id"])
    n_first = spark.read.parquet(sink).count()
    assert _offset_conf(ckpt, 0)["spark.sql.shuffle.partitions"] == "32"

    assert pipelines.run_events_stream_pipeline(spark, str(src), out, ckpt) == {
        "rows_in_sink": n_first
    }
    # the next arrival runs as a new micro-batch under the recorded count
    pq.write_table(events.slice(half), str(src / "events.parquet" / "part-1.parquet"))
    second = pipelines.run_events_stream_pipeline(spark, str(src), out, ckpt)
    assert _offset_conf(ckpt, 1)["spark.sql.shuffle.partitions"] == "32"
    state_parts = [d for d in os.listdir(os.path.join(ckpt, "state", "0")) if d.isdigit()]
    assert len(state_parts) == 32
    assert second["rows_in_sink"] > n_first
    assert pipelines.run_events_stream_pipeline(spark, str(src), out, ckpt) == second


def test_events_stream_writes_only_micro_batches_with_data(spark, sf_dir, tmp_path):
    """Two deliveries run two micro-batches, and each writes rows: no
    batch runs only to advance the watermark, which would commit state
    and write an empty ``batch_id=N`` directory."""
    import pyarrow.parquet as pq

    events = pq.read_table(os.path.join(sf_dir, "events.parquet")).sort_by("ts")
    half = events.num_rows // 2
    src = tmp_path / "src"
    (src / "events.parquet").mkdir(parents=True)
    out = str(tmp_path / "out")
    for i, part in enumerate((events.slice(0, half), events.slice(half))):
        pq.write_table(part, str(src / "events.parquet" / f"part-{i}.parquet"))
        pipelines.run_events_stream_pipeline(spark, str(src), out)
    sink = os.path.join(out, "events_clean")
    dirs = {int(d.split("=")[1]) for d in os.listdir(sink) if d.startswith("batch_id=")}
    with_rows = {r.batch_id for r in spark.read.parquet(sink).select("batch_id").distinct().collect()}
    assert dirs == with_rows == {0, 1}


def test_corpus_curation_pipeline(spark, sf_dir, tmp_path):
    from eligibility_etl_airflow_spark import pipelines

    stats = pipelines.run_corpus_curation_pipeline(
        spark, sf_dir, str(tmp_path), min_quality=0.5
    )
    # monotone funnel: each stage can only shrink the corpus
    assert (
        stats["n_total"]
        >= stats["n_after_quality_lang"]
        >= stats["n_after_exact_dedup"]
        >= stats["n_curated"]
        > 0
    )
    curated = spark.read.parquet(str(tmp_path / "curated_docs"))
    assert curated.count() == stats["n_curated"]
    # curated corpus carries no exact duplicates
    from eligibility_etl_airflow_spark.operators import text as text_ops
    from pyspark.sql import functions as F

    dup = (
        curated.groupBy(text_ops.fingerprint_md5(F.col("text")))
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dup == 0


def test_corpus_curation_caches_the_docs_scan(spark, sf_dir, tmp_path, monkeypatch):
    """Funnel discipline: by the time the curated write runs, every
    document-side input in its plan is an InMemoryTableScan over the
    persisted filtered/exact_kept relations — the quality-regex documents
    scan ran once, not once per funnel count."""
    from eligibility_etl_airflow_spark import pipelines as pl

    captured = {}
    real = pl.sinks.write_clustered

    def spy(df, path, cols, **kw):
        # snapshot the physical plan while the persists are live
        captured["plan"] = df._jdf.queryExecution().executedPlan().toString()
        return real(df, path, cols, **kw)

    monkeypatch.setattr(pl.sinks, "write_clustered", spy)
    # pair removal keeps the losers subtree inside the cached lineage
    # (component removal routes losers through the components
    # checkpoint, which truncates the plan by design)
    stats = pl.run_corpus_curation_pipeline(
        spark, sf_dir, str(tmp_path), neardup_removal="pair"
    )
    assert stats["n_curated"] > 0
    plan = captured["plan"]
    # exact_kept feeds both the anti-join probe side and (via the LSH
    # stage's shingles) the losers side — both must hit the cache
    assert plan.count("InMemoryTableScan") >= 2, plan


def test_corpus_curation_component_removal(spark, sf_dir, tmp_path):
    """Component removal keeps exactly the per-component minima — a
    subset of pair removal's local minima (never more docs), and the
    curated corpus contains no surviving near-dup pair."""
    from eligibility_etl_airflow_spark import pipelines as pl

    comp_stats = pl.run_corpus_curation_pipeline(
        spark, sf_dir, str(tmp_path / "comp"), neardup_removal="component"
    )
    pair_stats = pl.run_corpus_curation_pipeline(
        spark, sf_dir, str(tmp_path / "pair"), neardup_removal="pair"
    )
    assert 0 < comp_stats["n_curated"] <= pair_stats["n_curated"]
    comp_ids = {
        r.doc_id
        for r in spark.read.parquet(str(tmp_path / "comp" / "curated_docs"))
        .select("doc_id")
        .collect()
    }
    pair_ids = {
        r.doc_id
        for r in spark.read.parquet(str(tmp_path / "pair" / "curated_docs"))
        .select("doc_id")
        .collect()
    }
    assert comp_ids <= pair_ids

    import pytest as _pytest

    with _pytest.raises(ValueError):
        pl.run_corpus_curation_pipeline(
            spark, sf_dir, str(tmp_path / "bad"), neardup_removal="nope"
        )


def test_multi_business_unit_fanout(spark, tmp_path):
    from eligibility_etl_airflow_spark import pipelines as pl
    from pyspark.sql import functions as F

    sources = {"bu_small": "/root/testdata/sf0.001", "bu_big": "/root/testdata/sf0.01"}
    out = pl.run_multi_business_unit(
        spark, "kpi_scalar_aggs", sources, out_dir=str(tmp_path)
    )
    rows = out.collect()
    assert {r.business_unit for r in rows} == {"bu_small", "bu_big"}
    assert len(rows) == 2  # one KPI row per BU
    big = next(r for r in rows if r.business_unit == "bu_big")
    small = next(r for r in rows if r.business_unit == "bu_small")
    assert big.n_orders > small.n_orders  # each subtree really read its own source
    # sink written when out_dir given
    sunk = spark.read.parquet(str(tmp_path / "kpi_scalar_aggs"))
    assert sunk.count() == 2
    # the union is a no-shuffle concatenation of independent subtrees
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Union" in plan


def test_corpus_curation_hygiene_stages(spark, sf_dir, tmp_path):
    """Opt-in repetition + decontamination stages: funnel stays monotone,
    decontaminated output shares no 8-gram with the bench set."""
    from pyspark.sql import functions as F

    from eligibility_etl_airflow_spark import pipelines
    from eligibility_etl_airflow_spark.catalog import Catalog
    from eligibility_etl_airflow_spark.operators import decontam

    bench = (
        Catalog(spark, sf_dir).documents.filter(F.col("doc_id") % 53 == 0).select("text")
    )
    stats = pipelines.run_corpus_curation_pipeline(
        spark,
        sf_dir,
        str(tmp_path),
        min_quality=0.5,
        repetition_filter=True,
        decontam_bench=bench,
    )
    assert (
        stats["n_after_quality_lang"]
        >= stats["n_after_repetition"]
        >= stats["n_after_decontam"]
        >= stats["n_after_exact_dedup"]
        >= stats["n_curated"]
        > 0
    )
    curated = spark.read.parquet(str(tmp_path / "curated_docs"))
    flagged = (
        decontam.contamination_flags(curated, bench)
        .filter(F.col("contaminated"))
        .count()
    )
    assert flagged == 0


def test_training_prep_pipeline(spark, sf_dir, tmp_path):
    """Chunk → doc-level split → pack → partitioned write: no document
    straddles the split, packs never mix sides, budgets hold."""
    from pyspark.sql import functions as F

    from eligibility_etl_airflow_spark import pipelines

    stats = pipelines.run_training_prep_pipeline(
        spark, sf_dir, str(tmp_path), chunk_tokens=32, overlap=4, budget=128
    )
    assert stats["n_chunks_train"] > 0 and stats["n_chunks_test"] > 0
    out = spark.read.parquet(str(tmp_path / "packed_chunks"))
    # leakage: every doc appears on exactly one side
    straddlers = (
        out.select("doc_id", "split").distinct()
        .groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1).count()
    )
    assert straddlers == 0
    # budget: non-oversize packs respect it (pack ids are per split)
    over = (
        out.filter(~F.col("oversize"))
        .groupBy("split", "pack_id")
        .agg(F.sum("n_chunk_tokens").alias("tok"))
        .filter(F.col("tok") > 128)
        .count()
    )
    assert over == 0


def test_corpus_curation_fluency_cut(spark, sf_dir, tmp_path):
    """Opt-in CCNet-style fluency stage: drops roughly the requested
    fraction of the most-surprising docs, funnel stays monotone, and
    validation rejects out-of-range cuts."""
    import pytest
    from eligibility_etl_airflow_spark import pipelines

    stats = pipelines.run_corpus_curation_pipeline(
        spark, sf_dir, str(tmp_path), min_quality=0.5, fluency_cut=0.2
    )
    assert (
        stats["n_after_quality_lang"]
        >= stats["n_after_fluency"]
        >= stats["n_after_exact_dedup"]
        >= stats["n_curated"]
        > 0
    )
    # the cut removes a nonzero share, bounded by ~the requested fraction
    # (approx-percentile sketch → allow slack above 20%)
    removed = stats["n_after_quality_lang"] - stats["n_after_fluency"]
    assert 0 < removed <= 0.35 * stats["n_after_quality_lang"]
    with pytest.raises(ValueError, match="fluency_cut"):
        pipelines.run_corpus_curation_pipeline(
            spark, sf_dir, str(tmp_path / "x"), fluency_cut=1.5
        )


def test_incremental_curation_dedups_across_batches(spark, tmp_path):
    """Batch 2 must lose its exact re-ingest (new doc_id, same text) and
    its near-dup of a batch-1 doc, keep its fresh doc, and replaying
    batch 2 must be a no-op (idempotent indexes)."""
    from eligibility_etl_airflow_spark import pipelines

    state = str(tmp_path / "state")
    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lam mu nu xi omicron pi rho sigma tau upsilon"
    )
    other = "one two three four five six seven eight nine ten eleven twelve"
    b1 = spark.createDataFrame(
        [(1, base), (2, other), (3, base)],  # 3 = exact dup of 1 in-batch
        "doc_id long, text string",
    )
    s1 = pipelines.run_incremental_curation(spark, b1, state)
    assert s1["n_batch"] == 3
    assert s1["n_after_internal_exact"] == 2
    assert s1["n_accepted"] == 2
    assert s1["n_corpus_total"] == 2

    near = base + " extra"  # near-dup of doc 1 (jaccard >> 0.8)
    fresh = "completely different words spark parquet shuffle broadcast join window"
    b2 = spark.createDataFrame(
        [(10, base), (11, near), (12, fresh)],  # 10 = exact re-ingest
        "doc_id long, text string",
    )
    s2 = pipelines.run_incremental_curation(spark, b2, state)
    assert s2["n_after_exact_vs_state"] == 2  # 10 removed by hash index
    assert s2["n_after_fuzzy_vs_state"] == 1  # 11 removed by band+shingle index
    assert s2["n_accepted"] == 1
    assert s2["n_corpus_total"] == 3

    s3 = pipelines.run_incremental_curation(spark, b2, state)  # replay
    assert s3["n_accepted"] == 0
    assert s3["n_corpus_total"] == 3
    docs = spark.read.parquet(str(tmp_path / "state" / "accepted_docs"))
    assert sorted(r.doc_id for r in docs.collect()) == [1, 2, 12]
    # EVERY index must carry batch 2's accepted doc (12), not just the
    # corpus: the index appends after the hash write used to recompute
    # against the just-updated hash index (refresh-by-path cache
    # invalidation) and silently wrote nothing for the batch — a fresh
    # near-dup of doc 12 in a later batch would then sail through
    for index in ("index_hashes", "index_shingles", "index_bands"):
        ids = {
            r.id if "id" in r.__fields__ else r.doc_id
            for r in spark.read.parquet(str(tmp_path / "state" / index)).collect()
        }
        assert {1, 2, 12} <= ids, index


def test_corpus_curation_quality_keeper(spark, sf_dir, tmp_path):
    """neardup_keeper='quality' keeps exactly one doc per near-dup
    component (same survivor count as min-id) — the kept member is the
    argmax-quality one, so the total curated quality can only rise."""
    from eligibility_etl_airflow_spark import pipelines as pl
    from eligibility_etl_airflow_spark.operators import text as text_ops
    from pyspark.sql import functions as F

    base = pl.run_corpus_curation_pipeline(
        spark, sf_dir, str(tmp_path / "minid"), neardup_removal="component"
    )
    qual = pl.run_corpus_curation_pipeline(
        spark,
        sf_dir,
        str(tmp_path / "qual"),
        neardup_removal="component",
        neardup_keeper="quality",
    )
    assert qual["n_curated"] == base["n_curated"]  # one keeper per component

    def total_quality(path):
        return (
            spark.read.parquet(path)
            .agg(F.sum(text_ops.quality_score(F.col("text"))).alias("s"))
            .collect()[0]["s"]
        )

    assert total_quality(str(tmp_path / "qual" / "curated_docs")) >= total_quality(
        str(tmp_path / "minid" / "curated_docs")
    )

    import pytest as _pytest

    with _pytest.raises(ValueError, match="neardup_keeper"):
        pl.run_corpus_curation_pipeline(
            spark, sf_dir, str(tmp_path / "bad"), neardup_keeper="nope"
        )
    with _pytest.raises(ValueError, match="quality"):
        pl.run_corpus_curation_pipeline(
            spark,
            sf_dir,
            str(tmp_path / "bad2"),
            neardup_removal="pair",
            neardup_keeper="quality",
        )


def test_corpus_curation_semantic_decontam_stage(spark, sf_dir, tmp_path):
    """Embedding-tier decontamination: planting two SURVIVING docs'
    own embeddings as the benchmark removes exactly those docs."""
    from eligibility_etl_airflow_spark import pipelines as pl
    from eligibility_etl_airflow_spark.catalog import Catalog
    from pyspark.sql import functions as F

    base = pl.run_corpus_curation_pipeline(spark, sf_dir, str(tmp_path / "base"))
    survivors = [
        r.doc_id
        for r in spark.read.parquet(str(tmp_path / "base" / "curated_docs"))
        .select("doc_id")
        .orderBy("doc_id")
        .limit(2)
        .collect()
    ]
    emb = Catalog(spark, sf_dir).embeddings
    bench = emb.filter(F.col("vec_id").isin(survivors)).select(
        F.col("vec_id").alias("bench_id"), "embedding"
    )
    planted = [r.bench_id for r in bench.select("bench_id").collect()]
    assert planted, "chosen survivors need embedding rows"
    stats = pl.run_corpus_curation_pipeline(
        spark,
        sf_dir,
        str(tmp_path / "sem"),
        semantic_decontam_bench=bench,
        semantic_decontam_threshold=0.999999,
    )
    assert stats["n_after_semantic_decontam"] <= stats["n_after_quality_lang"]
    curated_ids = {
        r.doc_id
        for r in spark.read.parquet(str(tmp_path / "sem" / "curated_docs"))
        .select("doc_id")
        .collect()
    }
    assert not (curated_ids & set(planted))
    # stage only removed what it flagged: every base survivor except the
    # planted docs is still curated (removing a near-dup keeper can only
    # PROMOTE another component member, never evict an unrelated doc)
    base_ids = {
        r.doc_id
        for r in spark.read.parquet(str(tmp_path / "base" / "curated_docs"))
        .select("doc_id")
        .collect()
    }
    assert base_ids - set(planted) <= curated_ids


def test_corpus_curation_audit_trail_partitions_the_source(spark, sf_dir, tmp_path):
    """audit_path: every source doc is either curated or appears exactly
    once in the audit trail, attributed to the first stage that dropped
    it; per-stage drop counts reconcile with the funnel stats."""
    from eligibility_etl_airflow_spark import pipelines as pl

    audit = str(tmp_path / "audit")
    stats = pl.run_corpus_curation_pipeline(
        spark,
        sf_dir,
        str(tmp_path),
        repetition_filter=True,
        fluency_cut=0.1,
        audit_path=audit,
    )
    adf = spark.read.parquet(audit)
    audit_rows = adf.collect()
    audit_ids = [r.doc_id for r in audit_rows]
    assert len(audit_ids) == len(set(audit_ids))  # one attribution per doc
    curated_ids = {
        r.doc_id
        for r in spark.read.parquet(str(tmp_path / "curated_docs"))
        .select("doc_id")
        .collect()
    }
    assert not (set(audit_ids) & curated_ids)
    assert len(audit_ids) + len(curated_ids) == stats["n_total"]
    by_stage = {}
    for r in audit_rows:
        by_stage[r.dropped_at] = by_stage.get(r.dropped_at, 0) + 1
    assert by_stage.get("quality_lang", 0) == stats["n_total"] - stats["n_after_quality_lang"]
    assert by_stage.get("repetition", 0) == stats["n_after_quality_lang"] - stats["n_after_repetition"]
    assert by_stage.get("fluency_cut", 0) == stats["n_after_repetition"] - stats["n_after_fluency"]
    assert by_stage.get("exact_dedup", 0) == stats["n_after_fluency"] - stats["n_after_exact_dedup"]
    assert by_stage.get("neardup_removal", 0) == stats["n_after_exact_dedup"] - stats["n_curated"]


def test_training_prep_pipeline_cluster_split(spark, sf_dir, tmp_path):
    """cluster_labels raises split granularity: whole near-dup clusters
    land on one side of train/test, and every member of a cluster gets
    the same split as its label's hash decides."""
    from pyspark.sql import functions as F

    from eligibility_etl_airflow_spark import pipelines
    from eligibility_etl_airflow_spark.catalog import Catalog

    docs = Catalog(spark, sf_dir).documents
    # synthetic clusters of 4 consecutive doc ids — stand-in for a
    # components labeling; the pipeline must keep each whole cluster
    # on one side
    labels = docs.select(
        "doc_id", (F.col("doc_id") - F.col("doc_id") % 4).alias("cluster_id")
    )
    stats = pipelines.run_training_prep_pipeline(
        spark,
        sf_dir,
        str(tmp_path),
        chunk_tokens=32,
        overlap=4,
        budget=128,
        cluster_labels=labels,
    )
    assert stats["n_chunks_train"] > 0 and stats["n_chunks_test"] > 0
    out = spark.read.parquet(str(tmp_path / "packed_chunks"))
    straddle = (
        out.select("cluster_id", "split").distinct()
        .groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1).count()
    )
    assert straddle == 0


def test_media_curation_pipeline_funnel(spark, tmp_path):
    """Binary-corpus funnel: unreadable payloads quarantine, byte dups
    collapse to the min id, perceptual near-dups collapse transitively,
    distinct content survives."""
    import numpy as np

    from eligibility_etl_airflow_spark import pipelines
    from eligibility_etl_airflow_spark.operators import multimodal

    def grid(flip=()):
        g = np.fromfunction(lambda r, c: ((r + c) % 2) * 200, (8, 8)).astype(np.uint8)
        for r, c in flip:
            g[r, c] = 200 - g[r, c]
        return multimodal.encode_bmp_rgb24(np.repeat(g[:, :, None], 3, axis=2))

    rows = [
        (1, grid()),                      # keeper of the near-dup cluster
        (2, grid()),                      # exact byte dup of 1 -> exact tier
        (3, grid(flip=[(0, 0)])),         # near-dup of 1 (hamming 1)
        (4, grid(flip=[(0, 0), (3, 4)])), # near-dup of 1 and 3 (transitive)
        (5, multimodal.encode_bmp_rgb24(
            np.zeros((8, 8, 3), dtype=np.uint8) + 7)),  # distinct content
        (6, None),                        # unreadable -> quarantine
        (7, b"\x00\x01garbage"),          # unknown magic -> quarantine
    ]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    stats = pipelines.run_media_curation_pipeline(
        spark, media, str(tmp_path), kind="image"
    )
    assert stats == {
        "n_total": 7,
        "n_readable": 5,
        "n_quarantined": 2,
        "n_after_exact": 4,   # 2 collapsed into 1
        "n_curated": 2,       # {1,3,4} -> 1; 5 survives
    }
    curated = spark.read.parquet(str(tmp_path / "curated_media"))
    assert sorted(r["media_id"] for r in curated.collect()) == [1, 5]
    q = spark.read.parquet(str(tmp_path / "quarantine"))
    assert sorted(r["media_id"] for r in q.collect()) == [6, 7]
    # payloads never reach the curated output (metadata-only relation)
    assert "payload" not in curated.columns


def test_media_curation_quarantines_wrong_kind_and_writes_empty(spark, tmp_path):
    """A WAV in an image run is quarantined (it would crash the image
    hash stage), and a clean corpus still writes an (empty) quarantine
    relation so audits read a relation, never probe for a path."""
    import numpy as np

    from eligibility_etl_airflow_spark import pipelines
    from eligibility_etl_airflow_spark.operators import multimodal

    bmp = multimodal.encode_bmp_rgb24(
        np.fromfunction(lambda r, c, k: (r * 30 + c * 7) % 256, (8, 8, 3)).astype(
            np.uint8
        )
    )
    wav = multimodal.encode_wav_pcm16(np.zeros(100) + 0.1, 8000)
    media = spark.createDataFrame(
        [(1, bmp), (2, wav)], "media_id long, payload binary"
    )
    stats = pipelines.run_media_curation_pipeline(
        spark, media, str(tmp_path / "img"), kind="image"
    )
    assert stats["n_quarantined"] == 1 and stats["n_curated"] == 1
    q = spark.read.parquet(str(tmp_path / "img" / "quarantine"))
    assert [r["media_id"] for r in q.collect()] == [2]

    clean = spark.createDataFrame([(1, bmp)], "media_id long, payload binary")
    stats2 = pipelines.run_media_curation_pipeline(
        spark, clean, str(tmp_path / "clean"), kind="image"
    )
    assert stats2["n_quarantined"] == 0
    q2 = spark.read.parquet(str(tmp_path / "clean" / "quarantine"))
    assert q2.count() == 0  # present AND empty


def test_corpus_curation_blocklist_stage(spark, sf_dir, tmp_path):
    """Opt-in blocklist stage: the C4 bad-words tier drops every doc
    containing a blocklisted term (max_fraction=0.0), the funnel stays
    monotone, and the curated output is hit-free."""
    from pyspark.sql import functions as F

    from eligibility_etl_airflow_spark import pipelines
    from eligibility_etl_airflow_spark.operators import text

    stats = pipelines.run_corpus_curation_pipeline(
        spark,
        sf_dir,
        str(tmp_path),
        min_quality=0.5,
        blocklist_terms=("vector",),
        blocklist_max_fraction=0.0,
    )
    assert (
        stats["n_after_quality_lang"]
        >= stats["n_after_blocklist"]
        >= stats["n_after_exact_dedup"]
        >= stats["n_curated"]
        > 0
    )
    # the stage must actually have dropped something at this corpus
    assert stats["n_after_blocklist"] < stats["n_after_quality_lang"]
    curated = spark.read.parquet(str(tmp_path / "curated_docs"))
    hits = (
        text.blocklist_metrics(curated, "doc_id", "text", terms=("vector",))
        .filter(F.col("blocklist_hits") > 0)
        .count()
    )
    assert hits == 0


def test_crawl_preprocess_pipeline(spark, tmp_path):
    """Raw crawl funnel: malformed-URL drop, canonical URL dedup,
    HTML strip, shared-boilerplate line removal, blocklist gate,
    script gate — funnel monotone, output text fully cleaned."""
    from pyspark.sql import functions as F

    from eligibility_etl_airflow_spark import pipelines

    nav = "<div>NAV BAR HOME</div>"
    rows = []
    for i in range(12):
        rows.append(
            (
                i,
                f"https://www.site{i % 6}.example.com/page/{i}?utm_source=x",
                f"<html><body>{nav}<p>unique article body {i} text &amp; more</p>"
                f"<script>track({i})</script></body></html>",
            )
        )
    # 12: same canonical as 0 (tracking param only) -> deduped
    rows.append((12, "https://www.site0.example.com/page/0?utm_campaign=y",
                 "<html><body><p>dup page body</p></body></html>"))
    # 13: malformed URL -> dropped at stage 1
    rows.append((13, "not-a-url", "<p>orphan</p>"))
    # 14: blocklisted
    rows.append((14, "https://other.example.org/x",
                 f"<html><body>{nav}<p>FORBIDDENWORD appears here</p></body></html>"))
    # 15: non-Latin heavy -> script gate
    rows.append((15, "https://ru.example.net/y",
                 f"<html><body>{nav}<p>Привет "
                 "мир мир мир</p></body></html>"))
    # 16: all-boilerplate doc -> dropped after line dedup
    rows.append((16, "https://empty.example.io/z",
                 f"<html><body>{nav}</body></html>"))
    raw = spark.createDataFrame(rows, "doc_id long, url string, html string")

    stats = pipelines.run_crawl_preprocess_pipeline(
        spark,
        raw,
        str(tmp_path),
        blocklist_terms=("forbiddenword",),
        min_latin_fraction=0.5,
    )
    assert stats["n_total"] == 17
    # 13 malformed + 12 canonical-dup -> 15 survive URL stage
    assert stats["n_after_url_dedup"] == 15
    # 16 (all boilerplate) drops: nav div appears in 15 docs >= 10
    assert stats["n_after_line_dedup"] == 14
    assert stats["n_after_blocklist"] == 13
    assert stats["n_after_script"] == 12
    assert stats["n_preprocessed"] == 12

    out = spark.read.parquet(str(tmp_path / "documents.parquet"))
    assert out.count() == 12
    texts = {r["doc_id"]: r["text"] for r in out.collect()}
    # doc 0 survived (kept over 12), html stripped, nav line gone,
    # entity decoded, script content gone
    assert "unique article body 0" in texts[0]
    assert "&" in texts[0] and "&amp;" not in texts[0]
    assert "NAV BAR" not in texts[0]
    assert "track(" not in texts[0]
    assert 12 not in texts
    cols = set(out.columns)
    # full documents-table contract: chainable into curation directly
    assert {"doc_id", "text", "lang", "source", "n_chars",
            "url_canonical", "domain"} <= cols


def test_crawl_curation_prep_chain_end_to_end(spark, tmp_path):
    """The three-stage funnel chains with no glue: crawl preprocess
    writes a documents table, curation consumes it via documents= (or
    sf_dir pointed at the stage-1 out_dir), training prep consumes the
    curated output the same way."""
    from pyspark.sql import functions as F

    from eligibility_etl_airflow_spark import pipelines

    body = (
        "the quick brown fox jumps over the lazy dog and then "
        "the dog is in the house of the friend"
    )
    rows = [
        (
            i,
            f"https://www.s{i % 4}.example.com/a/{i}",
            f"<html><body><p>{body} variant {i}</p></body></html>",
        )
        for i in range(20)
    ]
    # two exact dups (same body) to exercise curation's exact dedup
    rows.append((20, "https://www.dup.example.com/x",
                 f"<html><body><p>{body} variant 0</p></body></html>"))
    raw = spark.createDataFrame(rows, "doc_id long, url string, html string")

    s1 = pipelines.run_crawl_preprocess_pipeline(spark, raw, str(tmp_path / "s1"))
    assert s1["n_preprocessed"] == 21

    # stage-1 out_dir IS a valid sf_dir (documents.parquet directory)
    s2 = pipelines.run_corpus_curation_pipeline(
        spark,
        str(tmp_path / "s1"),
        str(tmp_path / "s2"),
        min_quality=0.5,
        langs=("en",),
    )
    assert 0 < s2["n_curated"] < 21  # dedup removed the planted dup
    curated = spark.read.parquet(str(tmp_path / "s2" / "curated_docs"))

    s3 = pipelines.run_training_prep_pipeline(
        spark,
        str(tmp_path / "s1"),  # sf_dir unused when documents= given
        str(tmp_path / "s3"),
        documents=curated,
        chunk_tokens=8,
        overlap=2,
        budget=32,
    )
    packed = spark.read.parquet(str(tmp_path / "s3" / "packed_chunks"))
    assert packed.count() > 0
    assert set(packed.select("split").distinct().toPandas()["split"]) <= {
        "train",
        "test",
    }


def test_incremental_crawl_ingest_gates_and_empty_state(spark, tmp_path):
    """First batch builds state from nothing; the blocklist and script
    gates apply before anything reaches the indexes."""
    from eligibility_etl_airflow_spark import pipelines

    rows = [
        (1, "https://a.example.com/ok",
         "<html><body><p>clean words entirely fine here</p></body></html>"),
        (2, "https://b.example.com/bad",
         "<html><body><p>the BLOCKEDWORD appears</p></body></html>"),
        (3, "not a url", "<p>malformed</p>"),
    ]
    batch = spark.createDataFrame(rows, "doc_id long, url string, html string")
    stats = pipelines.run_incremental_crawl_ingest(
        spark,
        batch,
        str(tmp_path / "st"),
        blocklist_terms=("blockedword",),
    )
    assert stats["n_batch"] == 3
    assert stats["n_new_urls"] == 2  # malformed URL dropped
    assert stats["n_accepted"] == 1 and stats["n_total_accepted"] == 1
    docs = spark.read.parquet(str(tmp_path / "st" / "accepted_docs"))
    assert [r.doc_id for r in docs.collect()] == [1]
    # accepted schema is the documents-table contract
    assert {"doc_id", "text", "lang", "source", "n_chars"} <= set(docs.columns)


def test_crawl_preprocess_robots_stage_drops_disallowed(spark, tmp_path):
    """Stage-0 robots admission: disallowed URLs drop before any other
    work; domains with no robots row default to allowed."""
    from eligibility_etl_airflow_spark import pipelines

    rows = [
        (0, "https://www.polite.example.com/open/a",
         "<html><body><p>open page body zero</p></body></html>"),
        (1, "https://www.polite.example.com/private/b",
         "<html><body><p>private page body one</p></body></html>"),
        (2, "https://www.norobots.example.org/x",
         "<html><body><p>unruled page body two</p></body></html>"),
    ]
    raw = spark.createDataFrame(rows, "doc_id long, url string, html string")
    # host grain (RFC 9309): the robots row is keyed by the fetch host
    robots = spark.createDataFrame(
        [("www.polite.example.com", "User-agent: *\nDisallow: /private\n")],
        "domain string, robots string",
    )
    stats = pipelines.run_crawl_preprocess_pipeline(
        spark, raw, str(tmp_path), robots_df=robots
    )
    assert stats["n_total"] == 3
    assert stats["n_after_robots"] == 2
    assert stats["n_preprocessed"] == 2
    out = spark.read.parquet(str(tmp_path / "documents.parquet"))
    assert {r["doc_id"] for r in out.select("doc_id").collect()} == {0, 2}


def test_incremental_crawl_ingest_applies_robots(spark, tmp_path):
    """The continuous ingest honors robots.txt per batch: disallowed
    URLs never reach the state indexes."""
    from eligibility_etl_airflow_spark import pipelines

    robots = spark.createDataFrame(
        [("www.a.example.com", "User-agent: *\nDisallow: /no\n")],
        "domain string, robots string",
    )
    batch = spark.createDataFrame(
        [
            (1, "https://www.a.example.com/ok", "<p>allowed body one</p>"),
            (2, "https://www.a.example.com/no/x", "<p>blocked body two</p>"),
        ],
        "doc_id long, url string, html string",
    )
    stats = pipelines.run_incremental_crawl_ingest(
        spark, batch, str(tmp_path), robots_df=robots
    )
    assert stats["n_after_robots"] == 1
    assert stats["n_accepted"] == 1
    docs = spark.read.parquet(str(tmp_path / "accepted_docs"))
    assert [r["doc_id"] for r in docs.collect()] == [1]


def test_crawl_frontier_pipeline_schedules_uncrawled_targets(spark, tmp_path):
    """The frontier closes the crawl loop: link targets not yet crawled
    get priority from domain PageRank, robots-disallowed targets drop,
    and the schedule respects the per-domain budget."""
    from eligibility_etl_airflow_spark import pipelines

    # hub.example.com links to two uncrawled sites; big.example.net is
    # endorsed by BOTH crawled pages (higher PageRank), small.example.io
    # by one; one target is robots-blocked
    pages = spark.createDataFrame(
        [
            (
                1,
                "https://hub.example.com/a",
                '<p><a href="https://big.example.net/x">b</a>'
                '<a href="https://small.example.io/y">s</a>'
                '<a href="https://big.example.net/blocked/z">nb</a></p>',
            ),
            (
                2,
                "https://other.example.org/b",
                '<p><a href="https://big.example.net/x">b</a>'
                '<a href="https://hub.example.com/a">seen</a></p>',
            ),
        ],
        "doc_id long, url string, html string",
    )
    robots = spark.createDataFrame(
        [("big.example.net", "User-agent: *\nDisallow: /blocked\n")],
        "domain string, robots string",
    )
    stats = pipelines.run_crawl_frontier_pipeline(
        spark, pages, str(tmp_path), robots_df=robots, per_domain_budget=1
    )
    # /a was already crawled -> not a candidate; 3 distinct new targets
    assert stats["n_candidates"] == 3
    assert stats["n_admitted"] == 2  # /blocked/z dropped
    assert stats["n_scheduled"] == 2
    frontier = {
        r["url"]: r
        for r in spark.read.parquet(str(tmp_path / "frontier.parquet")).collect()
    }
    assert set(frontier) == {
        "https://big.example.net/x",
        "https://small.example.io/y",
    }
    big = frontier["https://big.example.net/x"]
    small = frontier["https://small.example.io/y"]
    # two endorsements beat one in the authority prior
    assert big["priority"] > small["priority"]
    assert big["n_inlinks"] == 2
    # budget 1: each domain's single URL is cycle 0 slot 0
    assert (big["fetch_cycle"], big["cycle_slot"]) == (0, 0)
    # crawl-delay ETA: cycle 0 is immediate regardless of delay
    assert big["eta_seconds"] == 0.0


@pytest.mark.slow
def test_crawl_frontier_eta_scales_with_crawl_delay(spark, tmp_path):
    from eligibility_etl_airflow_spark import pipelines

    links = "".join(
        f'<a href="https://slow.example.net/p{i}">x</a>' for i in range(3)
    )
    pages = spark.createDataFrame(
        [(1, "https://hub.example.com/a", f"<p>{links}</p>")],
        "doc_id long, url string, html string",
    )
    robots = spark.createDataFrame(
        [("slow.example.net", "User-agent: *\nCrawl-delay: 30\n")],
        "domain string, robots string",
    )
    pipelines.run_crawl_frontier_pipeline(
        spark, pages, str(tmp_path), robots_df=robots, per_domain_budget=1
    )
    rows = spark.read.parquet(str(tmp_path / "frontier.parquet")).collect()
    got = sorted((r["fetch_cycle"], r["eta_seconds"]) for r in rows)
    # one URL per cycle; each later cycle waits another 30 s
    assert got == [(0, 0.0), (1, 30.0), (2, 60.0)]
    # budget > 1: every SLOT waits its own delay — i-th fetch at i*delay,
    # never a whole cycle firing simultaneously
    pipelines.run_crawl_frontier_pipeline(
        spark, pages, str(tmp_path / "b2"), robots_df=robots, per_domain_budget=2
    )
    rows = spark.read.parquet(str(tmp_path / "b2" / "frontier.parquet")).collect()
    got = sorted(
        (r["fetch_cycle"], r["cycle_slot"], r["eta_seconds"]) for r in rows
    )
    assert got == [(0, 0, 0.0), (0, 1, 30.0), (1, 0, 60.0)]


@pytest.mark.slow
def test_incremental_frontier_warm_start_edge_state_and_replay(spark, tmp_path):
    """Continuous frontier: domain edges accumulate idempotently in
    state, PageRank warm-starts from the previous cycle's persisted
    ranks and converges to the SAME priorities a cold full-iteration
    run over the accumulated graph produces, and replaying a cycle
    appends nothing."""
    import os as _os

    from eligibility_etl_airflow_spark import pipelines

    state = str(tmp_path / "fst")
    df1 = spark.createDataFrame(
        [
            (1, "https://site1.org/a",
             '<p><a href="https://site2.org/x">l</a>'
             '<a href="https://site3.org/y">l</a></p>'),
            (2, "https://site4.org/b",
             '<p><a href="https://site2.org/x">l</a></p>'),
        ],
        "doc_id long, url string, html string",
    )
    df2 = spark.createDataFrame(
        [
            (3, "https://site5.org/c",
             '<p><a href="https://site2.org/z">l</a>'
             '<a href="https://site6.org/w">l</a></p>'),
        ],
        "doc_id long, url string, html string",
    )
    s1 = pipelines.run_incremental_frontier(
        spark, df1, state, str(tmp_path / "o1"), edge_stats=True
    )
    assert s1["warm_start"] is False
    assert s1["n_state_edges"] == 3  # 1->2, 1->3, 4->2 at domain grain
    assert _os.path.exists(_os.path.join(state, "frontier_ranks"))

    s2 = pipelines.run_incremental_frontier(
        spark, df2, state, str(tmp_path / "o2"), edge_stats=True
    )
    assert s2["warm_start"] is True
    assert s2["n_state_edges"] == 5  # +5->2, 5->6

    warm = {
        r["url"]: r["priority"]
        for r in spark.read.parquet(str(tmp_path / "o2" / "frontier.parquet")).collect()
    }
    # cold twin: SAME accumulated graph, full iterations from uniform —
    # warm-start with tol must land on the same fixed point
    pipelines.run_crawl_frontier_pipeline(
        spark,
        df2,
        str(tmp_path / "oc"),
        domain_edges_df=spark.read.parquet(
            _os.path.join(state, "index_domain_edges")
        ),
        pagerank_iterations=60,
        pagerank_tol=1e-9,
    )
    cold = {
        r["url"]: r["priority"]
        for r in spark.read.parquet(str(tmp_path / "oc" / "frontier.parquet")).collect()
    }
    assert set(warm) == set(cold) == {
        "https://site2.org/z",
        "https://site6.org/w",
    }
    for u in warm:
        assert abs(warm[u] - cold[u]) < 1e-5, (u, warm[u], cold[u])
    # the endorsed-by-three domain outranks the single-link newcomer
    assert warm["https://site2.org/z"] > warm["https://site6.org/w"]

    # replay: edge appends are keyed (src, dst) — nothing new lands
    s2r = pipelines.run_incremental_frontier(
        spark, df2, state, str(tmp_path / "o2r"), edge_stats=True
    )
    assert s2r["n_state_edges"] == 5
    rep = pipelines.state_report(spark, state)
    assert rep["n_index_domain_edges"] == 5
    assert rep["n_frontier_ranks"] == 6  # every domain on either edge side


@pytest.mark.slow
def test_incremental_crawl_ingest_recrawl_update_policy(spark, tmp_path):
    """recrawl_policy='update': a re-crawled URL with CHANGED cleaned
    content replaces its accepted doc in place (URL identity); an
    unchanged re-crawl is a no-op; replaying the batch is idempotent;
    the hash index stays append-only as an ever-seen filter."""
    from eligibility_etl_airflow_spark import pipelines

    state = str(tmp_path)
    b1 = spark.createDataFrame(
        [
            (1, "https://a.example.com/a", "<p>original article body alpha</p>"),
            (2, "https://a.example.com/b", "<p>stable article body beta</p>"),
        ],
        "doc_id long, url string, html string",
    )
    s1 = pipelines.run_incremental_crawl_ingest(spark, b1, state)
    assert s1["n_accepted"] == 2

    b2 = spark.createDataFrame(
        [
            (10, "https://a.example.com/a", "<p>REWRITTEN article body alpha two</p>"),
            (11, "https://a.example.com/b", "<p>stable article body beta</p>"),
            (12, "https://a.example.com/c", "<p>brand new page gamma</p>"),
        ],
        "doc_id long, url string, html string",
    )
    s2 = pipelines.run_incremental_crawl_ingest(
        spark, b2, state, recrawl_policy="update"
    )
    assert s2["n_new_urls"] == 1  # only /c
    assert s2["n_accepted"] == 1
    assert s2["n_updated"] == 1  # /a changed; /b unchanged
    docs = {
        r["url_canonical"]: r
        for r in spark.read.parquet(f"{state}/accepted_docs").collect()
    }
    assert len(docs) == 3
    a = docs["https://a.example.com/a"]
    assert "REWRITTEN" in a["text"] and a["doc_id"] == 10
    # url index carries the new hash; hash index keeps BOTH (ever-seen)
    idx = spark.read.parquet(f"{state}/index_urls")
    assert idx.count() == 3 and "content_hash" in idx.columns
    assert spark.read.parquet(f"{state}/index_hashes").count() == 4

    # replay: fully idempotent under update policy
    s3 = pipelines.run_incremental_crawl_ingest(
        spark, b2, state, recrawl_policy="update"
    )
    assert s3["n_accepted"] == 0 and s3["n_updated"] == 0
    assert spark.read.parquet(f"{state}/accepted_docs").count() == 3

    import pytest as _pytest

    with _pytest.raises(ValueError, match="recrawl_policy"):
        pipelines.run_incremental_crawl_ingest(
            spark, b2, state, recrawl_policy="replace"
        )


def test_crawl_frontier_sitemap_seeding(spark, tmp_path):
    """Sitemap locs union into the candidate set (0 in-links), merge
    with link-discovered URLs, and skip already-crawled pages."""
    from eligibility_etl_airflow_spark import pipelines

    pages = spark.createDataFrame(
        [(1, "https://hub.example.com/a",
          '<p><a href="https://t.example.net/linked">x</a></p>')],
        "doc_id long, url string, html string",
    )
    xml = (
        "<urlset>"
        "<url><loc>https://t.example.net/linked</loc></url>"   # merges
        "<url><loc>https://t.example.net/sitemap-only</loc></url>"
        "<url><loc>https://hub.example.com/a</loc></url>"      # crawled
        "</urlset>"
    )
    sitemaps = spark.createDataFrame([(xml,)], "xml string")
    stats = pipelines.run_crawl_frontier_pipeline(
        spark, pages, str(tmp_path), sitemaps_df=sitemaps, per_domain_budget=5
    )
    assert stats["n_candidates"] == 2  # linked (merged) + sitemap-only
    frontier = {
        r["url"]: r
        for r in spark.read.parquet(str(tmp_path / "frontier.parquet")).collect()
    }
    assert set(frontier) == {
        "https://t.example.net/linked",
        "https://t.example.net/sitemap-only",
    }
    assert frontier["https://t.example.net/linked"]["n_inlinks"] == 1
    assert frontier["https://t.example.net/sitemap-only"]["n_inlinks"] == 0


@pytest.mark.slow
def test_crawl_preprocess_quarantine_partitions_the_source(spark, tmp_path):
    """Opt-in quarantine: every dropped record gets exactly one
    (doc_id, url, reason) row; drops + survivors partition the input."""
    from eligibility_etl_airflow_spark import pipelines

    nav = "<div>NAV CHROME SHARED</div>"
    rows = [
        (
            i,
            f"https://www.s{i % 6}.example.com/ok/{i}",
            f"<html><body>{nav}<p>unique body {i} words enough here</p></body></html>",
        )
        for i in range(12)
    ]
    rows.append((20, "https://www.s0.example.com/ok/0?utm_source=x",
                 "<p>dup of page 0 canonical</p>"))          # url_duplicate
    rows.append((21, "::notaurl::", "<p>x</p>"))             # malformed_url
    rows.append((22, "https://www.s1.example.com/private/x",
                 "<p>robots blocked</p>"))                   # robots_disallowed
    rows.append((23, "https://www.s2.example.com/ok/b",
                 f"<html><body>{nav}</body></html>"))        # boilerplate_empty
    rows.append((24, "https://www.s3.example.com/ok/c",
                 f"<html><body>{nav}<p>BADWORD text here</p></body></html>"))  # blocklist
    rows.append((25, "https://www.s4.example.com/ok/d",
                 f"<html><body>{nav}<p>Привет мир мир мир</p></body></html>"))  # script_gate
    raw = spark.createDataFrame(rows, "doc_id long, url string, html string")
    robots = spark.createDataFrame(
        [("www.s1.example.com", "User-agent: *\nDisallow: /private\n")],
        "domain string, robots string",
    )
    qpath = str(tmp_path / "quarantine")
    stats = pipelines.run_crawl_preprocess_pipeline(
        spark,
        raw,
        str(tmp_path / "out"),
        blocklist_terms=("badword",),
        min_latin_fraction=0.5,
        robots_df=robots,
        quarantine_path=qpath,
    )
    q = {r["doc_id"]: r["reason"] for r in spark.read.parquet(qpath).collect()}
    assert q[20] == "url_duplicate"
    assert q[21] == "malformed_url"
    assert q[22] == "robots_disallowed"
    assert q[23] == "boilerplate_empty"
    assert q[24] == "blocklist"
    assert q[25] == "script_gate"
    # partition: one reason per dropped doc, drops + survivors = input
    assert len(q) == stats["n_quarantined"]
    assert stats["n_total"] == stats["n_preprocessed"] + stats["n_quarantined"]
    out_ids = {
        r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "out" / "documents.parquet")).collect()
    }
    assert out_ids.isdisjoint(q)


def test_domain_quality_feedback_lowers_frontier_priority(spark, tmp_path):
    """The crawl -> curate -> crawl loop: domains whose pages keep
    getting dropped in curation earn lower fetch priority."""
    from eligibility_etl_airflow_spark import pipelines

    # registered-domain grain: the frontier keys on eTLD+1, so the
    # curation docs must carry the same grain (junksite.net, not a
    # subdomain of a shared parent)
    docs = spark.createDataFrame(
        [(i, "junksite.net" if i < 8 else "goodsite.org") for i in range(12)],
        "doc_id long, domain string",
    )
    audit = spark.createDataFrame(
        [(i, "exact_dedup") for i in range(6)],  # 6 of junk's 8 dropped
        "doc_id long, dropped_at string",
    )
    rates = {
        r["domain"]: r for r in pipelines.domain_survival_rates(docs, audit).collect()
    }
    assert rates["junksite.net"]["quality_rate"] == 0.25
    assert rates["goodsite.org"]["quality_rate"] == 1.0

    # same link structure toward both domains; quality breaks the tie
    pages = spark.createDataFrame(
        [
            (
                1,
                "https://hub.example.com/a",
                '<p><a href="https://www.junksite.net/x">j</a>'
                '<a href="https://www.goodsite.org/x">g</a></p>',
            ),
            (
                2,
                "https://other.example.io/b",
                '<p><a href="https://www.junksite.net/x">j</a>'
                '<a href="https://www.goodsite.org/x">g</a></p>',
            ),
        ],
        "doc_id long, url string, html string",
    )
    quality = pipelines.domain_survival_rates(docs, audit)
    pipelines.run_crawl_frontier_pipeline(
        spark, pages, str(tmp_path), domain_quality_df=quality
    )
    fr = {
        r["url"]: r["priority"]
        for r in spark.read.parquet(str(tmp_path / "frontier.parquet")).collect()
    }
    assert fr["https://www.goodsite.org/x"] > fr["https://www.junksite.net/x"] > 0


@pytest.mark.slow
def test_incremental_crawl_ingest_migrates_legacy_url_index(spark, tmp_path):
    """A pre-update-era url index (no content_hash) is backfilled once
    from the accepted docs' text before any append — appends never mix
    parquet schemas, and update mode works immediately after."""
    from eligibility_etl_airflow_spark import pipelines

    state = str(tmp_path)
    b1 = spark.createDataFrame(
        [(1, "https://m.example.com/a", "<p>legacy body alpha</p>")],
        "doc_id long, url string, html string",
    )
    pipelines.run_incremental_crawl_ingest(spark, b1, state)
    # simulate legacy state: strip the hash column off the url index
    legacy = spark.read.parquet(f"{state}/index_urls").select(
        "url_canonical", "doc_id"
    ).toPandas()
    import shutil

    shutil.rmtree(f"{state}/index_urls")
    spark.createDataFrame(legacy).write.parquet(f"{state}/index_urls")
    assert "content_hash" not in spark.read.parquet(f"{state}/index_urls").columns

    b2 = spark.createDataFrame(
        [
            (2, "https://m.example.com/a", "<p>REWRITTEN body alpha</p>"),
            (3, "https://m.example.com/b", "<p>new page beta</p>"),
        ],
        "doc_id long, url string, html string",
    )
    s2 = pipelines.run_incremental_crawl_ingest(
        spark, b2, state, recrawl_policy="update"
    )
    assert s2["n_updated"] == 1 and s2["n_accepted"] == 1
    idx = spark.read.parquet(f"{state}/index_urls")
    assert "content_hash" in idx.columns
    assert idx.filter(idx.content_hash.isNull()).count() == 0
    docs = {
        r["url_canonical"]: r["text"]
        for r in spark.read.parquet(f"{state}/accepted_docs").collect()
    }
    assert "REWRITTEN" in docs["https://m.example.com/a"]


def test_corpus_data_card_metrics(spark):
    from eligibility_etl_airflow_spark import pipelines

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma", "en", "web"),
            (2, "alpha  beta   GAMMA", "en", "web"),  # dup after normalize
            (3, "uno dos", "es", "books"),
            (4, "one two three four", "en", "books"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    card = {r["metric"]: r["value"] for r in pipelines.corpus_data_card(docs).collect()}
    assert card["n_docs"] == 4.0
    assert card["total_ws_tokens"] == 12.0
    assert card["exact_dup_rate"] == 0.25  # 4 docs, 3 distinct fingerprints
    assert card["lang_share:en"] == 0.75
    assert card["lang_share:es"] == 0.25
    assert card["source_share:web"] == 0.5
    assert abs(sum(v for k, v in card.items() if k.startswith("lang_share:")) - 1.0) < 1e-9


def test_crawl_frontier_respects_state_url_index(spark, tmp_path):
    """Continuous operation: URLs already in the ingest state's url
    index never re-enter the frontier, even if this batch links them."""
    from eligibility_etl_airflow_spark import pipelines

    pages = spark.createDataFrame(
        [(1, "https://hub.example.com/a",
          '<p><a href="https://t.example.net/old">o</a>'
          '<a href="https://t.example.net/new">n</a></p>')],
        "doc_id long, url string, html string",
    )
    state_index = spark.createDataFrame(
        [("https://t.example.net/old", 7)], "url_canonical string, doc_id long"
    )
    stats = pipelines.run_crawl_frontier_pipeline(
        spark, pages, str(tmp_path), crawled_urls_df=state_index
    )
    assert stats["n_candidates"] == 1
    out = spark.read.parquet(str(tmp_path / "frontier.parquet")).collect()
    assert [r["url"] for r in out] == ["https://t.example.net/new"]


@pytest.mark.slow
def test_incremental_crawl_ingest_drift_report(spark, tmp_path):
    """drift_report=True surfaces the batch-vs-state JSD before append:
    an on-topic batch scores low, an off-vocabulary batch scores high."""
    from eligibility_etl_airflow_spark import pipelines

    base_body = "the quick brown fox jumps over the lazy dog near the river"
    b1 = spark.createDataFrame(
        [(i, f"https://d.example.com/p{i}", f"<p>{base_body} v{i}</p>")
         for i in range(4)],
        "doc_id long, url string, html string",
    )
    pipelines.run_incremental_crawl_ingest(spark, b1, str(tmp_path))

    similar = spark.createDataFrame(
        [(10, "https://d.example.com/s", f"<p>{base_body} fresh page</p>")],
        "doc_id long, url string, html string",
    )
    s_sim = pipelines.run_incremental_crawl_ingest(
        spark, similar, str(tmp_path), drift_report=True
    )
    alien = spark.createDataFrame(
        [(11, "https://d.example.com/z",
          "<p>zorb qux flim wub grak tonk blip vex nur polt</p>")],
        "doc_id long, url string, html string",
    )
    s_alien = pipelines.run_incremental_crawl_ingest(
        spark, alien, str(tmp_path), drift_report=True
    )
    assert 0 <= s_sim["batch_js_divergence"] < s_alien["batch_js_divergence"] <= 1
    assert s_alien["batch_vocab_shared"] == 0


@pytest.mark.slow
def test_incremental_drift_token_index_matches_full_recompute(spark, tmp_path):
    """The persisted (token, count) index makes the drift monitor
    incremental: across a 3-batch sequence the per-batch JSD equals the
    full batch-vs-state recompute, the index equals a from-scratch
    recount of the accepted corpus after every batch, and — the core
    invariant — the monitor never re-reads accepted TEXT: tampering the
    stored docs' text between batches does not move the reported JSD."""
    import glob
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from eligibility_etl_airflow_spark import pipelines
    from eligibility_etl_airflow_spark.operators import drift

    state = str(tmp_path)

    def batch(rows):
        return spark.createDataFrame(
            [(i, f"https://d.example.com/p{i}", f"<p>{body}</p>")
             for i, body in rows],
            "doc_id long, url string, html string",
        )

    def docs_texts():
        return [
            r["text"]
            for r in spark.read.parquet(f"{state}/accepted_docs").collect()
        ]

    def as_df(texts):
        return spark.createDataFrame([(t,) for t in texts], "text string")

    b1 = batch([(1, "the quick brown fox jumps over the lazy dog"),
                (2, "a fast auburn fox vaults a sleepy hound")])
    pipelines.run_incremental_crawl_ingest(spark, b1, state,
                                           drift_report=True)
    # fresh state: no pre-existing corpus to diverge from, but the
    # index must exist and equal a full recount of the accepted docs
    assert os.path.exists(f"{state}/index_tokens")
    snap1 = docs_texts()

    def assert_index_matches(texts):
        got = {
            r["tok"]: r["c"]
            for r in spark.read.parquet(f"{state}/index_tokens").collect()
        }
        want = {
            r["tok"]: r["c"]
            for r in drift.unigram_counts(as_df(texts)).collect()
        }
        assert got == want

    assert_index_matches(snap1)

    b2 = batch([(3, "foxes and hounds share the meadow at dawn"),
                (4, "the dog naps while the fox patrols the fence")])
    s2 = pipelines.run_incremental_crawl_ingest(spark, b2, state,
                                                drift_report=True)
    snap2 = docs_texts()
    new2 = [t for t in snap2 if t not in snap1]
    expected2 = drift.js_divergence_pair(as_df(new2), as_df(snap1)).collect()[0]
    assert s2["batch_js_divergence"] == expected2["js_divergence"]
    assert s2["batch_vocab_shared"] == expected2["vocab_shared"]
    assert_index_matches(snap2)

    # tamper the stored text: if the monitor re-read accepted text the
    # batch-3 JSD would move; riding the index it must not
    docs_dir = f"{state}/accepted_docs"
    tbl = pq.read_table(docs_dir)
    garbled = tbl.set_column(
        tbl.schema.get_field_index("text"),
        "text",
        pa.array(["zzz qqq xxx"] * tbl.num_rows, pa.string()),
    )
    for f in glob.glob(f"{docs_dir}/*.parquet"):
        os.remove(f)
    pq.write_table(garbled, f"{docs_dir}/part-00000.parquet")

    b3 = batch([(5, "a new fox essay about the meadow and the fence")])
    s3 = pipelines.run_incremental_crawl_ingest(spark, b3, state,
                                                drift_report=True)
    new3_clean = "a new fox essay about the meadow and the fence"
    expected3 = drift.js_divergence_pair(
        as_df([new3_clean]), as_df(snap2)
    ).collect()[0]
    assert s3["batch_js_divergence"] == expected3["js_divergence"]

    # replay of batch 3 is a no-op for the index too (same file set)
    files_before = sorted(glob.glob(f"{state}/index_tokens/*.parquet"))
    s_replay = pipelines.run_incremental_crawl_ingest(
        spark, b3, state, drift_report=True
    )
    assert s_replay["n_accepted"] == 0
    assert sorted(glob.glob(f"{state}/index_tokens/*.parquet")) == files_before


@pytest.mark.slow
def test_incremental_drift_index_tracks_update_policy(spark, tmp_path):
    """recrawl_policy='update' replaces a doc's text in place; the token
    index must shed the OLD text's counts and gain the NEW ones — no
    ghost vocabulary — and keep matching a from-scratch recount."""
    from eligibility_etl_airflow_spark import pipelines
    from eligibility_etl_airflow_spark.operators import drift

    state = str(tmp_path)
    b1 = spark.createDataFrame(
        [(1, "https://u.example.com/a", "<p>ephemeral draft wording here</p>"),
         (2, "https://u.example.com/b", "<p>stable reference page text</p>")],
        "doc_id long, url string, html string",
    )
    pipelines.run_incremental_crawl_ingest(spark, b1, state, drift_report=True)

    b2 = spark.createDataFrame(
        [(10, "https://u.example.com/a", "<p>final published wording now</p>")],
        "doc_id long, url string, html string",
    )
    pipelines.run_incremental_crawl_ingest(
        spark, b2, state, recrawl_policy="update", drift_report=True
    )
    texts = [
        r["text"]
        for r in spark.read.parquet(f"{state}/accepted_docs").collect()
    ]
    got = {
        r["tok"]: r["c"]
        for r in spark.read.parquet(f"{state}/index_tokens").collect()
    }
    want = {
        r["tok"]: r["c"]
        for r in drift.unigram_counts(
            spark.createDataFrame([(t,) for t in texts], "text string")
        ).collect()
    }
    assert got == want
    assert "ephemeral" not in got and "final" in got


def test_training_prep_span_dedup_quote_trains_once(spark, tmp_path):
    """span_dedup=True: a 40-token quote shared by two documents enters
    the packed training examples exactly once (the corpus-first copy);
    without the flag it appears once per containing document."""
    from eligibility_etl_airflow_spark import pipelines

    quote = " ".join(f"q{i}" for i in range(40))
    docs = spark.createDataFrame(
        [
            (1, "intro unique words here " + quote + " tail alpha", "en"),
            (2, "different opening text sequence now " + quote + " end", "en"),
            (3, "plain control document with its own tokens only", "en"),
        ],
        "doc_id long, text string, lang string",
    )

    def quote_hits(out_dir):
        chunks = spark.read.parquet(f"{out_dir}/packed_chunks")
        # count docs whose reassembled text still contains the quote;
        # chunks overlap, so reassemble per doc before searching
        from pyspark.sql import functions as F

        joined = (
            chunks.orderBy("doc_id", "chunk_idx")
            .groupBy("doc_id")
            .agg(F.collect_list(F.struct("chunk_idx", "chunk_text")).alias("c"))
            .select(
                "doc_id",
                F.array_join(
                    F.transform(F.array_sort("c"), lambda s: s["chunk_text"]), " "
                ).alias("t"),
            )
        )
        return joined.filter(F.col("t").contains(quote)).count()

    s0 = pipelines.run_training_prep_pipeline(
        spark, "unused", str(tmp_path / "plain"),
        chunk_tokens=16, overlap=0, test_frac=0.0, documents=docs,
    )
    assert "n_span_tokens_removed" not in s0
    assert quote_hits(str(tmp_path / "plain")) == 2

    s1 = pipelines.run_training_prep_pipeline(
        spark, "unused", str(tmp_path / "deduped"),
        chunk_tokens=16, overlap=0, test_frac=0.0,
        span_dedup=True, documents=docs,
    )
    assert s1["n_span_tokens_removed"] == 40
    assert quote_hits(str(tmp_path / "deduped")) == 1


@pytest.mark.slow
def test_incremental_drift_index_survives_crash_before_fold(spark, tmp_path):
    """The crash window the write-ahead intent closes: a run that died
    AFTER the state appends but BEFORE the token-index fold leaves a
    __pending directory; the replay accepts nothing, yet the next
    ingest's recovery fold applies the staged counts exactly once — the
    index converges to the full recount instead of going permanently
    stale. A stale intent whose batch never reached the state is
    discarded, not folded."""
    import os
    import shutil

    from eligibility_etl_airflow_spark import pipelines
    from eligibility_etl_airflow_spark.operators import drift

    state = str(tmp_path)
    token_index = f"{state}/index_tokens"

    b1 = spark.createDataFrame(
        [(1, "https://c.example.com/a", "<p>alpha words in the first page</p>")],
        "doc_id long, url string, html string",
    )
    pipelines.run_incremental_crawl_ingest(spark, b1, state, drift_report=True)

    b2 = spark.createDataFrame(
        [(2, "https://c.example.com/b", "<p>beta words in the second page</p>")],
        "doc_id long, url string, html string",
    )
    pipelines.run_incremental_crawl_ingest(spark, b2, state, drift_report=True)

    # simulate the crash: resurrect batch 2's intent (as if the fold
    # never ran) and roll the index back to its pre-b2 content by
    # re-deriving it from b1 only
    b2_counts = drift.unigram_counts(
        spark.read.parquet(f"{state}/accepted_docs")
        .filter("doc_id = 2")
        .select("text")
    )
    ids2 = spark.createDataFrame([(2,)], "doc_id long")
    drift.token_index_pending_write(
        token_index, "crash-key-b2", add=b2_counts, ids=ids2, kind="acc"
    )
    pre_b2 = drift.token_index_merge(
        spark.read.parquet(token_index),
        subtract=b2_counts,
    ).collect()
    shutil.rmtree(token_index)
    spark.createDataFrame(pre_b2, "tok string, c long").write.parquet(token_index)

    # next ingest: replay of b2 accepts nothing, but recovery folds the
    # staged intent -> index equals the full recount again
    s_replay = pipelines.run_incremental_crawl_ingest(
        spark, b2, state, drift_report=True
    )
    assert s_replay["n_accepted"] == 0
    assert not os.path.exists(f"{token_index}__pending_acc")
    got = {
        r["tok"]: r["c"] for r in spark.read.parquet(token_index).collect()
    }
    want = {
        r["tok"]: r["c"]
        for r in drift.unigram_counts(
            spark.read.parquet(f"{state}/accepted_docs").select("text")
        ).collect()
    }
    assert got == want

    # stale intent for a batch that never reached the state: discarded
    phantom = drift.unigram_counts(
        spark.createDataFrame([("phantom only words",)], "text string")
    )
    drift.token_index_pending_write(
        token_index,
        "crash-key-phantom",
        add=phantom,
        ids=spark.createDataFrame([(999,)], "doc_id long"),
        kind="acc",
    )
    b3 = spark.createDataFrame(
        [(3, "https://c.example.com/c", "<p>gamma words in the third page</p>")],
        "doc_id long, url string, html string",
    )
    pipelines.run_incremental_crawl_ingest(spark, b3, state, drift_report=True)
    got3 = {
        r["tok"]: r["c"] for r in spark.read.parquet(token_index).collect()
    }
    assert "phantom" not in got3
    want3 = {
        r["tok"]: r["c"]
        for r in drift.unigram_counts(
            spark.read.parquet(f"{state}/accepted_docs").select("text")
        ).collect()
    }
    assert got3 == want3


def test_crawl_preprocess_mojibake_gate(spark, tmp_path):
    """max_mojibake_per_kchar drops the double-encoded doc, keeps both
    the clean-accented and plain docs, and attributes the drop in the
    quarantine trail."""
    from eligibility_etl_airflow_spark import pipelines

    moji = ("caf" + "é".encode("utf-8").decode("cp1252") + " it"
            + "’".encode("utf-8").decode("cp1252") + "s ") * 8
    rows = [
        (1, "https://g.example.com/a",
         f"<p>{moji} short page body here</p>"),
        (2, "https://g.example.com/b",
         "<p>café it’s a café with naïve charm and many clean words</p>"),
        (3, "https://g.example.com/c",
         "<p>plain ascii page body with enough words to survive</p>"),
    ]
    raw = spark.createDataFrame(rows, "doc_id long, url string, html string")
    q = str(tmp_path / "quarantine")
    stats = pipelines.run_crawl_preprocess_pipeline(
        spark, raw, str(tmp_path / "out"),
        max_mojibake_per_kchar=2.0,
        quarantine_path=q,
    )
    kept = sorted(
        r["doc_id"]
        for r in spark.read.parquet(
            str(tmp_path / "out" / "documents.parquet")
        ).collect()
    )
    assert kept == [2, 3]
    assert stats["n_after_mojibake"] == 2
    quar = {
        r["doc_id"]: r["reason"]
        for r in spark.read.parquet(q).collect()
    }
    assert quar[1] == "mojibake_gate"


@pytest.mark.slow
def test_incremental_drift_update_crash_and_same_id_recrawls(spark, tmp_path):
    """The review's update-path crash scenarios: (a) an 'upd' intent
    whose merge never landed is discarded on recovery, NOT folded and
    re-folded; (b) two successive updates of the SAME doc ids to
    DIFFERENT content key differently, so the second fold is never
    skipped as a replay; (c) a mid-swap crash (index directory missing,
    intent present) discards the intent and the backfill recount heals
    the index."""
    import os
    import shutil

    from eligibility_etl_airflow_spark import pipelines
    from eligibility_etl_airflow_spark.operators import drift

    state = str(tmp_path)
    token_index = f"{state}/index_tokens"

    def recount():
        return {
            r["tok"]: r["c"]
            for r in drift.unigram_counts(
                spark.read.parquet(f"{state}/accepted_docs").select("text")
            ).collect()
        }

    def index():
        return {
            r["tok"]: r["c"]
            for r in spark.read.parquet(token_index).collect()
        }

    b1 = spark.createDataFrame(
        [(1, "https://u.example.com/a", "<p>original draft wording here</p>")],
        "doc_id long, url string, html string",
    )
    pipelines.run_incremental_crawl_ingest(spark, b1, state, drift_report=True)

    # (b) first update: v1 -> v2
    up2 = spark.createDataFrame(
        [(10, "https://u.example.com/a", "<p>second version wording now</p>")],
        "doc_id long, url string, html string",
    )
    pipelines.run_incremental_crawl_ingest(
        spark, up2, state, recrawl_policy="update", drift_report=True
    )
    assert index() == recount()

    # (b) second update of the SAME doc id to different content — the
    # content-hash in the key must make this fold apply, not skip
    up3 = spark.createDataFrame(
        [(10, "https://u.example.com/a", "<p>third version entirely new</p>")],
        "doc_id long, url string, html string",
    )
    pipelines.run_incremental_crawl_ingest(
        spark, up3, state, recrawl_policy="update", drift_report=True
    )
    assert index() == recount()
    assert "third" in index() and "second" not in index()

    # (a) phantom 'upd' intent whose merge never landed: ids not in docs
    phantom_sub = drift.unigram_counts(
        spark.createDataFrame([("third version entirely new",)], "text string")
    )
    phantom_add = drift.unigram_counts(
        spark.createDataFrame([("never landed text",)], "text string")
    )
    drift.token_index_pending_write(
        token_index, "phantom-upd", add=phantom_add, subtract=phantom_sub,
        ids=spark.createDataFrame([(777,)], "doc_id long"), kind="upd",
    )
    noop = spark.createDataFrame(
        [(10, "https://u.example.com/a", "<p>third version entirely new</p>")],
        "doc_id long, url string, html string",
    )
    pipelines.run_incremental_crawl_ingest(
        spark, noop, state, recrawl_policy="update", drift_report=True
    )
    assert not os.path.exists(f"{token_index}__pending_upd")
    assert index() == recount()
    assert "landed" not in index()

    # (c) mid-swap crash: index gone, intent present -> discard + backfill
    some_counts = drift.unigram_counts(
        spark.createDataFrame([("whatever text",)], "text string")
    )
    drift.token_index_pending_write(
        token_index, "mid-swap", add=some_counts,
        ids=spark.createDataFrame([(1,)], "doc_id long"), kind="acc",
    )
    shutil.rmtree(token_index)
    b4 = spark.createDataFrame(
        [(4, "https://u.example.com/d", "<p>fresh page after the crash</p>")],
        "doc_id long, url string, html string",
    )
    s4 = pipelines.run_incremental_crawl_ingest(
        spark, b4, state, drift_report=True
    )
    assert "batch_js_divergence" in s4
    assert not os.path.exists(f"{token_index}__pending_acc")
    assert index() == recount()


@pytest.mark.slow
def test_incremental_crawl_ingest_compaction_bounds_state_files(spark, tmp_path):
    """Continuous-operation housekeeping (round-6 verdict finding):
    append_dedup adds one parquet delta per batch forever, so 50 one-row
    batches used to leave ~50 files per state index; with the wired
    between-batches compaction the count stays <= the threshold, rows
    survive every rewrite byte-for-byte, replay stays a no-op AFTER a
    compaction, and state_report surfaces the file counts."""
    import os as _os

    from eligibility_etl_airflow_spark import pipelines

    state = str(tmp_path / "st")
    threshold = 8
    first_batch = None
    compactions = 0
    for i in range(50):
        b = spark.createDataFrame(
            [(i, f"https://site{i}.example.org/p",
              f"<p>unique page body number {i} carrying words {i * 7}</p>")],
            "doc_id long, url string, html string",
        )
        if first_batch is None:
            first_batch = b
        stats = pipelines.run_incremental_crawl_ingest(
            spark, b, state, compact_threshold=threshold
        )
        compactions += len(stats.get("compacted_indexes", {}))
    assert compactions > 0, "50 batches never triggered a compaction"
    for rel in ("accepted_docs", "index_urls", "index_hashes"):
        n_files = sum(
            1 for f in _os.listdir(_os.path.join(state, rel))
            if f.endswith(".parquet")
        )
        assert n_files <= threshold, (rel, n_files)
    docs = spark.read.parquet(f"{state}/accepted_docs")
    assert docs.count() == 50
    assert {r["doc_id"] for r in docs.select("doc_id").collect()} == set(range(50))

    # replay of an early batch against the compacted state: still a no-op
    replay = pipelines.run_incremental_crawl_ingest(
        spark, first_batch, state, compact_threshold=threshold
    )
    assert replay["n_accepted"] == 0 and replay["n_total_accepted"] == 50

    rep = pipelines.state_report(spark, state)
    assert rep["files_accepted_docs"] <= threshold
    assert rep["files_index_urls"] <= threshold
    assert rep["files_index_hashes"] <= threshold


def test_compaction_mid_swap_crash_recovers_without_duplicate_acceptance(
    spark, tmp_path
):
    """compact_parquet's swap is two renames; a crash between them
    leaves the index MISSING (its data intact in __old_*). Without
    healing, the next ingest's has_state probe reads 'no state' and a
    replayed batch re-accepts every duplicate. The loops now recover
    up front: the pre-compaction directory is restored, stray staging
    dirs are removed, and the replay stays a no-op."""
    import glob as _glob
    import os as _os
    import shutil as _shutil
    import uuid as _uuid

    from eligibility_etl_airflow_spark import pipelines

    state = str(tmp_path / "st")
    b = spark.createDataFrame(
        [(1, "https://cr.example.org/a", "<p>alpha beta gamma delta</p>"),
         (2, "https://cr.example.org/b", "<p>epsilon zeta eta theta</p>")],
        "doc_id long, url string, html string",
    )
    pipelines.run_incremental_crawl_ingest(spark, b, state)

    # simulate the mid-swap crash on BOTH vs-state indexes: data moved
    # to __old_*, a stray compacted tmp left behind, path gone
    for rel in ("index_urls", "index_hashes"):
        p = _os.path.join(state, rel)
        tmp = f"{p}__compact_{_uuid.uuid4().hex[:8]}"
        _shutil.copytree(p, tmp)
        _os.rename(p, f"{p}__old_{_uuid.uuid4().hex[:8]}")
        assert not _os.path.exists(p)

    replay = pipelines.run_incremental_crawl_ingest(spark, b, state)
    # healed BEFORE the has_state probe: replay accepted nothing
    assert replay["n_accepted"] == 0
    assert replay["n_total_accepted"] == 2
    for rel in ("index_urls", "index_hashes"):
        p = _os.path.join(state, rel)
        assert _os.path.exists(p)
        assert not _glob.glob(f"{p}__old_*") and not _glob.glob(f"{p}__compact_*")


@pytest.mark.slow
def test_incremental_curation_compaction_bounds_state_files(spark, tmp_path):
    """The curation loop's five indexes get the same housekeeping; the
    dedup result over the compacted state matches what uncompacted state
    would produce (a re-ingested duplicate is still caught vs-state)."""
    import os as _os

    from eligibility_etl_airflow_spark import pipelines

    state = str(tmp_path / "cst")
    threshold = 4
    for i in range(12):
        b = spark.createDataFrame(
            [(i, " ".join(f"w{i}x{j}" for j in range(30)))],
            "doc_id long, text string",
        )
        pipelines.run_incremental_curation(
            spark, b, state, compact_threshold=threshold
        )
    for rel in ("accepted_docs", "index_hashes", "index_bands", "index_shingles"):
        n_files = sum(
            1 for f in _os.listdir(_os.path.join(state, rel))
            if f.endswith(".parquet")
        )
        assert n_files <= threshold, (rel, n_files)
    # exact-vs-state across a compaction boundary: batch 3's text under a
    # new doc_id is still recognized as already-accepted content
    dup = spark.createDataFrame(
        [(99, " ".join(f"w3x{j}" for j in range(30)))],
        "doc_id long, text string",
    )
    stats = pipelines.run_incremental_curation(
        spark, dup, state, compact_threshold=threshold
    )
    assert stats["n_after_exact_vs_state"] == 0 and stats["n_accepted"] == 0
    assert spark.read.parquet(f"{state}/accepted_docs").count() == 12


def test_state_report_counts_and_pending_intents(spark, tmp_path):
    from eligibility_etl_airflow_spark import pipelines
    from eligibility_etl_airflow_spark.operators import drift

    state = str(tmp_path)
    b = spark.createDataFrame(
        [(1, "https://r.example.com/a", "<p>alpha beta gamma delta</p>"),
         (2, "https://r.example.com/b", "<p>epsilon zeta eta theta</p>")],
        "doc_id long, url string, html string",
    )
    pipelines.run_incremental_crawl_ingest(spark, b, state, drift_report=True)
    rep = pipelines.state_report(spark, state)
    assert rep["n_accepted_docs"] == 2
    assert rep["n_index_urls"] == 2 and rep["n_index_hashes"] == 2
    assert rep["n_index_tokens"] == rep["n_corpus_tokens"] == 8
    assert rep["pending_token_intents"] == []

    # a stranded intent (crash signature) is surfaced by name
    drift.token_index_pending_write(
        f"{state}/index_tokens", "k",
        add=drift.unigram_counts(
            spark.createDataFrame([("x y",)], "text string")
        ),
        kind="acc",
    )
    rep2 = pipelines.state_report(spark, state)
    assert rep2["pending_token_intents"] == ["acc"]


def test_recover_restores_newest_old_snapshot(tmp_path):
    """With MULTIPLE stray __old_ dirs (repeated crashes), recovery must
    restore the NEWEST snapshot by mtime — the uuid suffix sorts
    randomly, so a lexicographic pick could resurrect a stale snapshot
    and delete the newer one (round-7 advice)."""
    import os as _os
    import time as _time

    from eligibility_etl_airflow_spark.sources import sinks

    p = str(tmp_path / "idx")
    old_a = f"{p}__old_ffffffff"  # lexicographically LAST, mtime OLDEST
    old_b = f"{p}__old_00000000"  # lexicographically first, mtime newest
    _os.makedirs(old_a)
    with open(_os.path.join(old_a, "part-0"), "w") as f:
        f.write("stale")
    _time.sleep(0.05)
    _os.makedirs(old_b)
    with open(_os.path.join(old_b, "part-0"), "w") as f:
        f.write("fresh")
    _os.utime(old_a, (1_000_000_000, 1_000_000_000))
    _os.utime(old_b, (2_000_000_000, 2_000_000_000))

    out = sinks.recover_interrupted_compaction(p)
    assert out["restored"] and out["removed"] == 1
    with open(_os.path.join(p, "part-0")) as f:
        assert f.read() == "fresh"


@pytest.mark.slow
def test_token_index_backfill_and_merge_strays_healed(spark, tmp_path):
    """A crash between the token-index backfill's staged write and its
    rename (or mid-fold between the __merge_ swap renames) used to leak
    a full-index-sized tmp dir forever: the up-front heal loops skipped
    index_tokens. They now include it (round-7 advice)."""
    import glob as _glob
    import os as _os
    import shutil as _shutil

    from eligibility_etl_airflow_spark import pipelines

    state = str(tmp_path / "st")
    b = spark.createDataFrame(
        [(1, "https://tk.example.org/a", "<p>alpha beta gamma delta</p>"),
         (2, "https://tk.example.org/b", "<p>epsilon zeta eta theta</p>")],
        "doc_id long, url string, html string",
    )
    pipelines.run_incremental_crawl_ingest(spark, b, state, drift_report=True)
    tok = _os.path.join(state, "index_tokens")
    assert _os.path.exists(tok)

    # stray staging dirs from simulated crashes: a backfill that never
    # renamed, and a fold __merge_ that never swapped
    _shutil.copytree(tok, f"{tok}__backfill_deadbeef")
    _shutil.copytree(tok, f"{tok}__merge_deadbeef")

    b2 = spark.createDataFrame(
        [(3, "https://tk.example.org/c", "<p>iota kappa lambda mu</p>")],
        "doc_id long, url string, html string",
    )
    rep = pipelines.run_incremental_crawl_ingest(spark, b2, state, drift_report=True)
    assert rep["n_accepted"] == 1
    assert not _glob.glob(f"{tok}__backfill_*")
    assert not _glob.glob(f"{tok}__merge_*")

    # mid-fold-swap crash: index renamed away, post-fold tmp stray —
    # healing restores the pre-fold snapshot and the loop still runs
    _shutil.copytree(tok, f"{tok}__merge_cafecafe")
    _os.rename(tok, f"{tok}__old_cafecafe")
    rep2 = pipelines.run_incremental_crawl_ingest(
        spark,
        spark.createDataFrame(
            [(4, "https://tk.example.org/d", "<p>nu xi omicron pi</p>")],
            "doc_id long, url string, html string",
        ),
        state,
        drift_report=True,
    )
    assert rep2["n_accepted"] == 1
    assert _os.path.exists(tok)
    assert not _glob.glob(f"{tok}__old_*") and not _glob.glob(f"{tok}__merge_*")


@pytest.mark.slow
def test_closed_loop_crawl_soak_crashes_at_every_protocol_boundary(spark, tmp_path):
    """The full continuous loop — ingest → curate → survival feedback →
    frontier — over shared state for 3 cycles, with a crash injected at
    each protocol boundary between cycles: a compaction mid-swap (both
    loops' index swap), a WAL fold crash (intent staged, fold never ran,
    index rolled back), and a ranks mid-swap. Invariants: replays accept
    ZERO rows, state file counts stay bounded, the token index equals a
    full recount, and the final warm-started priorities equal a cold
    60-iteration recompute."""
    import glob as _glob
    import os as _os
    import shutil as _shutil

    from pyspark.sql import functions as F

    from eligibility_etl_airflow_spark import pipelines
    from eligibility_etl_airflow_spark.operators import drift

    ing = str(tmp_path / "ing")  # ingest + frontier state (shared)
    cur = str(tmp_path / "cur")  # curation state

    base = " ".join(f"w{i}" for i in range(40))  # 36+ shared 5-shingles
    good = {
        0: "entirely different prose about ships and harbors for cycle zero",
        1: "a second unique passage on mountains valleys and rivers here",
        2: "third unique text concerning libraries maps and old letters",
    }

    def pages(c):
        links = (
            f'<a href="https://junksite1.org/next{c}">x</a>'
            f'<a href="https://goodsite1.org/next{c}">x</a>'
        )
        rows = [
            (c * 10 + 1, f"https://junksite1.org/j{c}a",
             f"<p>{base} extra{2 * c}</p>{links}"),
            (c * 10 + 2, f"https://junksite1.org/j{c}b",
             f"<p>{base} extra{2 * c + 1}</p>{links}"),
            (c * 10 + 3, f"https://goodsite1.org/g{c}",
             f"<p>{good[c]}</p>{links}"),
        ]
        return spark.createDataFrame(rows, "doc_id long, url string, html string")

    dropped_ids: list[int] = []

    def run_cycle(c, quality):
        b = pages(c)
        s_ing = pipelines.run_incremental_crawl_ingest(
            spark, b, ing, drift_report=True, compact_threshold=4
        )
        batch_docs = (
            spark.read.parquet(_os.path.join(ing, "accepted_docs"))
            .filter(F.col("doc_id").between(c * 10, c * 10 + 9))
        )
        s_cur = pipelines.run_incremental_curation(
            spark, batch_docs.select("doc_id", "text"), cur, compact_threshold=4
        )
        kept = {
            r.doc_id
            for r in spark.read.parquet(_os.path.join(cur, "accepted_docs"))
            .select("doc_id").collect()
        }
        dropped_ids.extend(
            r.doc_id for r in batch_docs.select("doc_id").collect()
            if r.doc_id not in kept
        )
        audit = spark.createDataFrame(
            [(i, "dedup") for i in dropped_ids] or [(-1, "none")],
            "doc_id long, dropped_at string",
        )
        survival = pipelines.domain_survival_rates(
            spark.read.parquet(_os.path.join(ing, "accepted_docs"))
            .select("doc_id", "domain"),
            audit,
        )
        s_fr = pipelines.run_incremental_frontier(
            spark, b, ing, str(tmp_path / f"fr{c}"),
            domain_quality_df=survival, pagerank_iterations=20,
        )
        return s_ing, s_cur, s_fr, survival

    # ---- cycle 0, then boundary crash #1: compaction mid-swap ----
    s_ing0, s_cur0, _, _ = run_cycle(0, None)
    assert s_ing0["n_accepted"] == 3
    assert s_cur0["n_accepted"] == 2  # j0b dropped within-batch (fuzzy)
    for p in (_os.path.join(ing, "index_urls"), _os.path.join(cur, "index_hashes")):
        _shutil.copytree(p, f"{p}__compact_crash0")
        _os.rename(p, f"{p}__old_crash0")
    # replay cycle 0 against the crashed state: healing precedes the
    # has_state probes, so NOTHING is re-accepted in either loop
    r_ing = pipelines.run_incremental_crawl_ingest(
        spark, pages(0), ing, drift_report=True, compact_threshold=4
    )
    assert r_ing["n_accepted"] == 0 and r_ing["n_total_accepted"] == 3
    r_cur = pipelines.run_incremental_curation(
        spark,
        spark.read.parquet(_os.path.join(ing, "accepted_docs"))
        .filter(F.col("doc_id") < 10).select("doc_id", "text"),
        cur, compact_threshold=4,
    )
    assert r_cur["n_accepted"] == 0 and r_cur["n_corpus_total"] == 2

    # ---- cycle 1, then boundary crash #2: WAL fold (intent staged,
    # fold never ran, index rolled back to pre-batch content) ----
    s_ing1, s_cur1, _, _ = run_cycle(1, None)
    assert s_ing1["n_accepted"] == 3
    assert s_cur1["n_accepted"] == 1  # both junk near-dups caught vs state
    tok = _os.path.join(ing, "index_tokens")
    b1_counts = drift.unigram_counts(
        spark.read.parquet(_os.path.join(ing, "accepted_docs"))
        .filter(F.col("doc_id").between(10, 19)).select("text")
    )
    drift.token_index_pending_write(
        tok, "soak-crash-b1",
        add=b1_counts,
        ids=spark.createDataFrame([(11,), (12,), (13,)], "doc_id long"),
        kind="acc",
    )
    rolled = drift.token_index_merge(
        spark.read.parquet(tok), subtract=b1_counts
    ).collect()
    _shutil.rmtree(tok)
    spark.createDataFrame(rolled, "tok string, c long").write.parquet(tok)
    r_ing1 = pipelines.run_incremental_crawl_ingest(
        spark, pages(1), ing, drift_report=True, compact_threshold=4
    )
    assert r_ing1["n_accepted"] == 0 and r_ing1["n_total_accepted"] == 6
    got = {r["tok"]: r["c"] for r in spark.read.parquet(tok).collect()}
    want = {
        r["tok"]: r["c"]
        for r in drift.unigram_counts(
            spark.read.parquet(_os.path.join(ing, "accepted_docs")).select("text")
        ).collect()
    }
    assert got == want  # recovery fold applied the staged intent once

    # ---- cycle 2, then boundary crash #3: ranks mid-swap ----
    _, _, s_fr2, survival2 = run_cycle(2, None)
    ranks = _os.path.join(ing, "frontier_ranks")
    _shutil.copytree(ranks, f"{ranks}__cycle_crash2")
    _os.rename(ranks, f"{ranks}__old_crash2")
    s_fr_replay = pipelines.run_incremental_frontier(
        spark, pages(2), ing, str(tmp_path / "fr2r"),
        domain_quality_df=survival2, pagerank_iterations=20,
    )
    assert s_fr_replay["warm_start"] is True  # healed, not cold-started
    assert not _glob.glob(f"{ranks}__old_*") and not _glob.glob(f"{ranks}__cycle_*")

    warm = {
        r["url"]: r["priority"]
        for r in spark.read.parquet(
            str(tmp_path / "fr2r" / "frontier.parquet")
        ).collect()
    }
    # cold twin on the SAME accumulated state: full iterations from
    # uniform must land on the same fixed point
    pipelines.run_crawl_frontier_pipeline(
        spark, pages(2), str(tmp_path / "frcold"),
        domain_edges_df=spark.read.parquet(
            _os.path.join(ing, "index_domain_edges")
        ),
        pagerank_iterations=60, pagerank_tol=1e-9,
        domain_quality_df=survival2,
        crawled_urls_df=spark.read.parquet(
            _os.path.join(ing, "index_urls")
        ).select("url_canonical"),
    )
    cold = {
        r["url"]: r["priority"]
        for r in spark.read.parquet(
            str(tmp_path / "frcold" / "frontier.parquet")
        ).collect()
    }
    assert set(warm) == set(cold) != set()
    for u in warm:
        assert abs(warm[u] - cold[u]) < 1e-5, (u, warm[u], cold[u])
    # the curation feedback holds through the crashes: junk's candidate
    # priority sits below good's
    assert (
        warm["https://goodsite1.org/next2"] > warm["https://junksite1.org/next2"]
    )

    # bounded state: every index in both state dirs stays under the
    # compaction regime's bound despite 3 cycles + 3 replays + 3 crashes
    for d in (ing, cur):
        rep = pipelines.state_report(spark, d)
        for key, n in rep.items():
            if key.startswith("files_"):
                assert n <= 12, (d, key, n)
    # and no stray staging dirs anywhere
    for d in (ing, cur):
        strays = [
            p for pref in ("__old_", "__compact_", "__merge_", "__backfill_", "__cycle_")
            for p in _glob.glob(_os.path.join(d, f"*{pref}*"))
        ]
        assert not strays, strays


def test_ann_query_state_serves_curation_vector_index(spark, tmp_path):
    """The curation state's semantic index (index_centroids trained
    once, index_vectors rows stored with their cluster) doubles as a
    ready ANN index: ann_query_state's top-k equals exact brute force
    over the stored vectors when every cluster is probed, and raises a
    clear error on a state without the semantic tier."""
    import os as _os

    from pyspark.sql import functions as F

    from eligibility_etl_airflow_spark import pipelines
    from eligibility_etl_airflow_spark.operators import similarity

    state = str(tmp_path / "vst")
    rows = [
        (
            i,
            f"unique document number {i} with its own words w{i} x{i} y{i} z{i}",
            [float((i * 7 + d * 3) % 11 - 5) for d in range(8)],
        )
        for i in range(40)
    ]
    batch = spark.createDataFrame(
        rows, "doc_id long, text string, embedding array<double>"
    )
    pipelines.run_incremental_curation(
        spark, batch, state, semantic_eps=0.9999, semantic_k=4
    )
    assert _os.path.exists(_os.path.join(state, "index_vectors"))

    q = spark.createDataFrame(
        [(100, [1.0, 0.5, -0.25, 2.0, -1.5, 0.75, 0.0, 1.25])],
        "vec_id long, embedding array<double>",
    )
    got = pipelines.ann_query_state(spark, state, q, k=3, nprobe=4).collect()
    stored = spark.read.parquet(_os.path.join(state, "index_vectors")).select(
        F.col("id").alias("vec_id"), F.col("v").alias("embedding")
    )
    want = similarity.brute_force_topk(stored, q, k=3).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))

    with pytest.raises(FileNotFoundError, match="semantic index"):
        pipelines.ann_query_state(spark, str(tmp_path / "nope"), q)


def _seeded_semantic_state(spark, state):
    """A curation state whose semantic index already holds centroids."""
    batch = spark.createDataFrame(
        [
            (i, f"seed document {i} words w{i} x{i} y{i} z{i}",
             [1.0 if d == i else 0.0 for d in range(4)])
            for i in range(4)
        ],
        "doc_id long, text string, embedding array<double>",
    )
    pipelines.run_incremental_curation(
        spark, batch, state, semantic_eps=0.99, semantic_k=2
    )
    assert os.path.exists(os.path.join(state, "index_centroids"))
    return batch


@pytest.mark.parametrize(
    "case", ["fluency_cut", "embedding_col", "semantic_k", "line_max_df"]
)
def test_parameter_checks_run_before_any_spark_job(spark, sf_dir, tmp_path, case):
    """A bad parameter raises ValueError at the function's entry, before
    the funnel starts a single Spark job — including a bad semantic_k on
    a state whose centroids are already trained (the k is then unused,
    but the value is still wrong)."""
    state = str(tmp_path / "state")
    if case == "semantic_k":
        seeded = _seeded_semantic_state(spark, state)
    text_batch = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon")], "doc_id long, text string"
    )
    raw = spark.createDataFrame(
        [(1, "https://a.example.com/x", "<p>some words here</p>")],
        "doc_id long, url string, html string",
    )
    calls = {
        "fluency_cut": lambda: pipelines.run_corpus_curation_pipeline(
            spark, sf_dir, str(tmp_path / "out"), fluency_cut=1.5
        ),
        "embedding_col": lambda: pipelines.run_incremental_curation(
            spark, text_batch, state, semantic_eps=0.9
        ),
        "semantic_k": lambda: pipelines.run_incremental_curation(
            spark, seeded, state, semantic_eps=0.99, semantic_k="two"
        ),
        "line_max_df": lambda: pipelines.run_incremental_crawl_ingest(
            spark, raw, state, line_max_df=1
        ),
    }
    sc = spark.sparkContext
    group = f"parameter-check-{case}"
    sc.setJobGroup(group, "parameter check")
    try:
        with pytest.raises(ValueError):
            calls[case]()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def _crawl_pages(spark, n=12):
    """Raw crawl rows with distinct bodies and shared site chrome."""
    nav = "<div>NAV BAR HOME</div>"
    rows = [
        (
            i,
            f"https://www.site{i % 4}.example.com/page/{i}?utm_source=x",
            f"<html><body>{nav}<p>unique article body {i} text &amp; more</p>"
            f'<a href="https://new{i % 3}.example.org/n{i}">l</a>'
            f"<script>track({i})</script></body></html>",
        )
        for i in range(n)
    ]
    rows += [
        (100, "not-a-url", "<p>orphan page</p>"),
        (101, "https://www.site1.example.com/private/a",
         f"<html><body>{nav}<p>private page body</p></body></html>"),
        (102, "https://other.example.org/x",
         f"<html><body>{nav}<p>FORBIDDENWORD appears here</p></body></html>"),
        (103, "https://ru.example.net/y",
         f"<html><body>{nav}<p>Привет мир мир мир</p></body></html>"),
        (104, "https://www.site2.example.com/page/2?utm_campaign=y",
         f"<html><body>{nav}<p>same page, second fetch</p></body></html>"),
    ]
    return spark.createDataFrame(rows, "doc_id long, url string, html string")


def _robots(spark):
    return spark.createDataFrame(
        [("www.site1.example.com", "User-agent: *\nDisallow: /private\n")],
        "domain string, robots string",
    )


def _funnel_call(name, spark, sf_dir, tmp_path):
    out, state = str(tmp_path / "out"), str(tmp_path / "state")
    if name == "corpus_curation":
        return lambda: pipelines.run_corpus_curation_pipeline(spark, sf_dir, out)
    if name == "corpus_curation_semantic":
        return lambda: pipelines.run_corpus_curation_pipeline(
            spark, sf_dir, out, semantic_eps=0.9
        )
    if name == "incremental_curation_semantic":
        batch = spark.createDataFrame(
            [
                (i, f"document {i} words a{i} b{i} c{i} d{i}",
                 [1.0 if d == i % 2 else 0.0 for d in range(4)])
                for i in range(4)
            ],
            "doc_id long, text string, embedding array<double>",
        )
        return lambda: pipelines.run_incremental_curation(
            spark, batch, state, semantic_eps=0.99, semantic_k=2
        )
    if name == "incremental_curation":
        batch = spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon zeta eta theta"),
             (2, "one two three four five six seven eight"),
             (3, "alpha beta gamma delta epsilon zeta eta theta")],
            "doc_id long, text string",
        )
        return lambda: pipelines.run_incremental_curation(spark, batch, state)
    if name == "media_curation":
        import numpy as np

        from eligibility_etl_airflow_spark.operators import multimodal

        img = multimodal.encode_bmp_rgb24(np.zeros((8, 8, 3), dtype=np.uint8) + 7)
        media = spark.createDataFrame(
            [(1, img), (2, img), (3, None)], "media_id long, payload binary"
        )
        return lambda: pipelines.run_media_curation_pipeline(spark, media, out)
    raw, robots = _crawl_pages(spark), _robots(spark)
    if name == "crawl_preprocess":
        return lambda: pipelines.run_crawl_preprocess_pipeline(
            spark, raw, out, robots_df=robots, quarantine_path=str(tmp_path / "q")
        )
    if name == "incremental_crawl_ingest":
        return lambda: pipelines.run_incremental_crawl_ingest(
            spark, raw, state, robots_df=robots
        )
    assert name == "crawl_frontier"
    return lambda: pipelines.run_crawl_frontier_pipeline(
        spark, raw, out, robots_df=robots
    )


# the first write each funnel reaches once all of its stages are cached
_FUNNEL_FIRST_WRITE = {
    "corpus_curation": "write_clustered",
    "incremental_curation": "append_dedup",
    "media_curation": "write_clustered",
    "crawl_preprocess": "write_clustered",
    "incremental_crawl_ingest": "append_dedup",
    "crawl_frontier": "write_clustered",
}


@pytest.mark.parametrize(
    "name, fails",
    [
        pytest.param(name, fails, id=f"{name}-{'raises' if fails else 'returns'}")
        for name in sorted(_FUNNEL_FIRST_WRITE)
        for fails in (False, True)
    ]
    # the semantic tiers run before the first write, so a raise there
    # adds nothing the plain funnels do not cover
    + [
        pytest.param(name, False, id=f"{name}-returns")
        for name in ("corpus_curation_semantic", "incremental_curation_semantic")
    ],
)
def test_funnels_release_their_caches(spark, sf_dir, tmp_path, monkeypatch, name, fails):
    """Every curation/crawl funnel leaves Spark's cache manager empty,
    both after a normal return and after a stage raises mid-funnel."""
    from eligibility_etl_airflow_spark.sources import sinks

    call = _funnel_call(name, spark, sf_dir, tmp_path)
    if fails:
        def boom(*args, **kwargs):
            raise RuntimeError("stage failed")

        monkeypatch.setattr(sinks, _FUNNEL_FIRST_WRITE[name], boom)
    spark.catalog.clearCache()
    if fails:
        with pytest.raises(RuntimeError, match="stage failed"):
            call()
    else:
        call()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_corpus_curation_releases_caches_when_a_hygiene_stage_raises(
    spark, sf_dir, tmp_path
):
    """A decontamination bench without a ``text`` column fails after the
    quality/lang stage is cached and counted; the cache is released."""
    from pyspark.errors import AnalysisException

    bench = spark.createDataFrame([(1,)], "bench_id long")
    spark.catalog.clearCache()
    with pytest.raises(AnalysisException):
        pipelines.run_corpus_curation_pipeline(
            spark, sf_dir, str(tmp_path), decontam_bench=bench
        )
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_batch_and_incremental_crawl_cleaning_agree(spark, tmp_path):
    """Pages without duplicate content clean to the same documents rows
    through run_crawl_preprocess_pipeline and through a first
    run_incremental_crawl_ingest into empty state, under the same
    robots, blocklist and script gates."""
    raw, robots = _crawl_pages(spark), _robots(spark)
    gates = dict(
        robots_df=robots, blocklist_terms=("forbiddenword",), min_latin_fraction=0.5
    )
    pre = pipelines.run_crawl_preprocess_pipeline(spark, raw, str(tmp_path / "pre"), **gates)
    inc = pipelines.run_incremental_crawl_ingest(spark, raw, str(tmp_path / "st"), **gates)
    assert pre["n_preprocessed"] == inc["n_accepted"] == 12
    cols = ["doc_id", "text", "lang", "source", "n_chars", "url_canonical", "domain"]

    def rows(path):
        return sorted(tuple(r) for r in spark.read.parquet(path).select(*cols).collect())

    assert rows(str(tmp_path / "pre" / "documents.parquet")) == rows(
        str(tmp_path / "st" / "accepted_docs")
    )
