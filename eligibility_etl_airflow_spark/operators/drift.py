"""Corpus drift monitoring — distribution divergence between slices.

A 100 TB corpus is assembled from many sources over many snapshots; the
standard monitoring question is "does slice X (a source, a crawl
snapshot, an incoming batch) still look like the corpus?" — answered
here as the Jensen-Shannon divergence between each slice's unigram
token distribution and the corpus-wide distribution. JSD is the
monitoring-friendly divergence: symmetric, bounded in [0, 1] (log base
2), defined even when supports differ.

Decomposition that keeps it one pass: with P the slice distribution,
Q the corpus distribution and M = (P+Q)/2,

    JSD(P, Q) = Σ_{t∈P} [ p/2·log2(p/m) + q/2·log2(q/m) ]
                + (1 − Σ_{t∈P} q_t) / 2

— tokens ABSENT from the slice (p = 0, m = q/2) contribute exactly
q/2 each, which telescopes to the closed-form tail above. So no outer
join against the full vocabulary is ever needed: explode once, two
partial-agg shuffles ((slice, token) and (token)), one token-key join,
one per-slice sum. Nothing reaches the driver; output is slices-sized.

Same [^a-z]+ tokenizer as the LM/TF-IDF tier (operators/tokenize.py:
TOKEN_SPLIT) so divergences are comparable across the engine's scores.
No reference counterpart — corpus-monitoring extension of the LM tier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from eligibility_etl_airflow_spark.operators.tokenize import TOKEN_SPLIT


def js_divergence_by_slice(
    df: DataFrame,
    slice_col: str,
    text_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Per-slice unigram Jensen-Shannon divergence vs the whole corpus:
    (slice, n_tokens, vocab_size, js_divergence). ``round_to`` absorbs
    float-summation order across partitions (the sums are exact to
    ~1e-12 relative; 6 dp is far coarser)."""
    toks = df.select(
        F.col(slice_col).alias("slice"),
        F.explode(
            F.filter(
                F.split(F.lower(F.col(text_col)), TOKEN_SPLIT), lambda t: t != ""
            )
        ).alias("tok"),
    )
    sc = toks.groupBy("slice", "tok").agg(F.count(F.lit(1)).alias("c"))
    stot = sc.groupBy("slice").agg(
        F.sum("c").alias("n_slice"), F.count(F.lit(1)).alias("vocab_slice")
    )
    gc = sc.groupBy("tok").agg(F.sum("c").alias("gc"))
    gtot = gc.agg(F.sum("gc").alias("n_all")).select("n_all")
    joined = (
        sc.join(gc, "tok")
        .join(stot, "slice")
        .crossJoin(F.broadcast(gtot))
        .select(
            "slice",
            "n_slice",
            "vocab_slice",
            (F.col("c") / F.col("n_slice")).alias("p"),
            (F.col("gc") / F.col("n_all")).alias("q"),
        )
    )
    m = (F.col("p") + F.col("q")) / 2
    term = (
        F.col("p") / 2 * F.log2(F.col("p") / m)
        + F.col("q") / 2 * F.log2(F.col("q") / m)
    )
    return (
        joined.groupBy("slice", "n_slice", "vocab_slice")
        .agg(F.sum(term).alias("_body"), F.sum("q").alias("_qcov"))
        .select(
            "slice",
            F.col("n_slice").cast("long").alias("n_tokens"),
            F.col("vocab_slice").cast("long").alias("vocab_size"),
            F.round(F.col("_body") + (1 - F.col("_qcov")) / 2, round_to).alias(
                "js_divergence"
            ),
        )
    )


def js_divergence_pair(
    df_a: DataFrame,
    df_b: DataFrame,
    text_col: str = "text",
    round_to: int = 6,
) -> DataFrame:
    """Jensen-Shannon divergence between TWO corpora (an incoming crawl
    batch vs the accepted state, two snapshot versions, two sources) as
    one scalar row: (n_tokens_a, n_tokens_b, vocab_a, vocab_b,
    vocab_shared, js_divergence).

    Same telescoping trick as the slice monitor, applied on both sides:
    tokens present in only ONE distribution contribute exactly half
    their mass (p=0 ⇒ the q term is q/2·log2(q/(q/2)) = q/2), so

        JSD = Σ_{t∈A∩B} [p/2·log2(p/m) + q/2·log2(q/m)]
              + (1 − Σ_{t∈A∩B} p)/2 + (1 − Σ_{t∈A∩B} q)/2

    needs only the INNER join of the two vocabularies — the disjoint
    tails never materialize as rows. Two explodes, two partial-agg
    shuffles, one token-key join, one scalar aggregate. The natural
    per-batch monitor beside run_incremental_crawl_ingest: a batch that
    suddenly diverges (new spam pattern, encoding regression, topic
    shift) shows up as one number before it pollutes the corpus."""
    from pyspark import StorageLevel

    # each side's counts are vocab-sized and consumed twice inside
    # js_divergence_counts (the totals broadcast and the shared-vocab
    # join) — persisted here, at the raw-text entry point, so neither
    # consumer re-reads corpus text. js_divergence_counts itself stays
    # persist-free: the incremental monitor calls it with an already-
    # checkpointed batch side and a parquet-backed index side, where a
    # re-read is vocab-cheap and extra cache entries per cycle would
    # escape the loop's cache hygiene.
    #
    # Cache lifecycle (ADVICE r8): the result is exactly ONE row, so the
    # call materializes it eagerly (a bounded scalar collect, the same
    # class as the engine's other audited collect sites) and unpersists
    # both sides in a finally — a long-lived driver scoring many batch
    # pairs no longer accumulates disk-backed cache entries it was never
    # handed a handle to. Callers still receive a DataFrame (a one-row
    # local relation with the original schema).
    ca = unigram_counts(df_a, text_col).persist(StorageLevel.MEMORY_AND_DISK)
    cb = unigram_counts(df_b, text_col).persist(StorageLevel.MEMORY_AND_DISK)
    res = js_divergence_counts(ca, cb, round_to=round_to)
    try:
        rows = res.collect()  # exactly 1 row by construction
        # JVM-only local relation (r10): createDataFrame(rows) would be
        # a Python-RDD fan-out of defaultParallelism pickle tasks for
        # one row — see operators/parallel.jvm_local_row
        from eligibility_etl_airflow_spark.operators.parallel import jvm_local_row

        return jvm_local_row(df_a.sparkSession, rows[0], res.schema)
    finally:
        ca.unpersist()
        cb.unpersist()


def unigram_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(tok, c) unigram counts of a text relation — the sufficient
    statistic every JSD form here consumes, and the thing a continuous
    pipeline PERSISTS so drift against the accepted corpus never
    re-reads accepted text (see token_index_merge). Explode + one
    partial-agg shuffle; output is vocab-sized."""
    return (
        df.select(
            F.explode(
                F.filter(
                    F.split(F.lower(F.col(text_col)), TOKEN_SPLIT),
                    lambda t: t != "",
                )
            ).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def token_index_merge(
    counts: DataFrame,
    add: DataFrame | None = None,
    subtract: DataFrame | None = None,
) -> DataFrame:
    """Merge incremental unigram counts into a persisted token index:
    ``counts + add − subtract`` per token, rows whose count reaches 0
    dropped (an updated-away document must not leave ghost vocabulary).
    All three inputs are (tok, c) relations; cost is O(vocab + batch),
    never O(corpus) — the whole point of keeping the index. The caller
    owns the staged-rename write (the index path is also the read
    source, so overwrite-in-place would clobber the lineage)."""
    out = counts
    if add is not None:
        out = out.unionByName(add)
    if subtract is not None:
        out = out.unionByName(subtract.select("tok", (-F.col("c")).alias("c")))
    return (
        out.groupBy("tok")
        .agg(F.sum("c").alias("c"))
        .filter(F.col("c") > 0)
        .select("tok", F.col("c").cast("long").alias("c"))
    )


def js_divergence_counts(
    ca: DataFrame,
    cb: DataFrame,
    round_to: int = 6,
) -> DataFrame:
    """js_divergence_pair over pre-aggregated (tok, c) unigram counts —
    the form the incremental-ingest monitor uses: side B is the
    persisted token index, so the batch JSD costs O(batch + vocab) and
    the accepted corpus text is never re-read."""
    ta = ca.agg(F.sum("c").alias("na"), F.count(F.lit(1)).alias("va"))
    tb = cb.agg(F.sum("c").alias("nb"), F.count(F.lit(1)).alias("vb"))
    shared = (
        ca.join(cb.withColumnRenamed("c", "c2"), "tok")
        .crossJoin(F.broadcast(ta))
        .crossJoin(F.broadcast(tb))
        .select(
            (F.col("c") / F.col("na")).alias("p"),
            (F.col("c2") / F.col("nb")).alias("q"),
        )
    )
    m = (F.col("p") + F.col("q")) / 2
    term = (
        F.col("p") / 2 * F.log2(F.col("p") / m)
        + F.col("q") / 2 * F.log2(F.col("q") / m)
    )
    body = shared.agg(
        F.coalesce(F.sum(term), F.lit(0.0)).alias("_body"),
        F.coalesce(F.sum("p"), F.lit(0.0)).alias("_pcov"),
        F.coalesce(F.sum("q"), F.lit(0.0)).alias("_qcov"),
        F.count(F.lit(1)).alias("vocab_shared"),
    )
    return (
        body.crossJoin(F.broadcast(ta))
        .crossJoin(F.broadcast(tb))
        .select(
            F.col("na").cast("long").alias("n_tokens_a"),
            F.col("nb").cast("long").alias("n_tokens_b"),
            F.col("va").cast("long").alias("vocab_a"),
            F.col("vb").cast("long").alias("vocab_b"),
            F.col("vocab_shared").cast("long").alias("vocab_shared"),
            F.round(
                F.col("_body")
                + (1 - F.col("_pcov")) / 2
                + (1 - F.col("_qcov")) / 2,
                round_to,
            ).alias("js_divergence"),
        )
    )


def token_index_pending_write(
    index_path: str,
    key: str,
    add: DataFrame | None = None,
    subtract: DataFrame | None = None,
    ids: DataFrame | None = None,
    kind: str = "main",
) -> None:
    """Stage a batch's token-count deltas as a WRITE-AHEAD intent at
    ``<index_path>__pending_<kind>`` — called BEFORE the state write the
    deltas describe, so a crash between that write and the index fold
    is recoverable: the next ingest finds the pending directory and
    completes the fold (:func:`token_index_fold`) instead of the index
    silently going permanently stale (the replay accepts nothing, so
    the fold input would otherwise be lost).

    ``kind`` separates intents for state mutations that land at
    DIFFERENT times (the crawl pipeline's accepted appends vs its
    update merge): one combined intent cannot be landed-verified —
    a crash between the two writes would fold the un-landed half's
    deltas and then fold them again on replay. Each kind gets its own
    pending directory, its own ``_folded_<kind>`` idempotency marker,
    and its own ``ids`` landed check.

    ``key`` must digest the batch CONTENT (see :func:`batch_content_key`
    — ids plus content hashes), not just ids: a later batch updating
    the same documents to different text must produce a different key,
    or its fold would be skipped as an already-applied replay.
    Re-writing a pending set for the same key (a replay that crashed
    before the state writes) just replaces it."""
    import os
    import shutil
    import uuid

    pend = f"{index_path}__pending_{kind}"
    tmp = f"{pend}__tmp_{uuid.uuid4().hex[:8]}"
    os.makedirs(tmp, exist_ok=True)
    if add is not None:
        add.write.mode("overwrite").parquet(os.path.join(tmp, "add"))
    if subtract is not None:
        subtract.write.mode("overwrite").parquet(os.path.join(tmp, "sub"))
    if ids is not None:
        ids.write.mode("overwrite").parquet(os.path.join(tmp, "ids"))
    with open(os.path.join(tmp, "_key"), "w") as f:
        f.write(key)
    if os.path.exists(pend):
        shutil.rmtree(pend)
    os.rename(tmp, pend)


def token_index_fold(
    spark,
    index_path: str,
    docs_path: str | None = None,
    verify_landed: bool = False,
    kind: str = "main",
) -> bool:
    """Fold the ``kind`` pending deltas (if any) into the token index,
    exactly once: the ``_folded_<kind>`` marker inside the index
    directory records the last applied batch key for that kind, so
    replaying the fold after a crash between the index swap and the
    pending cleanup is a no-op. Markers for OTHER kinds are carried
    across the swap. Parquet readers ignore underscore-prefixed files,
    so markers ride inside the index directory and swap atomically WITH
    the data. Staged write + rename, same discipline as every other
    state mutation.

    ``verify_landed=True`` (the RECOVERY call, where the intent may
    predate a crash that happened before the state write it describes)
    checks that at least one of the pending set's ``ids`` is present in
    the accepted docs — presence means that mutation reached the state;
    an intent whose mutation never landed is discarded instead of
    folding phantom counts. If the INDEX ITSELF is missing during
    recovery (a crash between the swap's two renames), the pending is
    discarded too: folding onto an empty base would build a one-batch
    index, whereas discarding lets the caller's backfill path recount
    the whole corpus — the O(corpus) price of that crash window, paid
    once. The in-process fold right after a successful write skips the
    landed check (the write is known to have happened). With
    at-least-once replay of the same batch (the streaming wrappers'
    contract) a partially-landed mutation heals on replay and the
    staged counts then match the healed state. Returns True when a
    fold was applied."""
    import glob
    import os
    import shutil
    import uuid

    pend = f"{index_path}__pending_{kind}"
    if not os.path.exists(pend):
        return False
    with open(os.path.join(pend, "_key")) as f:
        key = f.read()
    marker = os.path.join(index_path, f"_folded_{kind}")
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read() == key:
                shutil.rmtree(pend)  # crash landed between swap + cleanup
                return False
    if verify_landed:
        if not os.path.exists(index_path):
            # mid-swap crash: the backfill recount (which includes any
            # landed mutation) is the correct recovery, not a fold onto
            # an empty base
            shutil.rmtree(pend)
            return False
        ids_path = os.path.join(pend, "ids")
        if os.path.exists(ids_path):
            if docs_path is None or not os.path.exists(docs_path):
                shutil.rmtree(pend)  # mutation never reached the state
                return False
            landed = (
                spark.read.parquet(ids_path)
                .join(
                    spark.read.parquet(docs_path).select("doc_id"),
                    "doc_id",
                    "left_semi",
                )
                .limit(1)
                .count()
            )
            if not landed:
                shutil.rmtree(pend)
                return False
    if os.path.exists(index_path):
        current = spark.read.parquet(index_path)
    else:
        current = spark.createDataFrame([], "tok string, c long")
    add_path = os.path.join(pend, "add")
    sub_path = os.path.join(pend, "sub")
    merged = token_index_merge(
        current,
        add=spark.read.parquet(add_path) if os.path.exists(add_path) else None,
        subtract=(
            spark.read.parquet(sub_path) if os.path.exists(sub_path) else None
        ),
    )
    tmp = f"{index_path}__merge_{uuid.uuid4().hex[:8]}"
    merged.write.mode("overwrite").parquet(tmp)
    # carry the OTHER kinds' idempotency markers across the swap, then
    # stamp this kind's
    if os.path.exists(index_path):
        for m in glob.glob(os.path.join(index_path, "_folded_*")):
            shutil.copy(m, os.path.join(tmp, os.path.basename(m)))
    with open(os.path.join(tmp, f"_folded_{kind}"), "w") as f:
        f.write(key)
    if os.path.exists(index_path):
        old_dir = f"{index_path}__old_{uuid.uuid4().hex[:8]}"
        os.rename(index_path, old_dir)
        os.rename(tmp, index_path)
        shutil.rmtree(old_dir)
    else:
        os.rename(tmp, index_path)
    shutil.rmtree(pend)
    return True


def token_index_has_pending(index_path: str) -> bool:
    """True when any kind's write-ahead intent exists beside the index."""
    import glob

    return bool(glob.glob(f"{index_path}__pending_*"))


def batch_content_key(*relations: tuple[str, DataFrame]) -> str:
    """Deterministic CONTENT digest of one or more (tag, df) relations —
    the batch key for the pending-fold protocol. Digests doc_id AND
    content_hash when the relation carries one (two batches updating
    the same ids to different text MUST key differently, or the second
    fold is skipped as a replay); one scalar aggregate per relation,
    nothing collected beyond two numbers."""
    parts = []
    for tag, df in relations:
        basis = F.col("doc_id").cast("string")
        if "content_hash" in df.columns:
            basis = F.concat_ws("|", basis, F.col("content_hash"))
        # the hash sum rides decimal(38,0): xxhash64 values span the
        # full int64 range, so a plain long sum overflows under ANSI
        # with as few as two unlucky rows
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64(basis).cast("decimal(38,0)")).alias("h"),
        ).first()
        parts.append(f"{tag}:{row['n']}:{row['h']}")
    return "|".join(parts)


def token_index_prepare(
    spark,
    index_path: str,
    docs_path: str,
    accepted: DataFrame | None,
    drift_report: bool,
    backfill: bool,
    kinds: tuple[str, ...] = ("acc",),
) -> tuple[bool, dict | None]:
    """A continuous pipeline's per-batch token-index step, run BEFORE
    any of the batch's state writes: recovery fold → one-time backfill
    → batch counts → JSD → write-ahead intent.

    The index is maintained whenever it exists, has a pending intent,
    or ``drift_report`` is on — so a later flag-off call cannot let it
    go stale. Recovery first: a prior run that crashed between a state
    write and its fold left a ``__pending_<kind>`` intent, folded now
    for each of ``kinds`` (only if that mutation reached ``docs_path``;
    a mid-swap crash discards it and falls through to the backfill) so
    the index is caught up BEFORE this batch's JSD reads it. A state
    without an index is backfilled ONCE from its stored text when
    ``backfill`` holds (the only O(corpus) token pass the index ever
    costs; staged write + rename). ``accepted`` (doc_id, text[,
    content_hash], or None when the batch accepted nothing) is then
    counted; with ``drift_report`` its unigram JSD against the
    PRE-append index is computed — O(batch + vocab), accepted text
    never re-read — and its counts are staged as the ``acc`` intent, so
    a crash between the caller's writes and its fold stays recoverable.

    Returns ``(maintained, drift_row)``: when maintained, the caller
    folds each kind (:func:`token_index_fold`) after its writes land;
    ``drift_row`` is the :func:`js_divergence_counts` row or None."""
    import os
    import uuid

    from eligibility_etl_airflow_spark.sources.sinks import _stable

    if not (
        drift_report
        or os.path.exists(index_path)
        or token_index_has_pending(index_path)
    ):
        return False, None
    for kind in kinds:
        token_index_fold(
            spark, index_path, docs_path=docs_path, verify_landed=True, kind=kind
        )
    if backfill and not os.path.exists(index_path):
        tmp = f"{index_path}__backfill_{uuid.uuid4().hex[:8]}"
        unigram_counts(spark.read.parquet(docs_path).select("text")).write.mode(
            "overwrite"
        ).parquet(tmp)
        os.rename(tmp, index_path)
    drift_row = None
    if accepted is not None:
        counts = _stable(unigram_counts(accepted.select("text")))
        if drift_report and os.path.exists(index_path):
            drift_row = (
                js_divergence_counts(counts, spark.read.parquet(index_path))
                .collect()[0]
                .asDict()
            )
        token_index_pending_write(
            index_path,
            batch_content_key(("acc", accepted)),
            add=counts,
            ids=accepted.select("doc_id"),
            kind="acc",
        )
    return True, drift_row
