"""Sinks, upsert, and resume — SURVEY.md §2.1 S2–S8 / §7.5.

The reference's loaders are hand-rolled: chunked ``to_sql`` appends with
retries (src/etl_utils.py:211-253), a staging-table + T-SQL MERGE upsert
(src/etl_utils.py:87-145), pyodbc ``executemany`` batches
(src/eligibility.py:21-137), and JSON/CSV processed-key checkpoints for
resume (src/eligibility_recovery.py:262-281). Here each becomes an
engine primitive over columnar files:

- ``write_parquet`` / ``write_csv`` / ``write_json``  (S2, S3, S5)
- ``merge_upsert``  — MERGE semantics over a parquet target (S7). On a
  cluster with a transactional table format this is exactly
  ``MERGE INTO target USING source ON key WHEN MATCHED UPDATE WHEN NOT
  MATCHED INSERT``; the parquet emulation computes the same result as
  anti-join + union and swaps the directory atomically-enough for tests.
- ``append_dedup`` — idempotent append: anti-join the incoming batch
  against the sink's existing keys so retried batches can't duplicate
  (fixes the reference's duplicate-on-retry append, etl_utils.py:231-238).
- ``resume_filter`` — anti-join resume (J7): skip rows whose key is
  already in the sink, replacing processed-key JSON/CSV/Excel files.
- ``expect`` — the quality-gate abort (P13, dags/eligibilty_etl.py:288-321)
  as a reusable rule API: one aggregate pass computes the invalid ratio;
  breach raises with a top-k breakdown by a label column.

Scale notes: every helper is a single distributed plan — no collect, no
driver-side loops. ``merge_upsert`` shuffles both sides once on the key;
with a bucketed/partitioned target the join co-locates and only changed
partitions would rewrite (dynamic partition overwrite).
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite", partition_by: list[str] | None = None) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Audit-copy CSV (S3) — header on, one directory per table."""
    df.write.mode(mode).option("header", "true").csv(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON archive (S5) — one JSON object per row, columnar write."""
    df.write.mode(mode).json(path)


def write_orc(
    df: DataFrame, path: str, mode: str = "overwrite", partition_by: list[str] | None = None
) -> None:
    """ORC sink — the other columnar format Spark ships natively
    (predicate pushdown, zone maps, and partitioned layout work the same
    as parquet's). Completes the format matrix for consumers standardized
    on ORC (Hive-lineage warehouses)."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def merge_upsert(
    spark: SparkSession,
    target_path: str,
    source: DataFrame,
    keys: list[str],
) -> None:
    """MERGE INTO over a parquet target: matched rows take the source
    version, unmatched target rows are kept, new source rows insert.

    If the source carries duplicate keys the LAST occurrence per key wins
    only when an explicit ordering exists — so duplicates are rejected
    here (callers dedup with an order key first; SURVEY.md §7.8).

    LOCAL-FILESYSTEM ONLY (same contract as ``compact_parquet``): the
    reader-visible flip is an ``os.rename`` directory swap, which has no
    meaning on an object store — non-local schemes raise up front instead
    of failing obscurely at the swap. On object stores, upsert belongs to
    a transactional table format's ``MERGE INTO`` (Delta/Iceberg), or to
    a real database via ``merge_upsert_jdbc``."""
    import urllib.parse

    scheme = urllib.parse.urlparse(target_path).scheme
    if scheme not in ("", "file"):
        raise NotImplementedError(
            f"merge_upsert swaps directories via os.rename and only supports "
            f"local paths; got scheme {scheme!r} — use a transactional table "
            "format's MERGE INTO (Delta/Iceberg) or merge_upsert_jdbc on "
            "object stores"
        )
    dup = source.groupBy(*keys).count().filter(F.col("count") > 1).limit(1).count()
    if dup:
        raise ValueError(f"merge_upsert: source has duplicate keys on {keys}")
    if os.path.exists(target_path):
        target = spark.read.parquet(target_path)
        kept = target.join(source.select(*keys), keys, "left_anti")
        merged = kept.unionByName(source.select(*target.columns))
    else:
        merged = source
    # write → swap: the reader-visible directory flips in one rename pair
    tmp = f"{target_path}__staging_{uuid.uuid4().hex[:8]}"
    merged.write.mode("overwrite").parquet(tmp)
    if os.path.exists(target_path):
        old = f"{target_path}__old_{uuid.uuid4().hex[:8]}"
        os.rename(target_path, old)
        os.rename(tmp, target_path)
        shutil.rmtree(old)
    else:
        os.rename(tmp, target_path)


def _sink_file_bytes(path: str) -> int:
    """On-disk bytes of a parquet sink (data files only) — the cheap
    driver-side state-size signal for :func:`choose_append_shape`. No
    Spark job."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
    return total


def choose_append_shape(
    batch_plan_bytes: int,
    sink_bytes: int,
    broadcast_ceiling: int = 192 << 20,
    state_ratio: int = 4,
) -> str:
    """Pick the vs-state anti-join shape for an idempotent append:
    ``"broadcast_present"`` (sink never shuffles — the r9 slope win) or
    ``"shuffle"`` (plain anti-join — the cheaper constant when state is
    small or the batch is too big to broadcast).

    Signals are both job-free: the batch's Catalyst ``sizeInBytes``
    estimate (exact for the eager-checkpointed relations the incremental
    loops append) and the sink's on-disk parquet bytes. Units differ —
    plan bytes are in-memory-ish, sink bytes are compressed — but the
    decision only needs order-of-magnitude: broadcast-present costs two
    batch-sized broadcasts and wins when the state scan dominates, so it
    is chosen only when the sink is at least ``state_ratio`` × the batch
    estimate AND the batch fits comfortably under the broadcast ceiling
    (default 192 MB < Spark's 8 GB hard limit with a wide margin — the
    r9 ADVICE item: an unconditional broadcast default put bulk loads at
    the ceiling)."""
    if batch_plan_bytes > broadcast_ceiling:
        return "shuffle"
    if sink_bytes <= state_ratio * batch_plan_bytes:
        return "shuffle"
    return "broadcast_present"


def append_dedup(
    spark: SparkSession,
    target_path: str,
    batch: DataFrame,
    keys: list[str],
    broadcast_batch: bool | None = None,
) -> int:
    """Idempotent append: only rows whose key is absent from the sink are
    written, so a retried batch is a no-op. Returns rows appended.

    Join shape (r9 state-scaling fix, r10 made ADAPTIVE): with
    ``broadcast_batch=None`` the shape is picked per append by
    :func:`choose_append_shape` from the sink's on-disk bytes vs the
    batch's Catalyst size estimate — no extra job. Large state + small
    batch → the sink side NEVER shuffles: the sink's key columns are
    scanned ONCE against a broadcast of the incoming key set to produce
    the ``present`` intersection (≤ batch rows), and the batch
    anti-joins THAT — both joins broadcast, zero state shuffle, state
    cost reduced to one column-pruned scan (the naive ``batch LEFT ANTI
    sink`` shuffle-joins the ever-growing sink on EVERY append —
    O(state) network+sort per micro-batch, the dominant term of the r8
    incremental probe's 9.1× slope). Small state or a
    broadcast-ceiling-sized batch → the plain anti-join, whose constant
    is ~2× cheaper at 1× state (SCALING.md r9 trade table). Pass
    True/False to force a shape.

    The append executes its plan ONCE and submits ONE Spark job (r10):
    the appended-row count is OBSERVED during the write itself
    (``Observation``/CollectMetrics) instead of a separate count action
    — previously each append paid its plan twice (count, then write).
    In local profiling the per-cycle wall was dominated by job-submission
    overhead (167 jobs summing to 21 s of executor time inside a 169 s
    cycle), so job count is the per-batch floor's real lever.
    Micro-batch appends (≤ 64 MB plan estimate) additionally repartition
    to ONE output file, so the sink grows ~1 file per batch instead of
    one per task — without it the compaction threshold re-triggers every
    few batches and the rewrite cost lands on the micro-batch path.
    Larger appends keep their natural partitioning (a forced exchange
    over bulk-load bytes would be a new shuffle at exactly the scale
    where it hurts). A replayed (fully duplicate) batch appends one
    empty part file — harmless to every reader and reclaimed by the next
    compaction; the idempotency invariants are row-based.

    Caller contract for MULTI-INDEX maintenance: this write triggers
    Spark's refresh-by-path, invalidating any cached plan whose lineage
    READS ``target_path`` — a later append whose input derives from this
    path would lazily recompute against the just-updated sink and write
    nothing. Eagerly checkpoint (``components._stable``) every
    to-append relation BEFORE the first write of the group;
    ``run_incremental_curation`` is the reference call site."""
    from pyspark.sql import Observation

    fresh = batch.dropDuplicates(keys)
    try:
        plan_bytes = int(
            fresh._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:  # py4j/API drift: assume big — safe both decisions
        plan_bytes = 1 << 62
    if os.path.exists(target_path):
        if broadcast_batch is None:
            broadcast_batch = (
                choose_append_shape(plan_bytes, _sink_file_bytes(target_path))
                == "broadcast_present"
            )
        existing = spark.read.parquet(target_path).select(*keys)
        if broadcast_batch:
            present = existing.join(
                F.broadcast(fresh.select(*keys)), keys, "left_semi"
            )
            fresh = fresh.join(F.broadcast(present), keys, "left_anti")
        else:
            fresh = fresh.join(existing, keys, "left_anti")
    obs = Observation()
    out = fresh.observe(obs, F.count(F.lit(1)).alias("n"))
    if plan_bytes <= 64 << 20:
        out = out.repartition(1)
    out.write.mode("append").parquet(target_path)
    return int(obs.get["n"])


def resume_filter(df: DataFrame, spark: SparkSession, sink_path: str, keys: list[str]) -> DataFrame:
    """Anti-join resume (J7): drop rows already present in the sink —
    the engine's replacement for every processed-key checkpoint file in
    the reference (run_predictions.py:215-226 et al.)."""
    if not os.path.exists(sink_path):
        return df
    done = spark.read.parquet(sink_path).select(*keys)
    return df.join(done, keys, "left_anti")


def resume_filter_bloom(
    df: DataFrame,
    spark: SparkSession,
    sink_path: str,
    key: str,
    sketch=None,
    fpp: float = 0.01,
):
    """Bloom-accelerated resume: same result as :func:`resume_filter`
    (single key), paying the sink anti-join only for rows that MIGHT be
    in the sink.

    The plain resume shuffles the whole incoming batch against the whole
    sink key set every run; as the sink grows to 100 TB that anti-join
    dominates the incremental job even when almost nothing is a
    duplicate. Split on the sketch instead: bloom-NEGATIVE rows are
    definitely absent from the sink (no false negatives) and pass
    straight through with no join at all; only the bloom-positive
    residue — true duplicates + fpp of the rest — takes the exact
    anti-join, which removes the false positives. Exactness is
    preserved; the anti-join input shrinks by ≈ (1 − fpp) of the
    non-duplicates.

    Returns ``(filtered_df, sketch)``. Pass ``None`` to build the sketch
    from the current sink keys. Reusing the sketch across micro-batches
    is only exact if it is KEPT CURRENT: a key appended to the sink
    after the sketch was built probes bloom-negative and would bypass
    the anti-join — after each append, fold the appended keys in with
    ``operators.bloom.bloom_add(sketch, appended_keys, key)`` and pass
    the returned sketch to the next batch (pinned by test).
    """
    from eligibility_etl_airflow_spark.operators import bloom

    if not os.path.exists(sink_path):
        return df, sketch
    if sketch is None:
        done_keys = spark.read.parquet(sink_path).select(key)
        sketch = bloom.bloom_build(done_keys, key, fpp=fpp)
    might = bloom.bloom_might_contain(df, key, sketch)
    definite_new = df.filter(~might)
    candidates = df.filter(might)
    done = spark.read.parquet(sink_path).select(key)
    survivors = candidates.join(done, key, "left_anti")
    return definite_new.unionByName(survivors), sketch


def keep_last(df: DataFrame, keys: list[str], order_col: str) -> DataFrame:
    """Deterministic keep-last dedup: pandas ``drop_duplicates(keep='last')``
    depends on row order (dags/eligibilty_etl.py:146); the engine demands
    an explicit ordering column (SURVEY.md §7.8)."""
    w = Window.partitionBy(*keys).orderBy(F.desc(order_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


class QualityGateError(ValueError):
    """Raised when a load's invalid-row ratio breaches the threshold."""

    def __init__(self, message: str, ratio: float, breakdown: list):
        super().__init__(message)
        self.ratio = ratio
        self.breakdown = breakdown


def expect(
    df: DataFrame,
    invalid: F.Column,
    max_invalid_ratio: float = 0.5,
    label_col: str | None = None,
    top_k: int = 10,
) -> dict:
    """Quality gate (P13): one aggregate pass computes the invalid ratio;
    a breach raises ``QualityGateError`` carrying the top-k ``label_col``
    breakdown of invalid rows (the reference logs the top-10 note
    distribution before aborting, dags/eligibilty_etl.py:288-321)."""
    stats = df.agg(
        F.count(F.lit(1)).alias("total"),
        F.sum(F.when(invalid, 1).otherwise(0)).alias("n_invalid"),
    ).first()
    total, n_invalid = stats["total"], stats["n_invalid"] or 0
    ratio = n_invalid / total if total else 0.0
    result = {"total": total, "n_invalid": n_invalid, "invalid_ratio": ratio}
    if ratio >= max_invalid_ratio:
        breakdown = []
        if label_col is not None:
            breakdown = (
                df.filter(invalid)
                .groupBy(label_col)
                .count()
                .orderBy(F.desc("count"))
                .limit(top_k)
                .collect()
            )
        raise QualityGateError(
            f"quality gate: invalid ratio {ratio:.3f} >= {max_invalid_ratio}",
            ratio,
            breakdown,
        )
    return result


# --------------------------------------------------------------------------
# Excel source/sink (S4) — toPandas-boundary shim
# --------------------------------------------------------------------------

MAX_EXCEL_ROWS = 1_000_000  # below the xlsx sheet limit (1,048,576)


def write_excel(df: DataFrame, path: str, sheet_name: str = "Sheet1") -> int:
    """Excel report sink (S4): the reference writes styled workbooks for
    humans (src/run_predictions.py:125-130, src/lch_eligibility.py:284-308).
    A workbook is a driver-side, human-scale artifact — so the shim is an
    explicit ``toPandas`` boundary with a hard row cap, NOT a distributed
    writer: exceeding the cap means the caller wanted a parquet/CSV sink.
    Gated on openpyxl (absent in this environment → ImportError with the
    remediation in the message). Returns rows written."""
    try:
        import openpyxl  # noqa: F401
    except ImportError as e:
        raise ImportError(
            "write_excel needs the 'openpyxl' package (pip install openpyxl); "
            "for machine-consumed output use write_parquet/write_csv instead"
        ) from e
    # one plan execution, and the driver never materializes more than
    # cap+1 rows even when the cap is breached (a count-first check would
    # run the full upstream plan twice per report)
    pdf = df.limit(MAX_EXCEL_ROWS + 1).toPandas()
    if len(pdf) > MAX_EXCEL_ROWS:
        raise ValueError(
            f"write_excel: more than {MAX_EXCEL_ROWS} rows — an xlsx "
            "is a driver-side report, not a data sink; use write_parquet"
        )
    pdf.to_excel(path, sheet_name=sheet_name, index=False, engine="openpyxl")
    return len(pdf)


def read_excel(spark: SparkSession, path: str, sheet_name: str | int = 0) -> DataFrame:
    """Excel source (S4): the reference reads hand-maintained workbooks
    with ``dtype=str`` (src/lch_eligibility.py:471) — every cell as a
    string, types asserted downstream. Same contract here: the pandas
    frame is read all-string and parallelized; schema enforcement is the
    caller's cast step (a hand-edited workbook must not silently coerce)."""
    try:
        import pandas as pd
    except ImportError as e:  # pragma: no cover - pandas ships with pyspark
        raise ImportError("read_excel needs pandas") from e
    try:
        pdf = pd.read_excel(path, sheet_name=sheet_name, dtype=str, engine="openpyxl")
    except ImportError as e:
        raise ImportError(
            "read_excel needs the 'openpyxl' package (pip install openpyxl)"
        ) from e
    from pyspark.sql.types import StringType, StructField, StructType

    # explicit all-string schema: the dtype=str contract makes it fully
    # known, and inference would fail on an all-blank column (all None)
    schema = StructType([StructField(str(c), StringType(), True) for c in pdf.columns])
    return spark.createDataFrame(pdf.where(pd.notna(pdf), None), schema=schema)


# --------------------------------------------------------------------------
# Small-file compaction — the 100 TB housekeeping operator
# --------------------------------------------------------------------------


def recover_interrupted_compaction(path: str) -> dict:
    """Heal a ``compact_parquet`` swap that crashed mid-way.

    The swap is two renames (``path`` → ``__old_X``, ``__compact_Y`` →
    ``path``) plus a cleanup rmtree — so a crash leaves one of three
    states: (a) before the first rename: ``path`` intact, a stray
    ``__compact_Y`` tmp; (b) between the renames: ``path`` MISSING with
    the full pre-compaction data in ``__old_X`` (and the compacted copy
    in ``__compact_Y``); (c) after the second rename: ``path`` intact
    (compacted), a stray ``__old_X``. State (b) is the dangerous one
    for the incremental loops — a missing hash/url index reads as "no
    state" and a replayed batch would re-accept duplicates — so this
    MUST run before any state read that the compaction call sites
    maintain (``_maybe_compact_state_indexes`` calls it per path; the
    loops call it up front). Recovery restores the pre-compaction
    directory in (b) (losing only the compaction work, never data) and
    removes stray tmp/old directories in all three states. Returns what
    it did; a no-op on a clean directory."""
    import glob as _glob

    olds = sorted(_glob.glob(f"{path}__old_*"))
    # __compact_: compact_parquet's staging; __cycle_: the frontier
    # ranks swap; __migrate_: the url-index schema migration;
    # __backfill_: the token-index first-build; __merge_: the token-index
    # fold swap — all share the staged-write discipline, so their stray
    # tmps would otherwise leak a full index copy per crash, forever.
    # __pending_* WAL intents are deliberately NOT matched: they are the
    # fold protocol's crash-recovery input, removed only by the fold.
    tmps = [
        d
        for pref in ("__compact_", "__cycle_", "__migrate_", "__backfill_", "__merge_")
        for d in sorted(_glob.glob(f"{path}{pref}*"))
    ]
    out = {"restored": False, "removed": 0}
    if not os.path.exists(path) and olds:
        # restore the NEWEST snapshot by mtime — the uuid suffix sorts
        # randomly, so with more than one stray __old_ (repeated crashes)
        # a lexicographic pick could resurrect a stale snapshot and
        # delete the newer one
        olds.sort(key=os.path.getmtime)
        os.rename(olds[-1], path)
        out["restored"] = True
        olds = olds[:-1]
    for d in olds + tmps:
        shutil.rmtree(d, ignore_errors=True)
        out["removed"] += 1
    return out


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    cluster_by: list[str] | None = None,
) -> dict:
    """Rewrite a parquet directory into ~``target_file_bytes`` files.

    Streaming foreachBatch sinks and incremental appends accumulate small
    files; at cluster scale a million tiny files turns every scan into a
    metadata storm (driver-side listing + one task per file). Compaction
    is the standard fix: one distributed read → repartition to the target
    count → staged write → atomic-enough directory swap (same swap
    discipline as ``merge_upsert``). Returns before/after file counts.

    ``cluster_by`` gives the rewrite a PRUNING layout at zero extra
    passes (the compaction rewrites anyway): range-partition + sort
    within files on the given keys, so files come out key-disjoint with
    selective row-group min/max stats — point/range/IN predicates on the
    cluster keys then skip whole files at the scan. This is the r8
    verdict's state-index item: the incremental loops' vs-state indexes
    are read every batch, and a clustered layout turns their key-scoped
    reads from full scans into zone-map-pruned ones.

    LOCAL-FILESYSTEM ONLY: the directory swap is two ``os.rename`` calls,
    which have no meaning on an object store — on s3a/hdfs paths this
    raises up front instead of mis-sizing the rewrite and failing at the
    swap. (On a cluster, compaction of object-store tables belongs to a
    transactional table format's OPTIMIZE, which rewrites manifests
    instead of directories.) Nothing here is proportional to row count
    on the driver."""
    import urllib.parse
    import urllib.request

    df = spark.read.parquet(path)
    files = df.inputFiles()
    n_before = len(files)
    schemes = {urllib.parse.urlparse(u).scheme for u in files}
    if schemes - {"file", ""}:
        raise NotImplementedError(
            f"compact_parquet swaps directories via os.rename and only "
            f"supports local paths; got scheme(s) {sorted(schemes - {'file', ''})} "
            "— use your table format's OPTIMIZE/rewrite on object stores"
        )
    total_bytes = 0
    for uri in files:
        p = urllib.request.url2pathname(urllib.parse.urlparse(uri).path)
        total_bytes += os.path.getsize(p)
    n_target = max(1, -(-total_bytes // target_file_bytes)) if total_bytes else 1
    if n_before <= n_target and not cluster_by:
        return {"files_before": n_before, "files_after": n_before, "skipped": True}
    tmp = f"{path}__compact_{uuid.uuid4().hex[:8]}"
    if cluster_by:
        df.repartitionByRange(n_target, *cluster_by).sortWithinPartitions(
            *cluster_by
        ).write.mode("overwrite").parquet(tmp)
    else:
        df.repartition(n_target).write.mode("overwrite").parquet(tmp)
    old = f"{path}__old_{uuid.uuid4().hex[:8]}"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    n_after = len(spark.read.parquet(path).inputFiles())
    return {"files_before": n_before, "files_after": n_after, "skipped": False}


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_by: list[str],
    mode: str = "overwrite",
    num_files: int | None = None,
    drop_after_sort: list[str] | None = None,
) -> None:
    """Range-clustered parquet write: ``repartitionByRange`` on the
    cluster keys, then sort within each partition before writing.

    Files come out key-disjoint and internally sorted, so parquet
    row-group min/max statistics become *selective*: a pushed-down range
    or point predicate on the cluster keys skips whole files/row-groups
    at the scan (zone-map pruning). On 100 TB this — not compute — is
    usually the difference between touching terabytes and touching
    gigabytes for time-range or key-range queries. The reference has no
    equivalent (its T-SQL relies on server indexes; files written by
    pandas have random order).

    ``num_files`` pins the range-partition count; leave it None to let
    AQE size the shuffle (it will coalesce small outputs — right at
    scale, but a test or a fixed layout contract wants it explicit).

    ``drop_after_sort`` removes helper sort-key columns (e.g. a z-order
    key) after partitioning+sorting, so they shape the layout without
    landing in the files."""
    if num_files is not None:
        ranged = df.repartitionByRange(num_files, *cluster_by)
    else:
        ranged = df.repartitionByRange(*cluster_by)
    out = ranged.sortWithinPartitions(*cluster_by)
    if drop_after_sort:
        out = out.drop(*drop_after_sort)
    out.write.mode(mode).parquet(path)


def _q_ident(c: str) -> str:
    """Quote a column identifier (engines like Derby uppercase unquoted
    names while Spark writes quoted lowercase ones)."""
    return f'"{c}"'


def _jdbc_table_exists(conn, table: str) -> bool:
    """Case-folding-agnostic catalog lookup: Derby stores unquoted names
    uppercase, Postgres lowercase, others as-is — JDBC table patterns are
    case-sensitive, so checking only one folding silently misses the
    table on other engines (which would break the idempotency contract
    of the callers).

    ``getTables`` treats ``_``/``%`` as LIKE wildcards, so the pattern is
    escaped with the driver's search-string escape when the driver has
    one (Derby reports none and rejects escaped patterns), and — the
    actual correctness guard — every returned TABLE_NAME must equal the
    candidate exactly, so a wildcard hit like ``tXapp`` for ``t_app`` or
    a same-named table in another schema can never false-positive."""
    meta = conn.getMetaData()
    esc = meta.getSearchStringEscape() or ""

    def escape_pattern(name: str) -> str:
        if not esc:
            return name  # exact-name verify below rejects wildcard hits
        return (
            name.replace(esc, esc + esc)
            .replace("_", esc + "_")
            .replace("%", esc + "%")
        )

    for candidate in {table.upper(), table.lower(), table}:
        rs = meta.getTables(None, None, escape_pattern(candidate), None)
        try:
            while rs.next():
                if rs.getString("TABLE_NAME") == candidate:
                    return True
        finally:
            rs.close()
    return False


def merge_upsert_jdbc(
    spark: SparkSession,
    url: str,
    driver: str,
    table: str,
    source: DataFrame,
    keys: list[str],
) -> None:
    """S7 over a REAL database: stage + MERGE, the reference's exact flow
    (src/etl_utils.py:87-145 writes a staging table then runs T-SQL
    MERGE). The source stages through the distributed JDBC writer; the
    MERGE itself is one set-based statement executed on the database —
    per-key driver loops never happen. Works against any MERGE-capable
    engine (SQL Server, Postgres 15+, Derby ≥10.11 — the embedded
    integration target here); column identifiers are quoted because
    engines like Derby uppercase unquoted names while Spark writes
    quoted lowercase ones."""
    cols = source.columns
    for k in keys:
        if k not in cols:
            raise ValueError(f"merge key {k!r} not in source columns {cols}")
    dup = source.groupBy(*keys).count().filter(F.col("count") > 1).limit(1).count()
    if dup:
        raise ValueError(f"merge_upsert_jdbc: source has duplicate keys on {keys}")
    staging = f"{table}_stage_{uuid.uuid4().hex[:8]}"
    writer = (
        source.write.format("jdbc")
        .option("url", url)
        .option("driver", driver)
        .option("dbtable", staging)
    )
    writer.mode("overwrite").save()

    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        # target may not exist yet (first load): CREATE TABLE AS the staging shape
        target_exists = _jdbc_table_exists(conn, table)
        stmt = conn.createStatement()
        q = _q_ident
        try:
            if not target_exists:
                col_list = ", ".join(q(c) for c in cols)
                stmt.executeUpdate(
                    f"CREATE TABLE {table} AS SELECT * FROM {staging} WITH NO DATA"
                )
                stmt.executeUpdate(
                    f"INSERT INTO {table} ({col_list}) SELECT {col_list} FROM {staging}"
                )
            else:
                on = " AND ".join(f"t.{q(k)} = s.{q(k)}" for k in keys)
                non_keys = [c for c in cols if c not in keys]
                set_clause = ", ".join(f"t.{q(c)} = s.{q(c)}" for c in non_keys)
                insert_cols = ", ".join(q(c) for c in cols)
                insert_vals = ", ".join(f"s.{q(c)}" for c in cols)
                matched = f"WHEN MATCHED THEN UPDATE SET {set_clause} " if non_keys else ""
                stmt.executeUpdate(
                    f"MERGE INTO {table} t USING {staging} s ON ({on}) "
                    f"{matched}"
                    f"WHEN NOT MATCHED THEN INSERT ({insert_cols}) VALUES ({insert_vals})"
                )
        finally:
            # drop staging on failure too — a failed MERGE must not leak
            # a {table}_stage_xxxx table per retry
            try:
                stmt.executeUpdate(f"DROP TABLE {staging}")
            except Exception:
                pass
            stmt.close()
    finally:
        conn.close()


def build_merge_into_sql(
    target_table: str,
    columns: list[str],
    keys: list[str],
    source_view: str,
) -> str:
    """Spark-SQL ``MERGE INTO`` statement for a transactional catalog
    table: matched rows take the source version, unmatched insert — the
    same semantics as ``merge_upsert``/``merge_upsert_jdbc``. Pure
    builder so the statement shape is unit-testable without a
    transactional catalog installed. Identifiers are backtick-quoted
    (Spark dialect, vs the double-quote JDBC path)."""
    q = lambda c: f"`{c}`"  # noqa: E731
    on = " AND ".join(f"t.{q(k)} = s.{q(k)}" for k in keys)
    non_keys = [c for c in columns if c not in keys]
    matched = (
        "WHEN MATCHED THEN UPDATE SET "
        + ", ".join(f"t.{q(c)} = s.{q(c)}" for c in non_keys)
        + " "
        if non_keys
        else ""
    )
    insert_cols = ", ".join(q(c) for c in columns)
    insert_vals = ", ".join(f"s.{q(c)}" for c in columns)
    return (
        f"MERGE INTO {target_table} t USING {source_view} s ON ({on}) "
        f"{matched}"
        f"WHEN NOT MATCHED THEN INSERT ({insert_cols}) VALUES ({insert_vals})"
    )


def merge_upsert_table(
    spark: SparkSession,
    target_table: str,
    source: DataFrame,
    keys: list[str],
) -> None:
    """S7 against a transactional catalog table (Delta Lake, Iceberg, or
    any Spark v2 catalog with row-level-operation support): ONE set-based
    ``MERGE INTO`` executed by the table's own catalog — the object-store
    upsert path that ``merge_upsert``'s local directory swap explicitly
    refuses. At 100 TB this is the production shape: the format rewrites
    only the touched files/manifests transactionally, readers never see a
    half-merged table, and the shuffle is the MERGE join on the keys.

    This environment ships no transactional catalog, so the statement
    builder carries the unit coverage and this executor surfaces Spark's
    own unsupported-table error unchanged when pointed at a v1 table
    (the seam is the point: with Delta/Iceberg configured on the session
    the same call is production-ready)."""
    for k in keys:
        if k not in source.columns:
            raise ValueError(f"merge key {k!r} not in source columns {source.columns}")
    dup = source.groupBy(*keys).count().filter(F.col("count") > 1).limit(1).count()
    if dup:
        raise ValueError(f"merge_upsert_table: source has duplicate keys on {keys}")
    view = f"__merge_src_{uuid.uuid4().hex[:8]}"
    source.createOrReplaceTempView(view)
    try:
        spark.sql(build_merge_into_sql(target_table, source.columns, keys, view))
    finally:
        spark.catalog.dropTempView(view)


def append_dedup_jdbc(
    spark: SparkSession,
    url: str,
    driver: str,
    table: str,
    batch: DataFrame,
    keys: list[str],
    batch_size: int = 1000,
) -> int:
    """S6 over a REAL database: idempotent chunked append. The reference
    appends with retried ``to_sql`` chunks and duplicates rows when a
    retry straddles a partial failure (src/etl_utils.py:211-253); here
    the incoming batch is anti-joined against the table's existing keys
    first, so a replayed batch inserts nothing. The write itself is the
    distributed JDBC writer with ``batchsize`` batching (the chunked
    ``executemany`` analog). Returns rows appended."""
    from eligibility_etl_airflow_spark.sources.readers import read_jdbc

    fresh = batch.dropDuplicates(keys)
    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        exists = _jdbc_table_exists(conn, table)
    finally:
        conn.close()
    if exists:
        q = ", ".join(_q_ident(k) for k in keys)
        # read_jdbc, not a hand-rolled reader: keeps the fetchsize (and
        # optional bounds-partitioning) the readers module already
        # documents as the single-cursor guard
        existing = read_jdbc(spark, url, f"SELECT {q} FROM {table}", driver=driver).load()
        fresh = fresh.join(existing, keys, "left_anti")
    # single execution: the appended-row count is observed during the
    # write job itself, so the remote table is read exactly once (same
    # contract as the parquet append above)
    from pyspark.sql import Observation

    obs = Observation()
    (
        fresh.observe(obs, F.count(F.lit(1)).alias("n"))
        .write.format("jdbc")
        .option("url", url)
        .option("driver", driver)
        .option("dbtable", table)
        .option("batchsize", str(batch_size))
        .mode("append")
        .save()
    )
    return int(obs.get["n"])
