"""Table catalog over the driver's parquet testdata.

The reference reads whole T-SQL resultsets into pandas
(src/etl_utils.py:58-81 ``read_data``); the engine instead registers each
table as a lazily-scanned parquet source so Catalyst can push filters and
prune columns down to the scan — at 100 TB the scan is the dominant cost
and pushdown/pruning are the two levers that matter most.
"""

from __future__ import annotations

import os
import weakref

import pyarrow.parquet as _pq
import pyarrow.types as _pat
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eligibility_etl_airflow_spark.config import TABLES


def nanos_timestamp_columns(path: str) -> list[str]:
    """Names of TIMESTAMP(NANOS) columns in a parquet file's schema.

    Shared by the batch Catalog and the streaming source so the testdata's
    nanos encoding is detected in exactly one place (a testdata format
    change cannot silently break one path but not the other).

    Accepts either a single parquet file (the driver testdata) or a
    Spark-written parquet DIRECTORY (a previous pipeline stage's output
    — all part files share one schema, so probing the first suffices);
    an empty directory probes as no-nanos and lets Spark raise its own
    error on read.
    """
    if os.path.isdir(path):
        parts = sorted(
            f for f in os.listdir(path) if f.endswith(".parquet")
        )
        if not parts:
            return []
        path = os.path.join(path, parts[0])
    schema = _pq.read_schema(path)
    return [
        field.name
        for field in schema
        if _pat.is_timestamp(field.type) and field.type.unit == "ns"
    ]


# Session-scoped relation cache: path -> ((mtime, size), DataFrame), per
# SparkSession (weak-keyed so a stopped session's entries die with it).
# A metastore-backed deployment gets this for free — resolving a catalog
# table does not re-list files or re-probe footers on every query — and
# Spark itself caches file listings per session (guide §6). The bare-path
# reader here paid that probe (pyarrow footer read + InMemoryFileIndex
# build, ~0.2 s/table locally) on EVERY query construction: ~1/3 of each
# trivial query's wall time was re-deriving immutable metadata. Only the
# *unresolved relation* (logical plan + schema) is cached — execution
# still scans the parquet files fresh on every action, so bench/oracle
# runs always compute from the inputs; a changed (mtime, size) stamp
# replaces the path's entry, so a rewritten file is read afresh and the
# cache holds one entry per path however often it is rewritten.
_RELATION_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def _file_stamp(path: str) -> tuple:
    """(mtime_ns, size) identity of a file or of a parquet directory's
    direct children — changes whenever the data is rewritten."""
    st = os.stat(path)
    if os.path.isdir(path):
        parts = tuple(
            (f, os.stat(os.path.join(path, f)).st_mtime_ns,
             os.stat(os.path.join(path, f)).st_size)
            for f in sorted(os.listdir(path))
            if f.endswith(".parquet")
        )
        return (st.st_mtime_ns, parts)
    return (st.st_mtime_ns, st.st_size)


class Catalog:
    """Lazy parquet-backed catalog for one scale-factor directory."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir
        self._cache: dict[str, DataFrame] = {}

    def table(self, name: str) -> DataFrame:
        if name not in self._cache:
            path = os.path.join(self.sf_dir, f"{name}.parquet")
            key = os.path.abspath(path)
            try:
                stamp = _file_stamp(path)
            except OSError:
                stamp = None  # vanished/racing file: let the read raise below
            per_session = _RELATION_CACHE.setdefault(self.spark, {})
            hit = per_session.get(key)
            if stamp is not None and hit is not None and hit[0] == stamp:
                self._cache[name] = hit[1]
                return self._cache[name]
            # nanosAsLong is a runtime-settable SQL conf; set it here (not
            # only at session build) so a caller-supplied SparkSession —
            # e.g. the grading harness's conf-less one — can still scan
            # TIMESTAMP(NANOS) parquet without PARQUET_TYPE_ILLEGAL.
            nanos_cols = nanos_timestamp_columns(path)
            if nanos_cols:
                self.spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            df = self.spark.read.parquet(path)
            # TIMESTAMP(NANOS) columns arrive as long (nanosAsLong); restore
            # them to timestamps (integer-div to micros == DuckDB's ns->us).
            for col in nanos_cols:
                df = df.withColumn(
                    col,
                    F.timestamp_micros(F.expr(f"`{col}` div 1000")),
                )
            if stamp is not None:
                per_session[key] = (stamp, df)
            self._cache[name] = df
        return self._cache[name]

    def __getattr__(self, name: str) -> DataFrame:
        if name in TABLES:
            return self.table(name)
        raise AttributeError(name)

    def register_views(self) -> None:
        """Register every table as a temp view for spark.sql queries."""
        for name in TABLES:
            path = os.path.join(self.sf_dir, f"{name}.parquet")
            if os.path.exists(path):
                self.table(name).createOrReplaceTempView(name)
