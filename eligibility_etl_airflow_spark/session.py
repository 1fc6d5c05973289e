"""SparkSession bootstrap tuned for the engine.

Local testing runs on ``local[N]``; the configs below are the ones that
matter identically on a 1000-executor cluster:

- AQE on (runtime partition coalescing, skew-join splitting, dynamic
  broadcast decisions) — the 100 TB safety net.
- ``spark.sql.session.timeZone=UTC`` so timestamp semantics are
  deterministic and match the DuckDB oracle (naive timestamps).
- Arrow enabled for the Pandas-UDF islands (external-call operators,
  JSON repair ladder) — Arrow batches are the only acceptable
  Python-boundary transport at scale.
- shuffle partitions sized for the test box; on a real cluster AQE
  coalesces from a deliberately high initial number instead.
- a codegen cache sized to the engine's working set. Spark compiles
  every generated class with Janino and keeps the compiled classes in
  a process-wide cache (default 100 entries). The cache holds compiled
  code only, keyed on the full generated source: no data, plans or
  results, so it cannot change an output. The engine's re-run SQL
  shapes need far more than 100 classes (the 12 benchmark claims
  queries ~160, one claims-ETL tick ~171, all 158 registered queries
  1,832 at sf0.001), so at the default a re-run recompiles most of
  what the same session compiled minutes earlier.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# Python-worker daemon preload (r10, guide §4.5 at the process level):
# fork workers from a daemon that has ALREADY imported numpy/pandas/
# pyarrow + the engine modules, instead of paying ~0.5-1.5 s of imports
# in every fresh worker (32-64 of them spin up on the first Python
# stage; measured multimodal_features cold rep 22.9 s -> 10.3 s, warm
# rep 6.7 s -> 1.9 s). The daemon subprocess is spawned with `python -m
# <module>` BEFORE addPyFile ships the package zip, so the module must
# be importable through the inherited environment: _enable_preload()
# prepends the package parent to $PYTHONPATH before the JVM launches
# (the JVM inherits the driver env and passes it to the daemon). Local
# masters only — on a multi-host cluster the executor hosts don't
# inherit the driver env; ship the package and set
# spark.executorEnv.PYTHONPATH + this config explicitly instead.
# Kill-switch: SPARK_GRAFT_NO_WORKER_PRELOAD=1 restores the stock
# pyspark.daemon.
_PRELOAD_MODULE = "eligibility_etl_airflow_spark.worker_preload"


# Headroom over the largest working set measured (see the module
# docstring): all 158 registered queries compile 1,832 distinct classes
# at sf0.001. diagnostics.codegen_stats counts the compiles.
_CODEGEN_CACHE_ENTRIES = 4096


def _enable_preload(master: str) -> bool:
    if os.environ.get("SPARK_GRAFT_NO_WORKER_PRELOAD", "") == "1":
        return False
    if not master.startswith("local"):
        return False
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_parent + (os.pathsep + existing if existing else "")
        )
    return True


def get_spark(app_name: str = "eligibility-etl-spark",
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    """Build (or fetch) the engine SparkSession."""
    shuffle = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    master = f"local[{DEFAULT_CPUS}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # NOTE (r10): a spark.sql.files.minPartitionNum scan-parallelism
        # floor was tried and REVERTED — the bench parquet files hold a
        # single row group each, so byte-range splitting produced 32
        # tasks of which 31 were empty and one still read the whole
        # file (a (31+1)/32 straggler in every scan stage, measured
        # slower across the board). Scan-level parallelism is
        # structurally impossible on single-row-group files; CPU-heavy
        # post-scan stages use operators/parallel.ensure_parallelism
        # (an input-size-adaptive round-robin repartition that is a
        # passthrough at scale) instead.
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(_CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.parquet.filterPushdown", "true")
        # TIMESTAMP(NANOS) parquet columns (events.ts) are otherwise
        # unreadable; the catalog converts the long nanos back to timestamp.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    if _enable_preload(master):
        builder = builder.config("spark.python.daemon.module", _PRELOAD_MODULE)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
