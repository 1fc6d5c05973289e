"""Airflow-DAG-shaped orchestration over the engine's pipelines.

The reference runs its ETL as an Airflow DAG — extract → two parallel
transforms → quality-gated load → cleanup, tasks exchanging parquet
paths through XCom (/root/reference/dags/eligibilty_etl.py:72-368).
The engine's pipelines (pipelines.py) deliberately collapse each DAG
into ONE lazy Spark plan, but a real deployment still needs the task
graph: per-task retries, per-task monitoring, and the staging contract
between extract and transforms.

This module is that graph, orchestrator-agnostic: a ``Dag`` is a named
set of tasks with explicit upstream edges, validated (unknown upstream,
cycles) and executed in topological order. Each task receives the
results of its upstreams — the XCom analog — and returns a plain dict.
``levels()`` exposes the parallel structure (tasks in one level have no
mutual dependencies); a driver that maps tasks onto Airflow operators or
submits concurrent Spark jobs runs each level in parallel, exactly like
the reference's two parallel transforms. The local runner executes
sequentially — on one SparkSession, task parallelism would only contend
for the same executors.

``eligibility_dag`` mirrors the reference graph one task per task:

    extract ──► transform_iqama ─────┐
         └────► transform_eligibility ├──► load ──► cleanup
                                     ┘

Scale notes: the extract stages once and both transforms read the staged
parquet (one source scan, not two); the load is an idempotent
``append_dedup`` so a retried load task cannot duplicate rows — the
failure mode the reference's recovery scripts exist to repair
(src/eligibility_recovery.py:262-281).
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from eligibility_etl_airflow_spark.catalog import Catalog
from eligibility_etl_airflow_spark.sources import sinks


@dataclass
class Task:
    name: str
    fn: Callable[..., dict]
    upstream: tuple[str, ...] = ()
    retries: int = 0


@dataclass
class Dag:
    name: str
    tasks: dict[str, Task] = field(default_factory=dict)

    def task(
        self,
        name: str,
        fn: Callable[..., dict],
        upstream: tuple[str, ...] | list[str] = (),
        retries: int = 0,
    ) -> Task:
        if name in self.tasks:
            raise ValueError(f"duplicate task {name!r} in dag {self.name!r}")
        t = Task(name, fn, tuple(upstream), retries)
        self.tasks[name] = t
        return t

    def _validate(self) -> None:
        for t in self.tasks.values():
            for up in t.upstream:
                if up not in self.tasks:
                    raise ValueError(
                        f"task {t.name!r} depends on unknown task {up!r}"
                    )

    def levels(self) -> list[list[str]]:
        """Topological levels: every task in a level depends only on
        earlier levels — the parallel execution structure."""
        self._validate()
        placed: set[str] = set()
        levels: list[list[str]] = []
        remaining = dict(self.tasks)
        while remaining:
            ready = sorted(
                name
                for name, t in remaining.items()
                if all(up in placed for up in t.upstream)
            )
            if not ready:
                raise ValueError(
                    f"cycle among tasks: {sorted(remaining)} in dag {self.name!r}"
                )
            levels.append(ready)
            placed.update(ready)
            for name in ready:
                del remaining[name]
        return levels

    def run(self) -> dict[str, dict]:
        """Execute in topological order; each task gets its upstreams'
        results as keyword args (the XCom analog). Per-task retries
        re-invoke the task fn — tasks must therefore be idempotent,
        which the sinks (append_dedup / overwrite) guarantee."""
        results: dict[str, dict] = {}
        for level in self.levels():
            for name in level:
                t = self.tasks[name]
                kwargs = {up: results[up] for up in t.upstream}
                attempt = 0
                while True:
                    try:
                        results[name] = t.fn(**kwargs) or {}
                        break
                    except Exception:
                        attempt += 1
                        if attempt > t.retries:
                            raise
        return results


def _write_counted(df: DataFrame, path: str) -> int:
    """Overwrite ``path`` with ``df`` and return the rows written,
    observed during the write itself (one job, no read-back count)."""
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode("overwrite").parquet(path)
    return int(obs.get["n"])


def eligibility_dag(spark: SparkSession, sf_dir: str, work_dir: str) -> Dag:
    """The reference eligibility DAG's task graph over engine primitives
    (extract/transform task bodies: dags/eligibilty_etl.py:72-251; load
    gate + append: 259-336; cleanup: 339-352)."""
    dag = Dag("eligibility_etl")
    extract_path = os.path.join(work_dir, "extract.parquet")
    out_iqama = os.path.join(work_dir, "iqama.parquet")
    out_elig = os.path.join(work_dir, "eligibility.parquet")

    def extract() -> dict:
        # one source scan staged once; both transforms read the staging
        # parquet instead of re-scanning the source (the reference stages
        # to a run_id-named parquet for the same reason)
        c = Catalog(spark, sf_dir)
        df = c.customer.join(c.nation, c.customer.c_nationkey == c.nation.n_nationkey)
        return {"path": extract_path, "rows": _write_counted(df, extract_path)}

    def transform_iqama(extract: dict) -> dict:
        # id-normalization branch (reference: transform_iqama)
        staged = spark.read.parquet(extract["path"])
        out = staged.select(
            F.col("c_custkey").alias("member_id"),
            F.upper(F.trim(F.col("n_name"))).alias("nation"),
            F.regexp_replace(F.col("c_name"), r"[^0-9]", "").alias("member_digits"),
        )
        return {"path": out_iqama, "rows": _write_counted(out, out_iqama)}

    def transform_eligibility(extract: dict) -> dict:
        # eligibility-labeling branch (reference: transform_eligibility)
        staged = spark.read.parquet(extract["path"])
        out = staged.select(
            F.col("c_custkey").alias("member_id"),
            F.col("c_acctbal").alias("balance"),
            F.when(F.col("c_acctbal") > 0, F.lit("ELIGIBLE"))
            .otherwise(F.lit("REVIEW"))
            .alias("eligibility_status"),
        )
        return {"path": out_elig, "rows": _write_counted(out, out_elig)}

    def load(transform_iqama: dict, transform_eligibility: dict) -> dict:
        # quality gate before the sink (reference load_data validates
        # counts before inserting), then idempotent append
        elig = spark.read.parquet(transform_eligibility["path"])
        sinks.expect(
            elig,
            invalid=F.col("member_id").isNull(),
            max_invalid_ratio=0.01,
            label_col="eligibility_status",
        )
        target = os.path.join(work_dir, "warehouse", "eligibility")
        appended = sinks.append_dedup(spark, target, elig, keys=["member_id"])
        return {
            "target": target,
            "appended": appended,
            "iqama_rows": transform_iqama["rows"],
        }

    def cleanup(load: dict) -> dict:
        # staging files removed only after a successful load, like the
        # reference's cleanup_extraction_file
        removed = []
        for p in (extract_path, out_iqama, out_elig):
            if os.path.exists(p):
                shutil.rmtree(p, ignore_errors=True)
                removed.append(p)
        return {"removed": removed}

    dag.task("extract", extract)
    dag.task("transform_iqama", transform_iqama, upstream=["extract"])
    dag.task("transform_eligibility", transform_eligibility, upstream=["extract"])
    dag.task("load", load, upstream=["transform_iqama", "transform_eligibility"], retries=1)
    dag.task("cleanup", cleanup, upstream=["load"])
    return dag
