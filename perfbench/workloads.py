"""The benchmark's workloads: inputs, timed ops and output checks.

A workload run times one fixed pass of work, so every seed and every
commit measure the same work and the seed moves only the values and the
order.

- ``claims_queries``: the analysts' claims query surface.  Each op is one
  registered query, started cold (``clearCache`` + ``reset_memos``), built
  and run to a noop sink.  None of these queries runs a Python operator or
  starts a Spark job while its plan is built, so the op time is driver plan
  build, Catalyst planning and job/task scheduling.  Each query's result is
  checked against its DuckDB oracle in an untimed warm-up run before the
  timed pass; the timed pass runs the same queries on the same inputs to
  the noop sink, where an op that raises counts as failed.
- ``claims_etl``: the scheduled loads as a closed loop of ticks against one
  warehouse.  Each tick (one op) runs the eligibility, resubmission,
  predictions and events-stream pipelines and the eligibility DAG on the
  next arrival batch; the predictions pipeline sends its LLM fan-out
  through Python workers.  It is the only workload that writes.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import nullcontext

import numpy as np
import pandas as pd

import gen

# Oracle-backed claims queries, at most two from each of the eligibility,
# resubmission, relational, analytics, extras, streaming_batch and fhir
# plan modules, whose executed plan has no Python operator and whose plan
# build starts no Spark job.  About 7 s of cache-cold ops on a 4-core box
# at sf0.01; the list is short so that a whole run (set-up, the untimed
# oracle check and the pass) stays near 45 s.
CLAIMS_QUERIES = (
    "eligibility_flagship",
    "eligibility_quality_gate",
    "resubmission_flagship",
    "business_rule_updates",
    "latest_order_dense_rank",
    "json_field_extract",
    "cohort_retention",
    "rolling_zscore_anomalies",
    "asof_join_events",
    "scd2_user_status",
    "stream_dedup_overlap",
    "beneficiary_enrichment",
)

DIM_TABLES = ("region", "nation", "customer", "supplier", "part", "documents", "embeddings")


def digest(df: pd.DataFrame) -> tuple[int, int, tuple[str, ...]]:
    """Order-insensitive (rows, digest, columns) of a result.  Numbers are
    rounded to 6 decimals as the oracle parity tests round them, so a
    Spark result and its DuckDB oracle agree on the same inputs."""
    cols = tuple(sorted(df.columns))
    canon = pd.DataFrame(index=df.index)
    for c in cols:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            if getattr(s.dt, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            canon[c] = s.dt.strftime(_TS_FORMAT)
        elif pd.api.types.is_numeric_dtype(s) and not pd.api.types.is_bool_dtype(s):
            canon[c] = s.astype("float64").round(6).map(repr)
        else:
            canon[c] = s.map(_canon_value)
    if cols:
        canon = canon.where(df[list(cols)].notna().to_numpy(), "null")
    h = pd.util.hash_pandas_object(canon, index=False).to_numpy(dtype=np.uint64)
    return len(df), int(h.sum(dtype=np.uint64)), cols


_TS_FORMAT = "%Y-%m-%d %H:%M:%S.%f"


def _canon_value(v) -> str:
    import datetime
    import decimal

    if v is None or (isinstance(v, float) and np.isnan(v)):
        return "null"
    if isinstance(v, (datetime.date, pd.Timestamp)):
        return pd.Timestamp(v).strftime(_TS_FORMAT)
    if isinstance(v, (float, np.floating, decimal.Decimal)):
        return repr(round(float(v), 6))
    if isinstance(v, (list, tuple, np.ndarray)):
        return repr(tuple(_canon_value(x) for x in v))
    if isinstance(v, dict):
        return repr(sorted((str(k), _canon_value(x)) for k, x in v.items()))
    return str(v)


def oracle_digest(sql: str, sf_dir: str) -> tuple[int, int, tuple[str, ...]]:
    import duckdb

    con = duckdb.connect()
    try:
        for t in os.listdir(sf_dir):
            if t.endswith(".parquet"):
                con.sql(
                    f"CREATE VIEW {t[:-8]} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(sf_dir, t)}')"
                )
        return digest(con.sql(sql).df())
    finally:
        con.close()


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def count_files(path: str) -> int:
    return sum(
        1
        for _root, _dirs, files in os.walk(path)
        for f in files
        if not f.startswith((".", "_"))
    )


class Workload:
    """Base: ``prepare`` writes the inputs, ``run`` times one pass,
    ``check`` verifies the outputs outside the timed region."""

    name = ""

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.rng = np.random.default_rng([seed, 7])
        self.inputs: dict[str, dict] = {}
        self.op_s: list[float] = []
        self.wall_s = 0.0
        self.attempted = 0
        self.raised: list[str] = []

    def run(self, spark, registry, tracer=None) -> None:
        t = time.perf_counter()
        self.run_pass(spark, registry, tracer)
        self.wall_s = time.perf_counter() - t

    def warm(self, spark, registry) -> None:
        """Untimed work before the pass."""

    def sink_bytes(self) -> int:
        return 0

    def op_span(self, tracer, op_id: str):
        return nullcontext() if tracer is None else tracer.op(op_id)


class ClaimsQueries(Workload):
    name = "claims_queries"

    def __init__(self, work: str, seed: int, sf: float = 0.01):
        super().__init__(work, seed)
        self.sf = sf
        self.data = os.path.join(work, "data")
        self.outcome: dict[str, bool] = {}
        self.op_names: list[str] = []

    def prepare(self) -> None:
        os.makedirs(self.data)
        for name, table in gen.build_tables(self.seed, self.sf).items():
            self.inputs[name] = gen.write_table(
                table, os.path.join(self.data, f"{name}.parquet")
            )

    def run_pass(self, spark, registry, tracer) -> None:
        for name in self.rng.permutation(CLAIMS_QUERIES):
            name = str(name)
            spark.catalog.clearCache()
            registry.reset_memos()
            self.attempted += 1
            self.op_names.append(name)
            fn = registry.QUERIES[name]
            t = time.perf_counter()
            try:
                with self.op_span(tracer, name):
                    df = fn(spark, self.data)
                    if tracer is None:
                        df.write.format("noop").mode("overwrite").save()
                    else:
                        with tracer.span("spark.plan"):
                            df._jdf.queryExecution().executedPlan()
                        with tracer.span("spark.exec"):
                            df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # an op that raises counts as failed
                self.raised.append(f"{name}: {exc!r:.300}")
                self.outcome[name] = False
                continue
            self.op_s.append(time.perf_counter() - t)

    def warm(self, spark, registry) -> None:
        """Check every query before the timed pass.  Besides checking, this
        compiles the JVM's hot paths and resolves each input table once, as
        a long-lived analyst session has; without it the first half of the
        ops pay that one-time cost and the median op lands on the edge
        between warming and warm ops."""
        self.check(spark, registry)

    def check(self, spark, registry) -> int:
        """Each query's Spark result against its DuckDB oracle on the same
        generated inputs, skipping queries already checked or failed;
        returns the number of failed ops."""
        for name in CLAIMS_QUERIES:
            if name in self.outcome:
                continue
            spark.catalog.clearCache()
            registry.reset_memos()
            try:
                got = digest(registry.QUERIES[name](spark, self.data).toPandas())
                want = self.expected(name, registry)
                self.outcome[name] = got == want
                if got != want:
                    self.raised.append(f"{name}: digest {got[:2]} != oracle {want[:2]}")
            except Exception as exc:
                self.outcome[name] = False
                self.raised.append(f"{name} check: {exc!r:.300}")
        return sum(not self.outcome[n] for n in self.op_names)

    def expected(self, name: str, registry) -> tuple:
        return oracle_digest(registry.ORACLES[name], self.data)


class ClaimsEtl(Workload):
    """K ticks of the scheduled loads against a warehouse that starts
    empty.  Before each tick (untimed) the next arrival batch of
    orders/lineitem replaces the live source tables and the next events
    file lands in the live events directory, so the one streaming
    checkpoint sees each file once."""

    name = "claims_etl"

    def __init__(self, work: str, seed: int, sf: float = 0.01, ticks: int = 2):
        super().__init__(work, seed)
        self.sf, self.ticks = sf, ticks
        self.base = os.path.join(work, "base")  # the union of all ticks
        self.batches = os.path.join(work, "batches")
        self.live = os.path.join(work, "live")
        self.out = os.path.join(work, "warehouse")
        self.ckpt = os.path.join(work, "checkpoint")
        self.dag_dir = os.path.join(work, "dag")
        self.n_events = 0
        self.n_customers = 0
        self.failed_tick = False

    def prepare(self) -> None:
        # first import outside the timed passes
        from eligibility_etl_airflow_spark import dag, pipelines  # noqa: F401

        os.makedirs(self.base)
        os.makedirs(self.batches)
        tables = gen.build_tables(self.seed, self.sf)
        for name, table in tables.items():
            self.inputs[name] = gen.write_table(
                table, os.path.join(self.base, f"{name}.parquet")
            )
        self.n_events = tables["events"].num_rows
        self.n_customers = tables["customer"].num_rows
        for k, batch in enumerate(gen.split_ticks(tables, self.seed, self.ticks)):
            for name, table in batch.items():
                self.inputs[f"{name}_tick{k}"] = gen.write_table(
                    table, os.path.join(self.batches, f"{name}_{k}.parquet")
                )
        os.makedirs(os.path.join(self.live, "events.parquet"))
        for name in DIM_TABLES:
            shutil.copyfile(os.path.join(self.base, f"{name}.parquet"),
                            os.path.join(self.live, f"{name}.parquet"))

    def deliver(self, k: int) -> None:
        for name in ("orders", "lineitem"):
            shutil.copyfile(os.path.join(self.batches, f"{name}_{k}.parquet"),
                            os.path.join(self.live, f"{name}.parquet"))
        shutil.copyfile(os.path.join(self.batches, f"events_{k}.parquet"),
                        os.path.join(self.live, "events.parquet", f"part-{k:05d}.parquet"))

    def run_pass(self, spark, registry, tracer) -> None:
        from eligibility_etl_airflow_spark import dag, pipelines

        for k in range(self.ticks):
            self.deliver(k)
            spark.catalog.clearCache()
            registry.reset_memos()
            self.attempted += 1
            t = time.perf_counter()
            try:
                with self.op_span(tracer, f"tick{k}"):
                    pipelines.run_eligibility_pipeline(spark, self.live, self.out)
                    pipelines.run_resubmission_pipeline(spark, self.live, self.out)
                    pipelines.run_predictions_pipeline(spark, self.live, self.out)
                    pipelines.run_events_stream_pipeline(spark, self.live, self.out, self.ckpt)
                    d = dag.eligibility_dag(spark, self.live, self.dag_dir)
                    if tracer is not None:
                        wrap_dag_tasks(tracer, d)
                    d.run()
            except Exception as exc:
                self.raised.append(f"tick{k}: {exc!r:.300}")
                self.failed_tick = True
                continue
            self.op_s.append(time.perf_counter() - t)

    def check(self, spark, registry) -> int:
        """Incremental loading must equal one-shot loading over the union
        of the ticks; a failed check fails every tick of the run."""
        from pyspark.sql import functions as F

        problems = []
        try:
            elig = spark.read.parquet(os.path.join(self.out, "eligibility"))
            want = registry.QUERIES["eligibility_flagship"](spark, self.base)
            if digest(elig.toPandas()) != digest(want.toPandas()):
                problems.append("eligibility rows != eligibility_flagship over all ticks")
            for sub, key in (("eligibility", "order_id"), ("predictions", "service_uid"),
                             ("resubmission", "service_id")):
                df = spark.read.parquet(os.path.join(self.out, sub))
                n, distinct = df.count(), df.select(key).distinct().count()
                if n != distinct:
                    problems.append(f"{sub}: {n - distinct} keys loaded twice")
            lines = spark.read.parquet(os.path.join(self.base, "lineitem.parquet"))
            n_uids = lines.select(F.concat_ws(
                ":", "l_partkey", "l_suppkey", "l_linenumber")).distinct().count()
            n_pred = spark.read.parquet(os.path.join(self.out, "predictions")).count()
            if n_pred != n_uids:
                problems.append(f"predictions: {n_pred} keys, lineitem has {n_uids}")
            ev = spark.read.parquet(os.path.join(self.out, "events_clean")).select("event_id")
            got = ev.agg(F.countDistinct("event_id"), F.min("event_id"),
                         F.max("event_id")).first()
            if tuple(got) != (self.n_events, 0, self.n_events - 1):
                problems.append(f"events: distinct/min/max {tuple(got)}, generated {self.n_events}")
            members = spark.read.parquet(os.path.join(self.dag_dir, "warehouse", "eligibility"))
            if members.select("member_id").distinct().count() != self.n_customers \
                    or members.count() != self.n_customers:
                problems.append("dag: members not loaded exactly once")
        except Exception as exc:
            problems.append(f"check: {exc!r:.300}")
        self.raised.extend(problems)
        return self.attempted if (problems or self.failed_tick) else 0

    def sink_bytes(self) -> int:
        return sum(dir_bytes(d) for d in (self.out, self.ckpt, self.dag_dir))


def wrap_dag_tasks(tracer, d) -> None:
    """Span every task of a built DAG; a retry shows as a second call."""
    for task in d.tasks.values():
        fn = task.fn

        def traced(*args, _fn=fn, **kwargs):
            tracer.counts["dag.calls"] += 1
            with tracer.span("dag.task"):
                return _fn(*args, **kwargs)

        tracer.counts["dag.tasks"] += 1
        task.fn = traced


WORKLOADS = {w.name: w for w in (ClaimsQueries, ClaimsEtl)}

