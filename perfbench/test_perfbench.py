"""Smoke tests for the benchmark itself, at sf0.001 with one ETL tick.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import workloads as wl  # noqa: E402


SEED = 3


def bench(workload: str, trace: int) -> dict:
    small = ["--sf", "0.001", "--seconds", "1"]
    if workload == "claims_etl":
        small += ["--ticks", "1"]
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(SEED), "--trace", str(trace), *small],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.fixture(scope="module")
def traced():
    return {w: bench(w, 1) for w in wl.WORKLOADS}


@pytest.mark.parametrize("workload", sorted(wl.WORKLOADS))
def test_untraced_run_prints_every_end_to_end_metric(workload):
    out = bench(workload, 0)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    assert {k: v["unit"] for k, v in out["metrics"].items()} == run.END_TO_END
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_traced_run_prints_every_per_layer_metric(traced):
    for out in traced.values():
        assert out["correct"] is True
        assert {k: v["unit"] for k, v in out["metrics"].items()} == run.PER_LAYER


def test_spans_are_well_formed(traced):
    for workload in traced:
        with open(os.path.join(HERE, "_out", f"trace-{workload}-{SEED}.json")) as f:
            dump = json.load(f)
        spans = dump["spans"]
        assert spans and {"op", "trace.poll"} <= {s["name"] for s in spans}
        for i, s in enumerate(spans):
            assert set(s) == {"name", "start", "end", "parent", "op"}
            assert 0 <= s["start"] <= s["end"]
            if s["parent"] is not None:
                p = spans[s["parent"]]
                assert s["parent"] < i and p["start"] <= s["start"] and s["end"] <= p["end"]
        assert all(v >= -1e-9 for v in dump["self_s"].values())


def test_python_layer_separates_the_workloads(traced):
    py = {w: {k: v["value"] for k, v in out["metrics"].items() if k.startswith("python.")}
          for w, out in traced.items()}
    assert all(v == 0 for v in py["claims_queries"].values()), py
    assert all(v > 0 for v in py["claims_etl"].values()), py
    etl = {k: v["value"] for k, v in traced["claims_etl"]["metrics"].items()}
    for k in ("sinks.write_s", "sinks.output_mb", "streaming.tick_s", "dag.task_s",
              "pipelines.predictions_s", "sink_mb"):
        assert etl[k] > 0, k


def test_generator_is_byte_identical_per_seed(tmp_path):
    def write(seed, sub):
        os.makedirs(tmp_path / sub)
        files = {}
        for name, table in gen.build_tables(seed, 0.001).items():
            path = tmp_path / sub / f"{name}.parquet"
            gen.write_table(table, str(path))
            files[name] = path.read_bytes()
        return files

    a, b, c = write(5, "a"), write(5, "b"), write(6, "c")
    assert a == b
    assert a["orders"] != c["orders"]


def test_corrupted_digest_fails_ops(tmp_path, monkeypatch):
    work = str(tmp_path)
    cwd = os.getcwd()
    run.prepare_env(work)
    spark = None
    try:
        spark, registry, _ = run.setup()
        w = wl.ClaimsQueries(work, seed=3, sf=0.001)
        honest = w.expected
        victim = wl.CLAIMS_QUERIES[0]

        def corrupted(name, registry):
            rows, h, cols = honest(name, registry)
            return (rows, h ^ 1, cols) if name == victim else (rows, h, cols)

        monkeypatch.setattr(w, "expected", corrupted)
        w.prepare()
        w.warm(spark, registry)
        w.run(spark, registry)
        failed = w.check(spark, registry)
        assert failed == w.op_names.count(victim) > 0
        assert failed / w.attempted > 0
    finally:
        if spark is not None:
            run.stop(spark)
        os.chdir(cwd)
