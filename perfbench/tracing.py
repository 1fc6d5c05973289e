"""Tracing for the benchmark's traced run, taken from outside the program.

Spans are recorded around the calls the benchmark makes into the engine's
public functions (and around the public functions it wraps, such as every
registered query and every ``sources.sinks`` call).  Spark's own status
stores are read right after each op, because the live stores keep only
the most recent 1,000 jobs, stages and SQL executions.

Nothing here changes the program's Spark configuration.
"""

from __future__ import annotations

import functools
import json
import os
import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

MB = 1024.0 * 1024.0

# SQL metric names of the Python-boundary operators (MapInPandas,
# ArrowEvalPython, FlatMapGroupsInPandas, ...) and the per-layer name each
# one is summed into.
PYTHON_METRICS = {
    "time to start Python workers": "python.start_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "python.sent_mb",
    "data returned from Python workers": "python.returned_mb",
}
_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1.0 / MB, "KiB": 1.0 / 1024, "MiB": 1.0, "GiB": 1024.0, "TiB": 1024.0 ** 2,
}
_METRIC_RE = re.compile(
    r"(" + "|".join(re.escape(n) for n in PYTHON_METRICS) + r"): "
    r"(?:total \(min, med, max \(stageId: taskId\)\)(?:<br>|\n))?"
    r"([\d.,]+) (ms|s|min|m|h|B|KiB|MiB|GiB|TiB)\b"
)


def parse_python_metrics(dot: str) -> dict[str, float]:
    """Sum the Python-worker SQL metrics found in a plan graph's DOT text
    (seconds for times, MiB for sizes)."""
    out: dict[str, float] = defaultdict(float)
    for name, value, unit in _METRIC_RE.findall(dot):
        out[PYTHON_METRICS[name]] += float(value.replace(",", "")) * _UNITS[unit]
    return out


class StatusReader:
    """Reads what Spark recorded since the previous read.

    The status store lists jobs and stages newest first and the SQL store
    lists executions oldest first, so a read walks from the newest end
    until it meets an id it has seen.
    """

    def __init__(self, spark):
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        self._empty = sc._jvm.java.util.ArrayList()
        self.last_job = self._head_id(self._store.jobsList(None), "jobId")
        self.last_stage = self._head_id(self._stages(), "stageId")
        self.last_exec = self._head_id(self._sql.executionsList(), "executionId", -1)
        self._seen: dict[int, float] = {}

    def _stages(self):
        return self._store.stageList(None, False, False, self._no_quantiles, self._empty)

    @staticmethod
    def _head_id(seq, attr: str, newest: int = 0) -> int:
        return getattr(seq.apply(newest % seq.size()), attr)() if seq.size() else -1

    @staticmethod
    def _new(seq, attr: str, last: int, newest: int = 0) -> list:
        """Items with ``attr`` above ``last``, newest first; ``newest`` is
        0 for a newest-first list and -1 for an oldest-first one."""
        out = []
        n = seq.size()
        for i in range(n):
            item = seq.apply(i if newest == 0 else n - 1 - i)
            if getattr(item, attr)() <= last:
                break
            out.append(item)
        return out

    def read(self) -> dict[str, float]:
        """Counters accumulated since the previous read."""
        d: dict[str, float] = defaultdict(float)
        jobs = self._new(self._store.jobsList(None), "jobId", self.last_job)
        if jobs:
            self.last_job = jobs[0].jobId()
        d["spark.jobs"] = len(jobs)
        stages = self._new(self._stages(), "stageId", self.last_stage)
        if stages:
            self.last_stage = stages[0].stageId()
        for s in stages:
            if str(s.status()) == "SKIPPED":
                continue
            d["spark.stages"] += 1
            d["spark.tasks"] += s.numTasks()
            d["spark.failed_tasks"] += s.numFailedTasks()
            d["spark.task_run_s"] += s.executorRunTime() / 1e3
            d["spark.task_cpu_s"] += s.executorCpuTime() / 1e9
            d["spark.gc_s"] += s.jvmGcTime() / 1e3
            d["spark.input_mb"] += s.inputBytes() / MB
            d["spark.output_mb"] += s.outputBytes() / MB
            d["spark.shuffle_write_mb"] += s.shuffleWriteBytes() / MB
            d["spark.shuffle_read_mb"] += s.shuffleReadBytes() / MB
            d["spark.result_mb"] += s.resultSize() / MB
            d["spark.spill_mb"] += s.diskBytesSpilled() / MB
        execs = self._new(self._sql.executionsList(), "executionId", self.last_exec, -1)
        if execs:
            self.last_exec = execs[0].executionId()
        for e in execs:
            eid = e.executionId()
            dot = self._sql.planGraph(eid).makeDotFile(self._sql.executionMetrics(eid))
            for k, v in parse_python_metrics(dot).items():
                d[k] += v
        return d

    def cached_python(self, jdf) -> dict[str, float]:
        """Python-worker metrics of the plans cached under ``jdf``.

        A persisted subtree runs inside the cache builder's own physical
        plan, which the SQL store does not show, so its Python operators are
        read from that plan's metrics.  Values are cumulative per plan
        instance; only the growth since the previous read is returned.
        """
        d: dict[str, float] = defaultdict(float)
        stack = [(jdf.queryExecution().executedPlan(), False)]
        while stack:
            node, cached = stack.pop()
            name = node.nodeName()
            if cached:
                metrics = node.metrics()
                keys = metrics.keysIterator()
                while keys.hasNext():
                    acc = metrics.apply(keys.next())
                    layer = PYTHON_METRICS.get(acc.name().getOrElse(None))
                    if layer is None:
                        continue
                    value = acc.value() / (1e3 if layer.endswith("_s") else MB)
                    d[layer] += value - self._seen.get(acc.id(), 0.0)
                    self._seen[acc.id()] = value
            if name == "InMemoryTableScan":
                stack.append((node.relation().cacheBuilder().cachedPlan(), True))
            elif name == "AdaptiveSparkPlan":
                stack.append((node.executedPlan(), cached))
            elif name.endswith("QueryStage"):
                stack.append((node.plan(), cached))
            children = node.children()
            stack.extend((children.apply(i), cached) for i in range(children.size()))
        return d

    def cached_mb(self) -> float:
        rdds = self._store.rddList(True)
        return sum(
            (rdds.apply(i).memoryUsed() + rdds.apply(i).diskUsed()) / MB
            for i in range(rdds.size())
        )


class Tracer:
    """In-memory spans plus per-layer counters for one traced run."""

    def __init__(self, spark, cores: int):
        self.cores = cores
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self._op: str | None = None
        self._restore: list[tuple] = []
        self._frames: list = []
        self._reader = StatusReader(spark)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": parent, "op": self._op}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    @contextmanager
    def op(self, op_id: str):
        self._op = op_id
        try:
            with self.span("op"):
                yield
        finally:
            self._op = None
            self.poll()
            self._frames.clear()

    def in_span(self, prefix: str) -> bool:
        return any(self.spans[i]["name"].startswith(prefix) for i in self._stack)

    def poll(self, into: str | None = None) -> dict[str, float]:
        """Fold the status-store deltas since the last poll into the run's
        counters (and into ``into``'s output bytes, for sink calls)."""
        with self.span("trace.poll"):
            delta = self._reader.read()
            for jdf in self._frames:
                for k, v in self._reader.cached_python(jdf).items():
                    delta[k] += v
            for k, v in delta.items():
                self.counts[k] += v
            if into:
                self.counts[into] += delta.get("spark.output_mb", 0.0)
            self.counts["spark.cached_mb"] = max(
                self.counts["spark.cached_mb"], self._reader.cached_mb()
            )
        return delta

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` by a spanning wrapper until :meth:`close`."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def traced(*args, **kwargs):
            outer_sink = name.startswith("sinks.") and not tracer.in_span("sinks.")
            if outer_sink:
                tracer.poll()
            with tracer.span(name):
                result = original(*args, **kwargs)
            if outer_sink:
                tracer.poll(into="sinks.output_mb")
            if on_result is not None:
                on_result(result)
            return result

        self._restore.append((owner, attr, original))
        setattr(owner, attr, traced)

    def wrap_queries(self, queries: dict) -> None:
        """Span every registered query function as ``plans.build`` and
        count the Spark jobs it starts before its caller's action."""
        tracer = self

        def make(fn):
            @functools.wraps(fn)
            def traced(*args, **kwargs):
                tracer.poll()
                with tracer.span("plans.build"):
                    df = fn(*args, **kwargs)
                tracer.counts["plans.build_jobs"] += tracer.poll()["spark.jobs"]
                tracer._frames.append(df._jdf)
                return df

            return traced

        originals = dict(queries)
        for name, fn in originals.items():
            queries[name] = make(fn)
        self._restore.append((queries, None, originals))

    def close(self) -> None:
        for owner, attr, original in reversed(self._restore):
            if attr is None:
                owner.update(original)
            else:
                setattr(owner, attr, original)
        self._restore.clear()

    def total(self, name: str, outermost: bool = False) -> float:
        """Summed duration of spans called ``name`` (only those not nested
        in another span of the same name, with ``outermost``)."""
        total = 0.0
        for rec in self.spans:
            if rec["name"] != name or rec["end"] is None:
                continue
            if outermost and self._has_ancestor(rec, lambda n: n == name):
                continue
            total += rec["end"] - rec["start"]
        return total

    def total_prefix(self, prefix: str) -> float:
        """Summed duration of the outermost spans whose name has ``prefix``."""
        return sum(
            rec["end"] - rec["start"]
            for rec in self.spans
            if rec["name"].startswith(prefix) and rec["end"] is not None
            and not self._has_ancestor(rec, lambda n: n.startswith(prefix))
        )

    def _has_ancestor(self, rec: dict, pred) -> bool:
        p = rec["parent"]
        while p is not None:
            if pred(self.spans[p]["name"]):
                return True
            p = self.spans[p]["parent"]
        return False

    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the part covered by child spans.
        Spans on the driver thread nest strictly, so the children's
        durations never overlap each other."""
        child = [0.0] * len(self.spans)
        for rec in self.spans:
            if rec["parent"] is not None:
                child[rec["parent"]] += rec["end"] - rec["start"]
        out: dict[str, float] = defaultdict(float)
        for i, rec in enumerate(self.spans):
            out[rec["name"]] += rec["end"] - rec["start"] - child[i]
        return dict(out)

    def dump(self, path: str) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [
                        dict(rec, start=rec["start"] - t0, end=rec["end"] - t0)
                        for rec in self.spans
                    ],
                    "self_s": self.self_times(),
                    "counts": dict(self.counts),
                },
                f,
                indent=1,
            )


_RSS_INTERVAL_S = 0.2


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    JVM and the Python workers), sampled from /proc."""

    def __init__(self):
        self.peak_mb = 0.0
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(_RSS_INTERVAL_S)

    def sample(self) -> None:
        total = sum(self._rss(pid) for pid in descendants(os.getpid()) | {os.getpid()})
        self.peak_mb = max(self.peak_mb, total / MB)

    def _rss(self, pid: int) -> int:
        try:
            with open(f"/proc/{pid}/statm") as f:
                return int(f.read().split()[1]) * self._page
        except (OSError, IndexError, ValueError):
            return 0  # the process ended between listing and reading


def descendants(root: int) -> set[int]:
    """Pids of every live descendant of ``root``."""
    children: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; the ppid follows its ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children[ppid].append(int(entry))
    out, todo = set(), [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out
