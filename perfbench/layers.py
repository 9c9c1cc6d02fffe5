"""Measurement plumbing: spans, the process-tree memory sampler and the
readers of Spark's own counters (JVM status store, SQL plan metrics,
streaming progress). Everything here observes the engine from outside;
nothing changes what it runs."""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time


class Tracer:
    """In-memory spans (name, start, end, parent) written out at the end.
    Disabled, it records nothing, so untraced runs pay only the clock
    reads the end-to-end metrics need anyway."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.origin = time.perf_counter()

    def add(self, name: str, t0: float, t1: float, parent: int | None = None, **attrs) -> int | None:
        if not self.enabled:
            return None
        sid = len(self.spans)
        self.spans.append({
            "id": sid, "parent": parent, "name": name,
            "start_s": round(t0 - self.origin, 6), "end_s": round(t1 - self.origin, 6), **attrs,
        })
        return sid

    def end(self, sid: int | None, t1: float) -> None:
        """Close a span opened with ``add(name, t0, t0)``."""
        if sid is not None:
            self.spans[sid]["end_s"] = round(t1 - self.origin, 6)

    def attach(self, name: str, intervals: list[tuple[float, float]], under: str) -> None:
        """Add each interval (perf_counter clock) as a ``name`` child of
        every ``under`` span it overlaps, clipped to that span."""
        for s in [s for s in self.spans if s["name"] == under]:
            for a, b in intervals:
                a, b = max(a - self.origin, s["start_s"]), min(b - self.origin, s["end_s"])
                if b > a:
                    self.add(name, a + self.origin, b + self.origin, s["id"])

    def _descendants(self, sid: int) -> list[dict]:
        kids = [k for k in self.spans if k["parent"] == sid]
        return kids + [d for k in kids for d in self._descendants(k["id"])]

    def _covered(self, span: dict, kids: list[dict]) -> float:
        """Time of ``span`` that the union of ``kids`` covers."""
        covered, end = 0.0, span["start_s"]
        for a, b in sorted((k["start_s"], k["end_s"]) for k in kids):
            a, b = max(a, end), min(b, span["end_s"])
            if b > a:
                covered += b - a
                end = b
        return covered

    def self_times(self) -> dict[str, float]:
        """Self time per span name: duration minus the part of it that
        its child spans cover."""
        out: dict[str, float] = {}
        for s in self.spans:
            kids = [k for k in self.spans if k["parent"] == s["id"]]
            own = (s["end_s"] - s["start_s"]) - self._covered(s, kids)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def total(self, name: str) -> float:
        return sum(s["end_s"] - s["start_s"] for s in self.spans if s["name"] == name)

    def unaccounted(self, parent_name: str, layer_names: set[str]) -> float:
        """Largest share of a ``parent_name`` span's wall that none of its
        descendants named in ``layer_names`` covers: the reconciliation
        check of the layer split."""
        worst = 0.0
        for s in self.spans:
            wall = s["end_s"] - s["start_s"]
            if s["name"] != parent_name or wall <= 0:
                continue
            layer = [d for d in self._descendants(s["id"]) if d["name"] in layer_names]
            worst = max(worst, (wall - self._covered(s, layer)) / wall)
        return worst

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, indent=1)


def children(root: int) -> tuple[list[int], list[int]]:
    """(direct children, deeper descendants) of ``root``."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        parent[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    direct = [c for c, p in parent.items() if p == root]
    deeper, frontier = [], list(direct)
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        deeper += kids
        frontier += kids
    return direct, deeper


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory of this process tree: the kernel's high-water
    mark (VmHWM) of this process and of the driver JVM it launched, plus
    the largest sampled sum over their descendants (the Python daemon and
    the short-lived Python workers it forks)."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.hwm_kb: dict[int, int] = {}
        self.workers_peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        direct, deeper = children(me)
        for p in [me, *direct]:
            self.hwm_kb[p] = max(self.hwm_kb.get(p, 0), _status_kb(p, "VmHWM:"))
        self.workers_peak_kb = max(self.workers_peak_kb, sum(_status_kb(p, "VmRSS:") for p in deeper))

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return (sum(self.hwm_kb.values()) + self.workers_peak_kb) / 1024.0


def tail_percentile(values: list[float], min_beyond: int = 10) -> tuple[float, float]:
    """(value, percentile) of the highest order statistic with at least
    ``min_beyond`` samples above it. When that point would not lie above
    the median (fewer than ``2 * min_beyond + 1`` samples), the maximum
    is returned as p100."""
    v = sorted(values)
    n = len(v)
    k = n - min_beyond - 1
    if k < n // 2 + 1:
        return v[-1], 100.0
    return v[k], 100.0 * (k + 1) / n


# ---------------------------------------------------------------- Spark
_UNIT = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
         "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_NUM = re.compile(r"^\s*([0-9][0-9,]*\.?[0-9]*)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Total of a rendered SQL metric ('12,345', '3.1 MiB', '7.8 s', or
    'total (min, med, max ...)\\n<total> (...)'); sizes in bytes,
    timings in seconds."""
    line = text.split("\n", 1)[1] if text.startswith("total") else text
    m = _NUM.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT.get(m.group(2), 1.0)


_PY_METRICS = {
    "time to run Python workers": "python.total_s",
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.boot_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}


class SparkCounters:
    """Reads the JVM status store (stages, jobs, tasks) and the SQL
    status store (plan metrics) over py4j, for everything submitted
    after ``mark()``. Works with the UI off."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.jvm = sc._jvm
        self.gw = sc._gateway
        self.store = sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.first_stage = 0
        self.first_job = 0
        self.first_exec = 0

    def _seq(self, seq):
        return [seq.apply(i) for i in range(seq.size())]

    def _jobs(self):
        return self._seq(self.store.jobsList(self.jvm.java.util.ArrayList()))

    def _stages(self):
        return self._seq(self.store.stageList(
            self.jvm.java.util.ArrayList(), False, False,
            self.gw.new_array(self.jvm.double, 0), self.jvm.java.util.ArrayList()))

    def mark(self) -> None:
        jobs = self._jobs()
        self.first_job = 1 + max((j.jobId() for j in jobs), default=-1)
        stages = self._stages()
        self.first_stage = 1 + max((s.stageId() for s in stages), default=-1)
        execs = self._seq(self.sql.executionsList())
        self.first_exec = 1 + max((e.executionId() for e in execs), default=-1)

    def execution_intervals(self) -> list[tuple[float, float]]:
        """(submission, completion) epoch seconds of every finished SQL
        execution since mark(), on Spark's clock."""
        out = []
        for e in self._seq(self.sql.executionsList()):
            done = e.completionTime()
            if e.executionId() >= self.first_exec and done.isDefined():
                out.append((e.submissionTime() / 1e3, done.get().getTime() / 1e3))
        return out

    def jobs_by_group(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for j in self._jobs():
            if j.jobId() >= self.first_job:
                g = j.jobGroup()
                key = g.get() if g.isDefined() else ""
                out[key] = out.get(key, 0) + 1
        return out

    def layers(self, wall_s: float, cores: int) -> dict[str, float]:
        stages = [s for s in self._stages()
                  if s.stageId() >= self.first_stage and s.status().toString() != "SKIPPED"]
        q = self.gw.new_array(self.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        skew = 1.0
        for s in stages:
            if s.numTasks() < 2:
                continue
            summ = self.store.taskSummary(s.stageId(), s.attemptId(), q)
            if summ.isDefined():
                rt = summ.get().executorRunTime()
                med, mx = rt.apply(0), rt.apply(1)
                if med > 0:
                    skew = max(skew, mx / med)
        run_s = sum(s.executorRunTime() for s in stages) / 1e3
        out = {
            "exec.jobs": float(sum(self.jobs_by_group().values())),
            "exec.stages": float(len(stages)),
            "exec.tasks": float(sum(s.numTasks() for s in stages)),
            "exec.run_s": run_s,
            "exec.cpu_s": sum(s.executorCpuTime() for s in stages) / 1e9,
            "exec.gc_s": sum(s.jvmGcTime() for s in stages) / 1e3,
            "exec.deser_s": sum(s.executorDeserializeTime() for s in stages) / 1e3,
            "exec.busy_frac": run_s / (wall_s * cores) if wall_s > 0 else 0.0,
            "exec.task_skew": skew,
            "exec.tasks_failed": float(sum(s.numFailedTasks() for s in stages)),
            "shuffle.write_bytes": float(sum(s.shuffleWriteBytes() for s in stages)),
            "shuffle.read_bytes": float(sum(s.shuffleReadBytes() for s in stages)),
            "shuffle.fetch_wait_s": sum(s.shuffleFetchWaitTime() for s in stages) / 1e3,
            "spill.bytes": float(sum(s.memoryBytesSpilled() + s.diskBytesSpilled() for s in stages)),
        }
        out.update(self.python_metrics())
        return out

    def python_metrics(self) -> dict[str, float]:
        """Python-worker share from the plan metrics of every SQL
        execution since mark(); rows received are the 'number of output
        rows' of the plan nodes that run Python workers."""
        out = {k: 0.0 for k in set(_PY_METRICS.values())}
        out["python.rows_received"] = 0.0
        for e in self._seq(self.sql.executionsList()):
            eid = e.executionId()
            if eid < self.first_exec:
                continue
            vals = self.sql.executionMetrics(eid)
            seen: set[int] = set()
            for node in self._seq(self.sql.planGraph(eid).allNodes()):
                metrics = {m.name(): m.accumulatorId() for m in self._seq(node.metrics())}
                if "time to run Python workers" not in metrics:
                    continue
                for name, acc in metrics.items():
                    key = _PY_METRICS.get(name) or ("python.rows_received" if name == "number of output rows" else None)
                    if key is None or acc in seen:
                        continue
                    seen.add(acc)
                    v = vals.get(acc)
                    if v.isDefined():
                        out[key] += parse_metric(v.get())
        return out


def progress_layers(progress: list[dict]) -> dict[str, float]:
    """Streaming-engine and state-store layers from StreamingQueryProgress
    (as JSON dicts) of every micro-batch that read input."""
    batches = [p for p in progress if p.get("numInputRows", 0) > 0]
    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
    dur = lambda k: med([p["durationMs"].get(k, 0) for p in batches])  # noqa: E731
    ops = [p["stateOperators"][0] for p in batches if p.get("stateOperators")]
    return {
        "stream.batches": float(len(batches)),
        "stream.rows_per_batch": med([p["numInputRows"] for p in batches]),
        "stream.trigger_ms_p50": dur("triggerExecution"),
        "stream.addBatch_ms": dur("addBatch"),
        "stream.queryPlanning_ms": dur("queryPlanning"),
        "stream.walCommit_ms": dur("walCommit"),
        "stream.commitOffsets_ms": dur("commitOffsets"),
        "stream.latestOffset_ms": dur("latestOffset"),
        "stream.getBatch_ms": dur("getBatch"),
        "state.rows_total": float(ops[-1]["numRowsTotal"]) if ops else 0.0,
        "state.memory_bytes": float(ops[-1]["memoryUsedBytes"]) if ops else 0.0,
        "state.rows_updated": float(sum(o["numRowsUpdated"] for o in ops)),
        "state.commit_ms": med([o.get("commitTimeMs", 0) for o in ops]),
        "state.updates_ms": med([o.get("allUpdatesTimeMs", 0) for o in ops]),
    }
