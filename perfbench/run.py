"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Each run is a fresh process with fresh
input, checkpoint, sink and SPARK_LOCAL_DIRS directories under
``.perfbench_work/`` (removed at exit). It generates its inputs from
the seed, starts the engine on ``local[nproc]``, warms it up, measures
the workload for ``--seconds`` (whole passes, at least one), checks
every output and prints one JSON line last. ``--trace 1`` prints the
per-layer metrics instead and writes a span file next to the work
directory. See perfbench/README.md for the metric definitions.
"""

from __future__ import annotations

import time

T_MAIN = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

import layers  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORKLOADS = ("stream_paced", "batch_doc_pipeline")
# Reconciliation tolerance: the share of a pass's wall that its layer
# spans (micro-batches; query builds and SQL executions) may leave
# unexplained before a traced run fails.
UNACCOUNTED_TOLERANCE = 0.10


def process_start_epoch() -> float:
    """Wall-clock start of this process (covers interpreter start-up)."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return min(T_MAIN, btime + ticks / os.sysconf("SC_CLK_TCK"))


def host_settings() -> tuple[int, str]:
    """(cores, driver heap): every core this process may use, and a
    quarter of physical memory clamped to 1-8 GiB. The engine's own
    default heap (48g) exceeds many hosts."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal"))
    gib = min(8, max(1, kb // (4 * 1024 * 1024)))
    return cores, f"{gib}g"


class Ctx:
    def __init__(self, args, cores: int, work_root: str, work: str, tracer):
        self.seed = args.seed
        self.cores = cores
        self.bench_dir = BENCH_DIR
        self.work_root = work_root
        self.work = work
        self.tracer = tracer
        self.root_span = None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = process_start_epoch()

    if not os.path.isdir(os.path.join(ROOT, "malstrom_spark")):
        print(f"perfbench: no malstrom_spark package under {ROOT}", file=sys.stderr)
        return 2

    cores, heap = host_settings()
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d))
    # Python workers import the engine by module path: put the
    # repository on their path, whatever directory launched us.
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-memory {heap} --driver-java-options -Djava.io.tmpdir={work}/tmp pyspark-shell")
    sys.path.insert(0, ROOT)

    tracer = layers.Tracer(bool(args.trace))
    ctx = Ctx(args, cores, work_root, work, tracer)
    try:
        return run(args, ctx, t_start, heap)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def build(work: str, master: str | None = None):
    from malstrom_spark.session import build_session

    return build_session(
        app_name="perfbench",
        master=master,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # status-store retention for whole passes (read only by traced runs)
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
            "spark.sql.streaming.numRecentProgressUpdates": "100000",
        },
    )


# Per-layer metrics of traced runs, with units. Every workload reports
# every one; a layer a workload does not use reads 0.
PER_LAYER = {
    "session.jvm_start_s": "s", "session.warmup_s": "s",
    "queries.build_s": "s", "queries.build_jobs": "count", "queries.write_s": "s",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count", "exec.run_s": "s",
    "exec.cpu_s": "s", "exec.gc_s": "s", "exec.deser_s": "s", "exec.busy_frac": "ratio",
    "exec.task_skew": "ratio", "exec.tasks_failed": "count",
    "shuffle.write_bytes": "B", "shuffle.read_bytes": "B", "shuffle.fetch_wait_s": "s",
    "spill.bytes": "B",
    "python.total_s": "s", "python.boot_s": "s", "python.bytes_sent": "B",
    "python.bytes_received": "B", "python.rows_received": "count",
    "stream.batches": "count", "stream.rows_per_batch": "count", "stream.trigger_ms_p50": "ms",
    "stream.addBatch_ms": "ms", "stream.queryPlanning_ms": "ms", "stream.walCommit_ms": "ms",
    "stream.commitOffsets_ms": "ms", "stream.latestOffset_ms": "ms", "stream.getBatch_ms": "ms",
    "state.rows_total": "count", "state.memory_bytes": "B", "state.rows_updated": "count",
    "state.keys_touched": "count", "state.commit_ms": "ms", "state.updates_ms": "ms",
    "source.backlog_files_max": "count", "source.backlog_growth": "files/s", "gen.lag_ms": "ms",
    "sink.rows": "count", "sink.files": "count",
    "mem.peak_rss_mb": "MB",
    "latency.p50_ms": "ms", "latency.tail_ms": "ms",
    "trace.overhead_frac": "ratio", "trace.unaccounted_frac": "ratio", "trace.collect_s": "s",
}


def run(args, ctx: Ctx, t_start: float, heap: str) -> int:
    if args.workload.startswith("stream"):
        from stream import StreamWorkload as Workload
    else:
        from batch import BatchWorkload as Workload

    tr = ctx.tracer
    with layers.RssSampler() as rss:
        s0 = time.perf_counter() - (time.time() - t_start)
        wl = Workload(ctx)
        wl.stage()
        t0 = time.perf_counter()
        spark = build(ctx.work)
        t1 = time.perf_counter()
        registry = None
        if args.workload.startswith("batch"):
            from malstrom_spark.queries import full_registry

            registry = full_registry()
        wl.warm_up(spark)
        t2 = time.perf_counter()
        setup_s = time.time() - t_start
        sid = tr.add("setup", s0, t2)
        tr.add("setup.stage", s0, t0, sid)
        tr.add("session.start", t0, t1, sid)
        tr.add("session.warmup", t1, t2, sid)

        if tr.enabled:
            counters = layers.SparkCounters(spark)
            counters.mark()
        m0 = time.perf_counter()
        ctx.root_span = tr.add("measure", m0, m0)
        res = wl.run(spark, registry, args.seconds)
        m1 = time.perf_counter()
        tr.end(ctx.root_span, m1)
        wall = statistics.median(res["passes"])
        results = list(res["results"])

        layer = {}
        if tr.enabled:
            layer = counters.layers(m1 - m0, ctx.cores)
            jobs = counters.jobs_by_group()
            layer["queries.build_jobs"] = float(sum(n for g, n in jobs.items() if g.endswith(".build")))
            offset = time.perf_counter() - time.time()
            tr.attach("sql.execution", [(a + offset, b + offset) for a, b in counters.execution_intervals()],
                      under="query.write")
            layer["trace.collect_s"] = time.perf_counter() - m1
            layer.update(span_layers(args.workload, tr, (t0, t1, t2)))
            # Tracing overhead: one untraced and one traced pass back to
            # back, both after the measured passes.
            pair = {}
            for enabled in (False, True):
                tr.enabled = enabled
                ctx.root_span = tr.add("overhead", time.perf_counter(), time.perf_counter())
                r = wl.run(spark, registry, args.seconds, passes=1)
                pair[enabled] = r["passes"][0]
                results += r["results"]
            layer["trace.overhead_frac"] = pair[True] / pair[False] - 1
        attempted, failed, msgs = wl.verify(results, registry)
        if tr.enabled:
            layer.update(wl.layer_metrics(res["results"]))
        spark.stop()
        layer["mem.peak_rss_mb"] = rss.peak_mb
    if tr.enabled:
        msgs += trace_extras(args, ctx, wl, registry, res, layer, pair)
    stop_jvm()
    for m in msgs:
        print(f"perfbench: FAILED {m}", file=sys.stderr)

    lat_ms = [x * 1e3 for x in res["latencies"]]
    tail, pct = layers.tail_percentile(lat_ms)
    layer["latency.p50_ms"], layer["latency.tail_ms"] = statistics.median(lat_ms), tail
    e2e = {
        "setup_s": (setup_s, "s"),
        "wall_s": (wall, "s"),
        "events_per_s": (res["events"] / wall, "events/s"),
    }
    print(f"# {args.workload} seed={args.seed} cores={ctx.cores} heap={heap} "
          f"passes={len(res['passes'])} operations={attempted}")
    for k, (v, u) in e2e.items():
        print(f"# {k} = {v:.4f} {u}")
    print(f"# latency.p50_ms = {layer['latency.p50_ms']:.4f} ms")
    print(f"# latency.tail_ms = {tail:.4f} ms (p{pct:.1f} of {len(lat_ms)} samples)")
    print(f"# failed_frac = {failed / max(attempted, 1):.4f} ratio")
    print(f"# mem.peak_rss_mb = {layer['mem.peak_rss_mb']:.1f} MB")
    if tr.enabled:
        metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
        for k, m in metrics.items():
            print(f"# {k} = {m['value']:.6g} {m['unit']}")
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    ok = failed == 0 and not msgs
    print(json.dumps({"correct": ok, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if ok else 1


# The span whose wall each workload's layer spans must account for,
# and the names of those layer spans.
RECONCILE = {
    "stream_paced": ("paced", {"stream.batch"}),
    "batch_doc_pipeline": ("sweep", {"query.build", "sql.execution"}),
}


def span_layers(workload: str, tr, setup_marks) -> dict:
    """Per-layer figures taken from the spans of the measured passes."""
    t0, t1, t2 = setup_marks
    parent, names = RECONCILE[workload]
    return {
        "session.jvm_start_s": t1 - t0,
        "session.warmup_s": t2 - t1,
        "queries.build_s": tr.total("query.build"),
        "queries.write_s": tr.total("query.write"),
        "trace.unaccounted_frac": tr.unaccounted(parent, names),
    }


def stop_jvm() -> None:
    """End the driver JVM and wait for it and every process under it
    (the Python daemon and workers) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway server exits on EOF
            proc.wait(timeout=60)
    deadline = time.time() + 30
    while time.time() < deadline:
        direct, deeper = layers.children(os.getpid())
        if not direct and not deeper:
            return
        time.sleep(0.1)
    raise RuntimeError(f"engine processes still running: {direct + deeper}")


def trace_extras(args, ctx, wl, registry, res, layer, pair) -> list[str]:
    """Reference runs and the span file; returns the failure messages of
    the reference run and of the reconciliation check."""
    tr = ctx.tracer
    msgs = []
    extra = {"workload": args.workload, "seed": args.seed, "cores": ctx.cores,
             "wall_s": statistics.median(res["passes"]),
             "overhead_pair_s": {"untraced": pair[False], "traced": pair[True]},
             "unaccounted_tolerance": UNACCOUNTED_TOLERANCE}
    if args.workload.startswith("stream"):
        tr.enabled = False
        spark = build(ctx.work, master="local[1]")
        try:
            ref, msgs = wl.single_core_reference(spark, args.seconds)
        finally:
            spark.stop()
            tr.enabled = True
        ref["latency_ratio"] = ref["local1_latency_p50_ms"] / (statistics.median(res["latencies"]) * 1e3)
        extra["single_core"] = ref
        print(f"# reference: local[1] latency_p50 {ref['local1_latency_p50_ms']:.0f} ms, "
              f"{ref['latency_ratio']:.2f}x that on {ctx.cores} cores")
    if args.workload.startswith("batch"):
        walls = {}  # of the first measured sweep
        for s in tr.spans:
            if s["name"] == "query":
                walls.setdefault(s["query"], s["end_s"] - s["start_s"])
        duck = wl.duckdb_reference(registry, walls)
        extra["duckdb"] = duck
        print(f"# reference: Spark/DuckDB geomean {duck['geomean_spark_over_duckdb']:.2f}x, "
              f"Spark slower on {duck['spark_slower_count']} of {duck['n_queries']} queries")
    os.makedirs(os.path.join(ctx.work_root, "traces"), exist_ok=True)
    path = os.path.join(ctx.work_root, "traces", f"{args.workload}-s{args.seed}.json")
    tr.write(path, {**extra, "layers": layer, "self_times_s": tr.self_times()})
    print(f"# span file: {os.path.relpath(path, ROOT)}")
    parent = RECONCILE[args.workload][0]
    if layer["trace.unaccounted_frac"] > UNACCOUNTED_TOLERANCE:
        msgs.append(f"reconciliation: layer spans leave {layer['trace.unaccounted_frac']:.1%} of a {parent} "
                    f"unexplained (tolerance {UNACCOUNTED_TOLERANCE:.0%})")
    return msgs


if __name__ == "__main__":
    sys.exit(main())
