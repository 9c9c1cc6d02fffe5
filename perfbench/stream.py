"""Stream workload ``stream_paced``: keyed running totals
(``running_totals_stream``) from a parquet file source into a parquet
file sink, fed open-loop.

A generator thread lands one small file on a fixed schedule, well below
the operator's capacity, so each micro-batch is small and its fixed
cost (planning, WAL and offset commits, state-store commit, Python
worker start) dominates. Latency is taken from when a file was DUE, so
a stalled generator shows up as latency and as ``gen.lag_ms``.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import shutil
import statistics
import threading
import time

import gen
import layers

N_KEYS = 100_000  # vs 1,500 users in the sf0.1 events table
# YCSB's default zipfian constant (Cooper et al., "Benchmarking Cloud
# Serving Systems with YCSB", SoCC 2010). The sf0.1 events table gives no
# skew to copy: its user_id is near uniform (45-99 events per user).
ZIPF_SKEW = 0.99
INTERVAL_S, FILE_EVENTS = 0.1, 50
LEAD_S = 0.5  # from query start to the first file's due time
# the first micro-batches of a process run slower than later ones, so
# an untimed episode of this length comes first
WARMUP_S = 12.0
SCHEMA = "user_id BIGINT, value DOUBLE, created_us BIGINT"


def _epoch_s(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _source_batches(ckpt: str) -> dict[str, int]:
    """file name -> id of the micro-batch that read it, from the file
    source's metadata log (plain and compacted entries)."""
    out = {}
    for path in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        with open(path) as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = e["batchId"]
    return out


class StreamWorkload:
    def __init__(self, ctx):
        self.ctx = ctx
        self.episodes = 0  # started, for unique directories and event streams

    def _dir(self, name: str) -> str:
        return os.path.join(self.ctx.work, name)

    # ------------------------------------------------------------ setup
    def stage(self) -> None:
        """Inputs are generated during the episodes."""

    def warm_up(self, spark) -> None:
        """Python worker start, RocksDB load, codegen and JIT happen here,
        not in the measured episode: one untimed, unchecked episode."""
        tracer = self.ctx.tracer
        enabled, tracer.enabled = tracer.enabled, False
        try:
            self.run(spark, None, WARMUP_S)
        finally:
            tracer.enabled = enabled

    # -------------------------------------------------------------- run
    def _start(self, spark, src: str, tag: str):
        from malstrom_spark.streaming.stateful import running_totals_stream

        sdf = spark.readStream.format("parquet").schema(SCHEMA).load(src)
        return (running_totals_stream(sdf, "user_id", "value")
                .writeStream.format("parquet").outputMode("append").trigger(processingTime="0 seconds")
                .option("checkpointLocation", self._dir(f"ckpt_{tag}")).option("path", self._dir(f"sink_{tag}"))
                .start())

    def run(self, spark, registry, seconds: float, passes: int | None = None) -> dict:
        """One open-loop episode of ``seconds`` (one pass, whatever
        ``passes`` asks) with its own input directory, event stream,
        checkpoint and sink."""
        k = self.episodes
        self.episodes += 1
        events = gen.EventStream(self.ctx.seed, N_KEYS, ZIPF_SKEW, stream=2 + k)
        in_dir, tag = self._dir(f"in_p{k}"), f"p{k}"
        os.makedirs(in_dir)
        q = self._start(spark, in_dir, tag)
        t0 = time.perf_counter()
        clock_offset = t0 - time.time()
        start = time.time() + LEAD_S
        n_files = max(1, int((seconds - LEAD_S) / INTERVAL_S))
        files: dict[str, tuple[float, float]] = {}  # name -> (due, written)
        errors = []

        def generate():
            try:
                for i in range(n_files):
                    due = start + i * INTERVAL_S
                    delay = due - time.time()
                    if delay > 0:
                        time.sleep(delay)
                    name = f"f{i:05d}.parquet"
                    gen.write_file(events.batch(FILE_EVENTS, int(due * 1e6)), in_dir, name)
                    files[name] = (due, time.time())
            except Exception as e:  # re-raised on the main thread
                errors.append(e)

        g = threading.Thread(target=generate, name="paced-generator")
        g.start()
        g.join()
        if errors:
            q.stop()
            raise errors[0]
        q.processAllAvailable()
        t1 = time.perf_counter()
        q.stop()

        # per-file latency: due time to the end of the micro-batch that read it
        prog = [json.loads(p.json) for p in q.recentProgress]
        end = {p["batchId"]: _epoch_s(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1e3
               for p in prog}
        lat = [end[b] - files[name][0] for name, b in _source_batches(self._dir(f"ckpt_{tag}")).items()]
        parent = self.ctx.tracer.add("paced", t0, t1, self.ctx.root_span)
        for p in prog:  # epoch clock shifted onto the perf_counter clock of the other spans
            s = _epoch_s(p["timestamp"]) + clock_offset
            self.ctx.tracer.add("stream.batch", s, s + p["durationMs"]["triggerExecution"] / 1e3,
                                parent, batch=p["batchId"], rows=p["numInputRows"])
        result = {"sink": self._dir(f"sink_{tag}"), "files": len(lat), "events": events, "progress": prog,
                  "lag_ms": [(w - d) * 1e3 for d, w in files.values()]}
        return {"passes": [t1 - t0], "latencies": lat, "events": n_files * FILE_EVENTS, "results": [result]}

    # ----------------------------------------------------------- verify
    def verify(self, results: list, registry) -> tuple[int, int, list[str]]:
        """The last row each key emitted must equal the generator's exact
        (n_events, total in cents); an episode that misses fails every
        file it read."""
        import duckdb
        import numpy as np

        attempted, failed, msgs = 0, 0, []
        con = duckdb.connect()
        for r in results:
            keys, n_exp, cents_exp = r["events"].expected()
            attempted += r["files"]
            files = sorted(glob.glob(os.path.join(r["sink"], "*.parquet")))
            got = con.execute(
                f"SELECT user_id, max(n_events), arg_max(total_value, n_events), count(*) "
                f"FROM read_parquet({files!r}) GROUP BY 1 ORDER BY 1").fetchnumpy() if files else None
            r["sink_rows"] = float(got["count_star()"].sum()) if got else 0.0
            r["sink_files"] = float(len(files))
            ok = (got is not None and np.array_equal(got["user_id"], keys)
                  and np.array_equal(got["max(n_events)"], n_exp)
                  and np.array_equal(got["arg_max(total_value, n_events)"], cents_exp / 100.0))
            if not ok:
                failed += r["files"]
                msgs.append(f"{os.path.basename(r['sink'])}: per-key totals differ from the generator's")
            shutil.rmtree(r["sink"], ignore_errors=True)
        con.close()
        return attempted, failed, msgs

    # ------------------------------------------------------------ trace
    def layer_metrics(self, results: list) -> dict[str, float]:
        """Streaming, state, source and sink layers of verified episodes."""
        progress = [p for r in results for p in r["progress"]]
        out = layers.progress_layers(progress)
        out["sink.rows"] = sum(r["sink_rows"] for r in results)
        out["sink.files"] = sum(r["sink_files"] for r in results)
        out["state.keys_touched"] = out["sink.rows"]
        files_per_batch = [(_epoch_s(p["timestamp"]), p["numInputRows"] / FILE_EVENTS)
                           for p in progress if p.get("numInputRows", 0) > 0]
        out["source.backlog_files_max"] = max((f for _, f in files_per_batch), default=0.0)
        out["source.backlog_growth"] = _slope(files_per_batch)
        out["gen.lag_ms"] = max((x for r in results for x in r["lag_ms"]), default=0.0)
        return out


    def single_core_reference(self, spark, seconds: float) -> tuple[dict, list[str]]:
        """The single-threaded baseline: warm-up and one checked episode
        on ``spark`` (a local[1] session); (figures, failure messages)."""
        self.warm_up(spark)
        r = self.run(spark, None, seconds)
        attempted, failed, msgs = self.verify(r["results"], None)
        return {"local1_latency_p50_ms": statistics.median(r["latencies"]) * 1e3,
                "local1_files": attempted, "local1_failed": failed}, msgs


def _slope(points: list[tuple[float, float]]) -> float:
    """Least-squares slope of files-per-batch over time (files/s)."""
    if len(points) < 2:
        return 0.0
    xs, ys = zip(*points)
    mx, my = statistics.fmean(xs), statistics.fmean(ys)
    den = sum((x - mx) ** 2 for x in xs)
    return sum((x - mx) * (y - my) for x, y in points) / den if den else 0.0
