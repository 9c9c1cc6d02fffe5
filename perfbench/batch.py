"""Batch workload ``batch_doc_pipeline``: timed sweeps over registry
queries.

Each query runs from its registry ``fn(spark, data_dir)`` (driver plan
construction, including any eager fits or fixpoint loops inside it)
through a parquet write of the full result, the materialization a
pipeline stage performs. Results are checked afterwards, outside the
timed region, against the query's DuckDB oracle.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import gen
import oracle

# Arrow/Python kernels and driver-side fixpoint loops (connected
# components, PageRank, k-means, the BPE and unigram fits).
QUERIES = [
    "training_data_pipeline", "dedup_simhash", "doc_bpe_tokens", "doc_unigram_tokens",
    "doc_host_reputation", "embedding_semdedup", "customer_entity_groups",
]


class BatchWorkload:
    def __init__(self, ctx):
        self.queries = QUERIES
        self.ctx = ctx
        self.data_dir = os.path.join(ctx.work, "data")
        self.input_rows = 0
        self.content_key = ""
        self.sweeps = 0  # sweeps started, for unique output directories

    def stage(self) -> None:
        """Generate the tables and write them in this seed's row order."""
        tables = gen.base_tables()
        self.input_rows = sum(t.num_rows for t in tables.values())
        self.content_key = gen.content_key(tables)
        gen.write_tables(tables, self.data_dir, self.ctx.seed)

    def warm_up(self, spark) -> None:
        """Session-level one-time costs (JIT of the scan, shuffle and
        codegen paths; Python worker start) on a query outside the
        measured set."""
        from pyspark.sql import functions as F

        df = spark.read.parquet(os.path.join(self.data_dir, "customer.parquet"))
        df.groupBy("c_nationkey").agg(F.sum("c_acctbal")).write.format("noop").mode("overwrite").save()

    def run(self, spark, registry, seconds: float, passes: int | None = None) -> dict:
        """Whole sweeps for ``seconds`` (at least one), or exactly
        ``passes`` sweeps."""
        ctx = self.ctx
        sc = spark.sparkContext
        walls, latencies, results = [], [], []
        deadline = time.perf_counter() + seconds
        while not walls or (len(walls) < passes if passes else time.perf_counter() < deadline):
            self.sweeps += 1
            k = self.sweeps
            p0 = time.perf_counter()
            spans = []
            for name in self.queries:
                out = os.path.join(ctx.work, "out", f"p{k}", name)
                if ctx.tracer.enabled:
                    sc.setJobGroup(f"{name}.build", name)
                t0 = time.perf_counter()
                try:
                    df = registry[name].fn(spark, self.data_dir)
                    t1 = time.perf_counter()
                    if ctx.tracer.enabled:
                        sc.setJobGroup(f"{name}.write", name)
                    df.write.mode("overwrite").parquet(out)
                    t2 = time.perf_counter()
                    results.append((name, out, df.columns))
                except Exception as e:  # a failed query is a failed operation
                    t1 = t2 = time.perf_counter()
                    results.append((name, None, repr(e)))
                # as if the sweep's queries were submitted together as a
                # queue: each waits for the ones before it
                latencies.append(t2 - p0)
                spans.append((name, t0, t1, t2))
            p1 = time.perf_counter()
            walls.append(p1 - p0)
            pid = ctx.tracer.add("sweep", p0, p1, ctx.root_span)
            for name, t0, t1, t2 in spans:
                q = ctx.tracer.add("query", t0, t2, pid, query=name)
                ctx.tracer.add("query.build", t0, t1, q, query=name)
                ctx.tracer.add("query.write", t1, t2, q, query=name)
        if ctx.tracer.enabled:
            sc.setJobGroup("", "")
        return {
            "passes": walls,
            "latencies": latencies,
            "events": self.input_rows,
            "results": results,
        }

    def verify(self, results: list, registry) -> tuple[int, int, list[str]]:
        """(attempted, failed, messages): each query execution is one
        operation; an error or a digest differing from the oracle's is a
        failure."""
        ctx = self.ctx
        con = oracle.connect(self.data_dir, ctx.cores)
        cache = oracle.OracleCache(
            os.path.join(ctx.bench_dir, "oracle_digests.json"),
            os.path.join(ctx.work_root, "oracle_digests.json"),
        )
        want: dict[str, str] = {}
        failed, msgs = 0, []
        for name, out, cols in results:
            if out is None:
                failed += 1
                msgs.append(f"{name}: error {cols}")
                continue
            if name not in want:
                # The oracles take ~45 s in DuckDB on 4 cores (connected
                # components alone ~39 s), more than a run may spend, so
                # their digests come from the content-keyed cache.
                want[name] = cache.get(con, self.content_key, name, registry[name].oracle)
            if oracle.spark_output_digest(con, out, cols) != want[name]:
                failed += 1
                msgs.append(f"{name}: result differs from its oracle")
        con.close()
        shutil.rmtree(os.path.join(ctx.work, "out"), ignore_errors=True)
        return len(results), failed, msgs

    def layer_metrics(self, results: list) -> dict[str, float]:
        """Batch layers all come from the Spark counters and spans."""
        return {}

    def duckdb_reference(self, registry, spark_walls: dict[str, float], cap_s: float = 10.0) -> dict:
        """Same-session DuckDB timing of every oracle (one run each, on
        the same files and core count) against the Spark walls. An oracle
        still running after ``cap_s`` is interrupted and its time counted
        as ``cap_s``, which makes that query's ratio an upper bound."""
        import threading

        import duckdb

        ratios = {}
        for name in self.queries:
            # one connection per oracle, so an interrupt cannot reach the next
            con = oracle.connect(self.data_dir, self.ctx.cores)
            timer = threading.Timer(cap_s, con.interrupt)
            t0 = time.perf_counter()
            timer.start()
            try:
                con.execute(registry[name].oracle).fetchall()
                duck, capped = time.perf_counter() - t0, False
            except duckdb.InterruptException:
                duck, capped = cap_s, True
            finally:
                timer.cancel()
                con.close()
            ratios[name] = {"duckdb_s": duck, "capped": capped, "spark_s": spark_walls[name],
                            "spark_over_duckdb": spark_walls[name] / duck}
        r = [v["spark_over_duckdb"] for v in ratios.values()]
        return {
            "queries": ratios,
            "geomean_spark_over_duckdb": statistics.geometric_mean(r),
            "spark_slower_count": sum(x > 1 for x in r),
            "n_queries": len(r),
        }
