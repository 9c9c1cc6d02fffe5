"""Capture .explain("formatted") for headline queries into files.

Usage: python tools/capture_plans.py <outdir> <suffix> [query ...]
e.g.   python tools/capture_plans.py plans/r13 before
Writes <outdir>/<query>_<suffix>.txt for each query (all headline
queries when none are named).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    outdir = sys.argv[1]
    suffix = sys.argv[2]
    only = sys.argv[3:]
    os.makedirs(outdir, exist_ok=True)

    from bench import HEADLINE
    from malstrom_spark.queries import full_registry
    from malstrom_spark.session import build_session

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = build_session(app_name="capture-plans")
    registry = full_registry()
    names = only or HEADLINE
    jvm = spark.sparkContext._jvm
    for name in names:
        try:
            df = registry[name].fn(spark, sf_dir)
            txt = jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # plan capture must not kill the sweep
            txt = f"PLAN CAPTURE ERROR: {e}"
        with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(txt)
        print(f"# {name}: {len(txt)} chars", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
