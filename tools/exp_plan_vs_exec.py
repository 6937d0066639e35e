"""Split a registered query's per-call cost into (a) DataFrame
construction + Catalyst analysis and (b) execution, the diagnostic
that found the ann/ngram prepared-plan wins: if (a) is a large share
and the query's inputs are immutable per (app, sf_dir), routing it
through registry._prepared_plan converts (a) into a pay-once cost
without touching what executes.

Queries that cache/prepare internally (ngram/minhash/ann suites)
show construction ~0 after their warm-up — that's the pattern
already applied, not an absence of cost.

Usage: python tools/exp_plan_vs_exec.py QUERY [QUERY...] [--runs N]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument(
        "--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    args = ap.parse_args()

    from kcbdml9_big_data_processing_spark.queries import QUERIES
    from kcbdml9_big_data_processing_spark.session import get_spark

    spark = get_spark(app_name="exp_plan_vs_exec")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    for name in args.queries:
        spec = QUERIES[name]
        # warm-up: codegen + file listing + any per-process prep
        spec.fn(spark, args.sf).write.mode("overwrite").format("noop").save()
        spark.catalog.clearCache()
        cons, execs = [], []
        for _ in range(args.runs):
            t0 = time.time()
            df = spec.fn(spark, args.sf)
            df.schema  # force analysis
            t1 = time.time()
            df.write.mode("overwrite").format("noop").save()
            t2 = time.time()
            spark.catalog.clearCache()
            cons.append(t1 - t0)
            execs.append(t2 - t1)
        cons.sort()
        execs.sort()
        m = args.runs // 2
        print(
            f"{name}: construct+analyze {cons[m]:.3f}s  exec {execs[m]:.3f}s  "
            f"(cons {['%.2f' % c for c in cons]}, exec {['%.2f' % e for e in execs]})"
        )
    spark.stop()


if __name__ == "__main__":
    main()
