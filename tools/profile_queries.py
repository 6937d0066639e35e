"""Per-query execution profiler.

For each registered query, runs the bench's noop-sink materialization
(after a warm-up) and attributes the wall time using the driver's
AppStatusStore job records:

- ``build_s``  — DataFrame construction plus Catalyst analysis (the
  spec.fn call and a forced ``df.schema``); a large share here is what
  registry._prepared_plan turns into a pay-once cost
- ``exec_s``   — noop write wall
- ``n_jobs``   — Spark jobs launched by the write (loops/persists show
  up here: each checkpoint/persist/collect is its own job)
- ``n_tasks``  — total tasks across those jobs
- ``job_s``    — sum of per-job wall (submission→completion); the gap
  ``exec_s - job_s`` is driver-side work between jobs (planning,
  codegen, AQE re-optimization, commit protocol)
- ``max1``     — wall of the longest job whose task count is 1 (a
  single-task stage: unsplittable input or unspread compute)

Beneath each query's row, every job of its fastest run is listed in
submission order with the driver gap before it, its task count, wall
and name.

Usage: python tools/profile_queries.py [QUERY...] [--sf DIR] [--runs N]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _job_records(sc, group: str) -> list[dict]:
    """JobData rows for a job group, via the driver's status store,
    in submission order."""
    tracker = sc.statusTracker()
    ids = set(tracker.getJobIdsForGroup(group))
    store = sc._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    out = []
    for i in range(jobs.size()):
        j = jobs.apply(i)
        if j.jobId() not in ids:
            continue
        sub = j.submissionTime()
        comp = j.completionTime()
        wall = None
        if sub.isDefined() and comp.isDefined():
            wall = (comp.get().getTime() - sub.get().getTime()) / 1000.0
        out.append(
            {
                "id": j.jobId(),
                "start": sub.get().getTime() / 1000.0 if sub.isDefined() else 0.0,
                "tasks": j.numTasks(),
                "wall": wall,
                "name": j.name()[:80],
            }
        )
    return sorted(out, key=lambda j: (j["start"], j["id"]))


def profile(spark, spec, name: str, sf: str, runs: int) -> dict:
    sc = spark.sparkContext
    # warm-up (codegen/JIT/file index) — same as bench run 1
    spec.fn(spark, sf).write.mode("overwrite").format("noop").save()
    spark.catalog.clearCache()
    best = None
    for r in range(runs):
        group = f"profile:{name}:{r}"
        sc.setJobGroup(group, name)
        t0 = time.time()
        df = spec.fn(spark, sf)
        df.schema  # force analysis into build_s
        t1 = time.time()
        df.write.mode("overwrite").format("noop").save()
        t2 = time.time()
        sc.setJobGroup(None, None)
        jobs = _job_records(sc, group)
        rec = {
            "build_s": round(t1 - t0, 3),
            "exec_s": round(t2 - t1, 3),
            "wall_s": round(t2 - t0, 3),
            "n_jobs": len(jobs),
            "n_tasks": sum(j["tasks"] for j in jobs),
            "job_s": round(
                sum(j["wall"] for j in jobs if j["wall"] is not None), 3
            ),
            "max1": round(
                max(
                    (j["wall"] for j in jobs if j["tasks"] == 1 and j["wall"]),
                    default=0.0,
                ),
                3,
            ),
            "jobs": jobs,
        }
        spark.catalog.clearCache()
        if best is None or rec["wall_s"] < best["wall_s"]:
            best = rec
    return best


def _print_jobs(jobs: list[dict]) -> None:
    prev_end = None
    for j in jobs:
        gap = "" if prev_end is None else f"{j['start'] - prev_end:6.3f}"
        wall = j["wall"] or 0.0
        prev_end = j["start"] + wall
        print(
            f"    job {j['id']:5d} gap={gap:>6} tasks={j['tasks']:5d}"
            f" wall={wall:6.3f}  {j['name']}"
        )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument(
        "--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    args = ap.parse_args()

    from kcbdml9_big_data_processing_spark.queries import QUERIES
    from kcbdml9_big_data_processing_spark.session import get_spark

    spark = get_spark(app_name="profile_queries")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    names = args.queries or [
        n
        for n in QUERIES
        if n not in {"archive_partition_roundtrip", "bucketed_join_roundtrip"}
    ]
    print(
        f"{'query':36s} {'wall':>6} {'build':>6} {'exec':>6} "
        f"{'jobs':>4} {'tasks':>5} {'jobwall':>7} {'drvgap':>6} {'max1':>5}"
    )
    for name in names:
        try:
            r = profile(spark, QUERIES[name], name, args.sf, args.runs)
            gap = round(r["exec_s"] - r["job_s"], 3)
            print(
                f"{name:36s} {r['wall_s']:6.2f} {r['build_s']:6.2f}"
                f" {r['exec_s']:6.2f} {r['n_jobs']:4d} {r['n_tasks']:5d}"
                f" {r['job_s']:7.2f} {gap:6.2f} {r['max1']:5.2f}",
                flush=True,
            )
            _print_jobs(r["jobs"])
        except Exception as e:
            print(f"{name}: ERROR {e}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
