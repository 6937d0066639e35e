"""Process-level interleaved A/B of two commits: alternate fresh-process
legs running the checkout (the change arm) vs a base revision (the
base arm). Losing arms live in git history, so any behaviour or conf
change is compared against the commit before it.

    PYTHONPATH=. python tools/ab_process.py QUERY [QUERY...]
        --base REV [--legs N] [--runs N] [--sf DIR]

The base arm's children import the package from a ``git archive``
extract of REV in a temp dir (removed on exit; unlike a worktree, it
leaves nothing registered in the repository if the run is killed);
the change arm's children import it from this checkout. Each leg spawns one
child per arm (order alternates per leg); each child warms up
(building its per-process stores), then times the queries
median-of-N with the noop sink. Window drift hits both arms equally
across legs. Five legs by default: an A/A run (``--base HEAD``) at
three legs put two rows' medians outside the base IQR with identical
code, and at five it did not.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

_CHILD = r"""
import json, sys, time
sys.path.insert(0, {root!r})
from kcbdml9_big_data_processing_spark.queries import QUERIES
from kcbdml9_big_data_processing_spark.session import get_spark
spark = get_spark(app_name="ab_process")
spark.range(1_000_000).selectExpr("sum(id)").collect()
out = {{}}
for name in {queries!r}:
    QUERIES[name].fn(spark, {sf!r}).write.mode("overwrite").format("noop").save()
    spark.catalog.clearCache()
    samples = []
    for _ in range({runs!r}):
        t0 = time.time()
        QUERIES[name].fn(spark, {sf!r}).write.mode("overwrite").format("noop").save()
        samples.append(round(time.time() - t0, 3))
        spark.catalog.clearCache()
    out[name] = samples
print("ABRESULT " + json.dumps(out))
spark.stop()
"""


def run_child(root, queries, sf, runs):
    code = _CHILD.format(root=root, queries=queries, sf=sf, runs=runs)
    p = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        env={**os.environ, "PYTHONPATH": root},
    )
    for line in p.stdout.splitlines():
        if line.startswith("ABRESULT "):
            return json.loads(line[len("ABRESULT "):])
    raise RuntimeError(f"child failed: rc={p.returncode}\n{p.stderr[-2000:]}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--base", required=True, help="git revision of the base arm")
    ap.add_argument("--legs", type=int, default=5)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument(
        "--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    args = ap.parse_args()

    tmp = tempfile.mkdtemp(prefix="ab_base_")
    base_root = os.path.join(tmp, "tree")
    try:
        os.mkdir(base_root)
        archive = subprocess.run(
            ["git", "-C", ROOT, "archive", args.base],
            check=True,
            capture_output=True,
        )
        subprocess.run(
            ["tar", "-x", "-C", base_root], input=archive.stdout, check=True
        )
        changes: dict[str, list[float]] = {q: [] for q in args.queries}
        bases: dict[str, list[float]] = {q: [] for q in args.queries}
        for leg in range(args.legs):
            arms = [("change", ROOT, changes), ("base", base_root, bases)]
            if leg % 2:
                arms.reverse()
            for arm, root, tgt in arms:
                res = run_child(root, args.queries, args.sf, args.runs)
                for q, samples in res.items():
                    tgt[q].extend(samples)
                print(f"leg {leg} {arm}: {res}", flush=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    med = lambda xs: sorted(xs)[len(xs) // 2]
    for q in args.queries:
        print(
            f"{q}: CHANGE(median)={med(changes[q])} BASE(median)={med(bases[q])}"
            f"  change={changes[q]} base={bases[q]}",
            flush=True,
        )


if __name__ == "__main__":
    main()
