"""Steadiness check: run every workload on several seeds, in two
interleaved sets, and report each end-to-end metric's median and
quartile spread per set.

    python3 perfbench/steadiness.py --runs 10 [--workloads speed_layer,...]

The spread is (Q3 - Q1) / median over one set's runs, with the
quartiles of ``statistics.quantiles(values, n=4)``; the drift is how
much worse set B's median is than set A's. Both are compared with the
metric's ``bound`` in BENCHMARK.json. Set A uses seeds 1..runs, set B
seeds 101..100+runs, and the two sets alternate run by run so that a
host that drifts over the check affects both alike. It also prints the
median op time by op index over all runs, warm-up ops included, to show
whether the timed ops come after the ops settled.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(spec: dict, workload: str, seed: int) -> dict:
    cmd = spec["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(spec["run_seconds"]), "--trace", "0",
    ]
    t0 = time.monotonic()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.monotonic() - t0
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed} exited {proc.returncode}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    result["wall_s"] = wall
    with open(os.path.join(ROOT, ".perfbench_out", f"{workload}-seed{seed}-trace0.json")) as f:
        side = json.load(f)
    result["warmup_ops"] = len(side["warmup_op_s"])
    result["op_s"] = side["warmup_op_s"] + side["op_s"]
    return result


def _spread(values: list[float]) -> tuple[float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), (q3 - q1) / statistics.median(values)


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--workloads", default=None)
    p.add_argument("--out", default=os.path.join(ROOT, ".perfbench_out", "steadiness.json"))
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = (
        args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
    )
    results: dict[str, dict[str, list[dict]]] = {w: {"A": [], "B": []} for w in names}
    sets = ["A", "B"]
    for i in range(args.runs):
        for w in names:
            for s in (sets if i % 2 == 0 else sets[::-1]):
                seed = (1 if s == "A" else 101) + i
                r = _run(spec, w, seed)
                results[w][s].append(r)
                print(
                    f"{w} set {s} seed {seed}: correct={r['correct']}"
                    f" failed={r['failed']}/{r['attempted']} wall={r['wall_s']:.1f}s "
                    + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
                    flush=True,
                )
    ok = True
    for w in names:
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            line = [f"{w:14s} {name:10s} bound {bound:.2f}"]
            medians = {}
            for s in sets:
                vals = [r["metrics"][name]["value"] for r in results[w][s]]
                med, spread = _spread(vals)
                medians[s] = med
                line.append(f"{s}: median {med:.4g} spread {spread:.3f}")
                if name != "setup_s" and spread > bound:
                    ok = False
            drift = medians["B"] / medians["A"] - 1
            line.append(f"drift {drift:+.3f}")
            if drift > bound:
                ok = False
            print("  ".join(line))
        runs = results[w]["A"] + results[w]["B"]
        # median op time by op index over every run: flat after the
        # warm-up ("|") when the timed ops come after the ops settled
        curve = [
            f"{statistics.median(r['op_s'][i] for r in runs):.3f}"
            for i in range(min(len(r["op_s"]) for r in runs))
        ]
        curve.insert(runs[0]["warmup_ops"], "|")
        print(f"{w:14s} op_s by index: {' '.join(curve)}")
        walls = [r["wall_s"] for s in sets for r in results[w][s]]
        fails = sum(r["failed"] for s in sets for r in results[w][s])
        print(f"{w:14s} wall median {statistics.median(walls):.1f}s max {max(walls):.1f}s, failed ops {fails}")
    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(results, f, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
