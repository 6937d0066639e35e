"""Benchmark entry point: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload speed_layer --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last line of stdout is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the metrics are the end-to-end ones (``setup_s``,
``pass_s``, ``op_p50_s``); with ``--trace 1`` they are the per-layer
ones, and the spans and counts go to a sidecar under
``.perfbench_out/``. Every run also writes its host diagnostics there.

All scratch (inputs, checkpoints, archive, Derby, Spark local dirs,
the JVM's temp dir) lives under ``.perfbench_work/`` in the checkout
and is removed when the run ends. See NOTES.md for the design.
"""

from __future__ import annotations

import time

T_PROCESS = time.monotonic()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("speed_layer", "batch_layer", "curate_daily")

#: pinned Spark core budget (local[CPUS]); see NOTES.md
CPUS = 2
DRIVER_MEMORY = "2g"


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(work: str) -> dict[str, str]:
    """Spark conf that keeps every file the run makes under ``work``."""
    for sub in ("tmp", "local", "derby", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ["TZ"] = "UTC"
    time.tzset()
    # every JVM (the launcher's too): no hsperfdata under /tmp, temp files here
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    java_opts = (
        "-Duser.timezone=UTC"
        f" -Djava.io.tmpdir={work}/tmp"
        f" -Dderby.system.home={work}/derby"
    )
    return {
        "spark.hadoop.hadoop.tmp.dir": os.path.join(work, "tmp"),
        "spark.driver.extraJavaOptions": java_opts,
        "spark.executor.extraJavaOptions": java_opts,
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }


def _stop(spark, proc) -> None:
    """Stop the session, then make sure its JVM has exited."""
    try:
        spark.stop()
        spark.sparkContext._gateway.shutdown()
    finally:
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def main(argv=None) -> int:
    args = _parse(argv)
    # a terminated run still stops its JVM and removes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    sys.path.insert(0, ROOT)
    # the package must be importable before anything is created
    importlib.import_module("kcbdml9_big_data_processing_spark")

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    conf = _environment(work)
    os.chdir(work)  # derby.log, spark-warehouse and friends land here

    import harness
    import spans
    from kcbdml9_big_data_processing_spark.session import get_spark

    tracer = spans.Tracer() if args.trace else spans.OFF
    workload = importlib.import_module(args.workload).Workload()
    spark = proc = None
    try:
        with tracer.span("session"):
            spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
        proc = getattr(spark.sparkContext._gateway, "proc", None)
        jvm_pid = proc.pid if proc is not None else os.getpid()
        ctx = harness.Context(spark, args.seed, args.seconds, work, tracer)
        try:
            result, end_to_end, layers, extras = harness.measure(
                workload, ctx, T_PROCESS, jvm_pid
            )
        finally:
            workload.close()
    finally:
        try:
            if spark is not None:
                _stop(spark, proc)
        finally:
            os.chdir(ROOT)
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:
                pass

    if args.trace:
        # every listed per-layer metric, reading 0 for a layer this
        # workload does not run, then any layer only this workload has
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        chosen = {
            m["name"]: (layers.get(m["name"], (0.0,))[0], m["unit"]) for m in spec["per_layer"]
        }
        chosen.update({k: v for k, v in layers.items() if k not in chosen})
    else:
        chosen = end_to_end
    result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()}
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    side = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "cpus": CPUS,
        **result,
        "end_to_end": {k: v for k, (v, _) in end_to_end.items()},
        "layers": {k: v for k, (v, _) in layers.items()},
        **extras,
    }
    if args.trace:
        tracer.dump(os.path.join(out_dir, stem + ".trace.json"), side)
    else:
        with open(os.path.join(out_dir, stem + ".json"), "w") as f:
            json.dump(side, f, indent=1)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
