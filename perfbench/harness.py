"""The closed-loop timing harness shared by every workload.

A run is one process: set up (session, inputs, warm-up ops), then one
timed pass of a fixed list of ops of a single kind, each op issued
only after the previous one returned, then the output checks. All
timing is taken here, around calls into the package's public
functions.

A workload is an object with:

- ``warmup_ops`` and ``ops(seconds)``: how many ops warm up and how
  many the timed pass holds (a fixed function of ``--seconds``);
- ``setup(ctx)``: build inputs and tables;
- ``op(i)``: op ``i`` (warm-up ops are ``0..warmup_ops-1``);
- ``finish_pass()``: work that belongs to the pass but is no op;
- ``check()``: {op index: reason} of the ops whose outputs are wrong;
- ``layer_metrics(n_ops)``: its per-layer metrics, from the tracer;
- ``notes``: a dict for the sidecar, filled by ``check()``;
- ``close()``.
"""

from __future__ import annotations

import os
import statistics
import time
import traceback

import host
from py4j.protocol import Py4JError

DERBY = "org.apache.derby.jdbc.EmbeddedDriver"


def median_or_0(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


class Context:
    """What a workload sees: the session, the seed, its scratch
    directory and the tracer."""

    def __init__(self, spark, seed: int, seconds: int, work: str, tracer):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.tracer = tracer
        self.derby_url = f"jdbc:derby:{work}/derby/serving;create=true"

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def derby_execute(self, *statements: str) -> None:
        """Run DDL/DML over a plain JDBC connection in the driver JVM."""
        jvm = self.spark._jvm
        jvm.java.lang.Class.forName(DERBY)
        conn = jvm.java.sql.DriverManager.getConnection(self.derby_url)
        try:
            stmt = conn.createStatement()
            try:
                for sql in statements:
                    stmt.executeUpdate(sql)
            finally:
                stmt.close()
        finally:
            conn.close()

    def derby_count(self, table: str) -> int:
        jvm = self.spark._jvm
        conn = jvm.java.sql.DriverManager.getConnection(self.derby_url)
        try:
            stmt = conn.createStatement()
            rs = stmt.executeQuery(f"SELECT COUNT(*) FROM {table}")
            rs.next()
            n = int(rs.getLong(1))
            stmt.close()
            return n
        finally:
            conn.close()


class JobCounter:
    """Spark jobs and completed tasks per op, over every thread
    (streaming queries and their foreachBatch writers included): jobs
    are the growth of the scheduler's job id counter, tasks come from
    the status store once the listener bus has drained."""

    def __init__(self, spark):
        sc = spark.sparkContext._jsc.sc()
        self._dag = sc.dagScheduler()
        self._store = sc.statusStore()
        self._bus = sc.listenerBus()
        self._next = self._job_id()

    def _job_id(self) -> int:
        # py4j hands the AtomicInteger over as its current value
        return int(self._dag.nextJobId())

    def mark(self) -> None:
        self._next = self._job_id()

    def since_mark(self) -> tuple[int, int]:
        end = self._job_id()
        self._bus.waitUntilEmpty()
        tasks = 0
        for job_id in range(self._next, end):
            try:
                tasks += self._store.job(job_id).numCompletedTasks()
            except Py4JError:  # evicted from the store: count the job only
                pass
        n_jobs, self._next = end - self._next, end
        return n_jobs, tasks


def measure(workload, ctx: Context, t_process: float, jvm_pid: int):
    """Run set-up, warm-up, the timed pass and the checks; return
    (result dict for stdout, per-layer metrics, sidecar extras)."""
    tracer = ctx.tracer
    load0 = host.loadavg()
    warmup_s: list[float] = []
    with tracer.span("setup"):
        workload.setup(ctx)
        for i in range(workload.warmup_ops):
            t0 = time.perf_counter()
            with tracer.span("warmup_op"):
                workload.op(i)
            warmup_s.append(time.perf_counter() - t0)
    jobs = JobCounter(ctx.spark) if tracer.enabled else None
    if jobs is not None:
        jobs.mark()

    n_ops = workload.ops(ctx.seconds)
    first = workload.warmup_ops
    op_s: list[float] = []
    steal0, cpu0 = host.cpu_times(), host.tree_cpu_s(os.getpid())
    t_pass = time.perf_counter()
    setup_s = time.monotonic() - t_process
    raised: dict[int, str] = {}
    for i in range(first, first + n_ops):
        t0 = time.perf_counter()
        try:
            with tracer.span("op"):
                workload.op(i)
        except Exception as e:  # a failed op is counted, the pass goes on
            traceback.print_exc()
            raised[i] = f"op raised {e!r}"[:500]
        else:
            op_s.append(time.perf_counter() - t0)
        if jobs is not None:
            n_jobs, n_tasks = jobs.since_mark()
            tracer.count("spark.jobs", n_jobs)
            tracer.count("spark.tasks", n_tasks)
    with tracer.span("finish_pass"):
        workload.finish_pass()
    pass_s = time.perf_counter() - t_pass
    cpu_s = host.tree_cpu_s(os.getpid()) - cpu0
    steal = host.steal_ratio(steal0, host.cpu_times())

    timed = range(first, first + n_ops)
    try:
        with tracer.span("check"):
            bad = workload.check()
    except Exception as e:  # outputs that cannot be read back are wrong
        traceback.print_exc()
        bad = dict.fromkeys(timed, f"check raised {e!r}"[:500])
    bad.update(raised)
    failed = sum(1 for i in timed if i in bad)
    setup_bad = {i: r for i, r in bad.items() if i not in timed}

    end_to_end = {
        "setup_s": (setup_s, "s"),
        "pass_s": (pass_s, "s"),
        "op_p50_s": (median_or_0(op_s), "s"),
    }
    layers = {
        "host.steal_ratio": (steal, "ratio"),
        "host.loadavg_start": (load0, "load"),
        "host.cpu_s": (cpu_s, "s"),
        "host.jvm_hwm_mb": (host.vm_hwm_mb(jvm_pid), "MB"),
    }
    if tracer.enabled:
        layers["spark.jobs"] = (tracer.counts["spark.jobs"] / n_ops, "count")
        layers["spark.tasks"] = (tracer.counts["spark.tasks"] / n_ops, "count")
        layers["trace.pass_s"] = (pass_s, "s")
        layers["trace.cost_s"] = (tracer.cost_s, "s")
        layers.update(workload.layer_metrics(n_ops))
    result = {
        "correct": failed == 0 and not setup_bad,
        "attempted": n_ops,
        "failed": failed,
    }
    extras = {
        "warmup_op_s": warmup_s,
        "op_s": op_s,
        "bad": {str(k): v for k, v in bad.items()},
        "host": {k: v for k, (v, _) in layers.items() if k.startswith("host.")},
        "notes": workload.notes,
    }
    return result, end_to_end, layers, extras
