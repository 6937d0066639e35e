"""speed_layer: one long-running ``streaming.job.StreamingJob``.

The job runs the three windowed metrics (90 s windows, 15 s watermark),
each query's ``foreachBatch`` appending through ``sinks.jdbc.write_jdbc``
into the Derby ``bytes`` table, plus the hour-partitioned parquet
archive, all over one JSON file source. Op ``i`` lands seeded file
``i`` atomically (rename into the watched directory), then calls
``processAllAvailable()`` on every query.

The ``bytes`` table is created in set-up and written with plain
``write_jdbc`` appends; NOTES.md says why the package's idempotent
writer is not used.
"""

from __future__ import annotations

import os
import threading
import time

import checks
import gen
from harness import DERBY, median_or_0

WARMUP_OPS = 16
OPS_PER_SECOND = 1
ROWS_PER_FILE = 2000
#: processAllAvailable rounds allowed for the final windows to land
FLUSH_ROUNDS = 40

#: lastProgress.durationMs phases reported per query, by metric suffix
PHASES = {
    "trigger_ms": "triggerExecution",
    "add_batch_ms": "addBatch",
    "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
    "latest_offset_ms": "latestOffset",
    "query_planning_ms": "queryPlanning",
}
QUERIES = [tag for _, tag in gen.SPEED_METRICS] + ["archive"]


class Workload:
    warmup_ops = WARMUP_OPS
    notes: dict = {}

    def ops(self, seconds: int) -> int:
        return max(4, seconds * OPS_PER_SECOND)

    def setup(self, ctx) -> None:
        from kcbdml9_big_data_processing_spark.schemas import DEVICE_MESSAGE_SCHEMA
        from kcbdml9_big_data_processing_spark.sinks.jdbc import write_jdbc
        from kcbdml9_big_data_processing_spark.sources.files import read_file_stream
        from kcbdml9_big_data_processing_spark.streaming.job import (
            StreamingJob,
            StreamingJobConfig,
        )

        self.ctx = ctx
        tracer = ctx.tracer
        n_files = self.warmup_ops + self.ops(ctx.seconds)
        self.stage, self.incoming = ctx.path("stage"), ctx.path("incoming")
        self.archive = ctx.path("archive")
        os.makedirs(self.stage)
        os.makedirs(self.incoming)
        with tracer.span("setup.inputs"):
            self.files = gen.speed_files(ctx.seed, n_files + 1, ROWS_PER_FILE)
            # the extra last file only moves the watermark past every
            # window of the real ones, so the check sees them all final
            for k, (data, _) in enumerate(self.files):
                with open(os.path.join(self.stage, _name(k)), "wb") as f:
                    f.write(data)
        with tracer.span("setup.serving"):
            ctx.derby_execute(
                'CREATE TABLE bytes ("timestamp" TIMESTAMP, "id" VARCHAR(128),'
                ' "value" DOUBLE, "type" VARCHAR(64))'
            )

        self.write_s: list[float] = []
        lock = threading.Lock()
        url = ctx.derby_url

        def metric_writer(batch_df, batch_id: int) -> None:
            t0 = time.perf_counter()
            write_jdbc(batch_df, url, "bytes", driver=DERBY)
            if tracer.enabled:
                with lock:
                    self.write_s.append(time.perf_counter() - t0)

        source = read_file_stream(ctx.spark, self.incoming, DEVICE_MESSAGE_SCHEMA)
        self.job = StreamingJob(
            ctx.spark,
            StreamingJobConfig(
                metrics=list(gen.SPEED_METRICS),
                archive_path=self.archive,
                checkpoint_root=ctx.path("checkpoints"),
            ),
        )
        t0 = time.perf_counter()
        with tracer.span("streaming.start"):
            self.job.start(source, metric_writer)
            for q in self.job.queries:
                q.processAllAvailable()
        self.start_s = time.perf_counter() - t0
        self.by_name = {q.name: q for q in self.job.queries}
        self._last_batch = {name: -1 for name in self.by_name}
        self._progress: dict[str, list[float]] = {}
        self._writes_seen = 0
        self.archive_files_before = 0

    def op(self, i: int) -> None:
        os.rename(
            os.path.join(self.stage, _name(i)), os.path.join(self.incoming, _name(i))
        )
        for q in self.job.queries:
            q.processAllAvailable()
        if self.ctx.tracer.enabled and i >= self.warmup_ops:
            self._collect_progress()
        elif i == self.warmup_ops - 1:
            for name, q in self.by_name.items():
                self._last_batch[name] = _last_batch_id(q)
            self._writes_seen = len(self.write_s)
            self.archive_files_before = _count_files(self.archive)

    def _collect_progress(self) -> None:
        """Fold the progress of the batches this op ran into per-query
        per-op totals (an op may run a data and a no-data batch)."""
        for name, q in self.by_name.items():
            new = [p for p in q.recentProgress if p["batchId"] > self._last_batch[name]]
            if not new:
                continue
            self._last_batch[name] = max(p["batchId"] for p in new)
            for metric, phase in PHASES.items():
                total = sum(p["durationMs"].get(phase, 0) for p in new)
                self._progress.setdefault(f"{name}.{metric}", []).append(total)
            if name != "archive":
                ops = [p["stateOperators"][0] for p in new if p["stateOperators"]]
                self._progress.setdefault(f"{name}.state_commit_ms", []).append(
                    sum(s.get("commitTimeMs", 0) for s in ops)
                )
                if ops:
                    self._progress.setdefault(f"{name}.state_rows", []).append(
                        ops[-1]["numRowsTotal"]
                    )

    def finish_pass(self) -> None:
        self.archive_files_after = _count_files(self.archive)
        # check() flushes the last windows through more writes
        self._writes_timed = len(self.write_s)

    def check(self) -> dict[int, str]:
        """The finalized windows in Derby equal the generator's sums,
        and the archive holds every row. Window and row ``k`` belong
        to op ``k``, whose file holds exactly their events."""
        ctx = self.ctx
        last = len(self.files) - 1
        os.rename(
            os.path.join(self.stage, _name(last)), os.path.join(self.incoming, _name(last))
        )
        expected: dict[int, dict] = {
            k: gen.speed_expected(rows) for k, (_, rows) in enumerate(self.files[:last])
        }
        want_rows = sum(len(e) for e in expected.values())
        for _ in range(FLUSH_ROUNDS):
            for q in self.job.queries:
                q.processAllAvailable()
            if ctx.derby_count("bytes") >= want_rows:
                break
            time.sleep(0.25)
        self.job.stop()

        from pyspark.sql import functions as F

        from kcbdml9_big_data_processing_spark.sources.jdbc import read_jdbc

        base = int(gen.EPOCH0.timestamp())
        windows, twice = checks.group_by_op(
            read_jdbc(ctx.spark, ctx.derby_url, "bytes", driver=DERBY).collect(),
            lambda r: (checks.epoch_s(r["timestamp"]) - base) // gen.FILE_SPAN_S,
            lambda r: (r["type"], checks.epoch_s(r["timestamp"]), r["id"]),
            lambda r: r["value"],
        )
        self.jdbc_rows = {k: len(v) for k, v in windows.items()}
        archived = (
            ctx.spark.read.parquet(self.archive)
            .selectExpr(
                f"cast((unix_timestamp(timestamp) - {base}) div {gen.FILE_SPAN_S} as int) k",
                "bytes",
            )
            .groupBy("k")
            .agg(F.count("*").alias("n"), F.sum("bytes").alias("bytes"))
            .collect()
        )
        bad = checks.merge(
            {k: "a window was written to bytes twice" for k in twice},
            checks.compare(expected, windows, "bytes"),
            checks.compare(
                {k: (len(rows), sum(r[3] for r in rows)) for k, (_, rows) in enumerate(self.files)},
                {r["k"]: (r["n"], r["bytes"]) for r in archived},
                "archive",
            ),
        )
        # the flush file's own windows are still open
        bad.pop(last, None)
        return bad

    def layer_metrics(self, n_ops: int) -> dict[str, tuple[float, str]]:
        timed = range(self.warmup_ops, self.warmup_ops + n_ops)
        out: dict[str, tuple[float, str]] = {"streaming.start_s": (self.start_s, "s")}
        for name in QUERIES:
            for metric in PHASES:
                out[f"streaming.{name}.{metric}"] = (
                    median_or_0(self._progress.get(f"{name}.{metric}", [])),
                    "ms",
                )
            if name != "archive":
                out[f"streaming.{name}.state_rows"] = (
                    median_or_0(self._progress.get(f"{name}.state_rows", [])),
                    "count",
                )
                out[f"streaming.{name}.state_commit_ms"] = (
                    median_or_0(self._progress.get(f"{name}.state_commit_ms", [])),
                    "ms",
                )
        writes = self.write_s[self._writes_seen : self._writes_timed]
        out["sinks.jdbc.write_s"] = (sum(writes) / n_ops, "s")
        out["sinks.jdbc.rows"] = (
            sum(self.jdbc_rows.get(k, 0) for k in timed) / n_ops,
            "count",
        )
        out["sinks.archive.files"] = (
            (self.archive_files_after - self.archive_files_before) / n_ops,
            "count",
        )
        return out

    def close(self) -> None:
        job = getattr(self, "job", None)
        if job is not None:
            job.stop()


def _name(k: int) -> str:
    return f"part-{k:05d}.json"


def _last_batch_id(q) -> int:
    progress = q.lastProgress
    return progress["batchId"] if progress else -1


def _count_files(path: str) -> int:
    n = 0
    for _, _, files in os.walk(path):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


