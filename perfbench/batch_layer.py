"""batch_layer: one archived hour per op through the batch layer.

Set-up writes ``N_HOURS`` seeded hours through
``sinks.parquet.write_partitioned_archive`` and seeds ``user_metadata``
in Derby. Op ``i`` processes hour ``i``: the pruned
``sources.parquet.read_partitioned_archive(at=hour)`` plus
``sources.jdbc.read_jdbc`` of the dimension, ``jobs.batch.BatchJob.run``,
and ``sinks.jdbc.write_jdbc`` appends into ``bytes_hourly`` and
``user_quota_limit``. No streaming runs.
"""

from __future__ import annotations

import datetime as dt
import time

import pyarrow as pa
import pyarrow.parquet as pq

import checks
import gen
from harness import DERBY, median_or_0

WARMUP_OPS = 12
OPS_PER_SECOND = 1.4
ROWS_PER_HOUR = 40000

METRIC_TABLE_DDL = (
    'CREATE TABLE {} ("timestamp" TIMESTAMP, "id" VARCHAR(128),'
    ' "value" DOUBLE, "type" VARCHAR(64))'
)
QUOTA_TABLE_DDL = (
    'CREATE TABLE user_quota_limit ("email" VARCHAR(128), "usage" DOUBLE,'
    ' "quota" DOUBLE, "timestamp" TIMESTAMP)'
)
USER_TABLE_DDL = (
    'CREATE TABLE user_metadata ("id" VARCHAR(64) PRIMARY KEY,'
    ' "name" VARCHAR(64), "email" VARCHAR(128), "quota" BIGINT)'
)


def provision_user_metadata(ctx) -> None:
    rows = ", ".join(
        f"('{uid}', '{name}', '{email}', {quota})"
        for uid, name, email, quota in gen.users()
    )
    ctx.derby_execute(USER_TABLE_DDL, f"INSERT INTO user_metadata VALUES {rows}")


class Workload:
    warmup_ops = WARMUP_OPS
    notes: dict = {}

    def ops(self, seconds: int) -> int:
        return max(4, round(seconds * OPS_PER_SECOND))

    def setup(self, ctx) -> None:
        from kcbdml9_big_data_processing_spark.jobs.batch import (
            BatchJob,
            BatchJobConfig,
        )
        from kcbdml9_big_data_processing_spark.sinks.parquet import (
            write_partitioned_archive,
        )

        self.ctx = ctx
        self.n_hours = self.warmup_ops + self.ops(ctx.seconds)
        self.hours = gen.batch_hours(ctx.seed, self.n_hours, ROWS_PER_HOUR)
        self.job = BatchJob(
            BatchJobConfig(
                fact_key="id",
                dim_key="id",
                ts_col="timestamp",
                value_col="bytes",
                metrics=list(gen.BATCH_METRICS),
                quota_user_col="email",
                quota_col="quota",
            )
        )
        self.archive = ctx.path("archive")
        with ctx.tracer.span("setup.inputs"):
            raw = ctx.path("raw.parquet")
            rows = [r for hour in self.hours for r in hour]
            pq.write_table(
                pa.table(
                    {
                        "timestamp": pa.array(
                            [r[0] * 1_000_000 for r in rows], pa.timestamp("us", "UTC")
                        ),
                        "id": [r[1] for r in rows],
                        "antenna_id": [r[2] for r in rows],
                        "bytes": pa.array([r[3] for r in rows], pa.int64()),
                        "app": [r[4] for r in rows],
                    }
                ),
                raw,
            )
            write_partitioned_archive(ctx.spark.read.parquet(raw), self.archive)
        with ctx.tracer.span("setup.serving"):
            provision_user_metadata(ctx)
            ctx.derby_execute(
                METRIC_TABLE_DDL.format("bytes_hourly"), QUOTA_TABLE_DDL
            )
        self.first_output_s: list[float] = []
        self.fanout_s: list[float] = []
        self.rows_out: dict[str, int] = {}

    def op(self, i: int) -> None:
        from kcbdml9_big_data_processing_spark.sinks.jdbc import write_jdbc
        from kcbdml9_big_data_processing_spark.sources.jdbc import read_jdbc
        from kcbdml9_big_data_processing_spark.sources.parquet import (
            read_partitioned_archive,
        )

        ctx = self.ctx
        at = gen.EPOCH0.replace(tzinfo=None) + dt.timedelta(hours=i)
        fact = read_partitioned_archive(ctx.spark, self.archive, at=at)
        dim = read_jdbc(ctx.spark, ctx.derby_url, "user_metadata", driver=DERBY)
        tracer = ctx.tracer
        outputs: list[float] = []

        def write(tag, df):
            table = "user_quota_limit" if tag == "quota_violations" else "bytes_hourly"
            t0 = time.perf_counter()
            write_jdbc(df, ctx.derby_url, table, driver=DERBY)
            t1 = time.perf_counter()
            tracer.add_span(f"jobs.batch.write.{tag}", t0, t1)
            outputs.append(t1 - t0)

        with tracer.span("jobs.batch.run"):
            self.job.run(fact, dim, write)
        if tracer.enabled and i >= self.warmup_ops:
            self.first_output_s.append(outputs[0])
            self.fanout_s.append(sum(outputs[1:]))

    def finish_pass(self) -> None:
        pass

    def check(self) -> dict[int, str]:
        """Every hour's serving rows equal the generator's sums."""
        from kcbdml9_big_data_processing_spark.sources.jdbc import read_jdbc

        spark, url = self.ctx.spark, self.ctx.derby_url
        base = int(gen.EPOCH0.timestamp())

        def hour_of(r):
            return (checks.epoch_s(r["timestamp"]) - base) // 3600

        hourly, hourly_twice = checks.group_by_op(
            read_jdbc(spark, url, "bytes_hourly", driver=DERBY).collect(),
            hour_of,
            lambda r: (r["type"], checks.epoch_s(r["timestamp"]), r["id"]),
            lambda r: r["value"],
        )
        quota, quota_twice = checks.group_by_op(
            read_jdbc(spark, url, "user_quota_limit", driver=DERBY).collect(),
            hour_of,
            lambda r: (r["email"], r["usage"], r["quota"], checks.epoch_s(r["timestamp"])),
            lambda r: True,
        )
        expected = [gen.batch_expected(rows) for rows in self.hours]
        for _, tag in gen.BATCH_METRICS:
            self.rows_out[tag] = sum(
                1 for h in hourly.values() for key in h if key[0] == tag
            )
        self.rows_out["quota_violations"] = sum(len(h) for h in quota.values())
        return checks.merge(
            {h: "bytes_hourly holds a row twice" for h in hourly_twice},
            {h: "user_quota_limit holds a row twice" for h in quota_twice},
            checks.compare(
                {h: e[0] for h, e in enumerate(expected)}, hourly, "bytes_hourly"
            ),
            checks.compare(
                {h: dict.fromkeys(e[1], True) for h, e in enumerate(expected) if e[1]},
                quota,
                "user_quota_limit",
            ),
        )

    def layer_metrics(self, n_ops: int) -> dict[str, tuple[float, str]]:
        n = len(self.hours)
        return {
            "jobs.batch.first_output_s": (median_or_0(self.first_output_s), "s"),
            "jobs.batch.fanout_s": (median_or_0(self.fanout_s), "s"),
            **{
                f"jobs.batch.rows_out.{tag}": (count / n, "count")
                for tag, count in sorted(self.rows_out.items())
            },
        }

    def close(self) -> None:
        pass
