"""Full lambda-architecture integration: the reference's entire
topology executed end-to-end on real engines —

  speed layer:  stream -> watermarked windowed metrics -> JDBC (Derby)
                stream -> checkpointed hive-partitioned parquet archive
  batch layer:  pruned one-hour archive read -> dimension enrich ->
                hourly metrics + quota report -> JDBC serving tables
  serving:      JDBC tables read back and checked against direct
                batch computation

(streaming/StreamingJob.scala:26-46 + batch/BatchJob.scala:28-47 +
provisioner/JdbcProvisioner.scala, as one flow.)
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F
from pyspark.sql import types as T

from kcbdml9_big_data_processing_spark.jobs.batch import BatchJob, BatchJobConfig
from kcbdml9_big_data_processing_spark.sinks.jdbc import write_jdbc
from kcbdml9_big_data_processing_spark.sources.files import read_file_stream
from kcbdml9_big_data_processing_spark.sources.jdbc import read_jdbc
from kcbdml9_big_data_processing_spark.sources.parquet import read_partitioned_archive
from kcbdml9_big_data_processing_spark.streaming.job import (
    StreamingJob,
    StreamingJobConfig,
)

DERBY = "org.apache.derby.jdbc.EmbeddedDriver"

SCHEMA = T.StructType(
    [
        T.StructField("timestamp", T.TimestampType(), True),
        T.StructField("id", T.StringType(), True),
        T.StructField("antenna_id", T.StringType(), True),
        T.StructField("bytes", T.LongType(), True),
    ]
)


def test_lambda_end_to_end(spark, tmp_path):
    url = f"jdbc:derby:{tmp_path}/serving;create=true"
    # --- fixture: two hours of device messages -------------------------
    rows = [
        (dt.datetime(2024, 3, 1, 10, 0, 10), "u1", "a1", 100),
        (dt.datetime(2024, 3, 1, 10, 1, 0), "u2", "a1", 50),
        (dt.datetime(2024, 3, 1, 10, 40, 0), "u1", "a2", 200),
        (dt.datetime(2024, 3, 1, 11, 5, 0), "u1", "a1", 999),  # next hour
    ]
    src_dir = str(tmp_path / "src")
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(src_dir)

    # --- speed layer ---------------------------------------------------
    def metric_writer(batch_df, batch_id: int) -> None:
        write_jdbc(batch_df, url, "bytes", driver=DERBY)

    # seed the streaming serving table (append needs a target)
    empty_metric = spark.createDataFrame(
        [],
        "timestamp timestamp, id string, value bigint, type string",
    )
    empty_metric.write.format("jdbc").option("url", url).option(
        "dbtable", "bytes"
    ).option("driver", DERBY).mode("overwrite").save()

    stream = read_file_stream(spark, src_dir, SCHEMA, fmt="parquet")
    job = StreamingJob(
        spark,
        StreamingJobConfig(
            metrics=[("antenna_id", "antenna_bytes_total")],
            window="90 seconds",
            watermark="15 seconds",
            archive_path=str(tmp_path / "archive"),
            checkpoint_root=str(tmp_path / "ckpts"),
            available_now=True,
        ),
    )
    job.start(stream, metric_writer)
    job.await_all()

    # archive is hive-partitioned by event time
    assert (tmp_path / "archive" / "year=2024" / "month=3" / "day=1").exists()

    # --- batch layer: one pruned hour + dimension enrich --------------
    archived_hour = read_partitioned_archive(
        spark, str(tmp_path / "archive"), at=dt.datetime(2024, 3, 1, 10)
    )
    assert archived_hour.count() == 3  # 11:05 row pruned away

    dim = spark.createDataFrame(
        [("u1", "alice@x.com", 250), ("u2", "bob@x.com", 10)],
        "id string, email string, quota long",
    )
    written: list[str] = []

    def serve(name: str, df):
        table = {"metrics": "bytes_hourly", "quota_violations": "user_quota_limit"}[name]
        df.write.format("jdbc").option("url", url).option("dbtable", table).option(
            "driver", DERBY
        ).mode("overwrite").save()
        written.append(table)

    BatchJob(
        BatchJobConfig(
            fact_key="id",
            dim_key="id",
            ts_col="timestamp",
            value_col="bytes",
            metrics=[("email", "email_bytes_total")],
            quota_user_col="email",
            quota_col="quota",
        )
    ).run(archived_hour, dim, serve)
    assert sorted(written) == ["bytes_hourly", "user_quota_limit"]

    # --- serving: read back over JDBC and check ------------------------
    hourly = {
        (r["id"],): r["value"]
        for r in read_jdbc(spark, url, "bytes_hourly", driver=DERBY).collect()
    }
    # hour 10 totals: alice 300, bob 50
    assert hourly[("alice@x.com",)] == 300.0
    assert hourly[("bob@x.com",)] == 50.0

    quota = read_jdbc(spark, url, "user_quota_limit", driver=DERBY).collect()
    # alice 300 > 250 violates; bob 50 > 10 violates too
    got = {(r["email"], r["usage"], r["quota"]) for r in quota}
    assert got == {("alice@x.com", 300.0, 250.0), ("bob@x.com", 50.0, 10.0)}

    # speed-layer serving table got the finalized 90s windows
    speed = read_jdbc(spark, url, "bytes", driver=DERBY).collect()
    speed_vals = {(r["id"], r["value"]) for r in speed}
    # [10:00:00,10:01:30) window for a1 = 150 finalized by the later rows
    assert ("a1", 150) in speed_vals
