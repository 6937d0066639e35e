"""Cross-batch running totals on the built-in streaming aggregate
(groupBy(key).agg(sum, count) in update mode, the shape
stream_running_totals runs), pinned with controlled micro-batch
boundaries (one file per trigger) and across a restart on the same
checkpoint."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F
from pyspark.sql import types as T

from kcbdml9_big_data_processing_spark.sources.files import read_file_stream

SCHEMA = T.StructType(
    [
        T.StructField("timestamp", T.TimestampType(), True),
        T.StructField("key", T.StringType(), True),
        T.StructField("bytes", T.LongType(), True),
    ]
)


def test_running_totals_accumulate_across_batches(spark, tmp_path):
    src = str(tmp_path / "src")

    def feed(rows):
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(src)

    emitted: list[tuple] = []

    def sink(batch_df, batch_id: int) -> None:
        emitted.extend(
            (r["key"], r["total"], r["n_rows"]) for r in batch_df.collect()
        )

    def start():
        stream = read_file_stream(
            spark, src, SCHEMA, fmt="parquet", max_files_per_trigger=1
        )
        totals = stream.groupBy("key").agg(
            F.sum("bytes").alias("total"), F.count(F.lit(1)).alias("n_rows")
        )
        return (
            totals.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )

    t0 = dt.datetime(2024, 1, 1)
    feed([(t0, "a", 10), (t0, "a", 20), (t0, "b", 5)])
    q = start()
    try:
        q.processAllAvailable()
        assert ("a", 30, 2) in emitted and ("b", 5, 1) in emitted
        # second batch: state carries forward
        feed([(t0, "a", 70)])
        q.processAllAvailable()
    finally:
        q.stop()

    assert ("a", 100, 3) in emitted  # 30 + 70 across two micro-batches
    # b had no new data in batch 2 -> not re-emitted
    assert [e for e in emitted if e[0] == "b"] == [("b", 5, 1)]

    # restart on the same checkpoint: only the new file is processed,
    # and the totals carry on from the recovered state store
    n_before = len(emitted)
    feed([(t0, "a", 1), (t0, "b", 2)])
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert sorted(emitted[n_before:]) == [("a", 101, 4), ("b", 7, 2)]
