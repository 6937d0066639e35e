"""Streaming semantics tests: watermark late-data eviction (T1),
foreachBatch (K1/T3), checkpoint restart (T4), multi-query
orchestration (T6). These pin behaviors the driver's batch-equality
oracle can't see — micro-batch boundaries are controlled by feeding
files one at a time and draining with processAllAvailable().
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kcbdml9_big_data_processing_spark.operators.metrics import (
    conform_metric,
    fanout_windowed_sum,
    windowed_sum,
)
from kcbdml9_big_data_processing_spark.sources.files import read_file_stream
from kcbdml9_big_data_processing_spark.streaming.job import (
    StreamingJob,
    StreamingJobConfig,
)
from kcbdml9_big_data_processing_spark.streaming.sinks import (
    start_foreach_batch,
    start_partitioned_archive,
)

SCHEMA = T.StructType(
    [
        T.StructField("timestamp", T.TimestampType(), True),
        T.StructField("key", T.StringType(), True),
        T.StructField("bytes", T.LongType(), True),
    ]
)


def _t(minute: int, second: int = 0) -> dt.datetime:
    return dt.datetime(2024, 1, 1, 0, minute, second)


def _write_file(spark, path: str, rows) -> None:
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(path)


def test_watermark_drops_late_rows_append_mode(spark, tmp_path):
    """T1: after the watermark passes a window, late rows for it are
    silently discarded (StreamingJobImpl.scala:46 semantics)."""
    src_dir = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    # batch 1: a row in window [0,90) and one at 03:30 pushing the
    # watermark to 195s — finalizing [0,90)
    _write_file(spark, src_dir, [(_t(0, 10), "a", 10), (_t(3, 30), "a", 1)])

    stream = read_file_stream(spark, src_dir, SCHEMA, fmt="parquet")
    agg = windowed_sum(stream, "key", "90 seconds", watermark="15 seconds")
    out = conform_metric(agg, "key", "wm_test")

    seen: list[tuple] = []

    def sink(batch_df, batch_id: int) -> None:
        seen.extend(tuple(r) for r in batch_df.collect())

    q = (
        out.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .queryName("wm_test")
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: a LATE row for the already-finalized [0,90) window,
        # plus an on-time row advancing the watermark past [180,270)
        _write_file(spark, src_dir, [(_t(0, 20), "a", 999), (_t(5, 0), "a", 2)])
        q.processAllAvailable()
    finally:
        q.stop()

    by_window = {(r[0], r[1]): r[2] for r in seen}
    # [0,90) emitted with only the on-time row — late 999 discarded
    assert by_window[(_t(0, 0), "a")] == 10
    # [180,270) finalized by batch 2's watermark advance
    assert by_window[(_t(3, 0), "a")] == 1
    # the trailing window [300,390) never finalized -> never emitted
    assert (_t(5, 0), "a") not in by_window
    assert 999 not in [v for v in by_window.values()]


def test_drop_duplicates_within_watermark(spark, tmp_path):
    """Streaming dedup with bounded state (the production variant of
    the stream_dedup_events registry query): a key redelivered in a
    later micro-batch within the watermark delay is suppressed by the
    state store, while genuinely new keys pass. With a plain
    dropDuplicates the state grows forever; WithinWatermark is what
    makes streaming ingestion dedup viable on an unbounded source."""
    src_dir = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    _write_file(spark, src_dir, [(_t(0, 10), "k1", 10)])

    stream = read_file_stream(spark, src_dir, SCHEMA, fmt="parquet")
    deduped = stream.withWatermark("timestamp", "10 minutes").dropDuplicatesWithinWatermark(["key"])

    seen: list[tuple] = []

    def sink(batch_df, batch_id: int) -> None:
        seen.extend((r["key"], r["bytes"]) for r in batch_df.collect())

    q = (
        deduped.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .queryName("dedup_wm_test")
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: k1 redelivered (same event time, different payload to
        # prove it's the REdelivery that is dropped) + a new key
        _write_file(
            spark, src_dir, [(_t(0, 10), "k1", 999), (_t(0, 30), "k2", 20)]
        )
        q.processAllAvailable()
    finally:
        q.stop()

    assert ("k1", 10) in seen
    assert ("k2", 20) in seen
    assert ("k1", 999) not in seen  # redelivery suppressed by state
    assert len(seen) == 2


def test_foreach_batch_sink_appends_all_batches(spark, tmp_path):
    """K1/T3: every micro-batch reaches the writer callable; union of
    batches equals the batch-mode answer."""
    src_dir = str(tmp_path / "src")
    _write_file(spark, src_dir, [(_t(0, 10), "a", 10), (_t(0, 20), "b", 20)])
    _write_file(spark, src_dir, [(_t(2, 0), "a", 30)])

    stream = read_file_stream(
        spark, src_dir, SCHEMA, fmt="parquet", max_files_per_trigger=1
    )
    got: list[tuple] = []
    batch_ids: list[int] = []

    def writer(batch_df, batch_id: int) -> None:
        batch_ids.append(batch_id)
        got.extend((r["key"], r["bytes"]) for r in batch_df.collect())

    q = start_foreach_batch(
        stream, writer, str(tmp_path / "ckpt"), "fb_test", trigger_available_now=True
    )
    q.awaitTermination()

    assert sorted(got) == [("a", 10), ("a", 30), ("b", 20)]
    assert len(batch_ids) == 2  # one per file (maxFilesPerTrigger=1)


def test_archive_checkpoint_no_reprocess_on_restart(spark, tmp_path):
    """K2/T4: restarting the archive query from its checkpoint picks up
    only new files — no duplicate rows from reprocessing."""
    src_dir = str(tmp_path / "src")
    out_dir = str(tmp_path / "archive")
    ckpt = str(tmp_path / "ckpt")
    _write_file(spark, src_dir, [(_t(0, 10), "a", 10), (_t(1, 0), "b", 20)])

    def run_once():
        stream = read_file_stream(spark, src_dir, SCHEMA, fmt="parquet")
        q = start_partitioned_archive(
            stream, out_dir, ckpt, ts_col="timestamp", trigger_available_now=True
        )
        q.awaitTermination()

    run_once()
    assert spark.read.parquet(out_dir).count() == 2
    # layout: hive partitions derived from event time (P8)
    assert (tmp_path / "archive" / "year=2024" / "month=1" / "day=1").exists()

    _write_file(spark, src_dir, [(_t(2, 0), "c", 30)])
    run_once()
    archived = spark.read.parquet(out_dir)
    assert archived.count() == 3  # 2 + 1, old file NOT reprocessed
    assert archived.where(F.col("key") == "a").count() == 1


def test_multi_query_orchestration(spark, tmp_path):
    """T6: the job starts its metric query + archive concurrently on
    one session and drains them all (StreamingJob.scala:37-43 shape)."""
    src_dir = str(tmp_path / "src")
    _write_file(
        spark,
        src_dir,
        [(_t(0, 10), "a", 10), (_t(0, 20), "b", 20), (_t(2, 0), "a", 5)],
    )
    stream = read_file_stream(spark, src_dir, SCHEMA, fmt="parquet")

    rows: list[tuple] = []

    def writer(batch_df, batch_id: int) -> None:
        rows.extend(tuple(r) for r in batch_df.collect())

    job = StreamingJob(
        spark,
        StreamingJobConfig(
            metrics=[("key", "key_bytes_total")],
            window="90 seconds",
            watermark="15 seconds",
            archive_path=str(tmp_path / "archive"),
            checkpoint_root=str(tmp_path / "ckpts"),
            available_now=True,
        ),
    )
    queries = job.start(stream, writer)
    assert len(queries) == 2  # 1 metric + archive
    job.await_all()

    assert spark.read.parquet(str(tmp_path / "archive")).count() == 3
    # append-mode metric query emitted only watermark-finalized windows:
    # [0,90) finalized by the 02:00 row; [90,180)-of-02:00 still open
    assert (_t(0, 0), "a", 10, "key_bytes_total") in rows
    assert (_t(0, 0), "b", 20, "key_bytes_total") in rows


#: three metric families of different key types: an integer, a
#: string and a nullable string key
FANOUT_SCHEMA = T.StructType(
    [
        T.StructField("timestamp", T.TimestampType(), True),
        T.StructField("antenna", T.IntegerType(), True),
        T.StructField("user", T.StringType(), True),
        T.StructField("app", T.StringType(), True),
        T.StructField("bytes", T.LongType(), True),
    ]
)
FANOUT_METRICS = [
    ("antenna", "antenna_bytes_total"),
    ("user", "user_bytes_total"),
    ("app", "app_bytes_total"),
]
FANOUT_ROWS = [
    (_t(0, 10), 1, "u1", "web", 10),
    (_t(0, 20), 2, "u1", "mail", 20),
    (_t(0, 40), 1, "u2", None, 7),
    (_t(1, 40), 1, "u2", "web", 5),
    (_t(2, 10), 10, "u3", None, 3),
]


def _per_family_group_by(spark, rows) -> set[tuple]:
    """The batch answer per family: GROUP BY key, 90 s window."""
    spark.createDataFrame(rows, FANOUT_SCHEMA).createOrReplaceTempView("fanout_src")
    want = set()
    for key, tag in FANOUT_METRICS:
        want |= {
            tuple(r)
            for r in spark.sql(
                f"""SELECT window(timestamp, '90 seconds').start AS timestamp,
                           CAST({key} AS STRING) AS id, SUM(bytes) AS value,
                           '{tag}' AS type
                    FROM fanout_src
                    GROUP BY {key}, window(timestamp, '90 seconds')"""
            ).collect()
        }
    return want


def test_fanout_windowed_sum_equals_union_of_per_key_sums(spark):
    """One fan-out aggregation returns exactly the union of the per-key
    windowed sums — an integer key cast to its string id, and a null
    app key kept as its own null-id group."""
    df = spark.createDataFrame(FANOUT_ROWS, FANOUT_SCHEMA)
    got = fanout_windowed_sum(df, FANOUT_METRICS, "90 seconds")
    assert got.columns == ["timestamp", "id", "value", "type"]
    want = None
    for key, tag in FANOUT_METRICS:
        one = conform_metric(windowed_sum(df, key, "90 seconds"), key, tag)
        want = one if want is None else want.unionAll(one)
    got_rows = sorted(map(tuple, got.collect()), key=repr)
    assert got_rows == sorted(map(tuple, want.collect()), key=repr)
    assert (_t(0, 0), "1", 17, "antenna_bytes_total") in got_rows
    assert (_t(0, 0), None, 7, "app_bytes_total") in got_rows


def test_job_runs_one_metric_query_for_all_families(spark, tmp_path):
    """A 3-metric job with an archive starts exactly 2 queries (the
    metric query and the archive), and its writer receives the same
    (timestamp, id, value, type) rows as a batch GROUP BY per family."""
    src_dir = str(tmp_path / "src")
    # file 1: the data; file 2: one row whose only role is to move the
    # watermark past every data window so append mode finalizes them
    flush = [(_t(10, 0), 99, "flush", "flush", 1)]
    for rows in (FANOUT_ROWS, flush):
        spark.createDataFrame(rows, FANOUT_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src_dir)
    stream = read_file_stream(
        spark, src_dir, FANOUT_SCHEMA, fmt="parquet", max_files_per_trigger=1
    )
    got: list[tuple] = []

    def writer(batch_df, batch_id: int) -> None:
        got.extend(tuple(r) for r in batch_df.collect())

    job = StreamingJob(
        spark,
        StreamingJobConfig(
            metrics=list(FANOUT_METRICS),
            archive_path=str(tmp_path / "archive"),
            checkpoint_root=str(tmp_path / "ckpts"),
            available_now=True,
        ),
    )
    queries = job.start(stream, writer)
    assert sorted(q.name for q in queries) == ["archive", "metrics"]
    job.await_all()

    data = [r for r in got if r[0] < _t(10, 0)]
    assert len(data) == len(set(data))  # no window written twice
    assert set(data) == _per_family_group_by(spark, FANOUT_ROWS)
    assert spark.read.parquet(str(tmp_path / "archive")).count() == 6


def test_job_state_watchdog_surfaces_violations(spark, tmp_path):
    """The production orchestration can opt into the
    live state watchdog — a running multi-query job records live
    per-batch state series, and a state-growth violation surfaces
    through the JOB API (state_peaks / state_violations), not through
    a loose listener the operator had to wire by hand."""
    import time

    from kcbdml9_big_data_processing_spark.streaming import telemetry

    src_dir = str(tmp_path / "src")
    _write_file(
        spark,
        src_dir,
        [(_t(0, 10), "a", 10), (_t(0, 20), "b", 20), (_t(2, 0), "a", 5)],
    )
    stream = read_file_stream(spark, src_dir, SCHEMA, fmt="parquet")

    job = StreamingJob(
        spark,
        StreamingJobConfig(
            metrics=[("key", "watchdog_key_bytes")],
            window="90 seconds",
            watermark="15 seconds",
            checkpoint_root=str(tmp_path / "ckpts"),
            available_now=True,
            state_watchdog=True,
        ),
    )
    try:
        # the writer must process every partition (Spark's state-store
        # commit validation rejects a foreachBatch that skips them)
        job.start(stream, lambda batch_df, batch_id: batch_df.count())
        job.await_all()
        # listener callbacks land on a JVM thread — poll briefly
        peaks = {}
        for _ in range(100):
            peaks = job.state_peaks()
            if peaks.get("metrics", 0) > 0:
                break
            time.sleep(0.2)
        assert peaks.get("metrics", 0) > 0, (
            "watchdog recorded no state for the windowed agg"
        )
        # the alarm: a ceiling of 0 rows is violated by any state...
        assert "metrics" in job.state_violations(0)
        # ...a generous one is not
        assert job.state_violations(10_000) == {}
        # live series is queryable through the plateau predicate too
        assert job.state_plateaus("metrics", 10_000)
        # an unobserved name must be LOUD — an empty series vacuously
        # plateaus, so a typo (or a metric tag, which names no query)
        # must not silently pass
        import pytest

        with pytest.raises(KeyError, match="no series"):
            job.state_plateaus("watchdog_key_bytes", 10_000)
        # the job keeps its OWN store, not the shared
        # LAST_STATE['live'] — concurrent/restarted jobs can't
        # cross-contaminate
        assert "metrics" not in telemetry.LAST_STATE.get(
            "live", {}
        )
    finally:
        job.stop()
        telemetry.LAST_STATE.pop("live", None)
    # stop() unhooked the listener, dropped the handle, cleared state
    assert job._listener is None and job._state_store == {}

    # watchdog off -> the API refuses instead of returning empties
    cold = StreamingJob(spark, StreamingJobConfig())
    import pytest

    with pytest.raises(RuntimeError, match="state_watchdog"):
        cold.state_peaks()


def test_default_checkpoint_roots_are_unique():
    """Two jobs built with defaults must never share checkpoint state
    (a shared fixed path makes reruns resume another run's offsets)."""
    from kcbdml9_big_data_processing_spark.streaming.job import StreamingJobConfig

    a, b = StreamingJobConfig(), StreamingJobConfig()
    assert a.checkpoint_root != b.checkpoint_root
    assert a.checkpoint_root and b.checkpoint_root


@pytest.mark.parametrize("tag", ["antenna_bytes_total"])
def test_stream_equals_batch_on_events(spark, tag):
    """Bounded stream result == batch result on the same input (the
    registry's stream queries rely on this equality; pin it here too)."""
    from kcbdml9_big_data_processing_spark.functions.exact import dsum
    from kcbdml9_big_data_processing_spark.sources.parquet import read_table
    from kcbdml9_big_data_processing_spark.queries.stream import (
        stream_bytes_antenna_90s,
    )

    sf = "/root/testdata/sf0.001"
    got = {
        (r["timestamp"], r["id"]): r["value"]
        for r in stream_bytes_antenna_90s(spark, sf).collect()
    }
    ev = read_table(spark, sf, "events")
    batch = conform_metric(
        windowed_sum(ev, "event_type", "90 seconds", ts_col="ts", value_col="value",
                     agg=dsum("value")),
        "event_type",
        tag,
    )
    want = {(r["timestamp"], r["id"]): r["value"] for r in batch.collect()}
    assert got == want


def test_stream_source_matches_batch_reader_on_live_testdata(spark):
    """Schema-drift canary: the streaming events source must produce
    IDENTICAL (event_id, ts) values to the batch reader on the live
    driver testdata, whatever encoding ts ships with this round. The
    driver's events.parquet has already changed representation once
    (int64 nanos -> timestamp[us]); this converts any future silent
    value corruption into a loud local failure."""
    from kcbdml9_big_data_processing_spark.sources.parquet import read_table
    from kcbdml9_big_data_processing_spark.streaming.sources import (
        read_events_stream,
    )

    sf = "/root/testdata/sf0.001"
    src = read_events_stream(spark, sf)
    q = (
        src.select("event_id", "ts")
        .writeStream.format("memory")
        .queryName("canary_stream_events")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = {
        r["event_id"]: r["ts"] for r in spark.table("canary_stream_events").collect()
    }
    batch = {
        r["event_id"]: r["ts"]
        for r in read_table(spark, sf, "events").select("event_id", "ts").collect()
    }
    assert streamed == batch
    # and the dtypes agree too, so downstream ops plan identically
    assert dict(src.dtypes)["ts"] == dict(
        read_table(spark, sf, "events").dtypes
    )["ts"]


def test_stream_source_handles_legacy_nanos_encoding(spark, tmp_path):
    """Regression fixture for the OLD testdata encoding: ts stored as
    parquet timestamp[ns]. Spark can't read nanos natively, so both
    readers take the nanosAsLong + truncate-to-micros path — stream and
    batch must still agree, and values must be the real event times
    (not epoch/1000 artifacts)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kcbdml9_big_data_processing_spark.sources.parquet import read_table
    from kcbdml9_big_data_processing_spark.streaming.sources import (
        read_events_stream,
    )

    sf_dir = str(tmp_path / "legacy_sf")
    (tmp_path / "legacy_sf").mkdir()
    base_us = 1704067200_000_000  # 2024-01-01T00:00:00Z in micros
    table = pa.table(
        {
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array(
                [(base_us + i * 90_000_000) * 1000 for i in range(3)],
                pa.timestamp("ns"),
            ),
            "user_id": pa.array([7, 7, 8], pa.int64()),
            "event_type": pa.array(["click", "view", "click"], pa.string()),
            "value": pa.array([1.0, 2.0, 3.0], pa.float64()),
            "props": pa.array(['{"k":1}', None, '{"k":2}'], pa.string()),
        }
    )
    pq.write_table(table, f"{sf_dir}/events.parquet")

    q = (
        read_events_stream(spark, sf_dir)
        .select("event_id", "ts")
        .writeStream.format("memory")
        .queryName("legacy_nanos_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = {
        r["event_id"]: r["ts"] for r in spark.table("legacy_nanos_stream").collect()
    }
    batch = {
        r["event_id"]: r["ts"]
        for r in read_table(spark, sf_dir, "events").select("event_id", "ts").collect()
    }
    assert streamed == batch
    assert streamed[1] == dt.datetime(2024, 1, 1, 0, 0, 0)
    assert streamed[2] == dt.datetime(2024, 1, 1, 0, 1, 30)


def test_stream_stream_join_with_watermarks(spark, tmp_path):
    """Stream-stream inner join (absent even in the reference — T7):
    clicks joined to purchases by the same user within 10 minutes
    after the click. Both sides watermarked so join state is evicted;
    the time-bound condition is what makes state finite at all."""
    clicks_dir = str(tmp_path / "clicks")
    buys_dir = str(tmp_path / "buys")
    click_schema = T.StructType(
        [
            T.StructField("click_ts", T.TimestampType(), True),
            T.StructField("user", T.StringType(), True),
        ]
    )
    buy_schema = T.StructType(
        [
            T.StructField("buy_ts", T.TimestampType(), True),
            T.StructField("user", T.StringType(), True),
            T.StructField("amount", T.LongType(), True),
        ]
    )
    spark.createDataFrame(
        [(_t(0, 10), "u1"), (_t(0, 20), "u2"), (_t(30, 0), "u1")], click_schema
    ).coalesce(1).write.parquet(clicks_dir)
    spark.createDataFrame(
        [
            (_t(5, 0), "u1", 100),   # within 10 min of u1's 00:00:10 click
            (_t(20, 0), "u2", 50),   # 19:40 after u2's click -> outside bound
            (_t(31, 0), "u1", 70),   # within bound of u1's 30:00 click
        ],
        buy_schema,
    ).coalesce(1).write.parquet(buys_dir)

    clicks = read_file_stream(spark, clicks_dir, click_schema, fmt="parquet").withWatermark(
        "click_ts", "1 minute"
    )
    buys = read_file_stream(spark, buys_dir, buy_schema, fmt="parquet").withWatermark(
        "buy_ts", "1 minute"
    )
    joined = clicks.join(
        buys,
        (clicks.user == buys.user)
        & (buys.buy_ts >= clicks.click_ts)
        & (buys.buy_ts <= clicks.click_ts + F.expr("INTERVAL 10 MINUTES")),
        "inner",
    )
    got: list[tuple] = []

    def sink(batch_df, batch_id: int) -> None:
        got.extend((r["user"], r["amount"]) for r in batch_df.collect())

    q = (
        joined.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert sorted(got) == [("u1", 70), ("u1", 100)]


def test_windowed_agg_on_rocksdb_state_store(tmp_path):
    """The at-scale state backend: the same watermarked windowed agg
    runs on RocksDB-backed state (spills to disk, bounded heap). Uses
    its own session since the provider is a session-level conf."""
    from kcbdml9_big_data_processing_spark.session import get_spark

    spark2 = get_spark(
        app_name="rocksdb_test", shuffle_partitions=4, rocksdb_state=True
    )
    assert "RocksDB" in spark2.conf.get("spark.sql.streaming.stateStore.providerClass")
    src = str(tmp_path / "src")
    _write_file(spark2, src, [(_t(0, 10), "a", 10), (_t(3, 0), "a", 1)])
    stream = read_file_stream(spark2, src, SCHEMA, fmt="parquet")
    agg = windowed_sum(stream, "key", "90 seconds", watermark="15 seconds")
    out = conform_metric(agg, "key", "rocks_test")
    seen: list[tuple] = []

    def sink(batch_df, batch_id: int) -> None:
        seen.extend(tuple(r) for r in batch_df.collect())

    q = (
        out.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert (_t(0, 0), "a", 10.0, "rocks_test") in seen


def test_interval_join_production_profile_evicts_state(tmp_path):
    """The PRODUCTION profile of the stream-stream interval join
    (queries/stream.py's near_errors shape): a TIGHT watermark and the
    RocksDB state store provider, with state EVICTION pinned — buffered
    join rows must drop once the watermark passes the range bound, the
    way test_watermark_drops_late_rows pins it for aggregations. The
    registered suite runs the same join with a generous watermark
    because a bounded replay must not drop out-of-order rows; this test
    is the executable answer to 'what do those lines look like with
    real unbounded state'. Own session: the state
    provider is a session-level conf."""
    from kcbdml9_big_data_processing_spark.session import get_spark

    spark2 = get_spark(
        app_name="interval_join_prod", shuffle_partitions=4, rocksdb_state=True
    )
    assert "RocksDB" in spark2.conf.get(
        "spark.sql.streaming.stateStore.providerClass"
    )
    left_dir = str(tmp_path / "left")
    right_dir = str(tmp_path / "right")
    side = T.StructType(
        [
            T.StructField("ts", T.TimestampType(), True),
            T.StructField("user", T.StringType(), True),
            T.StructField("id", T.LongType(), True),
        ]
    )

    def write(path, rows):
        spark2.createDataFrame(rows, side).coalesce(1).write.mode(
            "append"
        ).parquet(path)

    # batch 1: a matching pair within the +/-60s bound
    write(left_dir, [(_t(0, 10), "u1", 1)])
    write(right_dir, [(_t(0, 20), "u1", 101)])

    left = read_file_stream(spark2, left_dir, side, fmt="parquet").withWatermark(
        "ts", "30 seconds"
    )
    right = (
        read_file_stream(spark2, right_dir, side, fmt="parquet")
        .select(
            F.col("ts").alias("r_ts"),
            F.col("user").alias("r_user"),
            F.col("id").alias("r_id"),
        )
        .withWatermark("r_ts", "30 seconds")
    )
    joined = left.join(
        right,
        (left.user == F.col("r_user"))
        & (F.col("r_ts") >= left.ts - F.expr("INTERVAL 60 SECONDS"))
        & (F.col("r_ts") <= left.ts + F.expr("INTERVAL 60 SECONDS")),
        "inner",
    ).select("id", "r_id")

    got: list[tuple] = []
    state_totals: list[int] = []

    def sink(batch_df, batch_id):
        got.extend((r["id"], r["r_id"]) for r in batch_df.collect())

    q = (
        joined.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .queryName("interval_join_prod")
        .start()
    )

    def drain():
        q.processAllAvailable()
        prog = q.lastProgress
        if prog and prog["stateOperators"]:
            state_totals.append(prog["stateOperators"][0]["numRowsTotal"])

    try:
        drain()
        assert got == [(1, 101)]
        # batch 2: far-future rows on BOTH sides push both watermarks
        # ~30 min ahead — every batch-1 row is now past watermark -
        # 60s range bound, i.e. eligible for eviction
        write(left_dir, [(_t(30, 0), "u9", 2)])
        write(right_dir, [(_t(30, 0), "u8", 102)])
        drain()
        # batch 3: another advancing batch makes the eviction
        # observable in numRowsTotal (eviction applies when the
        # updated watermark takes effect in the following batch)
        write(left_dir, [(_t(31, 0), "u9", 3)])
        write(right_dir, [(_t(31, 0), "u8", 103)])
        drain()
        # a LATE left row matching batch 1's right side: its partner
        # was evicted, and the row itself is behind the watermark —
        # no resurrected match may appear
        write(left_dir, [(_t(0, 30), "u1", 4)])
        drain()
    finally:
        q.stop()

    assert got == [(1, 101)], f"late row must not match evicted state: {got}"
    # Eviction observed, not assumed: 6 rows entered the join across
    # batches 1-3 (the late batch-4 row is dropped before state), yet
    # state holds fewer — batch 1's pair is gone once both watermarks
    # passed its range bound. Measured trace: [2, 2, 4, 4] — drain 2
    # would read 4 without eviction, the final drains 6.
    assert len(state_totals) >= 3
    assert state_totals[0] == 2, f"batch 1 must buffer both sides: {state_totals}"
    assert state_totals[1] < 4, f"batch-1 state not evicted: {state_totals}"
    assert state_totals[-1] < 6, f"join state never shrank: {state_totals}"


# --- Kafka wire-schema contract (S1 depth) --------------------------------

#: the exact column set + types the spark-sql-kafka source yields
#: (Kafka wire schema): only the broker socket itself is absent here
KAFKA_WIRE_SCHEMA = T.StructType(
    [
        T.StructField("key", T.BinaryType(), True),
        T.StructField("value", T.BinaryType(), True),
        T.StructField("topic", T.StringType(), True),
        T.StructField("partition", T.IntegerType(), True),
        T.StructField("offset", T.LongType(), True),
        T.StructField("timestamp", T.TimestampType(), True),
        T.StructField("timestampType", T.IntegerType(), True),
    ]
)

_DEVICE_SCHEMA = T.StructType(
    [
        T.StructField("device_id", T.StringType(), True),
        T.StructField("bytes", T.LongType(), True),
    ]
)


def test_kafka_wire_schema_chain_stream_equals_batch(spark, tmp_path):
    """S1 depth (StreamingJobImpl.scala:18-41): the production chain
    parse(value as JSON) -> windowed sum -> conform runs against a
    stream bearing the EXACT Kafka wire schema (key/value binary,
    topic, partition, offset, timestamp, timestampType), so the only
    untested delta to a real broker is the socket. Pins: binary->string
    cast inside from_json, metadata columns riding through untouched,
    event time taken from the Kafka timestamp column, malformed
    payloads degrading to a null-key row (PERMISSIVE), and bounded
    stream == batch on the same rows."""
    import json

    from kcbdml9_big_data_processing_spark.operators.parse import (
        parse_json_payload,
    )

    def msg(device: str, b: int) -> bytes:
        return json.dumps({"device_id": device, "bytes": b}).encode()

    rows = [
        (b"k1", msg("a", 10), "devices", 0, 0, _t(0, 10), 0),
        (b"k2", msg("a", 5), "devices", 0, 1, _t(0, 50), 0),
        (b"k3", msg("b", 7), "devices", 1, 0, _t(2, 0), 0),
        (None, b"not json", "devices", 1, 1, _t(2, 30), 0),
    ]
    src = str(tmp_path / "wire")
    spark.createDataFrame(rows, KAFKA_WIRE_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    def chain(df):
        parsed = parse_json_payload(
            df, "value", _DEVICE_SCHEMA, keep=["timestamp"]
        )
        agg = windowed_sum(
            parsed, "device_id", "90 seconds", ts_col="timestamp",
            value_col="bytes",
        )
        return conform_metric(agg, "device_id", "kafka_bytes")

    want = {
        (r["timestamp"], r["id"]): r["value"]
        for r in chain(spark.read.schema(KAFKA_WIRE_SCHEMA).parquet(src)).collect()
    }
    # the malformed payload must surface as a null-id row, not vanish
    assert (_t(1, 30), None) in want

    stream = read_file_stream(spark, src, KAFKA_WIRE_SCHEMA, fmt="parquet")
    q = (
        chain(stream)
        .writeStream.format("memory")
        .queryName("kafka_wire_chain")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["timestamp"], r["id"]): r["value"]
        for r in spark.table("kafka_wire_chain").collect()
    }
    assert got == want and len(want) == 3


def test_stream_join_suite_equals_batch(spark):
    """The stream-stream interval join and the stream-static enrich
    join both match their batch formulations on a bounded replay (the
    registry row's oracle proves the same against DuckDB; this pins it
    engine-internally where micro-batch machinery is exercised)."""
    from kcbdml9_big_data_processing_spark.operators.temporal import interval_join
    from kcbdml9_big_data_processing_spark.queries.stream import (
        _JOIN_RANGE_S,
        stream_join_suite,
    )
    from kcbdml9_big_data_processing_spark.sources.parquet import read_table
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    got = stream_join_suite(spark, sf)
    near = {
        r["event_id"]: r["v"]
        for r in got.where(F.col("variant") == "near_errors").collect()
    }
    ev = read_table(spark, sf, "events")
    errors = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("r_id"), "user_id", "ts"
    )
    pairs = interval_join(
        ev, errors, on="user_id", tolerance_ms=_JOIN_RANGE_S * 1000,
        left_id="event_id", right_id="r_id",
    ).where(F.col("r_id") != F.col("event_id"))
    want = {
        r["event_id"]: float(r["n"])
        for r in pairs.groupBy("event_id").agg(F.count("r_id").alias("n")).collect()
    }
    assert near == want

    enrich = {
        r["event_id"]: (r["k"], r["v"])
        for r in got.where(F.col("variant") == "enrich").collect()
    }
    cust = read_table(spark, sf, "customer")
    batch = ev.join(cust, ev.user_id == cust.c_custkey).select(
        "event_id", "c_name", "value"
    )
    want_e = {r["event_id"]: (r["c_name"], r["value"]) for r in batch.collect()}
    assert enrich == want_e


def test_bounded_session_defers_state_maintenance(spark):
    """Bounded replays set a 600s state-store maintenance interval on
    the DEDICATED CHILD session (their checkpoints are abandoned at
    drain, so the default 60s snapshot/cleanup fire is pure overhead
    that measurably stalls in-flight commits — 2-8x run blowups in the
    fixed-code probes, OPTIMIZATION_r16.md). Pin (1) the child carries
    the conf, (2) the caller's session keeps the engine default
    (production streams must not silently inherit a deferred
    maintenance schedule from merely importing this module), (3) the
    child still pins the bounded partition count, (4) one child is
    cached per parent session."""
    from kcbdml9_big_data_processing_spark.queries.stream import (
        _BOUNDED_STATE_PARTITIONS,
        _bounded_session,
    )

    key = "spark.sql.streaming.stateStore.maintenanceInterval"
    bs = _bounded_session(spark)
    assert bs.conf.get(key) == "600s"
    assert bs.conf.get("spark.sql.shuffle.partitions") == str(
        _BOUNDED_STATE_PARTITIONS
    )
    # the caller's session is untouched: engine default (60s), not 600s
    assert spark.conf.get(key) != "600s"
    assert _bounded_session(spark) is _bounded_session(spark)


def test_bounded_replay_concurrent_with_batch_at_200_partitions(spark):
    """The bounded replays never scope spark.sql.shuffle.partitions
    on the caller's session — they run on a dedicated child session.
    Pin it: with the caller's session at 200 partitions, (1) a watcher
    thread sampling the caller's conf during the whole replay never
    observes the bounded value (an earlier implementation flipped it
    to 8 mid-stream), (2) concurrent batch
    aggregations on the caller's session keep producing correct
    results throughout, and (3) the stream result is unchanged vs a
    plain run."""
    import threading

    from pyspark.sql import functions as F

    from kcbdml9_big_data_processing_spark.queries.stream import (
        stream_bytes_90s_suite,
    )

    sf = "/root/testdata/sf0.001"
    plain = {
        tuple(r) for r in stream_bytes_90s_suite(spark, sf).collect()
    }

    key = "spark.sql.shuffle.partitions"
    prior = spark.conf.get(key)
    spark.conf.set(key, "200")
    observed: set[str] = set()
    batch_sums: list[int] = []
    stop = threading.Event()

    def watch():
        while not stop.is_set():
            observed.add(spark.conf.get(key))
            batch_sums.append(
                spark.range(0, 1000)
                .groupBy((F.col("id") % 7).alias("g"))
                .agg(F.sum("id").alias("s"))
                .agg(F.sum("s"))
                .first()[0]
            )

    t = threading.Thread(target=watch)
    t.start()
    try:
        got = {
            tuple(r) for r in stream_bytes_90s_suite(spark, sf).collect()
        }
    finally:
        stop.set()
        t.join()
        spark.conf.set(key, prior)
    assert observed == {"200"}, observed
    assert batch_sums and all(s == 499500 for s in batch_sums)
    assert got == plain and len(plain) > 0
