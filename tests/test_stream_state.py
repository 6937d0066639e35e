"""Structural state guards for the streaming rows — the streaming
counterpart of tests/test_plans.py's four batch guards. Batch plan
pins can't see stream rows (plan per micro-batch), and the streaming
scale-killer is unbounded STATE, so the pins here are state-shaped
instead of plan-shaped:

1. Every registered ``stream_*`` row's bounded replay must run
   exactly the state operators tests/stream_state_ceilings.json pins
   (per StreamExecution handle, exact name sequence — an edit that
   adds a stateful op, swaps dedup for dedupWithinWatermark, or
   starts keeping join state on the stream-static side fails), and
   its peak state rows must stay under the pinned ceiling
   (regenerate via tools/pin_stream_state.py when the shape
   legitimately changes). The stream_running_totals replay must also
   record at least _RT_FILES micro-batches, so its totals are
   genuinely carried across batches.
2. The eviction predicate (telemetry.state_plateaus) is FALSIFIABLE:
   over the same multi-batch event-time-ordered replay, the
   watermarked ingest-dedup pipeline plateaus while its
   watermark-free twin accumulates every key and must FAIL the
   predicate — proving the guard detects exactly the
   unbounded-state bug it exists to catch.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest
from pyspark.sql import functions as F

from conftest import SF_SMOKE
from kcbdml9_big_data_processing_spark.queries import QUERIES
from kcbdml9_big_data_processing_spark.streaming import telemetry

_PINS_PATH = os.path.join(os.path.dirname(__file__), "stream_state_ceilings.json")
with open(_PINS_PATH) as _f:
    _PINS = json.load(_f)

STREAM_ROWS = sorted(n for n in QUERIES if n.startswith("stream_"))


def test_every_stream_row_is_pinned():
    """A new stream_* registration without a state pin must fail
    loudly here, not silently skip the guard."""
    assert sorted(_PINS) == STREAM_ROWS, (
        "stream rows and tests/stream_state_ceilings.json diverge —"
        " run tools/pin_stream_state.py"
    )


@pytest.mark.parametrize("name", STREAM_ROWS)
def test_stream_row_state_operators_and_ceiling(spark, name):
    """Run the row's real bounded replay and hold its recorded
    per-handle state telemetry to the pin: exact operator name
    sequence, peak rows under the ceiling."""
    telemetry.LAST_STATE.pop(name, None)
    QUERIES[name].fn(spark, SF_SMOKE)
    got = telemetry.summarize_row(name)
    pin = _PINS[name]
    assert sorted(got) == sorted(pin), (
        f"{name}: StreamExecution handles changed {sorted(got)} vs"
        f" pinned {sorted(pin)} — run tools/pin_stream_state.py if"
        " intentional"
    )
    for handle, s in got.items():
        assert s["operators"] == pin[handle]["operators"], (
            f"{name}/{handle}: state operators {s['operators']} vs"
            f" pinned {pin[handle]['operators']} — a stateful-shape"
            " change; rerun tools/pin_stream_state.py if intentional"
        )
        assert s["peak_rows"] <= pin[handle]["rows_ceiling"], (
            f"{name}/{handle}: peak state rows {s['peak_rows']} over"
            f" ceiling {pin[handle]['rows_ceiling']} — state volume"
            " regressed (rows carried through state, or an eviction"
            " path dropped); rerun tools/pin_stream_state.py only if"
            " the growth is intentional"
        )
    if name == "stream_running_totals":
        from kcbdml9_big_data_processing_spark.queries.stream import _RT_FILES

        series = telemetry.LAST_STATE[name]["stream_running_totals"]
        assert len(series) >= _RT_FILES, (
            f"stream_running_totals ran {len(series)} micro-batches, fewer"
            f" than its {_RT_FILES} replay files"
        )


# --- eviction plateau + falsifiability -------------------------------------

_BATCHES = 8
_KEYS_PER_BATCH = 50


def _replay_dedup(spark, tmp_path, within_watermark: bool):
    """Drive the ingest-dedup stage over _BATCHES event-time-ordered
    micro-batches (one file write + processAllAvailable each, so
    batch order IS event-time order) and return the recorded state
    series. ``within_watermark=True`` is the production ingest shape
    (dropDuplicatesWithinWatermark — state evicted once a key can no
    longer be redelivered); False is the unbounded twin
    (dropDuplicates on the key alone — state never evicted, the
    exact bug the plateau predicate exists to catch). All keys are
    distinct so total state in the twin equals total keys."""
    src_dir = str(tmp_path / f"src_{within_watermark}")
    os.makedirs(src_dir)
    base = dt.datetime(2024, 1, 1)
    stream = (
        spark.readStream.schema("k long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
        .withWatermark("ts", "90 seconds")
    )
    if within_watermark:
        deduped = stream.dropDuplicatesWithinWatermark(["k"])
    else:
        deduped = stream.dropDuplicates(["k"])
    q = (
        deduped.writeStream.format("parquet")
        .queryName(f"plateau_{within_watermark}")
        .option("path", str(tmp_path / f"out_{within_watermark}"))
        .option("checkpointLocation", str(tmp_path / f"ck_{within_watermark}"))
        .outputMode("append")
        .start()
    )
    try:
        for i in range(_BATCHES):
            rows = [
                (i * _KEYS_PER_BATCH + j, base + dt.timedelta(seconds=i * 120))
                for j in range(_KEYS_PER_BATCH)
            ]
            spark.createDataFrame(rows, "k long, ts timestamp").coalesce(
                1
            ).write.mode("append").parquet(src_dir)
            q.processAllAvailable()
    finally:
        q.stop()
    return telemetry.state_series(q)


def test_watermarked_dedup_state_plateaus_and_guard_is_falsifiable(
    spark, tmp_path
):
    """The structural eviction guard both ways: the watermarked
    pipeline's peak state stays bounded by the lateness horizon
    (~2 batches of keys, far under total), and the SAME predicate
    rejects the watermark-free twin whose state reaches every key it
    ever saw — without the second half the first would be
    unfalsifiable (a predicate that always returns True would pass)."""
    total = _BATCHES * _KEYS_PER_BATCH
    evicting = _replay_dedup(spark, tmp_path, within_watermark=True)
    assert telemetry.state_plateaus(evicting, total, max_fraction=0.5), (
        "watermarked dedup state did not plateau:"
        f" peak={telemetry.peak_state_rows(evicting)} of {total} keys"
    )
    # tighter than the guard band: the horizon (90 s) spans <2 of the
    # 120 s batch steps, so peak should be ~2 batches of keys
    assert telemetry.peak_state_rows(evicting) <= 3 * _KEYS_PER_BATCH

    unbounded = _replay_dedup(spark, tmp_path, within_watermark=False)
    assert telemetry.peak_state_rows(unbounded) == total
    assert not telemetry.state_plateaus(unbounded, total, max_fraction=0.5), (
        "plateau predicate failed to reject the unbounded twin —"
        " the guard is vacuous"
    )


def test_live_listener_captures_state_series(spark, tmp_path):
    """make_state_listener — the unbounded-deployment adapter: a real
    StreamingQueryListener feeds LAST_STATE['live'] per batch with the
    SAME row shape the bounded replays record, so peak_state_rows /
    state_plateaus run unchanged on a live series (the monitoring
    watchdog and the test guard share one code path). Listener
    callbacks arrive asynchronously on a JVM-driven thread — the
    assertion polls briefly after the drain."""
    import time

    listener = telemetry.make_state_listener()
    spark.streams.addListener(listener)
    try:
        src = str(tmp_path / "live_src")
        os.makedirs(src)
        for i in range(2):
            spark.createDataFrame(
                [(i * 10 + j,) for j in range(10)], "k long"
            ).coalesce(1).write.mode("append").parquet(src)
        q = (
            spark.readStream.schema("k long")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .dropDuplicates(["k"])
            .writeStream.format("noop")
            .queryName("live_probe")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        series = None
        for _ in range(100):
            series = telemetry.LAST_STATE.get("live", {}).get("live_probe")
            if series and len(series) >= 2:
                break
            time.sleep(0.2)
        assert series and len(series) >= 2, "listener never delivered"
        assert telemetry.peak_state_rows(series) == 20  # all distinct keys
        names = {
            op["name"] for b in series for op in b["operators"] if b["operators"]
        }
        assert names == {"dedupe"}
    finally:
        spark.streams.removeListener(listener)
        telemetry.LAST_STATE.pop("live", None)


def test_live_listener_ring_caps_series_but_keeps_peak(spark, tmp_path):
    """The live series is a ring of the last N batches —
    the watchdog must not itself hold unbounded driver state over a
    week-long deployment — while the all-time peak survives trimming
    in listener.peaks (an alarm must not age out of the window)."""
    import time

    listener = telemetry.make_state_listener(max_batches=1)
    spark.streams.addListener(listener)
    try:
        src = str(tmp_path / "ring_src")
        os.makedirs(src)
        for i in range(3):
            spark.createDataFrame(
                [(i * 10 + j,) for j in range(10)], "k long"
            ).coalesce(1).write.mode("append").parquet(src)
        q = (
            spark.readStream.schema("k long")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .dropDuplicates(["k"])
            .writeStream.format("noop")
            .queryName("ring_probe")
            .option("checkpointLocation", str(tmp_path / "ring_ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        peak = 0
        for _ in range(100):
            peak = listener.peaks.get("ring_probe", 0)
            if peak >= 30:
                break
            time.sleep(0.2)
        series = telemetry.LAST_STATE.get("live", {}).get("ring_probe")
        assert series is not None and len(series) == 1, (
            "ring did not trim the live series to max_batches"
        )
        assert peak == 30, "all-time peak lost to the ring trim"
    finally:
        spark.streams.removeListener(listener)
        telemetry.LAST_STATE.pop("live", None)
