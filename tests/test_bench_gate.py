"""Unit tests for bench.py's regression-gate logic (pure functions, no
Spark): baseline selection must skip unparseable records, every timed
query must have a prior in the baseline, and the noise guard must
require both a ratio and an absolute delta. The gate has been silently
disarmed once (r3's truncated record) — these pin the fixes."""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")

import bench  # noqa: E402


def test_baseline_covers_every_timed_query():
    # the gate reads each row's prior by its own name: a rename or
    # merge with no re-recorded baseline must fail here, not silently
    # skip the gate for that row
    from kcbdml9_big_data_processing_spark.queries import QUERIES

    prior = bench._baseline_times()
    missing = [
        name
        for name in QUERIES
        if name not in bench.EXCLUDE
        and not (isinstance(prior.get(name), (int, float)) and prior[name] > 0)
    ]
    assert not missing, f"baseline has no positive time for {missing}"


def test_regressions_require_ratio_and_absolute_delta(monkeypatch):
    monkeypatch.setattr(
        bench,
        "_baseline_times",
        lambda: {"small": 0.4, "big": 4.0, "gone": 2.0},
    )
    flagged, masked = bench._regressions(
        {
            "small": 0.85,  # >1.5x but only +0.45 -> noise, not flagged
            "big": 6.5,  # 1.6x and +2.5 -> real, flagged
            "gone": None,  # errored this run -> excluded, not compared
            "new_query": 9.9,  # no prior -> nothing to compare
        }
    )
    assert masked == {}
    assert set(flagged) == {"big"}
    assert flagged["big"] == {"prev_sec": 4.0, "now_sec": 6.5}


def test_regressions_ignore_null_priors(monkeypatch):
    # a prior record written with the null failure sentinel must not
    # crash or compare against null; a query the baseline does not
    # know has no prior either
    monkeypatch.setattr(
        bench, "_baseline_times", lambda: {"q": None, "ok": 1.0}
    )
    times = {"q": 5.0, "ok": 1.1, "unknown_query": 9.0}
    assert bench._regressions(times) == ({}, {})


def test_regressions_normalize_by_window_calibration(monkeypatch):
    # r10 verdict #4: a slow host window must not flag queries that
    # merely rode it. Baseline calib_cpu 0.3; this run's probe reads
    # 0.6 (a 2x-slower window), so a batch row at 1.9x raw is within
    # the normalized gate, while a true 4x regression still flags.
    monkeypatch.setattr(
        bench, "_baseline_times", lambda: {"batch_q": 2.0, "bad_q": 2.0}
    )
    monkeypatch.setattr(bench, "_baseline_calib", lambda: (0.3, 0.5))
    flagged, masked = bench._regressions(
        {"batch_q": 3.8, "bad_q": 8.0}, calib_cpu=0.6, calib_sched=1.0
    )
    assert set(flagged) == {"bad_q"}
    # ADVICE r11: batch_q exceeded the RAW gate (1.9x, +1.8) but the
    # window absolved it — recorded as masked, not flagged
    assert set(masked) == {"batch_q"}
    assert masked["batch_q"]["window_ratio"] == 2.0
    assert flagged["bad_q"]["window_ratio"] == 2.0
    assert flagged["bad_q"]["adjusted_prev_sec"] == 4.0


def test_regressions_streaming_rows_use_sched_probe(monkeypatch):
    # streaming rows track the per-task scheduling floor, not bulk
    # codegen throughput: with sched 2x slower but cpu unchanged, a
    # stream_* row at 1.9x raw passes while a batch row at 1.9x flags
    monkeypatch.setattr(
        bench,
        "_baseline_times",
        lambda: {"stream_q": 3.0, "batch_q": 3.0},
    )
    monkeypatch.setattr(bench, "_baseline_calib", lambda: (0.3, 0.5))
    flagged, masked = bench._regressions(
        {"stream_q": 5.7, "batch_q": 5.7}, calib_cpu=0.3, calib_sched=1.0
    )
    assert set(flagged) == {"batch_q"}
    assert set(masked) == {"stream_q"}


def test_regressions_window_ratio_clamped_and_raw_fallback(monkeypatch):
    monkeypatch.setattr(bench, "_baseline_times", lambda: {"q": 1.0})
    # a freak 10x calibration sample is clamped to 3x — a 5x raw
    # slowdown still flags through it
    monkeypatch.setattr(bench, "_baseline_calib", lambda: (0.1, 0.1))
    flagged, _ = bench._regressions({"q": 5.0}, calib_cpu=1.0, calib_sched=1.0)
    assert flagged["q"]["window_ratio"] == 3.0
    # a FASTER-than-baseline window must not tighten the prior: at a
    # raw 1.3x (inside the 1.5x cushion) nothing flags even though
    # the naive ratio (0.5) would have shrunk the prior to 0.5 s
    monkeypatch.setattr(bench, "_baseline_calib", lambda: (1.0, 1.0))
    assert bench._regressions(
        {"q": 1.3}, calib_cpu=0.5, calib_sched=0.5
    ) == ({}, {})
    # baseline predates the probes (r9 and earlier) -> raw gate,
    # no window fields in the flag
    monkeypatch.setattr(bench, "_baseline_calib", lambda: (None, None))
    flagged, masked = bench._regressions(
        {"q": 5.0}, calib_cpu=1.0, calib_sched=1.0
    )
    assert flagged == {"q": {"prev_sec": 1.0, "now_sec": 5.0}}
    assert masked == {}


def test_start_load_gate_clean_window(monkeypatch):
    import os as _os

    monkeypatch.setattr(_os, "getloadavg", lambda: (0.2, 0.3, 0.4))
    load, dirty, waited = bench._start_load_gate([])
    assert load == 0.2 and dirty is False and waited == 0.0


def test_start_load_gate_stamps_dirty_and_warns(monkeypatch, capsys):
    """Default policy after an exhausted wait: a dirty start WARNS and
    stamps, never refuses — the driver's unattended run must still
    produce a record that carries its own disqualifier."""
    import os as _os

    monkeypatch.setattr(_os, "getloadavg", lambda: (7.5, 2.0, 1.0))
    monkeypatch.setenv("SPARK_GRAFT_WAIT_QUIET_SEC", "0")
    load, dirty, waited = bench._start_load_gate([])
    assert load == 7.5 and dirty is True and waited == 0.0
    assert "DIRTY START" in capsys.readouterr().err


def test_start_load_gate_refuses_on_request_force_overrides(monkeypatch):
    import os as _os

    import pytest as _pytest

    monkeypatch.setattr(_os, "getloadavg", lambda: (3.0, 1.0, 1.0))
    monkeypatch.setenv("SPARK_GRAFT_WAIT_QUIET_SEC", "0")
    with _pytest.raises(SystemExit) as e:
        bench._start_load_gate(["--refuse-dirty"])
    assert e.value.code == 3
    load, dirty, _ = bench._start_load_gate(["--refuse-dirty", "--force"])
    assert dirty is True  # forced through, still disqualified in-record


def test_start_load_gate_threshold_override(monkeypatch):
    import os as _os

    monkeypatch.setattr(_os, "getloadavg", lambda: (1.4, 1.0, 1.0))
    monkeypatch.setenv("SPARK_GRAFT_MAX_START_LOAD", "2.0")
    load, dirty, waited = bench._start_load_gate([])
    assert dirty is False and waited == 0.0


def test_start_load_gate_waits_until_quiet(monkeypatch, capsys):
    """r14 verdict #3: a dirty start WAITS (bounded polling) and lands
    CLEAN when the foreign load decays inside the budget — the
    unattended sweep records dirty only after a visibly exhausted
    wait."""
    import os as _os
    import time as _time

    loads = iter([4.0, 2.5, 0.8])  # start dirty, quiet on 3rd poll
    cur = {"v": 4.0}

    def fake_load():
        try:
            cur["v"] = next(loads)
        except StopIteration:
            pass
        return (cur["v"], 1.0, 1.0)

    # first call reads 4.0 (the pre-wait read consumes one)
    monkeypatch.setattr(_os, "getloadavg", fake_load)
    slept = []
    monkeypatch.setattr(_time, "sleep", lambda s: slept.append(s))
    monkeypatch.setenv("SPARK_GRAFT_WAIT_QUIET_SEC", "60")
    load, dirty, waited = bench._start_load_gate([])
    assert dirty is False and load == 0.8
    assert waited == sum(slept) and waited > 0
    err = capsys.readouterr().err
    assert "waiting up to" in err and "quieted after" in err


def test_start_load_gate_wait_budget_exhausts_dirty(monkeypatch, capsys):
    import os as _os
    import time as _time

    monkeypatch.setattr(_os, "getloadavg", lambda: (5.0, 1.0, 1.0))
    monkeypatch.setattr(_time, "sleep", lambda s: None)
    monkeypatch.setenv("SPARK_GRAFT_WAIT_QUIET_SEC", "45")
    load, dirty, waited = bench._start_load_gate([])
    assert dirty is True and waited == 45.0
    err = capsys.readouterr().err
    assert "exhausted wait" in err and "DIRTY START" in err


def test_start_load_gate_malformed_env_falls_back(monkeypatch, capsys):
    """r14 ADVICE: a malformed env knob must degrade to the default
    with a stderr note, never kill the sweep before a record exists."""
    import os as _os

    monkeypatch.setattr(_os, "getloadavg", lambda: (0.2, 0.3, 0.4))
    monkeypatch.setenv("SPARK_GRAFT_MAX_START_LOAD", "fast")
    monkeypatch.setenv("SPARK_GRAFT_WAIT_QUIET_SEC", "10 minutes")
    load, dirty, waited = bench._start_load_gate([])
    assert dirty is False and waited == 0.0
    err = capsys.readouterr().err
    assert "malformed $SPARK_GRAFT_MAX_START_LOAD" in err
    # the wait knob is only consulted on a dirty start — the malformed
    # threshold alone must already have fallen back loudly


def test_start_load_gate_rejects_unknown_flags(monkeypatch):
    """r14 ADVICE: a typo'd flag must error (argparse exit 2), not
    silently no-op like the old substring scan."""
    import os as _os

    import pytest as _pytest

    monkeypatch.setattr(_os, "getloadavg", lambda: (0.2, 0.3, 0.4))
    with _pytest.raises(SystemExit) as e:
        bench._start_load_gate(["--refuse-dirt"])  # the typo'd flag
    assert e.value.code == 2


def test_resolve_out_path_writes_canonical_when_absent():
    p = bench._resolve_out_path(None, "/repo", exists=lambda _: False)
    assert p == "/repo/BENCH_LOCAL.json"


def test_resolve_out_path_never_clobbers_by_default():
    """r15 verdict #3: an existing committed record routes the sweep
    to a timestamped bench_records/ path instead of overwriting."""
    p = bench._resolve_out_path(None, "/repo", exists=lambda _: True)
    assert p.startswith("/repo/bench_records/BENCH_LOCAL.")
    assert p.endswith("Z.json") and p != "/repo/BENCH_LOCAL.json"


def test_resolve_out_path_explicit_out_is_honored():
    p = bench._resolve_out_path("BENCH_LOCAL.json", "/repo", exists=lambda _: True)
    assert p == "/repo/BENCH_LOCAL.json"  # the ONLY way to clobber
    assert (
        bench._resolve_out_path("/tmp/x.json", "/repo", exists=lambda _: True)
        == "/tmp/x.json"
    )


def test_calib_quiet_gate_clean_window_no_wait():
    val, waited, dirty = bench._calib_quiet_gate(
        lambda: 0.42, baseline_sched=0.40, budget=600.0, ratio_limit=1.5
    )
    assert (val, waited, dirty) == (0.42, 0.0, False)


def test_calib_quiet_gate_waits_then_clears():
    """r15 verdict #5: loadavg-quiet but sched-contended window — the
    gate re-probes until the calibration ratio normalizes."""
    probes = iter([0.9, 0.85, 0.41])
    slept = []
    val, waited, dirty = bench._calib_quiet_gate(
        lambda: next(probes),
        baseline_sched=0.40,
        budget=600.0,
        ratio_limit=1.5,
        sleep=slept.append,
        poll=30.0,
    )
    assert dirty is False and val == 0.41
    assert waited == 60.0 and slept == [30.0, 30.0]


def test_calib_quiet_gate_exhausted_budget_marks_dirty():
    slept = []
    val, waited, dirty = bench._calib_quiet_gate(
        lambda: 1.2,
        baseline_sched=0.40,
        budget=45.0,
        ratio_limit=1.5,
        sleep=slept.append,
        poll=30.0,
    )
    assert dirty is True and waited == 45.0 and slept == [30.0, 15.0]


def test_calib_quiet_gate_no_baseline_cannot_judge():
    val, waited, dirty = bench._calib_quiet_gate(
        lambda: 9.9, baseline_sched=None, budget=600.0, ratio_limit=1.5
    )
    assert (val, waited, dirty) == (9.9, 0.0, False)


def test_calib_quiet_gate_probe_failure_is_not_dirty(capsys):
    def boom():
        raise RuntimeError("executor lost")

    val, waited, dirty = bench._calib_quiet_gate(
        boom, baseline_sched=0.40, budget=600.0, ratio_limit=1.5
    )
    assert (val, dirty) == (None, False)
    assert "calibration failed" in capsys.readouterr().err


def test_baseline_prefers_committed_local_over_round_files(
    tmp_path, monkeypatch
):
    """r16: the committed BENCH_LOCAL.json IS the baseline whenever it
    parses — a driver round record with a newer mtime must not win
    (r15's was a degraded-window 76 s record that silently relaxed
    both gates by checkout-order mtime accident). Round files remain
    the fallback, newest-first, skipping truncated ones."""
    import json as _json
    import os as _os

    import bench as _bench

    local = tmp_path / "BENCH_LOCAL.json"
    local.write_text(_json.dumps({"queries": {"q": 1.0}, "value": 60.0}))
    r15 = tmp_path / "BENCH_r15.json"
    r15.write_text(
        _json.dumps({"parsed": {"queries": {"q": 2.0}, "value": 76.0}})
    )
    _os.utime(local, (1_000, 1_000))  # OLDER than the round file
    monkeypatch.setattr(
        _bench.os.path, "abspath", lambda _: str(tmp_path / "bench.py")
    )
    assert _bench._baseline_record()["value"] == 60.0
    local.unlink()  # no committed record -> newest parseable round file
    assert _bench._baseline_record()["value"] == 76.0
    r15.write_text("{not json")  # truncated/corrupt round file -> {}
    assert _bench._baseline_record() == {}


def test_baseline_sched_floor_takes_best_bracket(monkeypatch):
    """r16: the pre-sweep gate references the baseline window's BEST
    sched evidence — a tail burst inflating calib_sched_sec must not
    relax the gate when the pre-probe recorded the clean window
    (observed live: threshold 2.2 from an inflated 1.472 waved a
    1.095 contended window through)."""
    import bench as _bench

    monkeypatch.setattr(
        _bench, "_baseline_record",
        lambda: {"calib_sched_pre": 0.43, "calib_sched_sec": 1.472},
    )
    assert _bench._baseline_sched_floor() == 0.43
    monkeypatch.setattr(
        _bench, "_baseline_record", lambda: {"calib_sched_sec": 0.394}
    )
    assert _bench._baseline_sched_floor() == 0.394  # pre-r16 records
    monkeypatch.setattr(_bench, "_baseline_record", lambda: {})
    assert _bench._baseline_sched_floor() is None
