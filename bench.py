"""Benchmark harness: times every registered query at sf0.1.

Prints ONE JSON line:
    {"metric": ..., "value": total_sec, "unit": "sec",
     "queries": {name: sec, ...}, "failed": [name, ...], "sf": 0.1}

Record schema: ``queries`` maps each timed query to wall seconds —
the MEDIAN of ``runs_per_query`` back-to-back runs (default 3,
override with $SPARK_GRAFT_BENCH_RUNS), so one cold-JIT or lucky run
can't set the record; a query that ERRORED on any run appears as
``null`` there AND in the ``failed`` list (never as a negative
sentinel — a -1.0 once made naive sum(queries) disagree with
``value`` and could poison a baseline picker). ``value`` is the sum
of the successful medians only.

Each query is materialized with the noop datasource writer — full
computation (scan→shuffle→agg) with zero driver-side collect cost, so
the number reflects the engine, not Py4J row transfer.

Window hygiene (r13 verdict #3): the 1-min load average is read
BEFORE any Spark work and stamped into the record as
``loadavg_at_start``; above ~1 (override $SPARK_GRAFT_MAX_START_LOAD)
the sweep first WAITS for the host to quiesce — bounded polling, up
to $SPARK_GRAFT_WAIT_QUIET_SEC (default 600; 0 disables) — so an
unattended run landing in a noisy-neighbor window produces a CLEAN
record instead of a merely-labeled-dirty one (r14 verdict #3: the
driver's dirty-window record still got COMPARED). Only when the wait
budget exhausts does it warn and mark the record ``dirty_start:
true`` — a self-carrying disqualifier, so totals from foreign-load
windows can never be mistaken for clean baselines; ``wait_quiet_sec``
records how long it waited either way. Pass --refuse-dirty (or set
$SPARK_GRAFT_REFUSE_DIRTY=1) to exit 3 instead of proceeding; --force
overrides the refusal. The default remains produce-a-record because
the driver's unattended per-round run must never come back
empty-handed.

Env: $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     $SPARK_GRAFT_CPUS (default os.cpu_count()).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# excluded from timing: these perform a full write inside the query
# (round-trip correctness proofs, not read-path benchmarks)
EXCLUDE = {"archive_partition_roundtrip", "bucketed_join_roundtrip"}

#: 1-min load average ABOVE which a sweep is starting in a dirty
#: window (r13 verdict: sweeps started under foreign load read
#: 40-70% slow with per-row outliers, yet the calibrated gate shows
#: zero flags — so the record must carry its own disqualifier).
#: Judged BEFORE the sweep: the load right AFTER one is bench's own
#: 32 threads decaying. Override with $SPARK_GRAFT_MAX_START_LOAD.
_MAX_START_LOAD = 1.0

#: bounded wait-for-quiet budget in seconds (r14 verdict #3) and the
#: poll interval; override the budget with $SPARK_GRAFT_WAIT_QUIET_SEC
#: (0 disables waiting). 600 s covers a competing sweep's tail: a
#: 1-min loadavg of ~4 decays under 1.0 within a few minutes of the
#: foreign work ending.
_WAIT_QUIET_SEC = 600.0
_WAIT_POLL_SEC = 15.0


def _env_float(name: str, default: float) -> float:
    """Float env knob with a loud fallback: a malformed value must
    degrade to the default, never kill the unattended sweep before a
    record exists (r14 ADVICE — an uncaught ValueError here
    contradicted the 'must still produce a record' policy)."""
    raw = os.environ.get(name)
    if raw is None:
        return default
    try:
        return float(raw)
    except ValueError:
        print(
            f"bench: ignoring malformed ${name}={raw!r} — using the"
            f" default {default}",
            file=sys.stderr,
        )
        return default


def _parse_args(argv: list[str]):
    """argparse, not raw substring scans (r14 ADVICE: a typo'd flag
    silently no-op'd); an unknown token now exits 2 with usage."""
    import argparse

    ap = argparse.ArgumentParser(
        prog="bench.py",
        description="time every registered query at $SPARK_GRAFT_SF_DIR",
        allow_abbrev=False,  # a typo'd flag must error, not prefix-match
    )
    ap.add_argument(
        "--refuse-dirty",
        action="store_true",
        help="exit 3 instead of recording a dirty-window sweep",
    )
    ap.add_argument(
        "--force",
        action="store_true",
        help="proceed through --refuse-dirty (record stays dirty-stamped)",
    )
    ap.add_argument(
        "--max-wait-quiet",
        type=float,
        default=None,
        metavar="SEC",
        help="override $SPARK_GRAFT_WAIT_QUIET_SEC (0 disables waiting)",
    )
    ap.add_argument(
        "--out",
        default=None,
        metavar="PATH",
        help=(
            "record path (explicit --out BENCH_LOCAL.json is the only"
            " way to overwrite an existing committed record)"
        ),
    )
    return ap.parse_args(argv)


def _resolve_out_path(
    out_arg: str | None, here: str, exists=os.path.exists
) -> str:
    """Where this sweep's record lands (r15 verdict #3 — bench.py
    used to overwrite BENCH_LOCAL.json unconditionally, so one dirty
    driver window silently replaced the committed clean record and
    the verify recipe needed a copy-aside/git-checkout dance).

    Policy: an explicit ``--out`` is honored verbatim (that INCLUDES
    ``--out BENCH_LOCAL.json``, which is now the only way to clobber
    the committed record). Without it, BENCH_LOCAL.json is written
    only if it does not exist yet; otherwise the record goes to a
    UTC-timestamped path under ``bench_records/`` (gitignored) and
    the committed record is left untouched. The stdout JSON line is
    printed either way — the driver parses stdout, not the sidecar."""
    if out_arg:
        return out_arg if os.path.isabs(out_arg) else os.path.join(here, out_arg)
    canonical = os.path.join(here, "BENCH_LOCAL.json")
    if not exists(canonical):
        return canonical
    stamp = time.strftime("%Y%m%dT%H%M%SZ", time.gmtime())
    return os.path.join(here, "bench_records", f"BENCH_LOCAL.{stamp}.json")


def _start_load_gate(argv: list[str]) -> tuple[float | None, bool, float]:
    """Read the 1-min load average before any Spark work and apply
    the dirty-window policy: above the threshold, WAIT (bounded
    polling) for the host to quiesce so unattended sweeps land clean;
    if the budget exhausts, WARN and mark the record ``dirty_start``
    (default — the driver's unattended run must still produce a
    record), or REFUSE with exit 3 when --refuse-dirty /
    $SPARK_GRAFT_REFUSE_DIRTY is set and --force is not. Returns
    (loadavg, dirty, waited_sec)."""
    args = _parse_args(argv)
    try:
        load = round(os.getloadavg()[0], 3)
    except OSError:  # platform without getloadavg
        return None, False, 0.0
    limit = _env_float("SPARK_GRAFT_MAX_START_LOAD", _MAX_START_LOAD)
    budget = (
        args.max_wait_quiet
        if args.max_wait_quiet is not None
        else _env_float("SPARK_GRAFT_WAIT_QUIET_SEC", _WAIT_QUIET_SEC)
    )
    waited = 0.0
    if load > limit and budget > 0:
        print(
            f"bench: 1-min loadavg {load} > {limit} — waiting up to"
            f" {budget:.0f}s for a quiet window"
            " ($SPARK_GRAFT_WAIT_QUIET_SEC=0 to skip)",
            file=sys.stderr,
        )
        while load > limit and waited < budget:
            step = min(_WAIT_POLL_SEC, budget - waited)
            time.sleep(step)
            waited += step
            load = round(os.getloadavg()[0], 3)
        if load <= limit:
            print(
                f"bench: window quieted after {waited:.0f}s"
                f" (loadavg {load}) — proceeding clean",
                file=sys.stderr,
            )
    dirty = load > limit
    if dirty:
        print(
            f"bench: DIRTY START — 1-min loadavg {load} > {limit}"
            + (f" after a {waited:.0f}s exhausted wait" if waited else "")
            + "; this record is not comparable to clean-window"
            " baselines (it will carry dirty_start=true). Wait for the"
            " host to quiesce, or pass --force with --refuse-dirty to"
            " proceed anyway.",
            file=sys.stderr,
        )
        if _refuse_requested(args):
            sys.exit(3)
    return load, dirty, waited


def _refuse_requested(args) -> bool:
    return (
        args.refuse_dirty
        or os.environ.get("SPARK_GRAFT_REFUSE_DIRTY", "") == "1"
    ) and not args.force


#: pre-sweep scheduling-calibration ratio above which the window is
#: dirty even at loadavg ~0 (r15 verdict #5: the driver's BENCH_r15
#: waited for loadavg < 1 and still ran in a calib_sched 0.839 window
#: — ~2x the 0.39-0.46 clean baseline — because loadavg measures THIS
#: guest's runnable queue, not the host neighbors stealing cycles).
#: 1.5 sits between the clean band's spread (~1.2x) and the observed
#: degraded windows (>=1.8x). Override $SPARK_GRAFT_MAX_CALIB_RATIO.
_CALIB_DIRTY_RATIO = 1.5
_CALIB_POLL_SEC = 30.0


def _calib_quiet_gate(
    probe,
    baseline_sched: float | None,
    budget: float,
    ratio_limit: float,
    sleep=time.sleep,
    poll: float = _CALIB_POLL_SEC,
) -> tuple[float | None, float, bool]:
    """Second stage of the quiet gate, run AFTER Spark is up (the
    probe needs a JVM) and BEFORE any timed row: measure the per-task
    scheduling floor (the probe returns median seconds for 320
    near-empty tasks) and compare it to the committed baseline's
    ``calib_sched_sec``. Loadavg alone under-detects contention on
    this multi-tenant host; the probe measures the symptom directly.

    Returns (last_probe_sec, waited_sec, dirty_calib). No baseline or
    a failed probe → gate can't judge, returns clean with whatever it
    measured (the post-sweep calibration rows still stamp the window).
    Above the ratio it waits — bounded by ``budget`` — re-probing each
    ``poll`` seconds; a budget-exhausted exit returns dirty_calib=True
    so the record self-disqualifies exactly like ``dirty_start``."""
    try:
        val = probe()
    except Exception as e:
        print(f"bench: pre-sweep calibration failed: {e}", file=sys.stderr)
        return None, 0.0, False
    if not (
        isinstance(baseline_sched, (int, float)) and baseline_sched > 0
    ):
        return val, 0.0, False
    waited = 0.0
    limit = baseline_sched * ratio_limit
    if val is not None and val > limit and budget > 0:
        print(
            f"bench: pre-sweep sched calibration {val:.3f}s >"
            f" {ratio_limit}x baseline {baseline_sched:.3f}s — host"
            f" contention at low loadavg; waiting up to {budget:.0f}s",
            file=sys.stderr,
        )
        while val is not None and val > limit and waited < budget:
            step = min(poll, budget - waited)
            sleep(step)
            waited += step
            try:
                val = probe()
            except Exception as e:
                print(
                    f"bench: pre-sweep calibration failed: {e}",
                    file=sys.stderr,
                )
                return None, waited, False
        if val is not None and val <= limit:
            print(
                f"bench: calibration normalized after {waited:.0f}s"
                f" ({val:.3f}s) — proceeding clean",
                file=sys.stderr,
            )
    dirty = val is not None and val > limit
    return val, waited, dirty


def main() -> None:
    args = _parse_args(sys.argv[1:])
    loadavg_at_start, dirty_start, wait_quiet_sec = _start_load_gate(
        sys.argv[1:]
    )
    from kcbdml9_big_data_processing_spark.queries import QUERIES
    from kcbdml9_big_data_processing_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    spark = get_spark(app_name="bench")

    # warm-up: JVM/codegen startup plus one footer-read per table so
    # file-index building doesn't land on whichever query runs first
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    from kcbdml9_big_data_processing_spark.schemas import TESTDATA_TABLES
    from kcbdml9_big_data_processing_spark.sources.parquet import read_table

    # a full trivial aggregate per table (not limit(1)): pays the scan
    # + codegen warm-up for every table so the first registered query
    # touching each table doesn't absorb it (r3 artifact: dedup_exact
    # 1.44->3.83 s purely from registration position)
    for t in TESTDATA_TABLES:
        try:
            read_table(spark, sf_dir, t).selectExpr("count(*)").collect()
        except Exception:
            pass
    # absorb remaining one-time engine costs — first shuffle exchange,
    # hash-agg codegen, noop-datasource class load — measured at ~2.5 s
    # on whichever query runs first if not paid here
    (
        read_table(spark, sf_dir, "region")
        .groupBy("r_name")
        .count()
        .write.mode("overwrite")
        .format("noop")
        .save()
    )
    # plan-level warm-up: run every timed query once at the smallest SF
    # before timing at the target SF. The per-table scans above warm the
    # file index; this warms each query's whole-stage-codegen compilation
    # and JIT (complex expressions — shingling, LSH banding — cost
    # ~1-3 s to compile, charged to whichever query runs first).
    # Steady-state is what a long-running cluster sees and what the
    # timings should reflect; the warm-up applies uniformly to every
    # query, so relative comparisons are unaffected. Measured: the ngram
    # dedup query runs 6.4 s cold vs 3.5 s steady-state at sf0.1.
    warm_dir = os.environ.get(
        "SPARK_GRAFT_WARMUP_SF_DIR", "/root/testdata/sf0.001"
    )
    if os.path.isdir(warm_dir):
        for name, spec in QUERIES.items():
            if name in EXCLUDE:
                continue
            try:
                spec.fn(spark, warm_dir).write.mode("overwrite").format(
                    "noop"
                ).save()
            except Exception as e:
                print(f"warmup error {name}: {e}", file=sys.stderr)
            spark.catalog.clearCache()

    # second quiet-gate stage (r15 verdict #5): loadavg was quiet but
    # this host's noisy neighbors are invisible to it — probe the
    # per-task scheduling floor directly, against the committed
    # baseline's calib_sched_sec, and wait out a contended window
    # with whatever budget the loadavg stage left unspent.
    def _sched_probe() -> float:
        s = []
        for _ in range(3):
            t0 = time.time()
            spark.range(0, 320, 1, 320).selectExpr("count(1) AS n").collect()
            s.append(round(time.time() - t0, 3))
        return sorted(s)[1]

    total_budget = (
        args.max_wait_quiet
        if args.max_wait_quiet is not None
        else _env_float("SPARK_GRAFT_WAIT_QUIET_SEC", _WAIT_QUIET_SEC)
    )
    calib_sched_pre, wait_calib_sec, dirty_calib = _calib_quiet_gate(
        _sched_probe,
        _baseline_sched_floor(),
        max(0.0, total_budget - wait_quiet_sec),
        _env_float("SPARK_GRAFT_MAX_CALIB_RATIO", _CALIB_DIRTY_RATIO),
    )
    if dirty_calib:
        print(
            "bench: DIRTY CALIBRATION — pre-sweep sched probe"
            f" {calib_sched_pre:.3f}s stayed above the baseline ratio"
            " after an exhausted wait; this record carries"
            " dirty_calib=true and is not comparable to clean-window"
            " baselines.",
            file=sys.stderr,
        )
        if _refuse_requested(args):
            sys.exit(3)

    # median of N runs per query: a single timed run lands wherever
    # the JVM's per-plan codegen/JIT state happens to be (r5 recorded
    # dedup_ngram_jaccard at 6.0 s whose steady state is ~4.5 s), and
    # single-run noise let round claims and committed records diverge.
    # The median is robust to one slow (cold) and one lucky run; run 1
    # doubles as the sf0.1-shaped warm-up the sf0.001 pass can't give
    # (AQE picks different physical plans per SF).
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    times: dict[str, float | None] = {}
    failed: list[str] = []
    for name, spec in QUERIES.items():
        if name in EXCLUDE:
            continue
        samples: list[float] = []
        for run_i in range(runs):
            # guide §1.5: label the timed jobs so a UI/event-log view
            # of a sweep attributes every job to its query and run
            spark.sparkContext.setJobDescription(f"bench:{name}#{run_i}")
            t0 = time.time()
            try:
                spec.fn(spark, sf_dir).write.mode("overwrite").format(
                    "noop"
                ).save()
                samples.append(round(time.time() - t0, 3))
            except Exception as e:  # record the failure, keep benching
                print(f"bench error {name}: {e}", file=sys.stderr)
                samples = []
                break
            finally:
                spark.sparkContext.setJobDescription(None)
                # isolate runs AND queries: several persist()
                # intermediates (dedup signatures, LSH features) as
                # part of their plan; left cached they pile up across
                # 60 queries and the GC pressure skews every later
                # measurement (observed 3-15x inflation)
                spark.catalog.clearCache()
        if samples:
            times[name] = sorted(samples)[len(samples) // 2]
        else:
            times[name] = None
            failed.append(name)

    total = round(sum(t for t in times.values() if t is not None), 3)
    # host-speed calibration: two fixed JVM jobs (no IO, no Python,
    # constant plans) timed median-of-3 AFTER the sweep. This sandbox
    # has host-level noisy-neighbor windows that inflate whole sweeps
    # up to ~60% with the guest idle (r10, ROUND_NOTES.md); the
    # constant-work rows make window speed visible IN the record, so
    # totals from different windows compare as ratios-to-calibration
    # instead of raw seconds. Two probes because the two failure
    # modes differ: cpu = bulk whole-stage-codegen throughput
    # (2e9-row sum), sched = per-task scheduling/dispatch floor
    # (320 near-empty tasks) — the streaming-heavy rows track sched.
    def _calib(df_maker):
        # guarded: a throwing calibration (executor loss in exactly
        # the noisy window calibration exists for) must not discard
        # the sweep record the loop above just produced
        s = []
        try:
            for _ in range(3):
                t0 = time.time()
                df_maker().collect()
                s.append(round(time.time() - t0, 3))
            return sorted(s)[1], s
        except Exception as e:
            print(f"calibration error: {e}", file=sys.stderr)
            return None, s

    calib_cpu, calib_cpu_samples = _calib(
        lambda: spark.range(2_000_000_000).selectExpr("sum(id * 3 + 1) AS s")
    )
    calib_sched, calib_sched_samples = _calib(
        lambda: spark.range(0, 320, 1, 320).selectExpr("count(1) AS n")
    )
    regressions, masked_regressions = _regressions(
        times, calib_cpu, calib_sched
    )
    payload = {
        "metric": "all_queries_total",
        "value": total,
        "unit": "sec",
        "queries": times,
        "failed": failed,
        "sf": sf,
        "runs_per_query": runs,
        "aggregation": "median",
        "loadavg_at_start": loadavg_at_start,
        "dirty_start": dirty_start,
        "wait_quiet_sec": round(wait_quiet_sec, 1),
        "calib_sched_pre": calib_sched_pre,
        "wait_calib_sec": round(wait_calib_sec, 1),
        "dirty_calib": dirty_calib,
        "calib_cpu_sec": calib_cpu,
        "calib_cpu_samples": calib_cpu_samples,
        "calib_sched_sec": calib_sched,
        "calib_sched_samples": calib_sched_samples,
        "regressions": regressions,
        "masked_regressions": masked_regressions,
    }
    # sidecar record the driver can't truncate: BENCH_r03.json lost its
    # parsed payload to the driver's 2000-char tail cap, which silently
    # disarmed the regression gate for a round. Since r16 the sidecar
    # NEVER clobbers an existing BENCH_LOCAL.json unless --out names it
    # explicitly (_resolve_out_path) — one dirty driver window used to
    # silently replace the committed clean record.
    try:
        here = os.path.dirname(os.path.abspath(__file__))
        out_path = _resolve_out_path(args.out, here)
        os.makedirs(os.path.dirname(out_path), exist_ok=True)
        with open(out_path, "w") as f:
            json.dump(payload, f, indent=1)
        if os.path.basename(out_path) != "BENCH_LOCAL.json":
            print(
                f"bench: record written to {out_path} (committed"
                " BENCH_LOCAL.json left untouched; pass --out"
                " BENCH_LOCAL.json to replace it)",
                file=sys.stderr,
            )
    except Exception:
        pass
    print(json.dumps(payload))


#: flag a query slower than this multiple of its prior-round time AND
#: at least _REGRESSION_MIN_DELTA slower in absolute terms — run-to-run
#: machine variance is ±0.4 s on sub-second queries, so a pure ratio
#: (or a fixed floor) flags noise; a real regression must clear both
_REGRESSION_FACTOR = 1.5
_REGRESSION_MIN_DELTA = 0.5

def _baseline_record() -> dict:
    """The baseline payload (queries + calibration rows) the
    regression and calibration gates compare against.

    The committed BENCH_LOCAL.json wins whenever it parses: since the
    r16 no-clobber policy it is only ever replaced DELIBERATELY
    (--out BENCH_LOCAL.json) with a curated clean-window record,
    whereas BENCH_r{N}.json is whatever window the driver's unattended
    per-round run landed in — r15's was a calib_sched-0.839 degraded
    window, and an mtime-based preference (the pre-r16 heuristic,
    needed when every sweep overwrote BENCH_LOCAL) picked it over the
    committed clean record by a 4-second checkout-order accident,
    silently relaxing both gates by its inflated numbers.

    BENCH_r{N}.json files can have ``parsed: null`` (the driver's tail
    cap truncated the JSON line — happened in r3), which must not
    silently disarm the gate: walk newest-first and take the first file
    whose parsed.queries is a non-empty dict.
    """
    import glob

    here = os.path.dirname(os.path.abspath(__file__))
    candidates = sorted(glob.glob(os.path.join(here, "BENCH_r*.json")), reverse=True)
    local = os.path.join(here, "BENCH_LOCAL.json")
    if os.path.exists(local):
        candidates.insert(0, local)
    for path in candidates:
        try:
            with open(path) as f:
                prior = json.load(f)
            parsed = prior.get("parsed", prior) or {}
            queries = parsed.get("queries") or {}
            if isinstance(queries, dict) and queries:
                return parsed
        except Exception:
            continue
    return {}


def _baseline_times() -> dict[str, float]:
    """Per-query times from the newest parseable recorded round."""
    return _baseline_record().get("queries") or {}


def _baseline_calib() -> tuple[float | None, float | None]:
    """(calib_cpu_sec, calib_sched_sec) of the baseline record, or
    Nones for records predating the calibration probes (<= r9)."""
    rec = _baseline_record()
    cpu = rec.get("calib_cpu_sec")
    sched = rec.get("calib_sched_sec")
    return (
        cpu if isinstance(cpu, (int, float)) and cpu > 0 else None,
        sched if isinstance(sched, (int, float)) and sched > 0 else None,
    )


def _baseline_sched_floor() -> float | None:
    """The baseline window's BEST sched evidence — min of its
    pre-sweep probe (calib_sched_pre, r16+) and post-sweep row
    (calib_sched_sec) — for the PRE-sweep quiet gate's reference.

    The two probes bracket the sweep, and a burst can hit either end
    while the timed rows stayed clean (the r16 committed record is
    exactly that: rows zero-flag, pre 0.430, post 1.472 from a tail
    burst). Deriving the gate threshold from the inflated end made it
    lax enough to wave a 1.095 s contended window through — observed
    live on the sweep this function exists to prevent. min() is the
    honest window-speed estimate; the symmetric post-vs-post
    normalization inside _regressions keeps using calib_sched_sec."""
    rec = _baseline_record()
    vals = [
        v
        for v in (rec.get("calib_sched_pre"), rec.get("calib_sched_sec"))
        if isinstance(v, (int, float)) and v > 0
    ]
    return min(vals) if vals else None


def _regressions(
    times: dict[str, float | None],
    calib_cpu: float | None = None,
    calib_sched: float | None = None,
) -> tuple[dict[str, dict[str, float]], dict[str, dict[str, float]]]:
    """Compare per-query times against the latest recorded round's
    bench: returns (flagged, masked) — queries that got >1.5x slower
    under the calibrated gate, and queries the RAW gate would have
    flagged but the window normalization absolved (recorded for
    adjudication, not counted as flags — ADVICE r11). A round can't
    silently regress performance while staying correctness-green.
    A row with no positive prior (a new query) is skipped.

    Calibration-normalized (r10 verdict #4): this sandbox's host has
    noisy-neighbor windows that inflate whole sweeps up to ~60% with
    the guest idle, and r10's two flags were both window-dominated.
    When BOTH this run's and the baseline's constant-work calibration
    rows exist, the prior is scaled by the window ratio
    (this_calib / baseline_calib) before the factor+delta test —
    streaming rows (stream_*) normalize by the scheduling probe
    (their cost tracks per-task dispatch), everything else by the
    cpu probe. The ratio is clamped to [1.0, 3.0]: above 3.0 the
    probes themselves are suspect (an unclamped ratio could hide a
    real regression behind a freak calibration sample), and below
    1.0 the adjustment only ever RELAXES — a faster-than-baseline
    window must not TIGHTEN the prior, because not every baseline
    row rode its window's slowdown uniformly (first live run: a
    0.82 ratio manufactured flags on rows 1.26x raw, inside the
    cushion the raw gate deliberately allows). Flags carry
    ``window_ratio`` and ``adjusted_prev_sec`` so adjudication shows
    its work. Baselines predating the probes (<= r9) or a failed
    calibration this run fall back to the raw-seconds gate."""
    prior_times = {
        k: v for k, v in _baseline_times().items() if isinstance(v, (int, float))
    }
    if not prior_times:
        return {}, {}
    base_cpu, base_sched = _baseline_calib()
    flagged, masked = {}, {}
    for name, now in times.items():
        then = prior_times.get(name)
        if then is None or then <= 0 or now is None:
            continue
        cal_now, cal_then = (
            (calib_sched, base_sched)
            if name.startswith("stream_")
            else (calib_cpu, base_cpu)
        )
        w = 1.0
        if (
            isinstance(cal_now, (int, float))
            and cal_now > 0
            and isinstance(cal_then, (int, float))
            and cal_then > 0
        ):
            w = min(max(cal_now / cal_then, 1.0), 3.0)
        adj = round(then * w, 3)
        if now > max(adj * _REGRESSION_FACTOR, adj + _REGRESSION_MIN_DELTA):
            entry = {"prev_sec": then, "now_sec": now}
            if w != 1.0:
                entry["window_ratio"] = round(w, 3)
                entry["adjusted_prev_sec"] = adj
            flagged[name] = entry
        elif now > max(
            then * _REGRESSION_FACTOR, then + _REGRESSION_MIN_DELTA
        ):
            # ADVICE r11: normalization only ever RELAXES the gate, so
            # a real regression landing in a noisy window is invisible
            # until the next quiet round. RECORD (don't flag) rows the
            # raw gate would have caught but the window adjustment
            # absolved — surfaced as the separate masked_regressions
            # payload key so adjudication can spot masked regressions
            # without them counting as flags.
            masked[name] = {
                "prev_sec": then,
                "now_sec": now,
                "window_ratio": round(w, 3),
                "adjusted_prev_sec": adj,
            }
    return flagged, masked


if __name__ == "__main__":
    main()
