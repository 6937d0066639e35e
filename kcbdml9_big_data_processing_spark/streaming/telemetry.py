"""Streaming state telemetry: per-batch ``stateOperators`` capture
from ``StreamingQueryProgress``, plus the plateau predicate the
structural state guard enforces.

The batch registry's four plan guards (shuffle ceilings, scan pins,
pushed-predicate floors, Python-boundary ban) cannot see streaming
rows — their plan exists per micro-batch. The streaming scale-killer
is different anyway: UNBOUNDED STATE. A stateful operator whose state
grows monotonically with distinct keys/windows works on every bounded
replay and then OOMs the first week-long deployment. This module
makes that failure mode testable the same way the batch guards made
shuffle growth testable:

- every bounded replay in queries/stream.py records its per-batch
  state-operator series here (``record_bounded_run``), so a test can
  pin each registered stream row's state OPERATOR SET and a rows
  ceiling (tests/stream_state_ceilings.json, regenerated by
  tools/pin_stream_state.py) — a future edit that adds a stateful
  operator, swaps dedup for dedupWithinWatermark, or balloons state
  rows fails a test instead of shipping silently;
- ``state_plateaus`` is the eviction predicate: over a multi-batch
  event-time-ordered replay, watermarked state must PLATEAU (peak
  bounded away from total distinct keys) rather than grow to the key
  count. Its falsifiability is pinned in tests/test_stream_state.py:
  the watermark-free twin of the same pipeline must FAIL the
  predicate, so the guard is proven able to detect the bug it exists
  to catch.

Capture is driver-side and O(batches): ``recentProgress`` retains the
last ~100 progress dicts per query, and the bounded replays run a
handful of batches. For an UNBOUNDED deployment,
:func:`make_state_listener` is the live adapter — a
StreamingQueryListener appending the identical per-batch row shape
under ``LAST_STATE["live"]``, so the plateau predicate doubles as a
production state-growth watchdog.
"""

from __future__ import annotations

from typing import Any

#: registered stream row -> {query name -> per-batch state series},
#: overwritten per run (same latest-run posture as registry plan
#: caches); consumed by tests/test_stream_state.py and the pin tool.
LAST_STATE: dict[str, dict[str, list[dict]]] = {}


def state_series(query: Any) -> list[dict]:
    """Per-batch state snapshots from a (finished) StreamingQuery's
    ``recentProgress``: ``[{"batchId": n, "operators": [{"name",
    "rows", "removed", "memory"}, ...]}, ...]`` in batch order.
    Batches are kept even when they carry no state operators so the
    series length reflects the real micro-batch count."""
    out = []
    for p in query.recentProgress:
        ops = p.get("stateOperators") or []
        out.append(
            {
                "batchId": p.get("batchId"),
                "operators": [
                    {
                        "name": o.get("operatorName", ""),
                        "rows": int(o.get("numRowsTotal") or 0),
                        "removed": int(o.get("numRowsRemoved") or 0),
                        "memory": int(o.get("memoryUsedBytes") or 0),
                    }
                    for o in ops
                ],
            }
        )
    out.sort(key=lambda b: (b["batchId"] is None, b["batchId"]))
    return out


def record_bounded_run(row: str, query: Any) -> None:
    """Record a drained bounded replay's state series under its
    registered row name (keyed by the handle's query name, so suites
    with several StreamExecutions keep one entry per handle)."""
    name = query.name or f"id_{query.id}"
    LAST_STATE.setdefault(row, {})[name] = state_series(query)


def summarize_row(row: str) -> dict[str, dict]:
    """Pin-shaped summary of a recorded row: per handle, the ordered
    distinct state-operator names and the peak total state rows
    across batches — what tests/stream_state_ceilings.json stores."""
    out = {}
    for handle, series in sorted(LAST_STATE.get(row, {}).items()):
        names: list[str] = []
        peak = 0
        for batch in series:
            rows = 0
            for op in batch["operators"]:
                if op["name"] not in names:
                    names.append(op["name"])
                rows += op["rows"]
            peak = max(peak, rows)
        out[handle] = {"operators": names, "peak_rows": peak}
    return out


def peak_state_rows(series: list[dict]) -> int:
    """Peak summed state rows across the series' batches."""
    return max(
        (sum(op["rows"] for op in b["operators"]) for b in series),
        default=0,
    )


def make_state_listener(
    max_batches: int = 256,
    store: dict | None = None,
    accept=None,
):
    """The production adapter the module docstring promises: a
    ``StreamingQueryListener`` that feeds :data:`LAST_STATE`
    CONTINUOUSLY from live progress events (keyed by query name), so
    an UNBOUNDED deployment gets the same per-batch state series the
    bounded replays record post-hoc — register once per session with
    ``spark.streams.addListener(make_state_listener())`` and point a
    metrics shipper (or the plateau predicate, as a watchdog) at the
    series. Factory, not a module-level instance: listener callbacks
    arrive on a JVM-driven thread, and each session should own its
    registration/removal lifecycle.

    The capture is append-per-batch (identical row shape to
    :func:`state_series`), so ``peak_state_rows`` /
    :func:`state_plateaus` work on a live series unchanged — the
    monitoring story and the test guard share one code path. The live
    series is a RING of the last ``max_batches`` batches per query
    (an uncapped append-per-batch list would mean the
    state-growth watchdog itself carries unbounded driver state over
    the week-long deployments it exists for — the same failure mode,
    one level up; 256 ≈ recentProgress's ~100 with headroom). The
    all-time peak survives trimming in the listener's ``peaks``
    attribute (query name -> running peak total state rows), which is
    what a state-growth ALARM should key on anyway — a violation must
    not age out of the window before anyone looks.

    ``store``: listeners are SESSION-wide — every
    registered listener receives every query's progress events — so
    two consumers sharing the default ``LAST_STATE['live']`` dict
    would double-append each other's batches and read each other's
    series across job restarts. A consumer owning its lifecycle (the
    StreamingJob watchdog) passes its own dict and reads only that;
    the global default stays for ad-hoc single-listener use.
    ``accept``: an optional ``name -> bool``
    predicate evaluated per event — without it a per-job store still
    RECEIVES every session query's series (read-side filtering alone
    leaves foreign rings consuming this consumer's driver memory and
    foreign names answerable through the store); the job passes its
    own-query predicate so isolation holds at the write."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _StateListener(StreamingQueryListener):
        def __init__(self):
            super().__init__()
            #: query name -> all-time peak summed state rows (never
            #: trimmed; survives the series ring)
            self.peaks: dict[str, int] = {}

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            name = p.name or f"id_{p.id}"
            if accept is not None and not accept(name):
                return
            ops = [
                {
                    "name": o.operatorName or "",
                    "rows": int(o.numRowsTotal or 0),
                    "removed": int(o.numRowsRemoved or 0),
                    "memory": int(o.memoryUsedBytes or 0),
                }
                for o in (p.stateOperators or [])
            ]
            total = sum(o["rows"] for o in ops)
            if total > self.peaks.get(name, 0):
                self.peaks[name] = total
            target = (
                store
                if store is not None
                else LAST_STATE.setdefault("live", {})
            )
            series = target.setdefault(name, [])
            series.append({"batchId": p.batchId, "operators": ops})
            if len(series) > max_batches:  # ring: keep the newest N
                del series[: len(series) - max_batches]

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _StateListener()


def state_plateaus(
    series: list[dict], total_keys: int, max_fraction: float = 0.5
) -> bool:
    """The eviction predicate: does state stay bounded away from the
    total distinct key count over a multi-batch replay? True when the
    PEAK state rows across all batches is at most
    ``max_fraction * total_keys`` — a watermarked operator over an
    event-time-ordered replay holds only the keys inside its lateness
    horizon (peak ~ keys-per-horizon, independent of replay length),
    while a watermark-free twin accumulates every key it has ever
    seen and ends at ``total_keys`` exactly. The fraction is a guard
    band, not a model: eviction lags one batch (removal happens at
    the commit AFTER the watermark passes), so the peak spans ~2
    batches' keys; any value that separates that from 1.0 works."""
    if total_keys <= 0:
        return True
    return peak_state_rows(series) <= max_fraction * total_keys
