"""Speed-layer job: one streaming query for every windowed metric plus
the raw archive, on one SparkSession — the re-expression of the
reference's run() orchestration (streaming/StreamingJob.scala:26-46:
parse once, windowed aggs to JDBC, one archive, block forever).

Differences on purpose:
- parameterized (keys/window/watermark/sinks are config, not
  hardcoded x3 copies like StreamingJobImpl.scala:43-77);
- one metric query, ``metrics``, for all families
  (operators/metrics.fanout_windowed_sum), so each trigger reads the
  source, plans, commits and writes once, not once per metric;
- every query is checkpointed, not just the archive (T4);
- no thread-per-query Futures: ``start()`` is non-blocking in Python,
  so orchestration is start-all + ``awaitAnyTermination`` (T6).

The metric query checkpoints under ``checkpoint_root/metrics``; a
``checkpoint_root`` written by the older one-query-per-metric layout
cannot be resumed.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..operators.metrics import fanout_windowed_sum
from .sinks import BatchWriter, start_foreach_batch, start_partitioned_archive


@dataclass
class StreamingJobConfig:
    #: (key column, metric tag) per aggregation — the reference runs
    #: antenna/user/app (StreamingJobImpl.scala:43-77)
    metrics: list[tuple[str, str]] = field(
        default_factory=lambda: [
            ("antenna_id", "antenna_bytes_total"),
            ("id", "user_bytes_total"),
            ("app", "app_bytes_total"),
        ]
    )
    window: str = "90 seconds"
    watermark: str = "15 seconds"
    ts_col: str = "timestamp"
    value_col: str = "bytes"
    archive_path: str | None = None
    #: None -> a fresh per-job temp directory (collision-safe default
    #: for tests/ad-hoc runs). Production jobs MUST pin a durable
    #: per-query location (exactly-once restart depends on it) — a
    #: shared fixed path across jobs, or a rerun after changing the
    #: query shape, makes Spark fail on (or silently resume from)
    #: another run's offsets/state.
    checkpoint_root: str | None = None
    available_now: bool = False
    #: opt-in state-growth watchdog: registers a
    #: telemetry.make_state_listener for the job's lifetime so live
    #: per-batch state series + all-time peaks are queryable on the
    #: running job (state_peaks / state_violations / state_plateaus)
    state_watchdog: bool = False
    #: per-query live-series ring size (see make_state_listener)
    state_watchdog_max_batches: int = 256

    def __post_init__(self) -> None:
        if self.checkpoint_root is None:
            # under the process scratch root (tmpdirs), so ad-hoc/test
            # checkpoints are reclaimed at exit instead of leaking one
            # /tmp dir per run (a default checkpoint is per-process by
            # definition — durability across restarts requires pinning
            # a path anyway)
            from ..tmpdirs import scratch_dir

            self.checkpoint_root = scratch_dir("ckpt-")


METRICS_QUERY = "metrics"  # query name and checkpoint subdirectory


class StreamingJob:
    """Start the metric query (and the archive); caller owns lifecycle."""

    def __init__(self, spark: SparkSession, config: StreamingJobConfig):
        self.spark = spark
        self.config = config
        self.queries: list[StreamingQuery] = []
        self._listener = None
        #: per-job live-series store: listeners are session-wide, so
        #: the watchdog keeps its own dict instead of the shared
        #: LAST_STATE['live'] — a restarted or concurrent job can
        #: neither read this job's series nor pollute them
        self._state_store: dict[str, list[dict]] = {}
        #: accepted query names, known from config BEFORE any query
        #: starts, so a progress event delivered before q.start()
        #: returns is not rejected
        self._accepted: set[str] = set()

    def start(self, source: DataFrame, metric_writer: BatchWriter) -> list[StreamingQuery]:
        """Start the foreachBatch metric query (every configured (key,
        tag), rows ``(timestamp, id, value, type)``) plus the archive
        (when configured). ``source`` is the parsed stream (P2-P4
        already applied — see operators/parse.parse_json_payload for
        the Kafka payload path)."""
        cfg = self.config
        if cfg.state_watchdog and self._listener is None:
            from .telemetry import make_state_listener

            # accept only THIS job's queries (all named) at the write,
            # so foreign series never fill the store
            self._accepted = {METRICS_QUERY}
            if cfg.archive_path:
                self._accepted.add("archive")
            self._listener = make_state_listener(
                cfg.state_watchdog_max_batches,
                store=self._state_store,
                accept=self._accepted.__contains__,
            )
            self.spark.streams.addListener(self._listener)
        metric = fanout_windowed_sum(
            source,
            cfg.metrics,
            cfg.window,
            ts_col=cfg.ts_col,
            value_col=cfg.value_col,
            watermark=cfg.watermark,
        )
        q = start_foreach_batch(
            metric,
            metric_writer,
            checkpoint_dir=os.path.join(cfg.checkpoint_root, METRICS_QUERY),
            query_name=METRICS_QUERY,
            trigger_available_now=cfg.available_now,
        )
        self.queries.append(q)
        if cfg.archive_path:
            q = start_partitioned_archive(
                source,
                cfg.archive_path,
                checkpoint_dir=os.path.join(cfg.checkpoint_root, "archive"),
                ts_col=cfg.ts_col,
                trigger_available_now=cfg.available_now,
            )
            self.queries.append(q)
        return self.queries

    def await_all(self) -> None:
        """Block until every query terminates (availableNow runs) —
        the bounded-run analog of the reference's Await.result(
        Future.sequence(...), Duration.Inf) (StreamingJob.scala:43)."""
        for q in self.queries:
            q.awaitTermination()

    def await_any(self) -> None:
        """Block until any query terminates/fails (T6) — the unbounded
        production mode."""
        self.spark.streams.awaitAnyTermination()

    # -- state-growth watchdog (config.state_watchdog) -----------------

    def _require_watchdog(self):
        if self._listener is None:
            raise RuntimeError(
                "state watchdog not enabled — construct the job with"
                " StreamingJobConfig(state_watchdog=True) and start()"
            )
        return self._listener

    def _own_names(self) -> set[str]:
        # the config-sealed accepted set, plus the live queries keyed
        # the way the listener keys NAMELESS ones (filtering on truthy
        # q.name alone would hide an unnamed own query's state peak)
        return self._accepted | {
            q.name or f"id_{q.id}" for q in self.queries
        }

    def state_peaks(self) -> dict[str, int]:
        """All-time peak summed state rows per query name, from the
        live listener — the number a deployment alarms on (it cannot
        age out of the series ring). Restricted to THIS job's queries:
        the session-wide listener also hears other jobs' events, and an
        alarm must never fire on someone else's query."""
        own = self._own_names()
        # snapshot: the JVM listener thread inserts concurrently, and
        # iterating the live dict can raise "dictionary changed size
        # during iteration"
        peaks = dict(self._require_watchdog().peaks)
        return {name: peak for name, peak in peaks.items() if name in own}

    def state_violations(self, max_rows: int) -> dict[str, int]:
        """THIS job's queries whose all-time peak state exceeded
        ``max_rows`` — the production state-growth alarm: a watermark
        bug or key-space explosion surfaces as a named query here long
        before the executor OOM would name it for you."""
        return {
            name: peak
            for name, peak in self.state_peaks().items()
            if peak > max_rows
        }

    def state_plateaus(
        self, query_name: str, total_keys: int, max_fraction: float = 0.5
    ) -> bool:
        """The eviction predicate over a query's LIVE series (see
        telemetry.state_plateaus): state bounded away from the total
        key count means the watermark is actually evicting. Judged on
        the ring window — pair with :meth:`state_peaks` for the
        all-time bound. Raises KeyError for a query the watchdog has
        never observed (an empty series vacuously plateaus, so a typo'd
        name — or asking before the async listener delivered anything —
        must be loud, not a silent pass)."""
        from .telemetry import state_plateaus

        self._require_watchdog()
        if query_name not in self._state_store:
            raise KeyError(
                f"state watchdog has no series for {query_name!r} —"
                " unknown query name, or no progress event delivered"
                f" yet (observed: {sorted(self._state_store)})"
            )
        # snapshot the series for the same reason state_peaks snapshots
        # the peaks dict: the listener thread appends concurrently
        return state_plateaus(
            list(self._state_store[query_name]), total_keys, max_fraction
        )

    def stop(self) -> None:
        for q in self.queries:
            if q.isActive:
                q.stop()
        if self._listener is not None:
            try:
                self.spark.streams.removeListener(self._listener)
            except Exception:
                pass  # session already stopped — nothing to unhook
            self._listener = None
            self._state_store.clear()  # a restarted job starts blind
