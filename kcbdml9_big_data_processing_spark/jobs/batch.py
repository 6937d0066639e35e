"""Batch layer job: enrich once, cache, write two outputs.

Mirrors batch/BatchJob.scala:28-47: read one hour of the archive and
the user dimension, inner-join, ``.cache()`` the enriched frame (M1),
then write from it every metric family (bytes per antenna / email /
app) as ONE aggregation, ``metrics``, plus the quota report: two
actions where the reference runs one per family and one for the
report. The first fills the cache, the second reuses its scan and
join. A JDBC dimension has no size statistics, so the join broadcasts
the fact hour, not the dimension (operators/enrich.py).

Scale: the cache holds one hour of enriched rows, the working set, not
the table; past memory, swap ``cache()`` for persist(DISK_ONLY).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from ..functions.exact import dsum
from ..operators.enrich import enrich
from ..operators.metrics import fanout_windowed_sum
from ..operators.quota import quota_violations

#: named-output writer, e.g. a JDBC append (sinks/jdbc.py) or a test dict
OutputWriter = Callable[[str, DataFrame], None]


@dataclass
class BatchJobConfig:
    fact_key: str
    dim_key: str
    ts_col: str
    value_col: str
    #: (key column in the enriched frame, metric tag) fan-out
    metrics: list[tuple[str, str]] = field(default_factory=list)
    #: quota report columns (None disables it)
    quota_user_col: str | None = None
    quota_col: str | None = None
    window: str = "1 hour"


class BatchJob:
    """run(fact, dim, write) -> join once, cache, two outputs (BJ:28-47)."""

    def __init__(self, config: BatchJobConfig):
        self.config = config

    def run(self, fact: DataFrame, dim: DataFrame, write: OutputWriter) -> None:
        """Write ``metrics`` (every family's ``(timestamp, id, value,
        type)`` rows) then ``quota_violations``, each if configured.
        ``write(name, df)`` MUST materialize the frame (collect or
        sink it) — the cache is released when run() returns."""
        cfg = self.config
        enriched = enrich(fact, dim, cfg.fact_key, cfg.dim_key).cache()
        try:
            if cfg.metrics:
                write(
                    "metrics",
                    fanout_windowed_sum(
                        enriched,
                        cfg.metrics,
                        cfg.window,
                        ts_col=cfg.ts_col,
                        value_col=cfg.value_col,
                        agg=dsum(cfg.value_col),
                    ),
                )
            if cfg.quota_user_col and cfg.quota_col:
                write(
                    "quota_violations",
                    quota_violations(
                        enriched,
                        user_col=cfg.quota_user_col,
                        quota_col=cfg.quota_col,
                        ts_col=cfg.ts_col,
                        value_col=cfg.value_col,
                        window_duration=cfg.window,
                        usage_agg=dsum(cfg.value_col),
                    ),
                )
        finally:
            enriched.unpersist()
