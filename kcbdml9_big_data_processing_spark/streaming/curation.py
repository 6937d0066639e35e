"""Streaming ingest curation: the speed-layer half of the
training-data pipeline (jobs/training_data.py is the batch half) —
documents arriving on a stream are quality-gated and deduplicated
BEFORE they ever land in the corpus, so the batch curation pass over
100 TB starts from data that is already hygienic.

What runs on the stream (and why only this):

- **Quality gate** — per-row expressions (word count, stopword ratio,
  lexical diversity: the same arithmetic as the batch curator), so it
  is stateless and runs at ingest speed.
- **Exact dedup** — ``dropDuplicatesWithinWatermark`` on the
  normalized content hash: the state store suppresses redeliveries
  and near-in-time duplicates, and the watermark EVICTS state once a
  hash can no longer be redelivered — the property that makes
  streaming dedup viable on an unbounded source (plain
  ``dropDuplicates`` state grows forever).

Near-dup detection (pairwise) is deliberately NOT here: it needs
corpus-wide joins, which is the batch pass's job. The standard
lambda split: stream = cheap per-row + keyed-state ops, batch =
global pairwise ops.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..queries.text import _STOPWORDS
from .sinks import BatchWriter, start_foreach_batch

_WS = r"\s+"


@dataclass
class IngestCurationConfig:
    min_words: int = 5
    max_stopword_ratio: float = 0.9
    min_lexical_diversity: float = 0.1
    #: how long a content hash stays deduplicatable; bounds state
    dedup_watermark: str = "10 minutes"
    text_col: str = "text"
    #: event-time column the watermark advances on (arrival time for
    #: ingest streams)
    ts_col: str = "ts"


def _quality_ok(cfg: IngestCurationConfig) -> Column:
    toks = F.split(F.trim(F.col(cfg.text_col)), _WS)
    n = F.size(toks)
    sw = F.array([F.lit(w) for w in _STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return (
        (n >= cfg.min_words)
        & (n_stop.cast("double") / n.cast("double") <= cfg.max_stopword_ratio)
        & (
            F.size(F.array_distinct(toks)).cast("double") / n.cast("double")
            >= cfg.min_lexical_diversity
        )
    )


def curate_stream(
    stream: DataFrame, config: IngestCurationConfig | None = None
) -> DataFrame:
    """Apply the ingest-side curation to a streaming documents frame:
    quality filter, then watermarked exact dedup on the normalized
    content hash. Returns the curated stream (original columns plus
    ``content_hash``), ready for any sink."""
    cfg = config or IngestCurationConfig()
    # THE shared content identity (queries.dedup.content_hash_expr):
    # the stream and the batch curator must agree on what "same
    # content" means, or a doc the stream admits as unique could be
    # exact-dup by batch rules and vice versa — one definition, zero
    # drift
    from ..queries.dedup import content_hash_expr

    return (
        stream.where(_quality_ok(cfg))
        .withColumn("content_hash", content_hash_expr(cfg.text_col))
        .withWatermark(cfg.ts_col, cfg.dedup_watermark)
        .dropDuplicatesWithinWatermark(["content_hash"])
    )


def start_curated_ingest(
    stream: DataFrame,
    writer: BatchWriter,
    checkpoint_dir: str,
    config: IngestCurationConfig | None = None,
    query_name: str = "curated_ingest",
    trigger_available_now: bool = False,
) -> StreamingQuery:
    """Run :func:`curate_stream` into a foreachBatch sink — the
    checkpointed, restart-safe ingestion job. The writer sees only
    quality-passing, first-delivery documents."""
    return start_foreach_batch(
        curate_stream(stream, config),
        writer,
        checkpoint_dir,
        query_name,
        trigger_available_now=trigger_available_now,
    )
