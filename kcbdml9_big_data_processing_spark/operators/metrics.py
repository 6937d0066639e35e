"""Event-time windowed aggregation + metric conformance.

The semantic core of the reference: every analytic it computes is a
hash aggregation over (key, event-time tumbling window) with a single
sum, conformed to a long/narrow metric row
(timestamp=window.start, id, value, type) — SURVEY.md §2.6,
streaming/StreamingJobImpl.scala:43-77 and batch/BatchJobImpl.scala:46-77.

Written once here, parameterized. Works identically on bounded and
streaming DataFrames (pass ``watermark`` for streams so state is
evicted — T1 in SURVEY.md §2.10, StreamingJobImpl.scala:46).

Scale notes: Spark plans this as partial (map-side) + final
HashAggregate around a single shuffle on (key, window) — the minimum
possible. Cardinality of the output is |keys| x |windows|, so state
for streaming is bounded by the watermark horizon.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def windowed_sum(
    df: DataFrame,
    key: str | Column,
    window_duration: str,
    ts_col: str = "timestamp",
    value_col: str = "bytes",
    watermark: str | None = None,
    agg: Column | None = None,
    value_name: str = "value",
) -> DataFrame:
    """groupBy(key, window(ts, duration)).agg(sum(value)).

    Returns columns: ``window`` (struct<start,end>), the key column,
    and the aggregate aliased ``value_name``. Pass a custom ``agg``
    Column to override the default ``sum(value_col)``.
    """
    if watermark is not None:
        df = df.withWatermark(ts_col, watermark)
    key_col = F.col(key) if isinstance(key, str) else key
    agg_col = agg if agg is not None else F.sum(value_col)
    return df.groupBy(key_col, F.window(F.col(ts_col), window_duration)).agg(
        agg_col.alias(value_name)
    )


def conform_metric(
    df: DataFrame,
    id_col: str,
    tag: str,
    value_col: str = "value",
) -> DataFrame:
    """Conform a windowed aggregate to the reference's metric layout
    ``(timestamp, id, value, type)`` (StreamingJobImpl.scala:51-52 etc.):
    timestamp = window.start, id = the grouping key as string,
    type = literal discriminator tag.
    """
    return df.select(
        F.col("window.start").alias("timestamp"),
        F.col(id_col).cast("string").alias("id"),
        F.col(value_col).alias("value"),
        F.lit(tag).alias("type"),
    )


def fanout_windowed_sum(
    df: DataFrame,
    metrics: list[tuple[str | Column, str]],
    window_duration: str,
    ts_col: str = "timestamp",
    value_col: str = "bytes",
    watermark: str | None = None,
    agg: Column | None = None,
) -> DataFrame:
    """Several metric families as ONE aggregation: each row explodes
    into one ``(type, id)`` pair per ``(key, tag)`` in ``metrics``,
    then a single groupBy(type, id, window(ts, duration)) sums
    ``value_col`` (or ``agg``). Returns the conformed metric rows
    ``(timestamp, id, value, type)`` — the union of
    ``conform_metric(windowed_sum(df, key, ...), key, tag)`` over the
    metrics, computed over one scan, one shuffle and (on a stream) one
    state store.

    Keys cast to string BEFORE grouping, so keys of different types
    share the one array; a null key stays a null ``id`` group, as in
    the per-key aggregation.
    """
    if watermark is not None:
        df = df.withWatermark(ts_col, watermark)
    pairs = F.array(
        *(
            F.struct(
                F.lit(tag).alias("type"),
                (F.col(key) if isinstance(key, str) else key)
                .cast("string")
                .alias("id"),
            )
            for key, tag in metrics
        )
    )
    agg_col = agg if agg is not None else F.sum(value_col)
    return (
        df.select("*", F.explode(pairs).alias("m"))
        .groupBy("m.type", "m.id", F.window(F.col(ts_col), window_duration))
        .agg(agg_col.alias("value"))
        .select(
            F.col("window.start").alias("timestamp"),
            "id",
            "value",
            "type",
        )
    )
