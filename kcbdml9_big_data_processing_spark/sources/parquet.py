"""Parquet sources.

S2 in SURVEY.md §2.1: the reference loads its hive-partitioned device
archive and keeps exactly one (year, month, day, hour) partition
(batch/BatchJobImpl.scala:17-27). Expressed declaratively, Catalyst
turns the four equality predicates into static partition pruning — at
100 TB the scan touches one hour's files, not the table.
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


#: size-aware cap on the DERIVED spread target: never
#: manufacture near-empty tasks for a tiny input — the spread target is
#: bounded by ceil(estimated input bytes / this). The floor is
#: deliberately SMALL (16 KB of compressed columnar text keeps a core
#: busy for a long time in the expression-heavy pipelines the spread
#: exists for — bytes are a weak proxy for per-row compute, so the cap
#: must only catch the degenerate KB-scale case, not second-guess the
#: core count). At sf0.1 (594 KB documents) the cap never binds at
#: 32 or 8 cores; at the KB-scale correctness SFs it stops a 32-way
#: shuffle of a handful of rows. Explicit ``min_tasks`` callers
#: bypass it.
_SPREAD_MIN_BYTES_PER_TASK = 16384


def spread_scan(df: DataFrame, min_tasks: int | None = None) -> DataFrame:
    """Round-robin-spread a scan whose INPUT LAYOUT yields fewer tasks
    than the session has cores (optimization guide §2.5 "input skew:
    one huge unsplittable file — repartition immediately after the
    read", §1.2 step 1).

    Parquet cannot split below row-group granularity, and a
    single-row-group file scans as ONE task no matter the cluster
    size — so every downstream per-row expression (tokenization,
    shingle fingerprinting, regex redaction, MD5 chains) runs on one
    core while the rest idle. The driver's testdata tables are exactly
    this shape (one file, one row group, verified with pyarrow), and
    the expression-heavy document queries spent 100 % of their runtime
    in that single task.

    Scale-adaptive, NOT a local-mode constant: the gate reads the
    scan's actual split count (``df.rdd.getNumPartitions()`` — the
    planner's real file splits) and only repartitions when it is below
    the session's core budget. At 100 TB a healthy layout yields
    thousands of splits and this is a no-op (zero added exchange); it
    fires only for pathological layouts (giant single row groups,
    gzip), where the one extra exchange moves exactly the input that
    was already the bottleneck — the guide's prescribed remedy.

    Round-robin (no key): even spread regardless of key skew; Spark's
    sort-before-repartition keeps retries deterministic over the
    deterministic scan."""
    spark = df.sparkSession
    if min_tasks is None:
        min_tasks = spark.sparkContext.defaultParallelism
        # size-aware cap (see _SPREAD_MIN_BYTES_PER_TASK): derived
        # targets only — an explicit min_tasks is the caller's call.
        # Non-file relations report the conf default (huge) and are
        # effectively uncapped.
        try:
            size = int(
                df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            )
            min_tasks = min(min_tasks, max(1, -(-size // _SPREAD_MIN_BYTES_PER_TASK)))
        except Exception:
            pass
    if min_tasks <= 1:
        return df
    if df.rdd.getNumPartitions() >= min_tasks:
        return df
    return df.repartition(min_tasks)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver testdata table (TESTDATA.md).

    ``events.parquet`` stores nanosecond timestamps, which Spark
    refuses to read natively (PARQUET_TYPE_ILLEGAL). We read them as
    bigint nanos (``spark.sql.legacy.parquet.nanosAsLong`` — a runtime
    conf, set here because the caller may own the session) and truncate
    to microseconds with integer division, matching how DuckDB (and any
    micros-precision engine) reads the same file. ``div`` keeps the
    arithmetic in int64 — a double division would lose precision above
    2^53 ns (~1970+104 days). Assumes positive (post-1970) epochs.
    """
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        return df
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def read_partitioned_archive(
    spark: SparkSession,
    storage_path: str,
    at: dt.datetime | None = None,
) -> DataFrame:
    """Read a year/month/day/hour-partitioned parquet archive.

    With ``at`` set, keep only that hour's partition — the filter is on
    partition columns, so Catalyst prunes at planning time (verify with
    ``.explain``: the scan's ``PartitionFilters`` carries all four
    predicates). Mirrors batch/BatchJobImpl.scala:17-27.
    """
    df = spark.read.parquet(storage_path)
    if at is not None:
        df = df.where(
            (F.col("year") == at.year)
            & (F.col("month") == at.month)
            & (F.col("day") == at.day)
            & (F.col("hour") == at.hour)
        )
    return df
