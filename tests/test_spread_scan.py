"""spread_scan (r16 optimization): the input-skew remedy for
single-row-group scans (guide §2.5) must spread exactly when the scan
under-parallelizes, stay a no-op otherwise, and never change rows."""

from __future__ import annotations

from pyspark.sql import functions as F

from kcbdml9_big_data_processing_spark.sources import parquet as P
from kcbdml9_big_data_processing_spark.sources.parquet import (
    read_table,
    spread_scan,
)

from conftest import SF_SMOKE


def test_spreads_single_split_scan_to_core_count(spark):
    """The driver testdata tables are one file / one row group — the
    scan is ONE task; spread_scan must rebalance it to the session's
    parallelism, bounded by the size-aware cap (r17): never more
    tasks than ceil(input bytes / _SPREAD_MIN_BYTES_PER_TASK)."""
    import os

    docs = read_table(spark, SF_SMOKE, "documents")
    assert docs.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
    out = spread_scan(docs)
    nbytes = os.path.getsize(os.path.join(SF_SMOKE, "documents.parquet"))
    cap = -(-nbytes // P._SPREAD_MIN_BYTES_PER_TASK)
    expected = min(spark.sparkContext.defaultParallelism, cap)
    assert out.rdd.getNumPartitions() == expected


def test_size_cap_never_binds_at_bench_scale(spark):
    """At the driver's benched SF (0.1) the cap must NOT bind at any
    core count the driver uses (32 or 8): sf0.1 documents are ~594 KB,
    far above 32 x _SPREAD_MIN_BYTES_PER_TASK — pinning that the r17
    cap leaves every r16 bench-scale spread byte-identical."""
    import os

    sf01 = "/root/testdata/sf0.1"
    if not os.path.exists(os.path.join(sf01, "documents.parquet")):
        import pytest

        pytest.skip("sf0.1 testdata not present")
    nbytes = os.path.getsize(os.path.join(sf01, "documents.parquet"))
    assert -(-nbytes // P._SPREAD_MIN_BYTES_PER_TASK) >= 32


def test_explicit_min_tasks_bypasses_size_cap(spark):
    """An explicit min_tasks is the caller's decision — the size cap
    applies only to the derived (defaultParallelism) target."""
    docs = read_table(spark, SF_SMOKE, "documents")
    want = spark.sparkContext.defaultParallelism
    assert spread_scan(docs, want).rdd.getNumPartitions() == want


def test_noop_when_scan_already_parallel(spark):
    """At a healthy layout (>= cores splits) spread_scan must return
    the frame UNCHANGED — no exchange added at real scale."""
    cores = spark.sparkContext.defaultParallelism
    df = spark.range(0, 1000, 1, cores + 3)
    assert spread_scan(df) is df


def test_explicit_min_tasks_floor(spark):
    df = read_table(spark, SF_SMOKE, "documents")
    assert spread_scan(df, 4).rdd.getNumPartitions() == 4


def test_rows_unchanged_and_filter_still_pushes(spark):
    """Spread must not change the row set, and predicates written
    after it must still reach the parquet scan (Catalyst pushes
    filters through Repartition)."""
    from kcbdml9_big_data_processing_spark.plans.inspect import pushed_filters

    base = read_table(spark, SF_SMOKE, "documents")
    spread = spread_scan(base)
    a = sorted(r.doc_id for r in base.select("doc_id").collect())
    b = sorted(r.doc_id for r in spread.select("doc_id").collect())
    assert a == b
    q = spread.where(F.col("doc_id") > 100).select("doc_id")
    assert pushed_filters(q), "filter stopped reaching the scan"

