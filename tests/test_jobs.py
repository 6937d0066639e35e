"""Batch job orchestration: one join, cached, two outputs (every metric
family as one ``metrics`` aggregation, plus the quota report)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import DataFrame

from kcbdml9_big_data_processing_spark.functions.exact import dsum
from kcbdml9_big_data_processing_spark.jobs.batch import BatchJob, BatchJobConfig
from kcbdml9_big_data_processing_spark.operators.enrich import enrich
from kcbdml9_big_data_processing_spark.operators.metrics import (
    conform_metric,
    windowed_sum,
)
from kcbdml9_big_data_processing_spark.plans.inspect import shuffle_exchange_count
from kcbdml9_big_data_processing_spark.queries import QUERIES
from kcbdml9_big_data_processing_spark.sources.parquet import read_table

SF = "/root/testdata/sf0.001"


def test_batch_job_fanout_matches_registry(spark):
    fact = read_table(spark, SF, "events")
    dim = read_table(spark, SF, "customer")
    job = BatchJob(
        BatchJobConfig(
            fact_key="user_id",
            dim_key="c_custkey",
            ts_col="ts",
            value_col="value",
            metrics=[
                ("event_type", "antenna_bytes_total"),
                ("c_name", "email_bytes_total"),
            ],
            quota_user_col="c_name",
            quota_col="c_acctbal",
        )
    )
    got: dict[str, list] = {}

    def write(name: str, df: DataFrame) -> None:
        got[name] = df.collect()  # materialize inside the writer

    job.run(fact, dim, write)

    assert set(got) == {"metrics", "quota_violations"}
    # the email family must equal the standalone registry query
    from kcbdml9_big_data_processing_spark.queries.parity import bytes_email_hourly

    want = bytes_email_hourly(spark, SF).collect()
    email = [r for r in got["metrics"] if r["type"] == "email_bytes_total"]
    assert sorted(map(tuple, email)) == sorted(map(tuple, want))
    # and the quota report must match the registry's too (modulo column names)
    want_q = QUERIES["quota_violations_hourly"].fn(spark, SF).collect()
    assert sorted((r[0], r[1], r[2], r[3]) for r in got["quota_violations"]) == sorted(
        map(tuple, want_q)
    )


def _h(hour: int, minute: int = 0) -> dt.datetime:
    return dt.datetime(2024, 3, 1, hour, minute)


#: an integer key (the fact's ``id``), a string key (``antenna``) and
#: a key with a null (``app``), over two hourly windows
FACT_ROWS = [
    (_h(10, 5), 1, "a1", "web", 100),
    (_h(10, 20), 2, "a1", None, 50),
    (_h(10, 40), 1, "a2", "mail", 200),
    (_h(10, 50), 2, "a2", None, 5),
    (_h(11, 5), 1, "a1", "web", 999),
]
FACT_SCHEMA = "timestamp timestamp, id long, antenna string, app string, bytes long"
DIM_ROWS = [(1, "alice@x.com", 250), (2, "bob@x.com", 10)]
DIM_SCHEMA = "id long, email string, quota long"
METRICS = [
    ("antenna", "antenna_bytes_total"),
    ("id", "user_bytes_total"),
    ("app", "app_bytes_total"),
]


def _frames(spark) -> tuple[DataFrame, DataFrame]:
    return (
        spark.createDataFrame(FACT_ROWS, FACT_SCHEMA),
        spark.createDataFrame(DIM_ROWS, DIM_SCHEMA),
    )


def _job(metrics=METRICS, quota: bool = True) -> BatchJob:
    return BatchJob(
        BatchJobConfig(
            fact_key="id",
            dim_key="id",
            ts_col="timestamp",
            value_col="bytes",
            metrics=list(metrics),
            quota_user_col="email" if quota else None,
            quota_col="quota" if quota else None,
        )
    )


def _run(spark, job: BatchJob) -> list[tuple[str, list[tuple]]]:
    """Every ``write(name, rows)`` call of one run, in order."""
    fact, dim = _frames(spark)
    calls: list[tuple[str, list[tuple]]] = []

    def write(name: str, df: DataFrame) -> None:
        calls.append((name, [tuple(r) for r in df.collect()]))

    job.run(fact, dim, write)
    return calls


@pytest.mark.parametrize(
    "metrics, quota, names",
    [
        (METRICS, True, ["metrics", "quota_violations"]),
        ([], True, ["quota_violations"]),
        (METRICS, False, ["metrics"]),
    ],
)
def test_batch_job_writes_one_metrics_output(spark, metrics, quota, names):
    """One ``metrics`` write for any number of families, then the
    quota report; each only when configured."""
    assert [name for name, _ in _run(spark, _job(metrics, quota))] == names


def test_batch_job_metrics_equal_union_of_per_family_sums(spark):
    """The one ``metrics`` output holds exactly the union of the
    per-family hourly sums over the enrichment: the integer key as its
    string id, and the null app key as its own null-id group."""
    got = sorted(dict(_run(spark, _job()))["metrics"], key=repr)
    fact, dim = _frames(spark)
    enriched = enrich(fact, dim, "id", "id")
    want = []
    for key, tag in METRICS:
        one = windowed_sum(
            enriched,
            key,
            "1 hour",
            ts_col="timestamp",
            value_col="bytes",
            agg=dsum("bytes"),
        )
        want += [tuple(r) for r in conform_metric(one, key, tag).collect()]
    assert got == sorted(want, key=repr)
    assert (_h(10), "1", 300.0, "user_bytes_total") in got
    assert (_h(10), None, 55.0, "app_bytes_total") in got


def test_batch_job_metrics_add_one_shuffle(spark):
    """Every family shares one aggregation: the ``metrics`` frame has
    exactly one shuffle Exchange above the enrichment's own."""
    fact, dim = _frames(spark)
    frames: dict[str, DataFrame] = {}

    def write(name: str, df: DataFrame) -> None:
        frames[name] = df  # not materialized: only its plan is read

    _job().run(fact, dim, write)
    # run() has released the cache, so the plan below is built over the
    # uncached enrichment and the cached relation's inner plan is not
    # counted twice
    enriched = enrich(fact, dim, "id", "id")
    metrics = frames["metrics"]
    assert "InMemoryRelation" not in metrics._jdf.queryExecution().toString()
    assert shuffle_exchange_count(metrics) == shuffle_exchange_count(enriched) + 1
