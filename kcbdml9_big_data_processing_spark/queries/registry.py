"""Query registry plumbing."""

from __future__ import annotations

import functools
import threading
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

#: per-process cache of CONSTRUCTED + ANALYZED query plans, keyed by
#: (applicationId, query name, sf_dir). Registered query inputs are
#: immutable per (app, sf_dir) — driver testdata parquet — so
#: re-running DataFrame construction + Catalyst analysis per call
#: buys nothing (0.2-1.2 s/call on the suite rows). Execution is NOT
#: cached: every call's action still scans, shuffles, and aggregates
#: the real data — only the plan object is reused. Queries opt in
#: declaratively with ``register(prepare=True)``.
_PREPARED_PLANS: dict[tuple[str, str, str], DataFrame] = {}

#: guards the eviction loop + lookup/insert: registry
#: callers are single-threaded today, but an unguarded check-then-act
#: would let two future concurrent callers both build and one result
#: be dropped. The lock is NOT held during build() — plans are
#: immutable, so a duplicate concurrent build is wasted work, not a
#: correctness problem, and setdefault keeps exactly one.
_PREPARED_LOCK = threading.Lock()


def _prepared_plan(spark: SparkSession, name: str, sf_dir: str, build) -> DataFrame:
    app_id = spark.sparkContext.applicationId
    key = (app_id, name, sf_dir)
    with _PREPARED_LOCK:
        for k in [k for k in _PREPARED_PLANS if k[0] != app_id]:
            del _PREPARED_PLANS[k]
        df = _PREPARED_PLANS.get(key)
    if df is None:
        df = build()
        df.schema  # force analysis at preparation time
        with _PREPARED_LOCK:
            df = _PREPARED_PLANS.setdefault(key, df)
    return df


def _prepared_lifecycle_plan(
    spark: SparkSession, name: str, sf_dir: str, build
) -> "tuple[DataFrame, tuple[DataFrame, ...]]":
    """The cache-manager-aware prepared variant for queries whose
    per-call persist/unpersist lifecycle is load-bearing (the case
    ``register(prepare=True)`` forbids — see :func:`register`).

    ``build`` returns ``(out, frames)``: the result plan plus the
    frames the query persists per call. Construction + Catalyst
    ANALYSIS run once per (app, sf_dir); the caller then, per call,
    (1) re-persists each returned frame — registering a fresh
    InMemoryRelation with the cache manager, (2) eagerly materializes
    the returned plan, and (3) unpersists every frame, so no data
    rides in executor memory between calls.

    The returned plan is ``out.select("*")`` — a NEW Dataset, hence a
    new QueryExecution whose withCachedData lookup resolves against
    the CURRENT call's cache registrations. That is what makes this
    cache-manager-aware: reusing the first call's *physical* plan
    (what the plain prepared cache would pin) would keep executing its
    first-call InMemoryRelation, whose re-filled blocks detach from
    the cache manager and leak across calls. Only the analyzed
    logical plan is reused — optimization, physical planning, and the
    full scan/shuffle execution happen per call."""
    app_id = spark.sparkContext.applicationId
    key = (app_id, name, sf_dir)
    with _PREPARED_LOCK:
        for k in [k for k in _PREPARED_ARTIFACTS if k[0] != app_id]:
            del _PREPARED_ARTIFACTS[k]
        pair = _PREPARED_ARTIFACTS.get(key)
    if pair is None:
        out, frames = build()
        out.schema  # force analysis at preparation time
        with _PREPARED_LOCK:
            pair = _PREPARED_ARTIFACTS.setdefault(key, (out, tuple(frames)))
    out, frames = pair
    return out.select("*"), frames


#: generic per-process artifact cache behind _prepared_lifecycle_plan
#: (same keying + eviction as _PREPARED_PLANS)
_PREPARED_ARTIFACTS: dict[tuple[str, str, str], tuple] = {}


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    #: DuckDB-compatible ANSI SQL equivalent; None for ops SQL can't
    #: express (the driver then records a weaker rows-only check).
    oracle: str | None = None
    #: headline queries are the ones bench.py times at sf0.1
    headline: bool = False
    doc: str = ""


QUERIES: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None = None,
    headline: bool = False,
    prepare: bool = False,
) -> Callable[[QueryFn], QueryFn]:
    """Register a query. ``prepare=True`` routes it through the
    per-process prepared-plan cache: construction + analysis run once
    per (app, sf_dir), every call executes the same analyzed plan.
    ONLY for functions whose body is pure plan construction over the
    immutable sf_dir inputs — no writes, no driver-side actions, no
    per-call persist lifecycle (a cached plan pins its first call's
    physical plan, so per-call persist/unpersist cycles would silently
    detach from the cache manager). Functions that need preparation
    around internal stores/actions call _prepared_plan themselves."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        run = fn
        if prepare:

            @functools.wraps(fn)
            def run(spark: SparkSession, sf_dir: str) -> DataFrame:
                return _prepared_plan(
                    spark, name, sf_dir, lambda: fn(spark, sf_dir)
                )

        QUERIES[name] = QuerySpec(
            name=name, fn=run, oracle=oracle, headline=headline, doc=fn.__doc__ or ""
        )
        return fn

    return deco
