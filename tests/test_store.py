"""The registry's build-once store (queries/registry.build_once): one
entry per (applicationId, kind, sf_dir), entries of other applications
dropped on lookup, and registered queries that read stored artifacts
staying oracle-exact when sf_dirs are mixed in one session."""

from __future__ import annotations

import importlib.util
import os
import sys
import threading
import time
from types import SimpleNamespace

import duckdb
import pytest

from conftest import SF_SMOKE
from kcbdml9_big_data_processing_spark.queries import QUERIES, registry

SF_SMALL = os.path.join(os.path.dirname(SF_SMOKE), "sf0.01")


@pytest.fixture
def store(monkeypatch):
    """An empty store for the test, so the session's prepared plans
    and artifacts are neither read nor evicted by it."""
    monkeypatch.setattr(registry, "_STORE", {})
    return registry._STORE


def _app(app_id: str = "app") -> SimpleNamespace:
    """Stands in for a SparkSession: the store reads only its
    applicationId."""
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


def _counting():
    calls = []

    def build():
        calls.append(1)
        return f"value{len(calls)}"

    return build, calls


def test_build_runs_once_per_kind_and_sf_dir(store):
    app = _app()
    build, calls = _counting()
    first = registry.build_once(app, "artifact", "/sf/a", build)
    assert registry.build_once(app, "artifact", "/sf/a", build) == first
    assert len(calls) == 1

    other = registry.build_once(app, "artifact", "/sf/b", build)
    assert other != first and len(calls) == 2
    assert registry.build_once(app, "other_kind", "/sf/a", build) == "value3"
    assert len(store) == 3


def test_other_application_entries_are_dropped_on_lookup(store):
    build, calls = _counting()
    registry.build_once(_app("app-gone"), "artifact", "/sf/a", build)
    registry.build_once(_app(), "artifact", "/sf/a", build)
    assert len(calls) == 2
    assert [k[0] for k in store] == ["app"]


def test_clear_prepared_plans_keeps_artifacts(store):
    build, _ = _counting()
    registry.build_once(_app(), "plan:q", "/sf/a", build)
    registry.build_once(_app(), "artifact", "/sf/a", build)
    registry.clear_prepared_plans()
    assert [k[1] for k in store] == ["artifact"]


def test_concurrent_builds_keep_one_value(store):
    """Concurrent first lookups may each build (the lock is not held
    during build), but every caller gets the one value kept."""
    app = _app()
    n = 8
    barrier = threading.Barrier(n)
    results = [None] * n

    def build():
        time.sleep(0.05)  # every thread misses before any inserts
        return object()

    def worker(i):
        barrier.wait(timeout=10)
        results[i] = registry.build_once(app, "artifact", "/sf/a", build)

    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=10)
    finally:
        sys.setswitchinterval(prev)
    assert not any(t.is_alive() for t in threads)
    assert len({id(r) for r in results}) == 1 and results[0] is not None
    assert list(store.values()) == [results[0]]


def _oracle_hash(check, sf_dir: str, name: str) -> str:
    con = duckdb.connect()
    for t in check.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    cur = con.execute(QUERIES[name].oracle)
    cols = [d[0] for d in cur.description]
    return check.value_hash(cur.fetchall(), cols)


@pytest.mark.parametrize("name", ["dedup_ngram_suite", "dedup_simhash"])
def test_mixed_sf_dirs_match_oracle(spark, name):
    """sf0.001 -> sf0.01 -> sf0.001 in one session: each call reads
    the artifacts stored for its own sf_dir, so each result equals its
    DuckDB oracle and the third call equals the first. The oracle runs
    once per sf_dir (the third call's is the first's)."""
    spec = importlib.util.spec_from_file_location(
        "check_correctness",
        os.path.join(os.path.dirname(__file__), "..", "tools", "check_correctness.py"),
    )
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)

    oracle = {}
    hashes = []
    for sf_dir in (SF_SMOKE, SF_SMALL, SF_SMOKE):
        df = QUERIES[name].fn(spark, sf_dir)
        got = check.value_hash([tuple(r) for r in df.collect()], df.columns)
        if sf_dir not in oracle:
            oracle[sf_dir] = _oracle_hash(check, sf_dir, name)
        assert got == oracle[sf_dir], (name, sf_dir)
        hashes.append(got)
    assert hashes[2] == hashes[0] != hashes[1]
