"""Plan-shape assertions — the 100 TB discipline, tested.

Correct rows are necessary, not sufficient: these tests pin the
physical plans (partition pruning, pushed filters, broadcast of
provably-small dims, codegen coverage) so a regression that keeps
results right but wrecks the plan still fails CI.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kcbdml9_big_data_processing_spark.operators.enrich import enrich
from kcbdml9_big_data_processing_spark.plans.inspect import (
    has_broadcast_hash_join,
    partition_filters,
    pushed_filters,
    wholestage_codegen_spans,
)
from kcbdml9_big_data_processing_spark.sinks.parquet import write_partitioned_archive
from kcbdml9_big_data_processing_spark.sources.parquet import (
    read_partitioned_archive,
    read_table,
)

from conftest import SF_SMOKE


def test_partition_pruning_on_archive(spark, tiny_events, tmp_path_factory):
    """S2/F1: equality filters on hive partition cols must land in
    PartitionFilters (directory pruning), not post-scan Filter
    (batch/BatchJobImpl.scala:17-27)."""
    path = str(tmp_path_factory.mktemp("archive")) + "/events"
    write_partitioned_archive(tiny_events, path, ts_col="ts", mode="overwrite")
    import datetime as dt

    df = read_partitioned_archive(spark, path, at=dt.datetime(2024, 1, 1, 0, 0))
    pf = partition_filters(df)
    assert pf, "expected non-empty PartitionFilters"
    joined = " ".join(pf)
    for col in ("year", "month", "day", "hour"):
        assert col in joined
    assert df.count() == 6


def test_predicate_pushdown_on_lineitem(spark):
    """Filters + projection must reach the parquet scan."""
    li = read_table(spark, SF_SMOKE, "lineitem")
    q = li.where(F.col("l_quantity") < 10.0).select("l_orderkey", "l_quantity")
    assert pushed_filters(q), "expected non-empty PushedFilters"


def test_small_dim_broadcasts_with_hint(tiny_events, tiny_users):
    """J1: a provably-small dim with the explicit hint plans a
    BroadcastHashJoin (fact side unshuffled)."""
    out = enrich(tiny_events, tiny_users, "user_id", "id", broadcast_dim=True)
    assert has_broadcast_hash_join(out)


def test_small_dim_broadcasts_under_aqe(spark):
    """Without any hint, a dim far below autoBroadcastJoinThreshold
    still broadcasts — AQE/stats pick it, we don't force it."""
    ev = read_table(spark, SF_SMOKE, "events")
    cust = read_table(spark, SF_SMOKE, "customer")
    out = enrich(ev, cust, "user_id", "c_custkey")
    # materialize so AQE finalizes the plan, then check the final plan
    out.write.format("noop").mode("overwrite").save()
    assert has_broadcast_hash_join(out)


def test_agg_stays_in_codegen(spark):
    """The hot aggregation path must be whole-stage codegen'd."""
    ev = read_table(spark, SF_SMOKE, "events")
    q = ev.groupBy("event_type").agg(F.sum("value"))
    assert wholestage_codegen_spans(q) >= 1


def test_runtime_bloom_filter_injects_on_selective_join(spark):
    """100 TB shape: a selective dimension filter should reach the fact
    scan as a runtime bloom filter (Spark's InjectRuntimeFilter), so
    the shuffle join exchanges only rows whose key might match instead
    of the whole fact table. On a cluster this triggers at default
    thresholds (creation side <=10MB post-filter, application side a
    >=10GB scan); the thresholds here are set to make local test data
    representative of that regime. Conf-scoped so the session's other
    tests see default behavior."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
        # force a shuffle join: against a broadcast join Spark rightly
        # skips the bloom filter (the broadcast IS the filter)
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        orders = read_table(spark, SF_SMOKE, "orders").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = read_table(spark, SF_SMOKE, "lineitem")
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        physical = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in physical
        # and the result is unaffected by the filter
        rows = {(r.o_orderpriority, r.n) for r in j.collect()}
        assert len(rows) == 1
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# --- BNLJ scalar-broadcast guard over the whole registry (r11 #5) ---------

import pytest

from kcbdml9_big_data_processing_spark.plans.inspect import bnlj_build_sides
from kcbdml9_big_data_processing_spark.queries import QUERIES
from kcbdml9_big_data_processing_spark.queries.registry import clear_prepared_plans


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_bnlj_build_sides_are_scalar(spark, name, monkeypatch):
    """PLANS.md shows BroadcastNestedLoopJoin in several registry
    plans; the code reads as 1-row scalar-stat broadcasts
    (e.g. the stop-shingle array, corpus-level thresholds). Pin it
    structurally for EVERY registered query: each BNLJ's build side
    must be provably ≤1 row (global aggregate / ≤1-row literal), so a
    future edit can't silently grow one into a real cartesian.
    Streaming rows are skipped — their plan exists per micro-batch
    (PLANS.md posture); batch semantics are covered by their batch
    twins here. Result-level lineage truncation is disabled for the
    inspection (r12 review: the checkpoint-backed RDD-scan plan the
    curation suites normally return would hide exactly the scalar
    crossJoins this guard exists to watch)."""
    if name.startswith("stream_"):
        pytest.skip("streaming: plan per micro-batch; state guards in test_stream_state.py")
    from kcbdml9_big_data_processing_spark.queries import dedup as _dedup

    monkeypatch.setattr(_dedup, "_SKIP_RESULT_TRUNCATION", True)
    clear_prepared_plans()
    df = QUERIES[name].fn(spark, SF_SMOKE)
    for summary, scalar_ok, text in bnlj_build_sides(df):
        if scalar_ok:
            continue
        # the ONE deliberate multi-row build side: the brute-force knn
        # baseline broadcasts its tiny PROBE set (every 100th vector —
        # the explicit hint in knn_topk_cosine; r12: without it Spark
        # broadcast the whole corpus). Pin that the build side is the
        # modulo-filtered probe scan, not the corpus.
        if name == "knn_centroid_suite" and "% 100) = 0" in text:
            continue
        raise AssertionError(
            f"{name}: non-scalar BNLJ build side: {summary}"
        )


def test_bnlj_guard_catches_real_cartesian(spark):
    """The guard itself must be falsifiable: a genuine cartesian
    (multi-row × multi-row crossJoin) fails the scalar proof."""
    a = spark.range(10).toDF("a")
    b = spark.range(10).toDF("b")
    sides = bnlj_build_sides(a.crossJoin(b))
    assert sides and all(not ok for _, ok, _ in sides)


# --- shuffle-ceiling + Python-boundary guards over the registry (r13) -----

import json
import os

from kcbdml9_big_data_processing_spark.plans.inspect import (
    pushed_predicate_count,
    python_eval_nodes,
    scan_read_schemas,
    shuffle_exchange_count,
    summarize_scan_schemas,
)

with open(os.path.join(os.path.dirname(__file__), "plan_ceilings.json")) as _f:
    _SHUFFLE_CEILINGS = json.load(_f)

with open(os.path.join(os.path.dirname(__file__), "scan_schemas.json")) as _f:
    _SCAN_SCHEMAS = json.load(_f)

with open(
    os.path.join(os.path.dirname(__file__), "pushed_filter_floors.json")
) as _f:
    _PUSHED_FLOORS = json.load(_f)

#: the only rows whose plan is ALLOWED a Python boundary, and the only
#: node kind they may use (Arrow-batched mapInPandas — the intended
#: multimodal decode/feature boundary). BatchEvalPython (row-at-a-time
#: UDF) is acceptable NOWHERE.
_PYTHON_ALLOWED = {"multimodal_features", "multimodal_frame_sample"}


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_plan_shuffles_and_python_boundary(spark, name, monkeypatch):
    """Two structural scale guards over every registered query,
    enforcing what PLANS.md only documents (a diff is advisory; a
    failing test is not):

    1. SHUFFLE CEILING — the query's data-moving exchange count (AQE
       off, pre-finalization) must not exceed the pinned ceiling in
       tests/plan_ceilings.json. Every groupBy/join/repartition a
       future edit adds is a new shuffle that becomes the bottleneck
       at 100x the data; exceeding the ceiling forces the author to
       acknowledge it (rerun tools/pin_plan_ceilings.py) instead of
       shipping it silently. Cache-hidden subtrees can only LOWER the
       count, so suite ordering can't false-fail the bound.

    2. PYTHON BOUNDARY — row-at-a-time BatchEvalPython must appear in
       NO plan, and the Arrow boundaries (mapInPandas) only in the two
       multimodal rows whose operator IS the Python boundary.

    3. COLUMN PRUNING — every corpus-table FileScan's ReadSchema must
       stay inside the columns pinned in tests/scan_schemas.json: no
       column the pin never saw, and no single scan wider than the
       pinned per-scan maximum. A projection that stops reaching the
       scan is invisible in rows and local runtimes but multiplies
       the whole job's I/O at 100 TB; reading FEWER columns (or a
       scan disappearing behind a cache/index) is always allowed.

    4. PUSHED-FILTER FLOOR — at least as many SUBSTANTIVE pushed
       predicates (across all scans, IsNotNull residue excluded) as
       tests/pushed_filter_floors.json pins: a predicate that slides
       off the scan into a post-scan Filter still returns correct
       rows but stops skipping row groups at 100 TB. More pushed
       predicates is an improvement and passes."""
    if name.startswith("stream_"):
        pytest.skip("streaming: plan per micro-batch; state guards in test_stream_state.py")
    from kcbdml9_big_data_processing_spark.queries import dedup as _dedup

    monkeypatch.setattr(_dedup, "_SKIP_RESULT_TRUNCATION", True)
    clear_prepared_plans()
    df = QUERIES[name].fn(spark, SF_SMOKE)

    nodes = python_eval_nodes(df)
    assert "BatchEvalPython" not in nodes, (
        f"{name}: row-at-a-time Python UDF on a data path"
    )
    if name in _PYTHON_ALLOWED:
        assert set(nodes) <= {"MapInPandas"}, (name, nodes)
    else:
        assert not nodes, (
            f"{name}: unexpected Python boundary {nodes} — built-ins"
            " or an explicit _PYTHON_ALLOWED entry, not a UDF"
        )

    ceiling = _SHUFFLE_CEILINGS.get(name)
    assert ceiling is not None, (
        f"{name}: no pinned shuffle ceiling — run"
        " tools/pin_plan_ceilings.py"
    )
    # reuse the frame: its physical plan was finalized (and cached)
    # under _aqe_off by python_eval_nodes above, so the count reads
    # the same plan — a rebuild would re-run construction + Catalyst
    # analysis (0.2-1.2 s/query) across the whole parametrization
    got = shuffle_exchange_count(df)
    assert got <= ceiling, (
        f"{name}: {got} data-moving shuffles exceeds the pinned"
        f" ceiling {ceiling}. If the new plan shape is intended,"
        " rerun tools/pin_plan_ceilings.py and justify the extra"
        " exchange in the commit."
    )

    pinned_scans = _SCAN_SCHEMAS.get(name)
    assert pinned_scans is not None, (
        f"{name}: no pinned scan schemas — run tools/pin_scan_schemas.py"
    )
    for table, e in summarize_scan_schemas(scan_read_schemas(df)).items():
        pin = pinned_scans.get(table)
        assert pin is not None, (
            f"{name}: scans corpus table {table} the pin never saw —"
            " if intended, rerun tools/pin_scan_schemas.py"
        )
        extra = set(e["union"]) - set(pin["union"])
        assert not extra, (
            f"{name}: reads unpinned columns {sorted(extra)} from"
            f" {table} — a projection stopped reaching the scan, or"
            " rerun tools/pin_scan_schemas.py and justify the wider"
            " read in the commit"
        )
        assert e["max_scan_width"] <= pin["max_scan_width"], (
            f"{name}: a single {table} scan reads"
            f" {e['max_scan_width']} columns, wider than the pinned"
            f" per-scan max {pin['max_scan_width']}"
        )

    floor = _PUSHED_FLOORS.get(name)
    assert floor is not None, (
        f"{name}: no pinned pushed-filter floor — run"
        " tools/pin_scan_schemas.py"
    )
    pushed = pushed_predicate_count(df)
    assert pushed >= floor, (
        f"{name}: only {pushed} substantive pushed predicates across"
        f" the scans, below the pinned floor {floor} — a predicate"
        " stopped reaching its scan; if the new plan shape is intended"
        " (e.g. a filter legitimately folded away), rerun"
        " tools/pin_scan_schemas.py and justify it in the commit"
    )


def test_scan_schema_guard_is_falsifiable(spark):
    """A widened read shows up exactly where the guard looks: the
    narrow aggregate reads 2 lineitem columns; concatenating every
    column into the projection widens the same scan to the table's
    full width, growing both the union and the per-scan max."""
    from kcbdml9_big_data_processing_spark.sources.parquet import read_table

    li = read_table(spark, SF_SMOKE, "lineitem")
    narrow = summarize_scan_schemas(
        scan_read_schemas(li.groupBy("l_returnflag").sum("l_quantity"))
    )
    assert set(narrow["lineitem"]["union"]) == {"l_returnflag", "l_quantity"}
    assert narrow["lineitem"]["max_scan_width"] == 2
    wide = summarize_scan_schemas(
        scan_read_schemas(
            li.select(F.length(F.concat_ws("|", *li.columns)).alias("x"))
            .groupBy()
            .sum("x")
        )
    )
    assert wide["lineitem"]["max_scan_width"] == len(li.columns)
    assert set(wide["lineitem"]["union"]) == set(li.columns)


def test_pushed_filter_floor_is_falsifiable(spark):
    """The floor's number moves exactly when pushdown breaks: a plain
    comparison pushes (count 1); wrapping the column in a
    non-pushable expression slides the predicate off the scan
    (count 0) while returning the same rows."""
    from kcbdml9_big_data_processing_spark.sources.parquet import read_table

    li = read_table(spark, SF_SMOKE, "lineitem")
    pushed = li.where(F.col("l_quantity") < 10)
    assert pushed_predicate_count(pushed.select("l_orderkey")) == 1
    # abs() is not a data-source filter — Catalyst keeps it in a
    # post-scan Filter (a bare +0 would be constant-folded back into
    # pushable form, which the first draft of this test learned)
    unpushed = li.where(F.abs(F.col("l_quantity")) < 10)
    assert pushed_predicate_count(unpushed.select("l_orderkey")) == 0


def test_shuffle_guard_is_falsifiable(spark):
    """An added groupBy/repartition shows up in the count the guard
    uses (the key must be non-unique — Spark 4 elides the exchange
    entirely when grouping on a provably-distinct column)."""
    df = spark.range(100).selectExpr("id % 5 AS x")
    base = shuffle_exchange_count(df.groupBy("x").count())
    worse = shuffle_exchange_count(
        df.repartition(7, "x").groupBy("x").count().repartition(3)
    )
    assert base >= 1 and worse > base


def test_shuffle_exchanges_carrying_semi_is_structural(spark):
    """r14 ADVICE: duplicate_scoped must mean 'a LeftSemi join gates
    the rows whose bytes this exchange moves' — a semi join in an
    UNRELATED branch (here: filtering an id list that carries no
    text) must NOT absolve a text-carrying exchange, as the old
    substring match of the subtree toString() would have."""
    from kcbdml9_big_data_processing_spark.plans.inspect import (
        shuffle_exchanges_carrying,
    )
    from kcbdml9_big_data_processing_spark.sources.parquet import read_table

    docs = read_table(spark, SF_SMOKE, "documents")
    wanted = spark.range(0, 50).select(F.col("id").alias("doc_id"))
    # the semi filter runs on a TEXT-FREE branch...
    ids = docs.select("doc_id").join(F.broadcast(wanted), "doc_id", "left_semi")
    # ...and full-corpus text then rides the aggregation exchange
    joined = docs.join(ids.withColumnRenamed("doc_id", "j_id"),
                       F.col("doc_id") == F.col("j_id"))
    agg = joined.groupBy("doc_id").agg(
        F.min(F.struct("text")).alias("t")
    )
    exchanges = shuffle_exchanges_carrying(agg, "text")
    text_bearing = [dup for carries, dup in exchanges if carries]
    assert text_bearing, "expected a text-carrying exchange"
    assert not any(text_bearing), (
        "an unrelated semi join absolved a full-corpus text shuffle —"
        " the guard regressed to textual matching"
    )

    # and the REAL posture still passes: the semi join on the
    # text-carrying path itself
    guarded = (
        docs.join(F.broadcast(wanted), "doc_id", "left_semi")
        .groupBy("doc_id")
        .agg(F.min(F.struct("text")).alias("s"))
    )
    g_exchanges = shuffle_exchanges_carrying(guarded, "text")
    g_text = [dup for carries, dup in g_exchanges if carries]
    assert g_text and all(g_text)


def test_shuffle_exchanges_carrying_no_reused_double_count(spark):
    """r14 ADVICE: a ReusedExchangeExec references shuffle files
    already classified at the exchange's single real occurrence —
    re-walking it double-counted every reused shuffle."""
    from kcbdml9_big_data_processing_spark.plans.inspect import (
        shuffle_exchanges_carrying,
    )
    from kcbdml9_big_data_processing_spark.sources.parquet import read_table

    docs = read_table(spark, SF_SMOKE, "documents")
    base = docs.groupBy("doc_id").agg(F.min("text").alias("t"))
    two = base.union(base)  # identical subplans -> exchange reuse
    exchanges = shuffle_exchanges_carrying(two, "text")
    assert len(exchanges) == 1, (
        f"expected the one real exchange, got {len(exchanges)} —"
        " reused exchanges are being re-counted"
    )
