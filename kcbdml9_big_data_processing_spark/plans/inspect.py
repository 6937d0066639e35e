"""Physical-plan inspection — the scale-discipline feedback loop.

These helpers parse ``df._jdf.queryExecution`` output so tests can
assert the plans we want at 100 TB, not just correct rows:

- filters reached the parquet scan (``PushedFilters`` non-empty)
- partition predicates prune (``PartitionFilters`` non-empty)
- small dims joined via BroadcastHashJoin (no shuffle of the fact side)
- hot paths stay inside WholeStageCodegen

The reference never checks any of this (it has no tests at all —
SURVEY.md §5); here "the plan is right" is part of the test suite.
"""

from __future__ import annotations

import re
from contextlib import contextmanager

from pyspark.sql import DataFrame


@contextmanager
def _aqe_off(spark):
    """Plan with AQE disabled: the pre-execution AQE plan is an
    unfinalized AdaptiveSparkPlan that hides codegen markers and
    exchanges; the structural plan is what these inspectors assert
    on (AQE only improves it at runtime). One shared toggle for the
    save/set/restore idiom."""
    prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        yield
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def physical_plan(df: DataFrame, mode: str = "formatted") -> str:
    """Explain string via JVM internals (classic PySpark only).

    Spark Connect DataFrames have no ``_jdf``; raise a clear error
    rather than an AttributeError deep in py4j.
    """
    try:
        jdf = df._jdf
        jvm = df._sc._jvm
    except AttributeError as e:  # Spark Connect / future API drift
        raise RuntimeError(
            "plan inspection requires classic (non-Connect) PySpark; "
            "use df.explain() output instead"
        ) from e
    return jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


def has_broadcast_hash_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in physical_plan(df, "simple")


def _filter_bodies(plan: str, label: str) -> list[str]:
    """The bracket contents of every ``<label>: [...]`` line
    (PushedFilters / PartitionFilters). Parsed per line from first
    ``[`` to LAST ``]`` — a non-greedy regex stops at the first
    ``]``, which lives INSIDE an In-filter (``In(col, [A,R])``) and
    silently truncates every predicate after it (caught by executing
    the first draft on a real In plan; the same defect then found in
    the PartitionFilters parser on the second review pass)."""
    out = []
    prefix = f"{label}:"
    for line in plan.splitlines():
        line = line.strip()
        if not line.startswith(prefix):
            continue
        lo, hi = line.find("["), line.rfind("]")
        if lo != -1 and hi > lo:
            out.append(line[lo + 1 : hi])
    return out


def pushed_filters(df: DataFrame) -> list[str]:
    """All non-empty PushedFilters entries across scans."""
    return [
        b
        for b in _filter_bodies(physical_plan(df, "formatted"), "PushedFilters")
        if b.strip()
    ]


def partition_filters(df: DataFrame) -> list[str]:
    return [
        b
        for b in _filter_bodies(
            physical_plan(df, "formatted"), "PartitionFilters"
        )
        if b.strip()
    ]


def wholestage_codegen_spans(df: DataFrame) -> int:
    """Number of WholeStageCodegen subtrees in the physical plan.

    Under AQE the pre-execution plan is an unfinalized
    AdaptiveSparkPlan with no codegen nodes yet, so we re-plan with
    AQE off just for the count (the codegen structure is the same —
    AQE re-plans exchanges, not codegen fusion).

    CAVEAT: a DataFrame caches its queryExecution on first plan
    access — call this BEFORE any other inspection of the same
    DataFrame object (or rebuild the frame), else the cached
    AQE-wrapped plan hides the codegen markers and this returns 0.
    """
    with _aqe_off(df.sparkSession):
        plan = physical_plan(df, "simple")
    return len(set(re.findall(r"\*\((\d+)\)", plan)))


def shuffle_exchange_count(df: DataFrame) -> int:
    """Data-moving shuffles in the pre-AQE physical plan: lines whose
    operator is ``Exchange`` (hash/range/single/round-robin
    partitioning). Broadcast exchanges (small-side replication) and
    ReusedExchange references (the SAME shuffle files read again — no
    new data movement) are excluded."""
    with _aqe_off(df.sparkSession):
        plan = physical_plan(df, "simple")
    n = 0
    for line in plan.splitlines():
        op = line.lstrip(" +-:*()0123456789")
        if op.startswith("Exchange "):
            n += 1
    return n


#: the driver-testdata corpus tables — the scans that are 100 TB at
#: production scale and therefore the ones whose ReadSchema width the
#: column-pruning guard pins. Scratch artifacts (per-process indexes,
#: shard exports, archives) have run-local paths and derived schemas;
#: their scans are engine-internal, not input scans.
_CORPUS_TABLES = frozenset(
    {
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    }
)

_SCAN_HEADER = re.compile(r"^\(\d+\) Scan parquet\b")
_NODE_HEADER = re.compile(r"^\(\d+\) ")
_PARQUET_STEM = re.compile(r"/([a-z_]+)\.parquet\b")


def _struct_fields(struct: str) -> list[str]:
    """Top-level field names of a ``struct<...>`` simpleString —
    split on depth-0 commas, where depth counts BOTH ``<>`` (nested
    struct/array/map) and ``()`` (parameterized scalars:
    ``decimal(12,2)``, ``char(8)`` — their commas would otherwise
    shear a phantom field)."""
    assert struct.startswith("struct<") and struct.endswith(">"), struct
    body = struct[len("struct<"):-1]
    fields, depth, start = [], 0, 0
    for i, ch in enumerate(body):
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        elif ch == "," and depth == 0:
            fields.append(body[start:i])
            start = i + 1
    if body[start:]:
        fields.append(body[start:])
    return [f.split(":", 1)[0] for f in fields]


def scan_read_schemas(df: DataFrame) -> list[tuple[str, tuple[str, ...]]]:
    """``(table, read column names)`` for every parquet FileScan over
    a CORPUS table in the pre-AQE formatted plan — the raw material of
    the column-pruning guard (tests/test_plans.py): a projection that
    stops reaching the scan turns a 2-column read into a full-width
    one, invisible in rows and in local runtimes but a multiple of the
    whole job's I/O at 100 TB. Formatted mode prints each scan's
    ``ReadSchema`` in full (not clamped by maxMetadataStringLength)
    and expands cached InMemoryRelations' child plans, so the result
    is stable whether or not another query already persisted the
    subtree."""
    with _aqe_off(df.sparkSession):
        plan = physical_plan(df, "formatted")
    out: list[tuple[str, tuple[str, ...]]] = []
    table: str | None = None
    cols: tuple[str, ...] | None = None

    def flush() -> None:
        nonlocal table, cols
        if table is not None and cols is not None:
            out.append((table, cols))
        table = cols = None

    in_scan = False
    for raw in plan.splitlines():
        line = raw.strip()
        if _NODE_HEADER.match(line):
            flush()
            in_scan = bool(_SCAN_HEADER.match(line))
            continue
        if not in_scan:
            continue
        if line.startswith("Location:"):
            stems = set(_PARQUET_STEM.findall(line))
            hits = stems & _CORPUS_TABLES
            if not hits:
                continue
            # a multi-root scan over corpus tables, or a location
            # string Spark truncated (which can HIDE further roots),
            # cannot be attributed to one table — fail loudly rather
            # than silently skipping (a hole in the pruning guard) or
            # pinning every column under the first stem
            if len(hits) > 1 or "..." in line:
                raise AssertionError(
                    "ambiguous corpus scan location (multi-root or"
                    f" truncated) — split the scan per table: {line}"
                )
            table = next(iter(hits))
        elif line.startswith("ReadSchema:"):
            cols = tuple(
                _struct_fields(line[len("ReadSchema:"):].strip())
            )
    flush()
    return out


def pushed_predicate_count(df: DataFrame) -> int:
    """Number of SUBSTANTIVE pushed predicates across all scans in the
    pre-AQE plan — the fourth registry-wide guard's raw number
    (tests/test_plans.py): a predicate that stops reaching the parquet
    scan still returns correct rows from a post-scan Filter, invisible
    locally, but at 100 TB the scan now reads every row group the
    pushed form would have skipped. Counts top-level atoms inside each
    ``PushedFilters: [...]`` EXCLUDING bare ``IsNotNull`` — a regressed
    comparison leaves its IsNotNull residue behind (verified: a
    non-pushable abs() predicate still pushes IsNotNull), so counting
    scans-with-any-pushed-filter would not move when the real
    predicate slides off. Guarded as a FLOOR (pinned by
    tools/pin_scan_schemas.py): fewer substantive predicates than the
    pin means a filter regressed; more is an improvement and passes.

    Known parser limitation: the depth tracker counts
    every ``(`` ``[`` — including ones inside STRING LITERAL values
    (``EqualTo(source,a)b)``, an In-list entry containing brackets),
    which would mis-split atoms for predicates over free-text
    literals with unbalanced brackets. Acceptable for the fixed query
    registry because the pins are generated by THIS SAME parser (pin
    and guard mis-split identically, so the floor still only moves
    when a predicate genuinely appears/disappears) — but if a future
    query filters on a bracket-bearing literal and its floor fails
    confusingly, suspect this parser before the plan."""
    with _aqe_off(df.sparkSession):
        plan = physical_plan(df, "formatted")
    n = 0
    for body in _filter_bodies(plan, "PushedFilters"):
        depth, start = 0, 0
        atoms = []
        for i, ch in enumerate(body):
            if ch in "([":
                depth += 1
            elif ch in ")]":
                depth -= 1
            elif ch == "," and depth == 0:
                atoms.append(body[start:i].strip())
                start = i + 1
        if body[start:].strip():
            atoms.append(body[start:].strip())
        n += sum(1 for a in atoms if a and not a.startswith("IsNotNull"))
    return n


def summarize_scan_schemas(
    scans: list[tuple[str, tuple[str, ...]]],
) -> dict[str, dict]:
    """Per-table ``{"union": sorted cols, "max_scan_width": n}`` over
    one query's corpus scans — the aggregation BOTH the pin tool
    (tools/pin_scan_schemas.py) and the guard (tests/test_plans.py)
    apply, shared so the two can never aggregate differently. The
    union catches a query reading a column the pin never saw; the
    per-scan max catches a narrow scan ballooning to a width a
    different scan of the same table already pinned."""
    per_table: dict[str, dict] = {}
    for table, cols in scans:
        e = per_table.setdefault(
            table, {"union": set(), "max_scan_width": 0}
        )
        e["union"] |= set(cols)
        e["max_scan_width"] = max(e["max_scan_width"], len(cols))
    return {
        t: {
            "union": sorted(e["union"]),
            "max_scan_width": e["max_scan_width"],
        }
        for t, e in per_table.items()
    }


def python_eval_nodes(df: DataFrame) -> list[str]:
    """Physical nodes that cross into Python, by name: BatchEvalPython
    (row-at-a-time UDF — never acceptable on a data path),
    ArrowEvalPython (pandas UDF), MapInPandas / FlatMapGroupsInPandas
    (the intended Arrow batch boundaries). Lets tests pin WHERE the
    Python boundary is allowed to exist."""
    with _aqe_off(df.sparkSession):
        plan = physical_plan(df, "simple")
    found = []
    for marker in (
        "BatchEvalPython",
        "ArrowEvalPython",
        "MapInPandas",
        "FlatMapGroupsInPandas",
        "MapInArrow",
    ):
        if marker in plan:
            found.append(marker)
    return found


#: physical nodes that cannot increase the row count of their child —
#: safe to walk THROUGH when proving a build side is ≤1 row
_ROW_BOUNDED_PASSTHROUGH = {
    "ProjectExec",
    "FilterExec",
    "SortExec",
    "CoalesceExec",
    "ShuffleExchangeExec",
    "BroadcastExchangeExec",
    "AQEShuffleReadExec",
    "InputAdapter",
    "WholeStageCodegenExec",
}


def _subtree_proves_scalar(node) -> bool:
    """True when this physical subtree is STRUCTURALLY guaranteed to
    produce at most one row: walking down through row-bounded
    pass-through operators, the first load-bearing node is a GLOBAL
    aggregate (no grouping expressions — exactly one row), a ≤1-row
    LocalTableScan, or a limit ≤ 1. Anything else — including joins,
    generates, unions, or a real table scan — fails the proof."""
    name = node.getClass().getSimpleName()
    if name in ("HashAggregateExec", "SortAggregateExec",
                "ObjectHashAggregateExec"):
        return node.groupingExpressions().isEmpty()
    if name == "LocalTableScanExec":
        return node.rows().size() <= 1
    if name in ("GlobalLimitExec", "CollectLimitExec"):
        try:
            return int(node.limit()) <= 1
        except Exception:
            return False
    if name == "ReusedExchangeExec":
        # references a previously-planned exchange; its subtree is the
        # reused child, not a tree child
        return _subtree_proves_scalar(node.child())
    if name in _ROW_BOUNDED_PASSTHROUGH:
        ch = node.children()
        return ch.size() == 1 and _subtree_proves_scalar(ch.apply(0))
    return False


def bnlj_build_sides(df: DataFrame) -> list[tuple[str, bool, str]]:
    """Every BroadcastNestedLoopJoin in the pre-AQE physical plan, as
    (build-side one-line summary, proven-scalar?, full build subtree
    text) triples. The proof is the guard queries/dedup.py's
    scalar-stat crossJoins rely on: a BNLJ is only acceptable when its
    broadcast side is structurally ≤1 row (a global aggregate /
    literal frame) — anything else is a real cartesian hiding in the
    plan. The full subtree text lets callers pin the
    one deliberate exception (the brute-force knn baseline broadcasts
    its multi-row-but-tiny PROBE side) to the intended build side."""
    with _aqe_off(df.sparkSession):
        root = df._jdf.queryExecution().executedPlan()

    out: list[tuple[str, bool, str]] = []

    def walk(node) -> None:
        name = node.getClass().getSimpleName()
        if name == "BroadcastNestedLoopJoinExec":
            build = (
                node.left()
                if "BuildLeft" in node.buildSide().toString()
                else node.right()
            )
            text = build.toString()
            out.append(
                (
                    text.splitlines()[0][:160],
                    _subtree_proves_scalar(build),
                    text,
                )
            )
        if name == "ReusedExchangeExec":
            walk(node.child())
            return
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(root)
    return out


_FIELD_AT_DEPTH = re.compile(r"[<,]\s*([A-Za-z0-9_]+):")


def _type_carries_field(simple_type: str, colname: str) -> bool:
    """Does a ``simpleString`` data type (possibly a nested
    struct/array/map) carry a field named ``colname``? Matches field
    positions only (``<name:`` / ``,name:``), so a column named
    ``context`` never false-positives a search for ``text``. Scalar
    types carry nothing."""
    return any(
        m == colname for m in _FIELD_AT_DEPTH.findall(simple_type)
    )


def shuffle_exchanges_carrying(
    df: DataFrame, colname: str
) -> list[tuple[bool, bool]]:
    """For every ShuffleExchangeExec in the pre-AQE physical plan:
    ``(carries, duplicate_scoped)`` where ``carries`` is True when the
    exchange's output includes ``colname`` — as a direct attribute OR
    buried inside a struct (a partial ``min(struct(...))`` hides the
    heavy column inside an opaque ``min#N`` attribute; the formatted
    Input list can't see it, the attribute's dataType can) — and
    ``duplicate_scoped`` is True when a LeftSemi join sits ON THE
    PATH FEEDING the exchange's copy of the column (the
    unique_doc_ids posture: heavy bytes may ride a shuffle only AFTER
    the duplicate-id semi filter has shrunk the input to the
    violation set). Structural, not textual: a
    ``'LeftSemi' in subtree.toString()`` check would pass a
    future plan whose semi join sits in an UNRELATED branch below a
    text-carrying exchange — now the walk descends only through
    children whose output still carries the column and demands a join
    node whose ``joinType`` IS LeftSemi on that path.
    ReusedExchangeExec subtrees are not re-walked (the referenced
    exchange appears once in the tree and is classified there; the
    old re-walk double-counted every reused shuffle). Broadcast
    exchanges are not listed — replicating a provably-tiny frame is
    the intended scale shape, not data movement to pin."""
    with _aqe_off(df.sparkSession):
        root = df._jdf.queryExecution().executedPlan()

    out: list[tuple[bool, bool]] = []

    def attr_carries(attr) -> bool:
        if attr.name() == colname:
            return True
        return _type_carries_field(attr.dataType().simpleString(), colname)

    def node_carries(node) -> bool:
        attrs = node.output()
        return any(attr_carries(attrs.apply(i)) for i in range(attrs.size()))

    def _join_type(node) -> str | None:
        try:
            return node.joinType().toString()
        except Exception:  # not a join node
            return None

    def semi_on_column_path(node) -> bool:
        """A LeftSemi join at-or-below ``node``, reachable walking
        only through operators whose output carries the column — i.e.
        the semi filter actually gates the rows whose heavy bytes the
        exchange moves, not a lookalike in a sibling branch."""
        if _join_type(node) == "LeftSemi":
            return True
        if node.getClass().getSimpleName() == "ReusedExchangeExec":
            return semi_on_column_path(node.child())
        ch = node.children()
        for i in range(ch.size()):
            c = ch.apply(i)
            if node_carries(c) and semi_on_column_path(c):
                return True
        return False

    def walk(node) -> None:
        name = node.getClass().getSimpleName()
        if name == "ShuffleExchangeExec":
            out.append((node_carries(node), semi_on_column_path(node)))
        if name == "ReusedExchangeExec":
            return  # the referenced exchange is classified at its
            # single real occurrence — re-walking double-counts it
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(root)
    return out
