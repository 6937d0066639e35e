"""Physical-plan audit: writes PLANS.md with the scale-relevant plan
properties of every registered query at a given sf_dir.

    PYTHONPATH=/root/repo python tools/audit_plans.py [sf_dir]

Columns: exchange count (shuffles+broadcasts), join strategies chosen,
whether parquet scans carry pushed filters, whole-stage-codegen span
count, and whether any Python evaluation (UDF / mapInPandas) appears.
This is the written-down version of the ".explain and iterate" loop —
regressions show up as a diff of PLANS.md.
"""

from __future__ import annotations

import re
import sys


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from kcbdml9_big_data_processing_spark.plans.inspect import (
        physical_plan,
        pushed_filters,
        wholestage_codegen_spans,
    )
    from kcbdml9_big_data_processing_spark.queries import QUERIES
    from kcbdml9_big_data_processing_spark.session import get_spark

    spark = get_spark(app_name="audit_plans")

    lines = [
        "# PLANS — physical-plan audit of every registered query",
        "",
        f"Generated by tools/audit_plans.py at {sf_dir} (plans are",
        "pre-AQE-finalization; AQE only improves them at runtime —",
        "coalescing partitions, promoting to broadcast, splitting skew).",
        "",
        "| query | exchanges | joins | pushed filters | codegen spans | python |",
        "|---|---|---|---|---|---|",
    ]
    for name, spec in QUERIES.items():
        if name.startswith("stream_"):
            lines.append(
                f"| {name} | — | — | — | — | no (streaming: plan per "
                f"micro-batch; semantics checked by oracle + tests) |"
            )
            continue
        try:
            df = spec.fn(spark, sf_dir)
            plan = physical_plan(df, "simple")
        except Exception as e:
            lines.append(f"| {name} | ERROR {type(e).__name__} | | | | |")
            continue
        exchanges = len(re.findall(r"Exchange ", plan))
        bcasts = len(re.findall(r"BroadcastExchange", plan))
        joins = []
        for j in (
            "BroadcastHashJoin",
            "SortMergeJoin",
            "ShuffledHashJoin",
            "BroadcastNestedLoopJoin",
            "CartesianProduct",
        ):
            c = plan.count(j)
            if c:
                joins.append(f"{j.replace('Join','').replace('Broadcast','B')}x{c}")
        pf = pushed_filters(df)
        python = (
            "mapInPandas"
            if "MapInPandas" in plan
            else ("UDF" if "BatchEvalPython" in plan or "PythonUDF" in plan else "no")
        )
        # fresh frame: queryExecution caches the AQE-wrapped plan on
        # first access, which would hide the codegen markers. Queries
        # routed through _prepared_plan return the SAME DataFrame
        # object on re-invocation (that is the point of the store), so
        # drop prepared plans first or the "fresh" frame is the stale
        # one and the span count reads 0.
        from kcbdml9_big_data_processing_spark.queries.registry import (
            clear_prepared_plans,
        )

        clear_prepared_plans()
        spans = wholestage_codegen_spans(spec.fn(spark, sf_dir))
        # a checkpoint-truncated result plans as a bare RDD scan — say
        # so instead of presenting an artificially clean "0 exchanges"
        # (the pipeline's real plan ran eagerly inside the query fn)
        note = ""
        if "Scan ExistingRDD" in plan and exchanges == 0:
            note = " (checkpointed result; pipeline executed at build)"
        lines.append(
            f"| {name} | {exchanges} ({bcasts} bcast){note} |"
            f" {', '.join(joins) or '—'} |"
            f" {len(pf)} scans | {spans} | {python} |"
        )

    out = "\n".join(lines) + "\n"
    with open("/root/repo/PLANS.md", "w") as f:
        f.write(out)
    print(out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
