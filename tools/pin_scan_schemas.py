"""Regenerate tests/scan_schemas.json (per-query corpus-scan column
sets for the column-pruning guard) AND tests/pushed_filter_floors.json
(per-query count of substantive pushed predicates (IsNotNull excluded), guarded as a
floor) — the two scan-discipline pins tests/test_plans.py enforces.

    PYTHONPATH=/root/repo python tools/pin_scan_schemas.py

Run it when a query legitimately starts reading more columns (the
test's failure message points here). For each (query, corpus table)
the pin records the UNION of columns across that table's scans plus
the widest single scan — the guard fails when a future edit makes a
query read a column the pin never saw, or widens any single scan past
the pinned maximum (the union alone would miss a narrow scan
ballooning to a width another scan already pinned). Pinned at the
test SF with AQE disabled for the planning pass, exactly as the guard
measures. Streaming rows are excluded (plan exists per micro-batch).
"""

from __future__ import annotations

import json
import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
sys.path.insert(0, os.path.join(_REPO, "tests"))

# the SAME constant the guard measures at (see pin_plan_ceilings.py)
from conftest import SF_SMOKE as SF  # noqa: E402

OUT = os.path.join(_REPO, "tests", "scan_schemas.json")
OUT_FLOORS = os.path.join(_REPO, "tests", "pushed_filter_floors.json")


def main() -> int:
    from kcbdml9_big_data_processing_spark.plans.inspect import (
        pushed_predicate_count,
        scan_read_schemas,
        summarize_scan_schemas as summarize,
    )
    from kcbdml9_big_data_processing_spark.queries import QUERIES
    from kcbdml9_big_data_processing_spark.queries import dedup as _dedup
    from kcbdml9_big_data_processing_spark.queries.registry import (
        clear_prepared_plans,
    )
    from kcbdml9_big_data_processing_spark.session import get_spark

    spark = get_spark(app_name="pin_scan_schemas")
    _dedup._SKIP_RESULT_TRUNCATION = True
    out = {}
    floors = {}
    for name, spec in sorted(QUERIES.items()):
        if name.startswith("stream_"):
            continue
        clear_prepared_plans()
        df = spec.fn(spark, SF)
        out[name] = summarize(scan_read_schemas(df))
        floors[name] = pushed_predicate_count(df)
        widths = {
            t: f"{e['max_scan_width']}/{len(e['union'])}"
            for t, e in out[name].items()
        }
        print(f"{name}: {widths} pushed={floors[name]}")
    with open(OUT, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    with open(OUT_FLOORS, "w") as f:
        json.dump(floors, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {OUT} + {OUT_FLOORS} ({len(out)} queries)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
