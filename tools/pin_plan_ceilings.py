"""Regenerate tests/plan_ceilings.json: the per-query shuffle-count
ceilings the structural guard in tests/test_plans.py enforces.

    PYTHONPATH=/root/repo python tools/pin_plan_ceilings.py

Run it when a query's plan legitimately changes shape (the test's
failure message points here). Ceilings are pinned at the test SF
(sf0.001) with AQE disabled for the planning pass — the same way the
guard counts — because join-strategy choices (broadcast vs sort-merge)
depend on size estimates and therefore on the SF. Streaming rows are
excluded (plan exists per micro-batch).
"""

from __future__ import annotations

import json
import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
sys.path.insert(0, os.path.join(_REPO, "tests"))

# the SAME constant the guard measures at — a duplicated literal here
# would let the two SFs diverge and the ceilings go vacuous or
# false-fail (join strategies depend on size estimates)
from conftest import SF_SMOKE as SF  # noqa: E402

OUT = os.path.join(_REPO, "tests", "plan_ceilings.json")


def main() -> int:
    from kcbdml9_big_data_processing_spark.plans.inspect import (
        shuffle_exchange_count,
    )
    from kcbdml9_big_data_processing_spark.queries import QUERIES
    from kcbdml9_big_data_processing_spark.queries import dedup as _dedup
    from kcbdml9_big_data_processing_spark.queries.registry import (
        clear_prepared_plans,
    )
    from kcbdml9_big_data_processing_spark.session import get_spark

    spark = get_spark(app_name="pin_plan_ceilings")
    # expose the real plans, as the guard does (result-level lineage
    # truncation would hide the curation suites' exchanges)
    _dedup._SKIP_RESULT_TRUNCATION = True
    out = {}
    for name, spec in sorted(QUERIES.items()):
        if name.startswith("stream_"):
            continue
        clear_prepared_plans()
        out[name] = shuffle_exchange_count(spec.fn(spark, SF))
        print(f"{name}: {out[name]}")
    with open(OUT, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {OUT} ({len(out)} queries)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
