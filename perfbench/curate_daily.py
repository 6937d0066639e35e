"""curate_daily: one incremental curation day per op.

Set-up runs a day-0 full ``jobs.runs.curate_run_root`` over the seeded
base corpus. Op ``i`` is day ``i + 1``: an incremental
``curate_run_root`` over a day of the same size with fresh monotonic
ids and fixed exact- and near-duplicate rates against the archive. The
pass ends with one ``sinks.shards.write_training_shards`` export of the
standing archive, which counts in ``pass_s`` but is no op.
"""

from __future__ import annotations

import os
import time

import pyarrow as pa
import pyarrow.parquet as pq

import checks
import gen
from harness import median_or_0

WARMUP_OPS = 1
OPS_PER_SECOND = 0.4
BASE_DOCS = 300
DAY_DOCS = 200
N_SHARDS = 4
REASONS = ("quality", "exact_dup", "near_dup", "kept")


class Workload:
    warmup_ops = WARMUP_OPS
    notes: dict = {}

    def ops(self, seconds: int) -> int:
        return max(3, round(seconds * OPS_PER_SECOND))

    def setup(self, ctx) -> None:
        from kcbdml9_big_data_processing_spark.jobs.runs import curate_run_root
        from kcbdml9_big_data_processing_spark.jobs.training_data import (
            CurationConfig,
        )

        self.ctx = ctx
        self.cfg = CurationConfig()
        self.root = ctx.path("run_root")
        n_days = self.warmup_ops + self.ops(ctx.seconds)
        with ctx.tracer.span("setup.inputs"):
            self.corpus = gen.CurationCorpus(ctx.seed, BASE_DOCS, DAY_DOCS, n_days)
            self.inputs = []
            for day in range(n_days + 1):
                path = ctx.path("days", f"day{day:03d}.parquet")
                os.makedirs(os.path.dirname(path), exist_ok=True)
                docs = self.corpus.docs(day)
                pq.write_table(
                    pa.table(
                        {
                            "doc_id": pa.array([d[0] for d in docs], pa.int64()),
                            "text": [d[1] for d in docs],
                        }
                    ),
                    path,
                )
                self.inputs.append(path)
        with ctx.tracer.span("setup.day0"):
            self.runs = {-1: curate_run_root(ctx.spark, self.root, self._docs(0), self.cfg)}
        self.export_s = 0.0

    def _docs(self, day: int):
        return self.ctx.spark.read.parquet(self.inputs[day])

    def op(self, i: int) -> None:
        from kcbdml9_big_data_processing_spark.jobs.runs import curate_run_root

        with self.ctx.tracer.span("jobs.runs.curate_run_root"):
            self.runs[i] = curate_run_root(
                self.ctx.spark, self.root, self._docs(i + 1), self.cfg
            )

    def finish_pass(self) -> None:
        from kcbdml9_big_data_processing_spark.jobs.runs import standing_archive
        from kcbdml9_big_data_processing_spark.sinks.shards import (
            write_training_shards,
        )

        t0 = time.perf_counter()
        with self.ctx.tracer.span("sinks.shards.write_training_shards"):
            write_training_shards(
                standing_archive(self.ctx.spark, self.root),
                self.ctx.path("shards"),
                N_SHARDS,
            )
        self.export_s = time.perf_counter() - t0

    def check(self) -> dict[int, str]:
        """Every input doc of a day gets exactly one decision, and it is
        the one the generator planted; the export holds the archive."""
        bad: dict[int, str] = {}
        self.decisions = {}
        self.run_bytes = {}
        for i, run in self.runs.items():
            if run.get("mode") != ("full" if i < 0 else "incremental"):
                bad[i] = f"curate_run_root ran in {run.get('mode')!r} mode"
                continue
            table = pq.read_table(os.path.join(run["dir"], "decisions")).to_pylist()
            rows = [(r["doc_id"], r["reason"], r["canonical_id"]) for r in table]
            self.decisions[i] = rows
            self.run_bytes[i] = _du(run["dir"])
            got, twice = checks.decisions_by_doc(rows)
            if twice:
                bad[i] = "a doc got two decisions"
            elif got != self.corpus.expected(i + 1):
                bad[i] = "decisions differ from the generator's answer"
        kept = sum(
            1 for day in range(len(self.runs)) for r, _ in self.corpus.expected(day).values()
            if r == "kept"
        )
        shards = pq.read_table(self.ctx.path("shards"), columns=["doc_id"]).num_rows
        if shards != kept:
            last = max(self.runs)
            bad.setdefault(last, f"export holds {shards} docs, the archive {kept}")
        self.notes = {
            "decision_hash": gen.decision_hash(
                [row for rows in self.decisions.values() for row in rows]
            )
        }
        return bad

    def layer_metrics(self, n_ops: int) -> dict[str, tuple[float, str]]:
        timed = [i for i in self.runs if i >= self.warmup_ops]
        counts = {r: 0 for r in REASONS}
        for i in timed:
            for _, reason, _ in self.decisions.get(i, []):
                counts[reason] = counts.get(reason, 0) + 1
        out = {
            f"jobs.runs.decisions.{r}": (counts[r] / n_ops, "count") for r in REASONS
        }
        out["jobs.runs.run_bytes"] = (
            median_or_0([self.run_bytes.get(i, 0) for i in timed]),
            "bytes",
        )
        out["queries.dedup.index_bytes"] = (
            _du(os.path.join(self.root, "index")),
            "bytes",
        )
        out["sinks.shards.export_s"] = (self.export_s, "s")
        return out

    def close(self) -> None:
        pass


def _du(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total
