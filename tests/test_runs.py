"""Run-level crash-safe commit (jobs/runs.py — r14 verdict #1).

The kill-between-writes matrix: a curate run stages kept + decisions
+ index maintenance under a versioned run dir and publishes at ONE
run_meta append, so every crash point leaves the run either INVISIBLE
(unpublished, redoable) or LOUDLY NAMED (torn-extend refusal with the
repair path spelled out) — never a kept set without its decision
record or an archive ahead of its index, which is exactly the state
run_incremental's preconditions reject.
"""

from __future__ import annotations

import pytest

from kcbdml9_big_data_processing_spark.jobs import runs as R
from kcbdml9_big_data_processing_spark.jobs.runs import (
    TornRunError,
    curate_run_root,
    latest_run,
)
from kcbdml9_big_data_processing_spark.jobs.training_data import (
    CurationConfig,
)

_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"

DAY1 = [
    (1, "the quick brown fox jumps over the lazy dog", "en", "a", 44),
    (2, "pack my box with five dozen liquor jugs today", "en", "a", 46),
    # exact dup of doc 1 -> the full run keeps the min id only
    (3, "the quick brown fox jumps over the lazy dog", "en", "b", 44),
    (4, "sphinx of black quartz judge my vow said nobody", "en", "a", 48),
]
DAY2 = [
    # exact dup of ARCHIVED doc 2 -> the incremental run must drop it
    (101, "pack my box with five dozen liquor jugs today", "en", "c", 46),
    (102, "a completely fresh document with many distinct words inside",
     "en", "c", 60),
]
DAY3 = [
    # exact dup of day-2's kept doc 102 -> proves archive/index moved
    # in lockstep through the recovery paths
    (201, "a completely fresh document with many distinct words inside",
     "en", "d", 60),
    (202, "another wholly new document carrying plenty of unique words",
     "en", "d", 60),
    # exact dup of DAY-ONE's kept doc 4 -> proves the standing archive
    # is cumulative (last full run + every increment), not just the
    # prior run's batch
    (203, "sphinx of black quartz judge my vow said nobody",
     "en", "d", 48),
]


def _docs(spark, rows):
    return spark.createDataFrame(rows, _SCHEMA)


def _kept_ids(spark, rdir):
    return sorted(
        r["doc_id"] for r in spark.read.parquet(f"{rdir}/kept").collect()
    )


def test_run_root_day1_full_day2_incremental(spark, tmp_path):
    """Happy path: first run is full (kept + decisions + index build),
    second auto-resolves incremental against the published archive;
    both publish exactly one meta row each."""
    root = str(tmp_path / "root")
    cfg = CurationConfig()
    r1 = curate_run_root(spark, root, _docs(spark, DAY1), cfg)
    assert (r1["run_id"], r1["mode"]) == (1, "full")
    assert _kept_ids(spark, r1["dir"]) == [1, 2, 4]
    reasons = {
        r["reason"]
        for r in spark.read.parquet(f"{r1['dir']}/decisions").collect()
    }
    assert "kept" in reasons and "exact_dup" in reasons

    r2 = curate_run_root(spark, root, _docs(spark, DAY2), cfg)
    assert (r2["run_id"], r2["mode"]) == (2, "incremental")
    # 101 duplicates ARCHIVED content -> dropped via the stored hash map
    assert _kept_ids(spark, r2["dir"]) == [102]
    assert latest_run(spark, root)["run_id"] == 2

    # the standing archive is CUMULATIVE since the last full run —
    # day 3 drops dups of day-1 (203) AND day-2 (201) kept content
    from kcbdml9_big_data_processing_spark.jobs.runs import (
        standing_archive,
    )

    assert sorted(
        r["doc_id"] for r in standing_archive(spark, root).collect()
    ) == [1, 2, 4, 102]
    r3 = curate_run_root(spark, root, _docs(spark, DAY3), cfg)
    assert _kept_ids(spark, r3["dir"]) == [202]

    # a benchmark on an incremental run is a usage error, not a
    # surprise — and (r15 review) the refusal happens BEFORE any
    # staging, so no torn dir is left to block the corrected retry
    import os as _os

    from kcbdml9_big_data_processing_spark.jobs.runs import RunUsageError

    with pytest.raises(RunUsageError, match="full-run"):
        curate_run_root(
            spark, root, _docs(spark, DAY3), cfg,
            benchmark=_docs(spark, DAY1).select("text"),
        )
    with pytest.raises(RunUsageError, match="span/rarity"):
        curate_run_root(
            spark, root, _docs(spark, DAY3),
            CurationConfig(min_rarity=0.01),
        )
    assert not _os.path.exists(R.run_dir(root, 4)), (
        "a pure usage error staged a torn run dir"
    )
    day4 = [(301, "yet another brand new document with plenty of words",
             "en", "e", 52)]
    r4 = curate_run_root(spark, root, _docs(spark, day4), cfg)
    assert (r4["run_id"], r4["mode"]) == (4, "incremental")  # no flags needed


def test_run_root_torn_before_decisions_is_invisible(
    spark, tmp_path, monkeypatch
):
    """Crash between the kept and decisions writes: the run is
    unpublished (latest_run unchanged), a blind retry refuses loudly,
    and retry_torn discards the stage and redoes the batch."""
    root = str(tmp_path / "root")
    cfg = CurationConfig()
    curate_run_root(spark, root, _docs(spark, DAY1), cfg)

    real = R._write_stage

    def crash_on_decisions(df, path):
        if path.endswith("/decisions"):
            raise RuntimeError("injected crash before decisions")
        real(df, path)

    monkeypatch.setattr(R, "_write_stage", crash_on_decisions)
    with pytest.raises(RuntimeError, match="injected"):
        curate_run_root(spark, root, _docs(spark, DAY2), cfg)
    monkeypatch.setattr(R, "_write_stage", real)

    assert latest_run(spark, root)["run_id"] == 1  # torn run invisible
    with pytest.raises(TornRunError, match="retry-torn"):
        curate_run_root(spark, root, _docs(spark, DAY2), cfg)
    r2 = curate_run_root(
        spark, root, _docs(spark, DAY2), cfg, retry_torn=True
    )
    assert (r2["run_id"], r2["mode"]) == (2, "incremental")
    assert _kept_ids(spark, r2["dir"]) == [102]


def test_run_root_torn_mid_extend_requires_repair(
    spark, tmp_path, monkeypatch
):
    """Crash AFTER the extend's appends landed but before index_done:
    the index's generation holds the batch's postings while the run is
    unpublished — the one non-redoable state. retry_torn alone must
    refuse (extend is not idempotent); repair_index rebuilds the index
    from the committed archive (fresh generation supersedes the
    poisoned one), redoes the batch, and the final index carries each
    posting exactly once."""
    from kcbdml9_big_data_processing_spark.queries import dedup as D
    from kcbdml9_big_data_processing_spark.queries.similarity import (
        _gen_current,
    )
    from pyspark.sql import functions as F

    root = str(tmp_path / "root")
    cfg = CurationConfig()
    curate_run_root(spark, root, _docs(spark, DAY1), cfg)

    real_extend = D.extend_dedup_index

    def extend_then_crash(new_docs, path):
        real_extend(new_docs, path)  # the appends HAVE landed
        raise RuntimeError("injected crash after extend, before marker")

    monkeypatch.setattr(D, "extend_dedup_index", extend_then_crash)
    with pytest.raises(RuntimeError, match="injected"):
        curate_run_root(spark, root, _docs(spark, DAY2), cfg)
    monkeypatch.setattr(D, "extend_dedup_index", real_extend)

    assert latest_run(spark, root)["run_id"] == 1
    st = R.run_status(spark, root)["torn"]
    assert st["state"] == "partial_extend" and "--repair-index" in st["recovery"]
    # even an operator willing to discard the stage must be stopped:
    # the INDEX state is the problem, not the staged files
    with pytest.raises(TornRunError, match="repair-index"):
        curate_run_root(
            spark, root, _docs(spark, DAY2), cfg, retry_torn=True
        )
    r2 = curate_run_root(
        spark, root, _docs(spark, DAY2), cfg, repair_index=True
    )
    assert (r2["run_id"], r2["mode"]) == (2, "incremental")
    assert _kept_ids(spark, r2["dir"]) == [102]

    # lockstep held through the repair: day 3 dedups against day 2's
    # kept doc via the stored hash map, and every (doc_id, shingle)
    # posting appears exactly once (the partial generation is gone)
    r3 = curate_run_root(spark, root, _docs(spark, DAY3), cfg)
    assert _kept_ids(spark, r3["dir"]) == [202]
    gdir = _gen_current(spark, R.index_root(root), cached=False)
    dup_postings = (
        spark.read.parquet(f"{gdir}/postings")
        .groupBy("doc_id", "k")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
        .count()
    )
    assert dup_postings == 0


def test_run_root_crash_before_commit_auto_publishes(
    spark, tmp_path, monkeypatch
):
    """Crash between index_done and the meta append: every artifact is
    staged, so the NEXT invocation publishes the torn run as-is (no
    recompute, no flags) and processes its own batch as the following
    run — against the just-published archive."""
    root = str(tmp_path / "root")
    cfg = CurationConfig()
    curate_run_root(spark, root, _docs(spark, DAY1), cfg)

    real_commit = R._commit

    def crash_commit(spark_, root_, run_id, rdir, mode):
        raise RuntimeError("injected crash before meta commit")

    monkeypatch.setattr(R, "_commit", crash_commit)
    with pytest.raises(RuntimeError, match="injected"):
        curate_run_root(spark, root, _docs(spark, DAY2), cfg)
    monkeypatch.setattr(R, "_commit", real_commit)

    assert latest_run(spark, root)["run_id"] == 1
    st = R.run_status(spark, root)["torn"]
    assert st["state"] == "complete" and "publishes as-is" in st["recovery"]
    r3 = curate_run_root(spark, root, _docs(spark, DAY3), cfg)
    # the torn day-2 run was published untouched, day 3 ran after it
    assert (r3["run_id"], r3["mode"]) == (3, "incremental")
    assert latest_run(spark, root)["run_id"] == 3
    r2dir = R.run_dir(root, 2)
    assert _kept_ids(spark, r2dir) == [102]
    # 201 duplicates the AUTO-PUBLISHED run's kept doc -> dropped,
    # proving day 3 curated against day 2's archive, not day 1's
    assert _kept_ids(spark, r3["dir"]) == [202]


def test_run_root_full_flag_rebuilds(spark, tmp_path):
    """--full on an existing root re-freezes: full curation of the
    given corpus, index REBUILT over its kept set, archive reset."""
    root = str(tmp_path / "root")
    cfg = CurationConfig()
    curate_run_root(spark, root, _docs(spark, DAY1), cfg)
    r2 = curate_run_root(
        spark, root, _docs(spark, DAY1 + DAY2), cfg, full=True
    )
    assert (r2["run_id"], r2["mode"]) == (2, "full")
    assert _kept_ids(spark, r2["dir"]) == [1, 2, 4, 102]


def test_curate_cli_run_root(spark, tmp_path, capsys):
    """CLI wiring: happy path publishes and prints the summary; a
    manually-planted torn dir exits 4 with the recovery named;
    --retry-torn clears it; conflicting/misplaced flags exit 2."""
    from kcbdml9_big_data_processing_spark.__main__ import _curate_main

    d1 = str(tmp_path / "d1")
    d2 = str(tmp_path / "d2")
    _docs(spark, DAY1).write.parquet(d1)
    _docs(spark, DAY2).write.parquet(d2)
    root = str(tmp_path / "root")

    assert _curate_main(
        ["--docs", d1, "--run-root", root], spark=spark
    ) == 0
    out = capsys.readouterr().out
    assert "published run r1 (full)" in out
    assert "kept:" in out

    # plant a torn next-run dir: exit 4, loud; --status names it
    # read-only; --retry-torn recovers
    (tmp_path / "root" / "runs" / "r000002").mkdir(parents=True)
    assert _curate_main(
        ["--docs", d2, "--run-root", root], spark=spark
    ) == 4
    assert "retry-torn" in capsys.readouterr().err
    assert _curate_main(["--run-root", root, "--status"], spark=spark) == 0
    status_out = capsys.readouterr().out
    assert "r1 (full)" in status_out
    assert "TORN r2 [partial_stage]" in status_out
    assert "--retry-torn" in status_out
    assert _curate_main(
        ["--docs", d2, "--run-root", root, "--retry-torn"], spark=spark
    ) == 0
    assert "published run r2 (incremental)" in capsys.readouterr().out
    assert _curate_main(["--run-root", root, "--status"], spark=spark) == 0
    status_out = capsys.readouterr().out
    assert "r2 (incremental)" in status_out and "TORN" not in status_out
    assert _curate_main(["--status"], spark=spark) == 2
    assert _curate_main(["--run-root", root], spark=spark) == 2  # no docs

    # flag hygiene: the verb runs only through a run root
    assert _curate_main(["--docs", d1], spark=spark) == 2


def test_curate_cli_model_flag_sentinels(spark, tmp_path):
    """r14 ADVICE: an EXPLICIT --model-ngram-max 2 (the default value)
    without --model-weights is still an inert-flag usage error — the
    None sentinels catch it where the re-hardcoded-default check
    could not."""
    from kcbdml9_big_data_processing_spark.__main__ import _curate_main

    d1 = str(tmp_path / "d1")
    _docs(spark, DAY1).write.parquet(d1)
    assert _curate_main(
        ["--docs", d1, "--run-root", str(tmp_path / "root"),
         "--model-ngram-max", "2"],
        spark=spark,
    ) == 2
    assert _curate_main(
        ["--docs", d1, "--run-root", str(tmp_path / "root"),
         "--min-model-mean-milli", "0"],
        spark=spark,
    ) == 2


def test_run_root_shell_pipeline_with_ingested_epoch_ids(
    spark, tmp_path, capsys
):
    """The full shell loop through the crash-safe mode with REAL
    ingested ids: day-0 jsonl ingest (raw h48 ids) -> curate
    --run-root (full) -> day-1 ingest --epoch 1 (prefixed ids,
    monotonic vs day 0 by construction) -> curate --run-root
    (incremental) -> export-shards from the published run's kept dir.
    Pins that run-root composes with the ingest fronts' id recipe —
    the library tests use small hand ids; this exercises 48-bit
    content hashes and the epoch prefix end to end."""
    import json as _json

    from kcbdml9_big_data_processing_spark.__main__ import (
        _curate_main,
        _export_shards_main,
        _ingest_main,
    )

    day0 = tmp_path / "day0.jsonl"
    day0.write_text(
        "\n".join(
            _json.dumps({"text": t})
            for t in (
                "the quick brown fox jumps over the lazy dog",
                "pack my box with five dozen liquor jugs today",
                "sphinx of black quartz judge my vow said nobody",
            )
        )
        + "\n"
    )
    day1 = tmp_path / "day1.jsonl"
    day1.write_text(
        "\n".join(
            _json.dumps({"text": t})
            for t in (
                # dup of an archived day-0 doc -> must drop
                "pack my box with five dozen liquor jugs today",
                "a wholly new day one document with many fresh words",
            )
        )
        + "\n"
    )
    d0, d1 = str(tmp_path / "docs0"), str(tmp_path / "docs1")
    root = str(tmp_path / "corpus")
    assert _ingest_main(["--jsonl", str(day0), "--out", d0], spark=spark) == 0
    assert _curate_main(["--docs", d0, "--run-root", root], spark=spark) == 0
    assert _ingest_main(
        ["--jsonl", str(day1), "--out", d1, "--epoch", "1"], spark=spark
    ) == 0
    assert _curate_main(["--docs", d1, "--run-root", root], spark=spark) == 0
    out = capsys.readouterr().out
    assert "published run r2 (incremental)" in out

    from kcbdml9_big_data_processing_spark.jobs.runs import (
        latest_run, run_dir, standing_archive,
    )

    r2 = latest_run(spark, root)
    assert r2["run_id"] == 2 and r2["dir"] == run_dir(root, 2)
    kept2 = spark.read.parquet(f"{r2['dir']}/kept")
    assert kept2.count() == 1  # the dup dropped via the stored map
    texts = [r["text"] for r in kept2.collect()]
    assert texts == ["a wholly new day one document with many fresh words"]
    # epoch prefix held: day-1 ids live in the epoch-1 namespace
    assert all(r["doc_id"] >> 48 == 1 for r in kept2.collect())
    assert standing_archive(spark, root).count() == 4  # 3 + 1

    # ship the increment: export the published run's kept set
    shards = str(tmp_path / "shards")
    assert _export_shards_main(
        ["--input", f"{r2['dir']}/kept", "--out", shards,
         "--n-shards", "2", "--salt", "1"],
        spark=spark,
    ) == 0
    total = spark.read.parquet(shards).count()
    assert total == 1


NEW_DOC = (
    150,
    "a brand new refreeze document carrying quite unusual content words",
    "en", "e", 66,
)


def test_run_root_index_ahead_requires_repair(
    spark, tmp_path, monkeypatch
):
    """r15 ADVICE (medium): a --full re-freeze crashing BETWEEN
    build_dedup_index's internal generation commit and the index_done
    marker leaves the index reflecting the UNPUBLISHED kept set. The
    index_gen marker staged at run start catches it (index_ahead): a
    plain --retry-torn refuses (an incremental redo would dedup the
    batch against content absent from the published archive — silent
    row loss), --repair-index rebuilds over the standing archive, and
    a batch doc duplicating the torn run's phantom content is KEPT."""
    root = str(tmp_path / "root")
    cfg = CurationConfig()
    curate_run_root(spark, root, _docs(spark, DAY1), cfg)
    curate_run_root(spark, root, _docs(spark, DAY2), cfg)

    real_mark = R._mark

    def crash_on_index_done(spark_, path):
        if path.endswith("/index_done"):
            raise RuntimeError("injected crash after build commit")
        real_mark(spark_, path)

    monkeypatch.setattr(R, "_mark", crash_on_index_done)
    with pytest.raises(RuntimeError, match="injected"):
        curate_run_root(
            spark, root,
            _docs(spark, DAY1 + DAY2 + [NEW_DOC]), cfg, full=True,
        )
    monkeypatch.setattr(R, "_mark", real_mark)

    assert latest_run(spark, root)["run_id"] == 2  # torn r3 invisible
    st = R.run_status(spark, root)["torn"]
    assert st["state"] == "index_ahead"
    assert "--repair-index" in st["recovery"]

    # the poisoned generation is exactly why retry_torn must refuse
    batch = [
        (301, NEW_DOC[1], "en", "f", 66),  # dup of PHANTOM content only
        (302, "another separate fresh document with distinct wording",
         "en", "f", 54),
    ]
    with pytest.raises(TornRunError, match="COMMITTED a generation"):
        curate_run_root(
            spark, root, _docs(spark, batch), cfg, retry_torn=True
        )
    r3 = curate_run_root(
        spark, root, _docs(spark, batch), cfg, repair_index=True
    )
    assert (r3["run_id"], r3["mode"]) == (3, "incremental")
    # 301's text exists ONLY in the torn (unpublished) kept set: with
    # the repaired index it must survive; the misclassified
    # partial_stage redo would have silently dropped it
    assert _kept_ids(spark, r3["dir"]) == [301, 302]


def test_run_root_index_ahead_fresh_root_retry_suffices(
    spark, tmp_path, monkeypatch
):
    """index_ahead on a root with NO committed runs: the redo is
    necessarily full — its build supersedes the orphaned generation —
    so plain retry_torn recovers (there is no standing archive to
    repair from) and status says so."""
    root = str(tmp_path / "root")
    cfg = CurationConfig()
    real_mark = R._mark

    def crash_on_index_done(spark_, path):
        if path.endswith("/index_done"):
            raise RuntimeError("injected crash after build commit")
        real_mark(spark_, path)

    monkeypatch.setattr(R, "_mark", crash_on_index_done)
    with pytest.raises(RuntimeError, match="injected"):
        curate_run_root(spark, root, _docs(spark, DAY1), cfg)
    monkeypatch.setattr(R, "_mark", real_mark)

    st = R.run_status(spark, root)["torn"]
    assert st["state"] == "index_ahead"
    assert "--retry-torn" in st["recovery"]
    r1 = curate_run_root(
        spark, root, _docs(spark, DAY1), cfg, retry_torn=True
    )
    assert (r1["run_id"], r1["mode"]) == (1, "full")
    assert _kept_ids(spark, r1["dir"]) == [1, 2, 4]


def test_run_root_auto_publish_same_batch_short_circuits(
    spark, tmp_path, monkeypatch
):
    """r15 ADVICE (low): after auto-publishing a torn-but-complete
    run, re-offering the SAME batch (the documented recovery: re-run
    the same command) returns the published run with
    already_published=True instead of re-curating into the
    monotonic-id guard — one crash costs one intervention. A genuinely
    NEW batch still curates as the next run."""
    root = str(tmp_path / "root")
    cfg = CurationConfig()
    curate_run_root(spark, root, _docs(spark, DAY1), cfg)

    real_commit = R._commit
    monkeypatch.setattr(
        R, "_commit",
        lambda *a: (_ for _ in ()).throw(RuntimeError("injected")),
    )
    with pytest.raises(RuntimeError, match="injected"):
        curate_run_root(spark, root, _docs(spark, DAY2), cfg)
    monkeypatch.setattr(R, "_commit", real_commit)

    # the SAME command again: publishes r2 and STOPS — no torn r3
    out = curate_run_root(spark, root, _docs(spark, DAY2), cfg)
    assert out["already_published"] is True
    assert (out["run_id"], out["mode"]) == (2, "incremental")
    assert latest_run(spark, root)["run_id"] == 2
    import os as _os

    assert not _os.path.exists(R.run_dir(root, 3)), (
        "the consumed batch re-curated and staged a new torn dir"
    )
    # a new batch afterwards proceeds normally
    r3 = curate_run_root(spark, root, _docs(spark, DAY3), cfg)
    assert (r3["run_id"], r3["mode"]) == (3, "incremental")
    assert _kept_ids(spark, r3["dir"]) == [202]


def test_vacuum_runs_retention(spark, tmp_path, capsys):
    """r15 verdict #2: vacuum deletes run dirs superseded by the
    latest full run's lineage, keeps the retain window + the standing
    lineage, never prunes meta rows, and the day-N flow is oblivious.
    --status marks vacuumed rows."""
    from kcbdml9_big_data_processing_spark.jobs.runs import (
        standing_archive, vacuum_runs,
    )

    root = str(tmp_path / "root")
    cfg = CurationConfig()
    r1 = curate_run_root(spark, root, _docs(spark, DAY1), cfg)
    r2 = curate_run_root(spark, root, _docs(spark, DAY2), cfg)
    r3 = curate_run_root(
        spark, root, _docs(spark, DAY1 + DAY2), cfg, full=True
    )
    r4 = curate_run_root(spark, root, _docs(spark, DAY3), cfg)

    # superseded = r1, r2 (before r3's full lineage); retain=1 keeps r2
    assert vacuum_runs(spark, root, retain=1) == [r1["dir"]]
    import os as _os

    assert not _os.path.exists(r1["dir"])
    assert _os.path.exists(r2["dir"])
    # meta rows never pruned; status reflects presence
    st = R.run_status(spark, root)
    assert [r["run_id"] for r in st["runs"]] == [1, 2, 3, 4]
    assert [r["present"] for r in st["runs"]] == [False, True, True, True]
    # the standing archive (r3's lineage) is untouched
    assert sorted(
        r["doc_id"] for r in standing_archive(spark, root).collect()
    ) == sorted(_kept_ids(spark, r3["dir"]) + _kept_ids(spark, r4["dir"]))
    # idempotent; retain=0 then reclaims r2 as well
    assert vacuum_runs(spark, root, retain=1) == []
    assert vacuum_runs(spark, root, retain=0) == [r2["dir"]]
    assert not _os.path.exists(r2["dir"])
    with pytest.raises(ValueError, match="retain"):
        vacuum_runs(spark, root, retain=-1)

    # day-N incremental is oblivious to the vacuum
    day5 = [(401, "one more entirely novel document with original words",
             "en", "g", 53)]
    r5 = curate_run_root(spark, root, _docs(spark, day5), cfg)
    assert (r5["run_id"], r5["mode"]) == (5, "incremental")
    assert _kept_ids(spark, r5["dir"]) == [401]

    # CLI: the verb prints what it reclaimed; --status marks the gone
    from kcbdml9_big_data_processing_spark.__main__ import _curate_main

    assert _curate_main(
        ["--run-root", root, "--vacuum-runs"], spark=spark
    ) == 0
    assert "0 superseded run dir(s)" in capsys.readouterr().out
    assert _curate_main(["--run-root", root, "--status"], spark=spark) == 0
    out = capsys.readouterr().out
    assert "r1 (full)" in out and "[vacuumed]" in out
    # flag hygiene: standalone verb, root required, inert knob refused
    assert _curate_main(["--vacuum-runs"], spark=spark) == 2
    assert _curate_main(
        ["--run-root", root, "--vacuum-runs", "--status"], spark=spark
    ) == 2
    assert _curate_main(
        ["--run-root", root, "--retain-runs", "3"], spark=spark
    ) == 2
    # a negative retain is refused when the flags are parsed
    with pytest.raises(SystemExit) as exc:
        _curate_main(
            ["--run-root", root, "--vacuum-runs", "--retain-runs", "-1"],
            spark=spark,
        )
    assert exc.value.code == 2


def test_run_root_writer_lock_enforced(spark, tmp_path):
    """r15 verdict #3: with the opt-in lock layer armed,
    curate_run_root holds {root}/_writer.lock for the whole
    stage-to-publish span — a concurrent second curate refuses loudly
    instead of interleaving into the same staged run dir; a stale
    holder's lock is stolen past the TTL like the index locks.
    Unlocked (default) behavior is unchanged."""
    import os as _os
    import time as _time

    from kcbdml9_big_data_processing_spark.queries.similarity import (
        IndexWriterLockError,
        scoped_writer_lock_ttl,
    )

    root = str(tmp_path / "root")
    cfg = CurationConfig()
    # default: no lock file is ever created
    curate_run_root(spark, root, _docs(spark, DAY1), cfg)
    assert not _os.path.exists(f"{root}/_writer.lock")

    with scoped_writer_lock_ttl(3600.0):
        # plant a FRESH foreign holder -> loud refusal, nothing staged
        with open(f"{root}/_writer.lock", "w"):
            pass
        with pytest.raises(IndexWriterLockError, match="locked"):
            curate_run_root(spark, root, _docs(spark, DAY2), cfg)
        assert not _os.path.exists(R.run_dir(root, 2)), (
            "a lock refusal must precede any staging"
        )
        # age it past the TTL -> the steal path acquires and curates
        old = _time.time() - 7200
        _os.utime(f"{root}/_writer.lock", (old, old))
        r2 = curate_run_root(spark, root, _docs(spark, DAY2), cfg)
        assert (r2["run_id"], r2["mode"]) == (2, "incremental")
        assert _kept_ids(spark, r2["dir"]) == [102]
        # released on exit; vacuum_runs holds it too (smoke)
        assert not _os.path.exists(f"{root}/_writer.lock")
        from kcbdml9_big_data_processing_spark.jobs.runs import (
            vacuum_runs,
        )

        assert vacuum_runs(spark, root) == []
    assert not _os.path.exists(f"{root}/_writer.lock")
