"""Package import + driver-contract smoke tests.

Round-1 post-mortem: the package's own __init__ imported modules that
didn't exist and the entry stub was never filled — these tests make
that class of delivery failure impossible to miss.
"""

from __future__ import annotations

import importlib


def test_package_imports():
    pkg = importlib.import_module("kcbdml9_big_data_processing_spark")
    assert pkg is not None


def test_registry_populated():
    from kcbdml9_big_data_processing_spark.queries import QUERIES

    assert len(QUERIES) >= 20
    for name, spec in QUERIES.items():
        assert callable(spec.fn), name


def test_registry_names_match_functions():
    """Each registration must capture the function it names. Guards
    against the silent decorator-capture bug: inserting a helper def
    between ``@register("x", ...)`` and ``def x(...)`` registers the
    HELPER as query x — every driver row for x then runs the wrong
    code (caught live in round 5 when dedup_clusters briefly
    registered a checkpoint helper)."""
    from kcbdml9_big_data_processing_spark.queries import QUERIES

    for name, spec in QUERIES.items():
        assert spec.fn.__name__ == name, (
            f"query {name!r} is bound to function {spec.fn.__name__!r}"
        )


def test_entry_module_contract():
    import sys

    sys.path.insert(0, "/root/repo")
    entry_mod = importlib.import_module("__spark_entry__")
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert qs, "queries() must not be empty"
    # every oracle key must exist in queries()
    assert set(oracles) <= set(qs)
    # oracles must be non-empty SQL strings
    assert all(isinstance(s, str) and "SELECT" in s.upper() for s in oracles.values())


def test_entry_runs_and_returns_rows(spark):
    import sys

    sys.path.insert(0, "/root/repo")
    entry_mod = importlib.import_module("__spark_entry__")
    df = entry_mod.entry(spark)
    assert df.count() > 0


def test_cli_list_and_unknown_query():
    """The __main__ CLI lists every registered query without touching
    Spark, and an unknown name exits 2 with a hint."""
    import contextlib
    import io

    from kcbdml9_big_data_processing_spark.__main__ import main
    from kcbdml9_big_data_processing_spark.queries import QUERIES

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main(["--list"])
    assert rc == 0
    listed = {ln.split()[0] for ln in buf.getvalue().splitlines() if ln}
    assert listed == set(QUERIES)
    err = io.StringIO()
    with contextlib.redirect_stderr(err):
        assert main(["no_such_query"]) == 2
    assert "unknown query" in err.getvalue()


def test_cli_index_lifecycle(spark, tmp_path):
    """The index subcommand drives the persisted-index lifecycle from
    the shell (r7 verdict #8): ngram build/extend/compact/search and
    semantic label_ivf build/search, search results landing in
    parquet. The shared pytest session is injected so the CLI doesn't
    stop it."""
    from kcbdml9_big_data_processing_spark.__main__ import _index_main

    sf = "/root/testdata/sf0.001"
    idx = str(tmp_path / "ngram_idx")
    out = str(tmp_path / "pairs")
    base = ["--sf", sf, "--index-dir", idx]
    assert _index_main(
        ["build", "--family", "ngram", *base, "--where", "doc_id % 2 = 0"],
        spark=spark,
    ) == 0
    assert _index_main(
        ["extend", "--family", "ngram", *base, "--where", "doc_id % 4 = 1"],
        spark=spark,
    ) == 0
    assert _index_main(["compact", "--family", "ngram", *base], spark=spark) == 0
    try:
        assert _index_main(
            [
                "search", "--family", "ngram", *base,
                "--where", "doc_id % 4 = 3", "--out", out,
            ],
            spark=spark,
        ) == 0
        got = spark.read.parquet(out)
        assert set(got.columns) == {"doc_a", "doc_b", "jaccard"}
    finally:
        from kcbdml9_big_data_processing_spark.queries.dedup import (
            _bucketed_table_name,
        )

        spark.sql(f"DROP TABLE IF EXISTS {_bucketed_table_name(idx)}")

    # stats after compaction reports the bucketed layout
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        assert _index_main(["stats", "--family", "ngram", *base], spark=spark) == 0
    stats = buf.getvalue()
    assert "compacted=yes" in stats and "version=1" in stats
    assert "tail_postings=" in stats
    # the stats surface says whether the stored exact-dedup map is
    # present, and diagnoses a broken index with its rebuild
    assert "exact_hash_map=yes" in stats
    import shutil

    from kcbdml9_big_data_processing_spark.queries.similarity import (
        _gen_current,
    )

    shutil.rmtree(f"{_gen_current(spark, idx)}/hashes")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        assert _index_main(["stats", "--family", "ngram", *base], spark=spark) == 0
    assert "exact_hash_map=MISSING — broken index" in buf.getvalue()
    assert "--repair-index" in buf.getvalue()

    sem = str(tmp_path / "sem_idx")
    sem_out = str(tmp_path / "sem_pairs")
    assert _index_main(
        [
            "build", "--family", "semantic", "--sf", sf, "--index-dir", sem,
            "--blocking", "label_ivf", "--n-cells", "16",
            "--where", "vec_id % 2 = 0",
        ],
        spark=spark,
    ) == 0
    assert _index_main(
        [
            "search", "--family", "semantic", "--sf", sf, "--index-dir", sem,
            "--where", "vec_id % 2 = 1", "--out", sem_out,
        ],
        spark=spark,
    ) == 0
    sgot = spark.read.parquet(sem_out)
    assert set(sgot.columns) == {"vec_a", "vec_b", "cosine"}
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        assert _index_main(
            ["stats", "--family", "semantic", "--sf", sf, "--index-dir", sem],
            spark=spark,
        ) == 0
    assert "blocking=label_ivf n_cells=16" in buf.getvalue()

    # vacuum prunes superseded generations (r10: no longer ngram-only)
    assert _index_main(
        ["vacuum", "--family", "semantic", "--sf", sf, "--index-dir", sem],
        spark=spark,
    ) == 0
    # compact remains ngram-only
    assert _index_main(
        ["compact", "--family", "semantic", "--sf", sf, "--index-dir", sem],
        spark=spark,
    ) == 2


def test_cli_train_writes_consumable_weights(spark, tmp_path):
    """The train subcommand fits classifier weights from a label
    expression over the documents table and writes the JSON artifact
    classifier_score consumes; the CLI run must reproduce a direct
    train_classifier call bit-for-bit (the trainer is deterministic,
    so the shell artifact IS the library result)."""
    import json

    from pyspark.sql import functions as F

    from kcbdml9_big_data_processing_spark.__main__ import _train_main
    from kcbdml9_big_data_processing_spark.operators.quality_model import (
        classifier_score,
        train_classifier,
    )
    from kcbdml9_big_data_processing_spark.sources.parquet import read_table

    sf = "/root/testdata/sf0.001"
    out = str(tmp_path / "weights.json")
    expr = "n_chars > 200"
    assert _train_main(
        [
            "--sf", sf, "--label-expr", expr,
            "--dim", "64", "--iters", "2", "--out", out,
        ],
        spark=spark,
    ) == 0
    with open(out) as f:
        w = json.load(f)
    assert len(w) == 64 and all(isinstance(x, int) for x in w)

    docs = read_table(spark, sf, "documents")
    direct = train_classifier(
        docs.withColumn("label", F.expr(expr).cast("int")),
        dim=64,
        iters=2,
    )
    assert w == direct
    # and the artifact serves: scoring runs with the loaded weights
    assert classifier_score(docs.limit(5), w).count() == 5


def test_cli_writer_lock_flag(spark, tmp_path):
    """--writer-lock-ttl enforces single-writer for one CLI
    invocation: a build under the flag succeeds and releases its
    lock; with a fresh foreign lock in place it fails loudly; the
    process-global toggle is reset afterwards."""
    import os

    import pytest

    from kcbdml9_big_data_processing_spark.__main__ import _index_main
    from kcbdml9_big_data_processing_spark.queries import similarity as S

    sf = "/root/testdata/sf0.001"
    idx = str(tmp_path / "locked_cli_idx")
    base = ["--sf", sf, "--index-dir", idx, "--writer-lock-ttl", "3600"]
    assert _index_main(
        ["build", "--family", "ngram", *base, "--where", "doc_id % 8 = 0"],
        spark=spark,
    ) == 0
    assert not os.path.exists(f"{idx}/_writer.lock")  # released
    assert S._WRITER_LOCK_TTL is None  # toggle scoped to the invocation

    with open(f"{idx}/_writer.lock", "w"):
        pass
    with pytest.raises(S.IndexWriterLockError, match="locked"):
        _index_main(
            ["extend", "--family", "ngram", *base, "--where", "doc_id % 8 = 1"],
            spark=spark,
        )
    assert S._WRITER_LOCK_TTL is None  # reset even on failure
    os.remove(f"{idx}/_writer.lock")

    # r12 review: a host process's OWN enablement is restored, not
    # clobbered, by the invocation-scoped flag
    S.enable_index_writer_locking(7200)
    try:
        assert _index_main(
            ["extend", "--family", "ngram", *base, "--where", "doc_id % 8 = 2"],
            spark=spark,
        ) == 0
        assert S._WRITER_LOCK_TTL == 7200.0
    finally:
        S.disable_index_writer_locking()


def test_cli_export_shards_and_retry(spark, tmp_path):
    """r12 verdict #5: the shard export + failed-shard retry are
    driveable from the shell. Full export via --sf writes one ordered
    file per shard plus the recipe sidecar; deleting one shard dir and
    retrying with --only-shards brings it back byte-identically with
    untouched siblings (the test_failed_shard_reexport assertions);
    --writer-lock-ttl scopes the process-global toggle; a mismatched
    retry salt exits nonzero via the sidecar check."""
    import glob
    import os
    import shutil

    import pytest

    from kcbdml9_big_data_processing_spark.__main__ import _export_shards_main
    from kcbdml9_big_data_processing_spark.queries import similarity as S
    from kcbdml9_big_data_processing_spark.sinks.shards import (
        read_training_shards,
    )

    sf = "/root/testdata/sf0.001"
    out = str(tmp_path / "cli_shards")
    base = ["--sf", sf, "--out", out, "--n-shards", "4", "--salt", "7"]
    # the lock flag is retry-only: a full export's root must not
    # pre-exist (the lock file would create it) and a full overwrite's
    # static truncate would delete the held lock mid-write
    assert _export_shards_main(
        [*base, "--writer-lock-ttl", "3600"], spark=spark
    ) == 2
    assert _export_shards_main(base, spark=spark) == 0
    assert os.path.exists(f"{out}/_export_meta.json")

    def snapshot(k):
        return sorted(
            (os.path.basename(f), os.path.getsize(f))
            for f in glob.glob(f"{out}/shard={k}/*.parquet")
        )

    before = {k: snapshot(k) for k in range(4)}
    assert all(len(v) == 1 for v in before.values())
    want_rows = read_training_shards(spark, out, shard=2, ordered=True).collect()

    shutil.rmtree(f"{out}/shard=2")  # the failed shard
    assert _export_shards_main(
        [*base, "--only-shards", "2", "--writer-lock-ttl", "3600"],
        spark=spark,
    ) == 0
    assert S._WRITER_LOCK_TTL is None  # toggle scoped to the invocation
    assert not os.path.exists(f"{out}/_writer.lock")  # released
    got_rows = read_training_shards(spark, out, shard=2, ordered=True).collect()
    assert got_rows == want_rows  # identical rows, identical order
    for k in (0, 1, 3):
        assert snapshot(k) == before[k]  # untouched siblings
    assert len(glob.glob(f"{out}/shard=2/*.parquet")) == 1

    # a retry with the wrong salt is refused by the sidecar check
    with pytest.raises(ValueError, match="meta"):
        _export_shards_main(
            ["--sf", sf, "--out", out, "--n-shards", "4", "--salt", "8",
             "--only-shards", "2"],
            spark=spark,
        )
    # malformed shard list exits 2 before touching Spark
    assert _export_shards_main(
        [*base, "--only-shards", "2,x"], spark=spark
    ) == 2
    # so does an EMPTY one (r13 review: '' interpolated from an audit
    # that found nothing must not become a raw library traceback)
    assert _export_shards_main(
        [*base, "--only-shards", ""], spark=spark
    ) == 2
    # missing input spec exits 2
    assert _export_shards_main(["--out", out, "--n-shards", "4"]) == 2


def test_cli_audit_shards(spark, tmp_path, capsys):
    """audit-shards prints per-shard status, exits 0 on a clean
    export and 1 with the retry hint when a shard dir is lost."""
    import shutil

    from kcbdml9_big_data_processing_spark.__main__ import (
        _audit_shards_main,
        _export_shards_main,
    )

    sf = "/root/testdata/sf0.001"
    out = str(tmp_path / "audit_cli_shards")
    assert _export_shards_main(
        ["--sf", sf, "--out", out, "--n-shards", "4", "--salt", "3"],
        spark=spark,
    ) == 0
    assert _audit_shards_main(
        ["--path", out, "--sf", sf], spark=spark
    ) == 0
    shutil.rmtree(f"{out}/shard=1")
    rc = _audit_shards_main(["--path", out, "--sf", sf], spark=spark)
    captured = capsys.readouterr()
    assert rc == 1
    assert "--only-shards 1" in captured.err

    # a stale OUT-OF-RANGE dir must get a delete hint, never be fed
    # into --only-shards (which would raise on it — second r13 review)
    shutil.copytree(f"{out}/shard=0", f"{out}/shard=9")
    rc = _audit_shards_main(["--path", out, "--sf", sf], spark=spark)
    captured = capsys.readouterr()
    assert rc == 1
    assert "--only-shards 1" in captured.err  # in-range retry kept
    assert "9" not in captured.err.split("--only-shards 1")[1].split("stale")[0]
    assert "stale out-of-range" in captured.err and "shard=9" in captured.err


def test_cli_curate_full_then_incremental(spark, tmp_path):
    """The curate verb closes the shell pipeline (ingest -> curate ->
    export-shards): day-0 full run builds the kept set, decision
    record, and the n-gram index artifact (--build-index); day-1 runs
    the SAME verb in incremental mode (--index) over an
    epoch-1 ingest, extends the index (--extend-index), and the
    decisions point at day-0 canonicals. Invalid mode combinations
    exit 2 before touching Spark."""
    import json
    import os

    from conftest import h48_py as h48

    from kcbdml9_big_data_processing_spark.__main__ import (
        _curate_main,
        _ingest_main,
    )

    base = (
        "the quick brown fox jumps over the lazy dog and then "
        "wanders far across the wide green valley looking for food"
    )
    other = (
        "an entirely different document about spark shuffles and "
        "partition pruning with plenty of distinct words to pass "
        "every quality heuristic in the default configuration"
    )
    fresh = (
        "a third topic entirely concerning watermarks state stores "
        "and checkpoint recovery across streaming micro batch "
        "executions with many further distinct words"
    )

    def jsonl(name, texts):
        p = tmp_path / name
        p.write_text(
            "\n".join(json.dumps({"text": t}) for t in texts) + "\n"
        )
        return str(p)

    day0_docs = str(tmp_path / "day0_docs")
    assert _ingest_main(
        ["--jsonl", jsonl("day0.jsonl", [base, other, "tiny"]),
         "--out", day0_docs],
        spark=spark,
    ) == 0

    kept0 = str(tmp_path / "kept0")
    dec0 = str(tmp_path / "dec0")
    idx = str(tmp_path / "idx")
    assert _curate_main(
        ["--docs", day0_docs, "--out-kept", kept0, "--out-decisions",
         dec0, "--jaccard-min", "0.3", "--build-index", idx],
        spark=spark,
    ) == 0
    assert {r["doc_id"] for r in spark.read.parquet(kept0).collect()} == {
        h48(base), h48(other)
    }
    d0 = {r["doc_id"]: r["reason"]
          for r in spark.read.parquet(dec0).collect()}
    assert d0[h48("tiny")] == "quality"
    assert os.path.isdir(idx)

    # day 1: near-dup of base, exact dup of other, fresh — epoch 1
    day1_docs = str(tmp_path / "day1_docs")
    assert _ingest_main(
        ["--jsonl",
         jsonl("day1.jsonl", [base + " tonight", other.upper(), fresh]),
         "--out", day1_docs, "--epoch", "1"],
        spark=spark,
    ) == 0
    kept1 = str(tmp_path / "kept1")
    dec1 = str(tmp_path / "dec1")
    assert _curate_main(
        ["--docs", day1_docs, "--out-kept", kept1, "--out-decisions",
         dec1, "--jaccard-min", "0.3",
         "--index", idx, "--extend-index", "--writer-lock-ttl", "3600"],
        spark=spark,
    ) == 0
    d1 = {r["reason"]: r["canonical_id"]
          for r in spark.read.parquet(dec1).collect()}
    assert d1["exact_dup"] == h48(other)
    assert d1["near_dup"] == h48(base)
    assert d1["kept"] is None
    kept1_ids = {r["doc_id"] for r in spark.read.parquet(kept1).collect()}
    assert len(kept1_ids) == 1 and all(i >= (1 << 48) for i in kept1_ids)

    # the extended index sees day-1's kept doc: a day-2 near-dup of
    # FRESH resolves to fresh's day-1 id
    from kcbdml9_big_data_processing_spark.jobs.training_data import (
        CurationConfig,
        TrainingDataCurator,
    )
    from kcbdml9_big_data_processing_spark.sources.corpus import ingest_jsonl

    batch2 = ingest_jsonl(
        spark, jsonl("day2.jsonl", [fresh + " indeed"]), epoch=2
    )[0]
    _, dec2 = TrainingDataCurator(CurationConfig(jaccard_min=0.3)).run_incremental(
        batch2, idx
    )
    row2 = dec2.collect()[0]
    assert row2["reason"] == "near_dup"
    assert row2["canonical_id"] in kept1_ids

    # invalid combinations exit 2 without touching Spark
    common = ["--docs", day1_docs, "--out-kept", kept1,
              "--out-decisions", dec1]
    assert _curate_main(
        [*common, "--index", idx,
         "--benchmark", day0_docs],
        spark=spark,
    ) == 2
    assert _curate_main(
        [*common, "--index", idx,
         "--build-index", idx],
        spark=spark,
    ) == 2
    assert _curate_main([*common, "--extend-index"], spark=spark) == 2
    # an inapplicable lock flag is a usage error, not a silent no-op
    assert _curate_main(
        [*common, "--writer-lock-ttl", "3600"], spark=spark
    ) == 2
    # r13 ADVICE: model-gate knobs without --model-weights were
    # silently inert (CurationConfig ignores them when weights is
    # None) — now the same usage-error posture as --writer-lock-ttl
    assert _curate_main(
        [*common, "--min-model-mean-milli", "100"], spark=spark
    ) == 2
    assert _curate_main(
        [*common, "--model-ngram-max", "3"], spark=spark
    ) == 2
    assert _curate_main(
        [*common, "--index", idx,
         "--scrub-repeated-spans"],
        spark=spark,
    ) == 2
    assert _curate_main(
        [*common, "--index", idx,
         "--min-rarity", "0.1"],
        spark=spark,
    ) == 2


def test_cli_train_feeds_curate_model_gate(spark, tmp_path):
    """The train -> curate loop THROUGH THE SHELL: the train verb fits
    integer milli-weights from a labeled parquet and writes the JSON
    artifact; the curate verb loads it via --model-weights and the
    model gate drops exactly the docs the pure-Python scorer says fall
    below --min-model-mean-milli (no magic constants — the threshold
    is derived from the fitted model's own class scores)."""
    import json
    import random

    from kcbdml9_big_data_processing_spark.__main__ import (
        _curate_main,
        _train_main,
    )
    from kcbdml9_big_data_processing_spark.operators.quality_model import (
        classifier_score_py,
    )

    rng = random.Random(7)
    good = [
        "the quick brown fox jumps over the lazy dog",
        "clear concise prose wins the day",
        "well formed sentences carry structure and meaning",
    ]
    bad = [
        "zzz qqq xxx kkk jjj nnn ppp",
        "buy now click here spam offer deal",
        "garbled noise tokens qqq zzz kkk vvv",
    ]
    labeled = []
    for i in range(100):
        words = rng.choice(good if i % 2 == 0 else bad).split()
        rng.shuffle(words)
        labeled.append((" ".join(words), 1 - i % 2))
    labels_path = str(tmp_path / "labels")
    spark.createDataFrame(labeled, "text string, label int").write.parquet(
        labels_path
    )

    weights_path = str(tmp_path / "weights.json")
    assert _train_main(
        ["--labels", labels_path, "--dim", "64", "--iters", "6",
         "--out", weights_path],
        spark=spark,
    ) == 0
    with open(weights_path) as f:
        w = json.load(f)
    assert any(w)

    # curation corpus: distinct docs, one per class phrase — all pass
    # the heuristic gate; the model gate must separate them
    corpus = [(i + 1, t) for i, t in enumerate(good + bad)]
    docs_path = str(tmp_path / "docs")
    spark.createDataFrame(corpus, "doc_id long, text string").write.parquet(
        docs_path
    )
    # threshold between the classes' mean milli-scores, from the
    # python twin of the serving scorer
    milli = {
        d: s * 1000 / n
        for d, (n, s) in (
            (d, classifier_score_py(t, w)) for d, t in corpus
        )
    }
    lo = max(milli[d] for d in (4, 5, 6))  # bad docs
    hi = min(milli[d] for d in (1, 2, 3))  # good docs
    assert lo < hi, (lo, hi)  # the fitted model separates
    thr = int((lo + hi) / 2)

    kept_p = str(tmp_path / "kept")
    dec_p = str(tmp_path / "dec")
    assert _curate_main(
        ["--docs", docs_path, "--out-kept", kept_p,
         "--out-decisions", dec_p, "--model-weights", weights_path,
         "--min-model-mean-milli", str(thr)],
        spark=spark,
    ) == 0
    dec = {r["doc_id"]: r["reason"]
           for r in spark.read.parquet(dec_p).collect()}
    assert {d for d, r in dec.items() if r == "quality"} == {4, 5, 6}
    assert {r["doc_id"] for r in spark.read.parquet(kept_p).collect()} == {
        1, 2, 3
    }


def test_cli_curate_benchmark_decontamination(spark, tmp_path):
    """curate --benchmark drives the decontamination stage from the
    shell: a doc sharing a word-3-gram with the eval set drops with
    reason contaminated before any other stage sees it."""
    from kcbdml9_big_data_processing_spark.__main__ import _curate_main

    clean = (
        "an entirely different document about spark shuffles and "
        "partition pruning with plenty of distinct words to pass "
        "every quality heuristic in the default configuration"
    )
    leaky = (
        "this passage quotes the held out evaluation question verbatim "
        "inside otherwise original prose with many distinct words"
    )
    docs_path = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, clean), (2, leaky)], "doc_id long, text string"
    ).write.parquet(docs_path)
    bench_path = str(tmp_path / "bench")
    spark.createDataFrame(
        [("the held out evaluation question appears here",)], "text string"
    ).write.parquet(bench_path)

    kept_p = str(tmp_path / "kept")
    dec_p = str(tmp_path / "dec")
    assert _curate_main(
        ["--docs", docs_path, "--out-kept", kept_p,
         "--out-decisions", dec_p, "--benchmark", bench_path],
        spark=spark,
    ) == 0
    dec = {r["doc_id"]: r["reason"]
           for r in spark.read.parquet(dec_p).collect()}
    assert dec == {1: "kept", 2: "contaminated"}
    assert {r["doc_id"] for r in spark.read.parquet(kept_p).collect()} == {1}


def test_cli_audit_shards_out_report(spark, tmp_path, capsys):
    """audit-shards --out ships the full audit frame as parquet and
    prints only failures plus a summary line — the 10^6-shard posture
    (r13 what's-wrong #2: the default mode collects one row per shard
    onto the driver, which IS the bottleneck at that scale). Clean
    export: exit 0, no per-shard stdout rows, one report row per
    shard, all ok. Lost shard: exit 1, ONLY the failing shard prints,
    the repair hint still names it, and the parquet report records
    the failure for downstream tooling."""
    import shutil

    from kcbdml9_big_data_processing_spark.__main__ import (
        _audit_shards_main,
        _export_shards_main,
    )

    sf = "/root/testdata/sf0.001"
    out = str(tmp_path / "audit_out_shards")
    report = str(tmp_path / "audit_report")
    assert _export_shards_main(
        ["--sf", sf, "--out", out, "--n-shards", "4", "--salt", "3"],
        spark=spark,
    ) == 0
    assert _audit_shards_main(
        ["--path", out, "--sf", sf, "--out", report], spark=spark
    ) == 0
    captured = capsys.readouterr()
    assert "audit report: 4 shards" in captured.out
    assert "shard=" not in captured.out  # no per-shard spam
    rep = spark.read.parquet(report)
    assert rep.count() == 4
    assert rep.where(~rep["ok"]).count() == 0

    shutil.rmtree(f"{out}/shard=2")
    rc = _audit_shards_main(
        ["--path", out, "--sf", sf, "--out", report], spark=spark
    )
    captured = capsys.readouterr()
    assert rc == 1
    assert "shard=2" in captured.out  # the failure DOES surface
    assert "shard=0" not in captured.out  # healthy shards stay quiet
    assert "--only-shards 2" in captured.err
    rep = spark.read.parquet(report)
    bad = [r["shard"] for r in rep.where(~rep["ok"]).collect()]
    assert bad == [2]
