"""Deterministic training-shard export (sinks/shards.py): shard
membership and within-shard order are pure functions of (doc_id,
salt) — partition-layout-independent, replayable, salt-decorrelated —
and the written layout is one ordered file per shard that reconstructs
the input exactly.
"""

from __future__ import annotations

import glob

import pytest
from pyspark.sql import functions as F

from kcbdml9_big_data_processing_spark.sinks.shards import (
    read_training_shards,
    shard_assignments,
    write_training_shards,
)
from kcbdml9_big_data_processing_spark.sources.parquet import read_table

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return read_table(spark, SF, "documents").select("doc_id", "text")


def test_assignments_partition_layout_independent(spark):
    docs = _docs(spark)
    base = {
        r["doc_id"]: (r["shard"], r["pos"])
        for r in shard_assignments(docs, 8, salt=3).collect()
    }
    hostile = {
        r["doc_id"]: (r["shard"], r["pos"])
        for r in shard_assignments(
            docs.repartition(13).sortWithinPartitions("text"), 8, salt=3
        ).collect()
    }
    assert base == hostile and len(base) == docs.count()
    shards = {s for s, _ in base.values()}
    assert shards == set(range(8))  # every shard populated
    # balance: keyed-hash assignment keeps shards within ~3x of the
    # mean at this corpus size (a gross skew means a broken hash)
    from collections import Counter

    counts = Counter(s for s, _ in base.values())
    assert max(counts.values()) < 3 * (len(base) / 8)


def test_salt_decorrelates_epochs(spark):
    docs = _docs(spark)
    e0 = {
        r["doc_id"]: r["shard"]
        for r in shard_assignments(docs, 8, salt=0).collect()
    }
    e1 = {
        r["doc_id"]: r["shard"]
        for r in shard_assignments(docs, 8, salt=1).collect()
    }
    moved = sum(1 for d in e0 if e0[d] != e1[d])
    # a fresh permutation reassigns ~7/8 of docs; anything above half
    # proves the epochs are decorrelated, not a shifted copy
    assert moved > len(e0) / 2


def test_written_shards_ordered_and_reconstruct(spark, tmp_path):
    docs = _docs(spark)
    path = str(tmp_path / "shards")
    write_training_shards(docs, path, n_shards=4, salt=7)

    # one data file per shard: all of a shard's rows land in one task
    for k in range(4):
        files = [
            f
            for f in glob.glob(f"{path}/shard={k}/*")
            if f.endswith(".parquet")
        ]
        assert len(files) == 1, (k, files)

    back = read_training_shards(spark, path)
    assert back.count() == docs.count()
    assert {r["doc_id"] for r in back.collect()} == {
        r["doc_id"] for r in docs.collect()
    }
    # text survives byte-for-byte
    joined = back.alias("b").join(docs.alias("d"), "doc_id")
    assert (
        joined.where(F.col("b.text") != F.col("d.text")).count() == 0
    )
    # within one shard's single FILE, parquet row order IS the export
    # order (this shard is one split at this size; big shards need
    # ordered=True — the guarantee is file-level)
    rows = read_training_shards(spark, path, shard=2).collect()
    assert rows == sorted(rows, key=lambda r: (r["pos"], r["doc_id"]))
    # the explicit ordered read gives the same stream regardless of
    # split layout
    assert (
        read_training_shards(spark, path, shard=2, ordered=True).collect()
        == rows
    )
    # and the order matches the pure assignment function
    want = [
        r["doc_id"]
        for r in shard_assignments(docs, 4, salt=7)
        .where(F.col("shard") == 2)
        .orderBy("pos", "doc_id")
        .collect()
    ]
    assert [r["doc_id"] for r in rows] == want


def test_rejects_bad_shard_count(spark):
    with pytest.raises(ValueError, match="n_shards"):
        shard_assignments(_docs(spark), 0)


def test_shard_assignment_differential_fuzz(spark):
    """Differential pin against an independent pure-Python twin
    (hashlib.sha256), beyond the DuckDB oracle: for random ids and
    salts, shard and pos must equal first-48-bits-of-sha256 over the
    exact 'shard:<salt>:<id>' / 'pos:<salt>:<id>' strings — pinning
    the h48 recipe end to end (hex substring length, base conversion,
    role prefixes, decimal id rendering)."""
    import random

    from conftest import h48_py

    rng = random.Random(12)
    ids = sorted(rng.sample(range(0, 10**12), 64))
    for salt, n_shards in [(0, 8), (7, 3), (12, 64)]:
        want = {
            i: (
                h48_py(f"shard:{salt}:{i}") % n_shards,
                h48_py(f"pos:{salt}:{i}"),
            )
            for i in ids
        }
        df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
        got = {
            r["doc_id"]: (r["shard"], r["pos"])
            for r in shard_assignments(df, n_shards, salt=salt).collect()
        }
        assert got == want, (salt, n_shards)


def test_failed_shard_reexport_is_byte_identical(spark, tmp_path):
    """The retry path the determinism exists for: delete one shard's
    dir (a failed export task), re-export ONLY that shard with
    only_shards + mode='overwrite' — the shard comes back with the
    identical rows in the identical order, and no other shard's files
    are touched (same file paths + sizes)."""
    import glob
    import os

    docs = _docs(spark)
    path = str(tmp_path / "retry_shards")
    write_training_shards(docs, path, n_shards=4, salt=7)

    def snapshot(k):
        return sorted(
            (os.path.basename(f), os.path.getsize(f))
            for f in glob.glob(f"{path}/shard={k}/*.parquet")
        )

    before = {k: snapshot(k) for k in range(4)}
    want_rows = read_training_shards(
        spark, path, shard=2, ordered=True
    ).collect()

    import shutil

    shutil.rmtree(f"{path}/shard=2")  # the failed shard
    write_training_shards(
        docs, path, n_shards=4, salt=7, mode="overwrite", only_shards=[2]
    )

    got_rows = read_training_shards(
        spark, path, shard=2, ordered=True
    ).collect()
    assert got_rows == want_rows  # identical rows, identical order
    for k in (0, 1, 3):
        assert snapshot(k) == before[k]  # untouched siblings
    files = glob.glob(f"{path}/shard=2/*.parquet")
    assert len(files) == 1  # still one ordered file


def test_only_shards_validated_and_full_overwrite_static(spark, tmp_path):
    """r12 review pins: (a) a typo'd retry fails loudly instead of
    committing zero rows and reporting success; (b) a FULL overwrite
    stays a full truncate even under a session-level dynamic
    partition-overwrite conf — re-exporting with fewer shards must not
    leave stale higher-numbered shard dirs mixed into the corpus."""
    import os

    import pytest as _pytest

    docs = _docs(spark)
    path = str(tmp_path / "static_shards")
    write_training_shards(docs, path, n_shards=8, salt=1)
    assert os.path.isdir(f"{path}/shard=7")

    with _pytest.raises(ValueError, match="only_shards"):
        write_training_shards(
            docs, path, n_shards=4, mode="overwrite", only_shards=[5]
        )
    with _pytest.raises(ValueError, match="only_shards"):
        write_training_shards(
            docs, path, n_shards=4, mode="overwrite", only_shards=[]
        )

    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        write_training_shards(docs, path, n_shards=4, salt=1, mode="overwrite")
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    # static pin held: the old shard=4..7 dirs are gone, not stale
    assert not os.path.isdir(f"{path}/shard=7")
    assert read_training_shards(spark, path).count() == docs.count()


def test_retry_requires_overwrite_mode(spark, tmp_path):
    """r12 ADVICE: under mode='append' the dynamic partition-overwrite
    option is inert — a retry would stack a SECOND file into the
    target shard dirs, breaking the one-ordered-file invariant while
    reporting success. only_shards now requires mode='overwrite'."""
    docs = _docs(spark)
    path = str(tmp_path / "mode_shards")
    write_training_shards(docs, path, n_shards=4, salt=7)
    for bad_mode in ("append", "error", "ignore"):
        with pytest.raises(ValueError, match="overwrite"):
            write_training_shards(
                docs, path, n_shards=4, salt=7, mode=bad_mode, only_shards=[2]
            )
    # full exports reject append/ignore too: append stacks extra
    # files into shard dirs; ignore can skip the data write yet
    # replace the sidecar with parameters the artifact doesn't have
    for bad_mode in ("append", "ignore"):
        with pytest.raises(ValueError, match="overwrite"):
            write_training_shards(docs, path, n_shards=4, salt=7, mode=bad_mode)
    # the invariant the checks protect: still one file in shard=2
    assert len(glob.glob(f"{path}/shard=2/*.parquet")) == 1


def test_export_meta_recorded_and_verified_on_retry(spark, tmp_path):
    """The export records its hash recipe + parameters in
    _export_meta.json; a retry whose parameters (or code-era hash
    recipe) don't match refuses instead of silently replacing the
    shard with a differently-permuted one. An export without its
    sidecar (its full write never finished) also refuses."""
    import os

    from kcbdml9_big_data_processing_spark.sinks.shards import (
        read_export_meta,
    )

    docs = _docs(spark)
    path = str(tmp_path / "meta_shards")
    write_training_shards(docs, path, n_shards=4, salt=7)

    meta = read_export_meta(spark, path)
    assert meta == {
        "format": 1,
        "hash": "sha256-h48:role-prefix",
        "n_shards": 4,
        "salt": 7,
        "id_col": "doc_id",
    }
    # the sidecar is invisible to the parquet reader
    assert set(read_training_shards(spark, path).columns) >= {"doc_id", "pos"}

    # mismatched retry parameters refuse (wrong salt; wrong n_shards)
    with pytest.raises(ValueError, match="meta"):
        write_training_shards(
            docs, path, n_shards=4, salt=8, mode="overwrite", only_shards=[2]
        )
    with pytest.raises(ValueError, match="meta"):
        write_training_shards(
            docs, path, n_shards=8, salt=7, mode="overwrite", only_shards=[2]
        )

    # sidecar gone -> retry refuses, and writes no sidecar itself
    os.remove(f"{path}/_export_meta.json")
    with pytest.raises(ValueError, match="_export_meta"):
        write_training_shards(
            docs, path, n_shards=4, salt=7, mode="overwrite", only_shards=[2]
        )
    assert not os.path.exists(f"{path}/_export_meta.json")


def test_width_cap_does_not_change_output(spark, tmp_path):
    """r12 verdict #3: the exchange width is capped by the input-size
    estimate (a tiny corpus exports at the 64-partition floor no
    matter how many shards), and width provably never affects the
    artifact — same files, same rows, same order at forced extremes."""
    docs = _docs(spark)
    base = str(tmp_path / "w_base")
    # many tiny shards: old default width would be 32*16=512; the size
    # cap pins a tiny corpus at the 64 floor. Output must be identical
    # across target_task_bytes extremes (1 byte -> uncapped width).
    write_training_shards(docs, base, n_shards=32, salt=3)
    wide = str(tmp_path / "w_wide")
    write_training_shards(docs, wide, n_shards=32, salt=3, target_task_bytes=1)
    for k in (0, 11, 31):
        a = read_training_shards(spark, base, shard=k, ordered=True).collect()
        b = read_training_shards(spark, wide, shard=k, ordered=True).collect()
        assert a == b, k
        assert len(glob.glob(f"{base}/shard={k}/*.parquet")) == 1


def test_audit_training_shards_detects_every_failure_mode(spark, tmp_path):
    """r13: the audit is the DETECTION half of the failed-shard story
    (only_shards is the repair half). On a clean export every shard is
    ok; a deleted dir, a foreign appended file, missing rows (vs the
    reference), and extra rows are each localized to the right shard
    with the right counter — and the flagged shard feeds only_shards,
    after which the audit is clean again."""
    import os
    import shutil

    from kcbdml9_big_data_processing_spark.sinks.shards import (
        audit_training_shards,
    )

    docs = _docs(spark)
    path = str(tmp_path / "audit_shards")
    write_training_shards(docs, path, n_shards=4, salt=7)

    def report():
        return {
            r["shard"]: r.asDict()
            for r in audit_training_shards(spark, path, reference=docs).collect()
        }

    rep = report()
    assert set(rep) == {0, 1, 2, 3}
    assert all(r["ok"] for r in rep.values()), rep
    assert all(r["n_files"] == 1 for r in rep.values())

    # lost dir -> that shard: 0 files, all its rows missing
    n2 = rep[2]["n_rows"]
    shutil.rmtree(f"{path}/shard=2")
    rep = report()
    assert not rep[2]["ok"] and rep[2]["n_files"] == 0
    assert rep[2]["n_missing"] == n2
    assert all(rep[k]["ok"] for k in (0, 1, 3))

    # repair with only_shards -> clean again
    write_training_shards(
        docs, path, n_shards=4, salt=7, mode="overwrite", only_shards=[2]
    )
    rep = report()
    assert all(r["ok"] for r in rep.values())

    # foreign append into a shard dir -> n_files=2 (order now
    # unknowable across files), rows doubled -> extra vs reference
    import glob as _glob

    src = _glob.glob(f"{path}/shard=1/*.parquet")[0]
    shutil.copy(src, f"{path}/shard=1/part-zzzz-copy.parquet")
    rep = report()
    assert not rep[1]["ok"] and rep[1]["n_files"] == 2
    os.remove(f"{path}/shard=1/part-zzzz-copy.parquet")

    # reference with rows the export never saw -> missing on the
    # shard they hash to; export rows absent from the reference ->
    # extra on their stored shard
    from pyspark.sql import functions as F

    extra_ref = docs.union(
        spark.createDataFrame(
            [(10**9 + 1, "ghost doc")], "doc_id long, text string"
        )
    )
    rep = {
        r["shard"]: r.asDict()
        for r in audit_training_shards(
            spark, path, reference=extra_ref
        ).collect()
    }
    assert sum(r["n_missing"] for r in rep.values()) == 1
    shrunk_ref = docs.where(F.col("doc_id") % 7 != 0)
    dropped = docs.count() - shrunk_ref.count()
    rep = {
        r["shard"]: r.asDict()
        for r in audit_training_shards(
            spark, path, reference=shrunk_ref
        ).collect()
    }
    assert sum(r["n_extra"] for r in rep.values()) == dropped


def test_audit_empty_shard_and_bad_assign(spark, tmp_path):
    """An empty shard (more shards than ids hash into) is ok only
    when a reference proves nothing belongs there; a corrupted pos
    column shows up as n_bad_assign on its shard; an export without a
    sidecar refuses the audit."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from kcbdml9_big_data_processing_spark.sinks.shards import (
        audit_training_shards,
        shard_assignments,
    )

    # 3 ids into 64 shards: most shards validly empty
    tiny = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "doc_id long, text string")
    path = str(tmp_path / "tiny_shards")
    write_training_shards(tiny, path, n_shards=64, salt=0)
    with_ref = audit_training_shards(spark, path, reference=tiny).collect()
    assert all(r["ok"] for r in with_ref)
    assert sum(r["n_rows"] for r in with_ref) == 3
    no_ref = {r["shard"]: r for r in audit_training_shards(spark, path).collect()}
    populated = {r["shard"] for r in with_ref if r["n_rows"] > 0}
    for k, r in no_ref.items():
        # conservative without a reference: populated shards ok,
        # empty ones unprovable
        assert r["ok"] == (k in populated), k

    # corrupt one shard's pos values: rewrite its file with pos+1
    docs = _docs(spark)
    path2 = str(tmp_path / "corrupt_shards")
    write_training_shards(docs, path2, n_shards=4, salt=7)
    k = 3
    sub = spark.read.parquet(f"{path2}/shard={k}").withColumn(
        "pos", F.col("pos") + 1
    )
    rows = sub.collect()
    import glob as _glob
    import os

    for f in _glob.glob(f"{path2}/shard={k}/*.parquet"):
        os.remove(f)
    spark.createDataFrame(rows, sub.schema).coalesce(1).write.mode(
        "append"
    ).parquet(f"{path2}/shard={k}")
    rep = {
        r["shard"]: r.asDict()
        for r in audit_training_shards(spark, path2, reference=docs).collect()
    }
    assert rep[k]["n_bad_assign"] == rep[k]["n_rows"] > 0
    assert not rep[k]["ok"] and all(rep[j]["ok"] for j in range(3))

    # no sidecar -> the audit refuses
    os.remove(f"{path2}/_export_meta.json")
    with _pytest.raises(ValueError, match="_export_meta"):
        audit_training_shards(spark, path2)


def test_audit_flags_out_of_range_shard_dir_and_total_loss(spark, tmp_path):
    """r13 review pins: (a) a stale shard dir OUTSIDE 0..n_shards-1
    (an older wider export's leftover, or a fat-fingered manual copy)
    must surface as its own failing row — the first audit cut's left
    join silently dropped those rows from every counter and blessed a
    corrupted read; (b) total loss (every shard dir gone, sidecar
    intact) reports all shards failed instead of dying on schema
    inference."""
    import shutil

    from kcbdml9_big_data_processing_spark.sinks.shards import (
        audit_training_shards,
    )

    docs = _docs(spark)
    path = str(tmp_path / "range_shards")
    write_training_shards(docs, path, n_shards=4, salt=7)
    shutil.copytree(f"{path}/shard=2", f"{path}/shard=7")
    rep = {
        r["shard"]: r.asDict()
        for r in audit_training_shards(spark, path, reference=docs).collect()
    }
    assert set(rep) == {0, 1, 2, 3, 7}
    assert not rep[7]["ok"]
    # every row in the stale dir recomputes to shard 2, not 7
    assert rep[7]["n_bad_assign"] == rep[7]["n_rows"] > 0
    assert all(rep[k]["ok"] for k in range(4))

    # total loss: dirs gone, sidecar intact -> all failed, no crash
    for k in (0, 1, 2, 3, 7):
        shutil.rmtree(f"{path}/shard={k}")
    rep = {
        r["shard"]: r.asDict()
        for r in audit_training_shards(spark, path, reference=docs).collect()
    }
    assert set(rep) == {0, 1, 2, 3}
    assert all(not r["ok"] for r in rep.values())
    assert sum(r["n_missing"] for r in rep.values()) == docs.count()
    # and without a reference the total-loss audit still reports
    rep0 = audit_training_shards(spark, path).collect()
    assert len(rep0) == 4 and all(not r["ok"] for r in rep0)
