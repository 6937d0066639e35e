"""Commit records (fs.write_record / read_record / read_log).

Every piece of pipeline metadata — run-root runs, intent and markers,
index generations, compaction versions, the ``hashes_max`` bound, the
semantic index's blocking policy, the shard export's recipe — is one
small JSON record written by the driver. These tests pin that the
records cost no Spark job, that a crash's leftover temp file is
invisible, and that readers are strict: an unparseable record or a log
dir in the old one-row-parquet layout raises instead of reading as a
fresh root or an unbuilt index.
"""

from __future__ import annotations

import functools
import glob
import os

import pytest

from kcbdml9_big_data_processing_spark.fs import (
    RecordError,
    read_log,
    read_record,
    write_record,
)
from kcbdml9_big_data_processing_spark.jobs import runs as R
from kcbdml9_big_data_processing_spark.jobs.training_data import CurationConfig
from kcbdml9_big_data_processing_spark.queries import dedup as D
from kcbdml9_big_data_processing_spark.queries import similarity as S
from kcbdml9_big_data_processing_spark.sinks.shards import read_export_meta

_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"
_DAY1 = [
    (1, "the quick brown fox jumps over the lazy dog", "en", "a", 44),
    (2, "pack my box with five dozen liquor jugs today", "en", "a", 46),
    (3, "the quick brown fox jumps over the lazy dog", "en", "b", 44),
]
_DAY2 = [
    (101, "pack my box with five dozen liquor jugs today", "en", "c", 46),
    (102, "a completely fresh document with many distinct words inside",
     "en", "c", 60),
]

#: every metadata read/write a run-root day makes, by module
_METADATA_HELPERS = [
    (R, "_commit"),
    (R, "_mark"),
    (R, "run_rows"),
    (R, "_index_version"),
    (S, "_gen_meta_row"),
    (S, "_gen_commit"),
    (D, "_bucket_meta"),
    (D, "dedup_index_hashes_max"),
]


def test_metadata_helpers_launch_no_spark_job(spark, tmp_path, monkeypatch):
    """A full and an incremental run-root day: every metadata helper is
    called, and none of those calls launches a Spark job (the job ids
    of the test's job group, read from the status store after the
    listener bus drains, do not move across any call)."""
    sc = spark.sparkContext
    group = "test_records_metadata"
    bus = sc._jsc.sc().listenerBus()

    def job_ids():
        bus.waitUntilEmpty()
        return set(sc.statusTracker().getJobIdsForGroup(group))

    calls = {name: 0 for _, name in _METADATA_HELPERS}
    jobs = {name: 0 for _, name in _METADATA_HELPERS}

    def counted(name, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            before = job_ids()
            try:
                return fn(*args, **kwargs)
            finally:
                calls[name] += 1
                jobs[name] += len(job_ids() - before)

        return wrapper

    for mod, name in _METADATA_HELPERS:
        monkeypatch.setattr(mod, name, counted(name, getattr(mod, name)))
    root = str(tmp_path / "root")
    # a cleanup list arms the incremental day's monotonic-id guard,
    # the one reader of hashes_max
    cleanup = []
    sc.setJobGroup(group, "commit-record job count")
    try:
        days = [spark.createDataFrame(d, _SCHEMA) for d in (_DAY1, _DAY2)]
        r1, r2 = (
            R.curate_run_root(spark, root, d, CurationConfig(), cleanup=cleanup)
            for d in days
        )
        total = len(job_ids())
    finally:
        sc.setJobGroup(None, None)
        for f in cleanup:
            f.unpersist()
    assert (r1["mode"], r2["mode"]) == ("full", "incremental")
    assert total > 0, "the job count saw no job at all"
    assert all(calls.values()), f"a helper was never called: {calls}"
    assert jobs == {name: 0 for name in jobs}, f"metadata launched jobs: {jobs}"
    assert [r["run_id"] for r in R.run_rows(spark, root)] == [1, 2]
    # the inline intent write has no seam to count: every record the two
    # days committed is a file, where a one-row parquet table is a dir
    idx = R.index_root(root)
    records = [f"{root}/run_meta/r{i:06d}.json" for i in (1, 2)]
    records += [
        f"{R.run_dir(root, i)}/{name}"
        for i in (1, 2)
        for name in ("intent", "index_done")
    ]
    records += [f"{R.run_dir(root, 2)}/index_started", f"{idx}/gen_meta/g1.json"]
    records += glob.glob(f"{idx}/g1/hashes_max/*.json")
    assert len(records) == 10, records
    assert [p for p in records if not os.path.isfile(p)] == []


def test_leftover_temp_file_is_invisible(spark, tmp_path):
    """A crash between a record's temp write and its rename leaves a
    ``_``-prefixed file: no reader sees it, and the next write of the
    same record lands."""
    log = str(tmp_path / "log")
    write_record(spark, f"{log}/a.json", {"v": 1})
    with open(f"{log}/_b.json.0123.tmp", "w") as f:
        f.write('{"v": 2}')
    assert read_log(spark, log, "rebuild") == [{"v": 1}]
    assert read_record(spark, f"{log}/b.json", "rebuild") is None
    write_record(spark, f"{log}/b.json", {"v": 2})
    assert read_log(spark, log, "rebuild") == [{"v": 1}, {"v": 2}]
    # a record that is written again replaces the old one whole
    write_record(spark, f"{log}/b.json", {"v": 3})
    assert read_record(spark, f"{log}/b.json", "rebuild") == {"v": 3}

    # the shard export's sidecar: a crash mid-write leaves only a
    # truncated temp file, which reads as an export that never finished
    export = tmp_path / "export"
    export.mkdir()
    (export / "__export_meta.json.0123.tmp").write_text('{"format": 1, "ha')
    with pytest.raises(ValueError, match="never finished"):
        read_export_meta(spark, str(export))


def test_hashes_max_retried_extend_rewrites_its_record(spark, tmp_path):
    """A crash-retried extend adds the same ``hashes_max`` record again:
    the write succeeds and the bound is the max over distinct records."""
    idx = str(tmp_path / "idx")
    for m in (7, 7, 3):
        D._add_hashes_max(spark, idx, m)
    assert read_log(spark, f"{idx}/hashes_max", "rebuild") == [
        {"max_id": 3},
        {"max_id": 7},
    ]
    assert D.dedup_index_hashes_max(spark, idx) == 7


def test_unparseable_record_raises(spark, tmp_path):
    """A record that is not a JSON object raises naming the rebuild —
    for a run root's run log and for a single record alike."""
    root = str(tmp_path / "root")
    os.makedirs(f"{root}/run_meta")
    with open(f"{root}/run_meta/r000001.json", "w") as f:
        f.write('{"run_id": 1, "dir"')
    with pytest.raises(RecordError, match="fresh run root"):
        R.run_rows(spark, root)
    with open(f"{tmp_path}/rec", "w") as f:
        f.write("[1, 2]")
    with pytest.raises(RecordError, match="do the rebuild"):
        read_record(spark, f"{tmp_path}/rec", "do the rebuild")


def test_old_parquet_layout_raises(spark, tmp_path):
    """A log dir holding a parquet part file (the one-row tables of
    earlier releases) must not read as a fresh run root or an unbuilt
    index: the run log, the generation log and the compaction log
    raise, and so does a single record stored as a parquet dir."""
    root = str(tmp_path / "root")
    spark.createDataFrame(
        [(1, f"{root}/runs/r000001", "full")], "run_id int, dir string, mode string"
    ).write.parquet(f"{root}/run_meta")
    with pytest.raises(RecordError, match="not a JSON record"):
        R.run_rows(spark, root)
    with pytest.raises(RecordError):
        R.curate_run_root(
            spark, root, spark.createDataFrame(_DAY2, _SCHEMA), CurationConfig()
        )
    assert not os.path.exists(R.run_dir(root, 1))

    idx = str(tmp_path / "idx")
    spark.createDataFrame([(f"{idx}/g1", 1)], "dir string, version int").write.parquet(
        f"{idx}/gen_meta"
    )
    spark.createDataFrame([(1,)], "x int").write.parquet(f"{idx}/bucket_meta")
    with pytest.raises(RecordError, match="repair-index"):
        S._gen_current(spark, idx, cached=False)
    with pytest.raises(RecordError, match="repair-index"):
        D._bucket_meta(spark, idx)

    spark.createDataFrame([(True,)], "ok boolean").write.parquet(f"{tmp_path}/marker")
    with pytest.raises(RecordError, match="is a directory"):
        read_record(spark, f"{tmp_path}/marker", "rebuild")
