"""Driver-side Hadoop FileSystem helpers — the single home for the
``jvm Path + getFileSystem(hadoopConfiguration)`` dance: every caller
resolves through :func:`hadoop_path` (the one remaining raw
``jvm...Path`` construction, the lock-steal tombstone in
queries/similarity.py, builds a Path against an fs handle this
module already resolved). Using the Hadoop FS API (not os.path)
keeps every existence/delete/marker check working on whatever
filesystem the artifact lives on — local, HDFS, S3A — matching how
the data itself is written.
"""

from __future__ import annotations

import json
import uuid

from pyspark.sql import SparkSession


def hadoop_path(spark: SparkSession, path: str):
    """``(Path, FileSystem)`` for ``path`` under the session's Hadoop
    configuration."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p, p.getFileSystem(spark._jsc.hadoopConfiguration())


def exists(spark: SparkSession, path: str) -> bool:
    p, fs = hadoop_path(spark, path)
    return bool(fs.exists(p))


def delete_recursive(spark: SparkSession, path: str) -> None:
    p, fs = hadoop_path(spark, path)
    fs.delete(p, True)


def dir_has_parquet(spark: SparkSession, directory: str) -> bool:
    """Any parquet data file directly under ``directory``? The
    committed-marker check: a crashed Spark write leaves no data file
    (the committer renames on success), so presence of one means the
    table landed."""
    p, fs = hadoop_path(spark, directory)
    if not fs.exists(p):
        return False
    for status in fs.listStatus(p):
        if status.getPath().getName().endswith(".parquet"):
            return True
    return False


# --- commit records ------------------------------------------------------
#
# Every piece of metadata the pipeline commits — run-root runs and
# markers, index generations, compaction versions, the shard export's
# recipe — is one small JSON record written by the driver. A record
# lands whole or not at all (temp file + rename), so its presence is the
# commit point; an append-only log is a dir of such records, one per
# commit. Readers are strict: a record that does not parse, or a log dir
# holding anything else (e.g. the one-row parquet tables of earlier
# releases), raises instead of reading as absent.


class RecordError(ValueError):
    """A commit record (or log dir) exists but is not a readable JSON
    record; the message names the rebuild of the artifact owning it."""


def write_record(spark: SparkSession, path: str, record: dict) -> None:
    """Commit ``record`` as the JSON file ``path``: write a ``_``-prefixed
    temp file next to it, then rename it onto ``path``. A crash leaves
    either no record or the whole one (plus an inert temp file every
    reader skips)."""
    head, name = path.rsplit("/", 1)
    p, fs = hadoop_path(spark, path)
    tmp, _ = hadoop_path(spark, f"{head}/_{name}.{uuid.uuid4().hex}.tmp")
    out = fs.create(tmp, False)
    try:
        out.write(bytearray(json.dumps(record, sort_keys=True).encode("utf-8")))
    finally:
        out.close()
    # a rename that does not replace its target (HDFS) drops it first;
    # a record is rewritten only by a retry of the step that wrote it
    # (a retried extend's hashes_max, a re-run export's sidecar), so a
    # crash between the two is redone the same way
    if not fs.rename(tmp, p) and not (fs.delete(p, False) and fs.rename(tmp, p)):
        raise OSError(f"could not commit record {path} (rename of {tmp} failed)")


def _parse_record(fs, p, path: str, rebuild: str) -> dict:
    stream = fs.open(p)
    try:
        raw = bytes(stream.readAllBytes())
    finally:
        stream.close()
    try:
        record = json.loads(raw)
        if not isinstance(record, dict):
            raise ValueError("not a JSON object")
    except ValueError as e:
        raise RecordError(f"unreadable record {path} ({e}); {rebuild}") from e
    return record


def read_record(spark: SparkSession, path: str, rebuild: str) -> dict | None:
    """The record committed at ``path``, or None when there is none.
    A directory there (an earlier release's parquet table) or a file
    that does not parse raises :class:`RecordError` naming
    ``rebuild``."""
    p, fs = hadoop_path(spark, path)
    if not fs.exists(p):
        return None
    if fs.getFileStatus(p).isDirectory():
        raise RecordError(f"{path} is a directory, not a record; {rebuild}")
    return _parse_record(fs, p, path, rebuild)


def read_log(spark: SparkSession, directory: str, rebuild: str) -> list[dict]:
    """Every record of the append-only log ``directory``, in name order
    (``[]`` when the dir is absent or empty). ``_``/``.`` names (temp
    files, checksums) are skipped; any other entry that is not a
    ``.json`` record raises :class:`RecordError` naming ``rebuild``."""
    p, fs = hadoop_path(spark, directory)
    if not fs.exists(p):
        return []
    records = []
    for status in sorted(fs.listStatus(p), key=lambda s: s.getPath().getName()):
        name = status.getPath().getName()
        if name.startswith(("_", ".")):
            continue
        if status.isDirectory() or not name.endswith(".json"):
            raise RecordError(
                f"{directory} holds {name!r}, not a JSON record (an earlier"
                f" release's parquet layout?); {rebuild}"
            )
        records.append(
            _parse_record(fs, status.getPath(), f"{directory}/{name}", rebuild)
        )
    return records
