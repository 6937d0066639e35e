"""Deterministic training-shard export — the last step of the
curation pipeline: materialize a curated (and optionally packed)
corpus as N pseudo-randomly shuffled shards a training job streams.

Why an explicit operator: pre-training data loaders consume SHARDS
(fixed-count file groups read round-robin by data-parallel workers),
and the global document order inside them must be (a) shuffled — long
runs of same-source documents bias gradients — and (b) DETERMINISTIC,
so a re-run of the export (or of one failed shard) reproduces the
exact byte stream and a training run is replayable from (corpus,
salt). ``df.orderBy(rand())`` fails both: non-reproducible and a full
global sort. The standard recipe (used by large-corpus pipelines and
matched here) is a keyed-hash permutation:

    shard(id) = h48('shard:<salt>:' || id)  mod n_shards
    pos(id)   = (h48('pos:<salt>:'   || id), id)   -- order in shard

Both are pure per-row expressions of the stable document id, so shard
membership and order are independent of the input's partitioning,
file layout, or cluster size — the property the determinism test pins
by re-deriving assignments under a hostile repartition. The hash is
the repo's ONE portable hash (operators/sampling.h48 — first 48 bits
of sha256), not xxhash64: sha256 is computed bit-identically by every
engine, so shard membership AND the exact within-shard permutation
are value-hash checkable by the DuckDB oracle (the ``shard`` /
``shard_pos`` variants of ``llm_curation_suite``) — the same
portability argument that put h48 under every sampling/mix/split
operator. sha256 costs more per row than xxhash64, but the export's
cost is its global shuffle + external sort; two extra hashes per row
ride the same scan for noise. The two hash ROLES are domain-separated
by the ``shard:`` / ``pos:`` prefixes (never derived as salt and
salt+1 — that would make epoch e's sort key equal epoch e+1's shard
hash, coupling consecutive epochs), and the salt is folded into the
hashed string, so ``salt=epoch`` yields an independent permutation
per epoch with no extra machinery — the same decorrelation posture as
operators/sampling.split_assign vs deterministic_sample.

Scale shape: one hash-partitioned exchange on ``shard`` (every row
moves once — the unavoidable cost of a global shuffle), a
within-partition sort (Tungsten external sort, spills if a shard
exceeds memory), and a partitioned write. All rows of one shard land
in ONE task (same key, same partition), so each ``shard=K`` dir holds
one parquet file whose ROW ORDER is the shard's document order. The
exchange over-provisions partitions (16x the shard count, tunable):
Spark hash-partitions on murmur3(shard) mod P, and with P == n_shards
distinct shard values collide into shared tasks (~2-3x skew on the
unlucky task's external sort — a collision does NOT break the
one-ordered-file-per-shard layout, the colliding task just writes
both shards' files, it only makes that task a straggler); at 16x the
expected colliding pairs are n/32. The over-provision is NOT free:
a user-pinned repartition count is exempt from AQE partition
coalescing, so every extra partition pays the per-task dispatch
floor — measured (SCALE_PROBE.json shard_export_width, fixed tiny
corpus): 64 → 1024 partitions cost 0.48 → 3.95 s of pure scheduling
(exponent 1.53). The width is therefore CAPPED by a
size-derived bound, ceil(est_input_bytes / target_task_bytes) with a
64 floor (Catalyst's file-scan statistics feed the estimate): a
many-tiny-shards export stays at the 64-partition floor instead of
paying n_shards*16 dispatches, while production-sized exports (GBs
per shard — the loader-appetite sizing rule) keep the full collision-
diluting width, where the floor amortizes to noise against the
external sorts. Corpus-growth cost at fixed shard count is
flat-linear (shard_export series, exponent −0.16 at probe scale: one
exchange, every row moves once).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fs import read_record, write_record
from ..operators.sampling import h48, h48_sql

#: the portable hash recipe this module keys on — recorded in the
#: export's _export_meta.json so a retry built from DIFFERENT code (a
#: hash change moves every assignment) fails loudly instead of silently
#: replacing one shard with a differently-permuted one mixed among
#: old-recipe shards.
_HASH_RECIPE = "sha256-h48:role-prefix"
_META_NAME = "_export_meta.json"


def _role_hash(id_col: str, salt: int, role: str) -> Column:
    """h48 over ``'<role>:<salt>:<id>'`` — one definition for both
    roles so the domain-separation recipe cannot drift from its SQL
    twins below."""
    return h48(
        F.concat(F.lit(f"{role}:{salt}:"), F.col(id_col).cast("string"))
    )


def shard_sql(id_expr: str, n_shards: int, salt: int = 0) -> str:
    """DuckDB twin of the shard-membership hash — the oracle side of
    the ``shard`` variant in queries/curation.llm_curation_suite."""
    arg = f"'shard:{salt}:' || CAST({id_expr} AS VARCHAR)"
    return f"({h48_sql(arg)} % {n_shards})"


def pos_sql(id_expr: str, salt: int = 0) -> str:
    """DuckDB twin of the within-shard position hash (48-bit — exact
    in a DOUBLE, which is how the oracle melt carries it)."""
    arg = f"'pos:{salt}:' || CAST({id_expr} AS VARCHAR)"
    return h48_sql(arg)


def shard_assignments(
    df: DataFrame,
    n_shards: int,
    id_col: str = "doc_id",
    salt: int = 0,
) -> DataFrame:
    """The input plus ``shard`` (0..n_shards-1) and ``pos`` (the
    within-shard sort key). Pure per-row expressions of ``id_col`` —
    deterministic for any partitioning of ``df``; ties in the 48-bit
    position hash (collisions across distinct ids) are broken by the
    id itself, so the total order is exact, not probabilistic."""
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    return df.withColumn(
        "shard",
        F.pmod(_role_hash(id_col, salt, "shard"), F.lit(n_shards)).cast(
            "int"
        ),
    ).withColumn("pos", _role_hash(id_col, salt, "pos"))


def read_export_meta(spark: SparkSession, path: str) -> dict:
    """The export's recorded recipe (hash, n_shards, salt, id_col).
    Underscore-named, so the parquet reader never sees it. Raises when
    the sidecar is missing: a full export commits it (fs.write_record)
    after its data commits, so an export without one never finished."""
    rerun = (
        "re-run the full export (write_training_shards without"
        " only_shards, or export-shards without --only-shards)"
    )
    meta = read_record(spark, f"{path}/{_META_NAME}", rerun)
    if meta is None:
        raise ValueError(
            f"no {_META_NAME} at {path}: the export's full write never"
            f" finished; {rerun}"
        )
    return meta


def _write_export_meta(
    spark: SparkSession, path: str, n_shards: int, salt: int, id_col: str
) -> None:
    write_record(
        spark,
        f"{path}/{_META_NAME}",
        {
            "format": 1,
            "hash": _HASH_RECIPE,
            "n_shards": int(n_shards),
            "salt": int(salt),
            "id_col": id_col,
        },
    )


def _estimated_input_bytes(df: DataFrame) -> int | None:
    """Catalyst's pre-AQE size estimate for the plan — file-scan
    statistics for parquet inputs. None when the estimate is missing
    or the unknown-stats sentinel (huge), in which case the caller
    falls back to pure width-based sizing."""
    try:
        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None
    if est <= 0 or est >= 1 << 60:
        return None
    return est


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    id_col: str = "doc_id",
    salt: int = 0,
    mode: str = "error",
    over_provision: int = 16,
    only_shards: list[int] | None = None,
    target_task_bytes: int = 128 << 20,
) -> None:
    """Export ``df`` as ``{path}/shard=K/`` parquet dirs, one file per
    shard, rows in the shard's deterministic shuffled order. Every
    column of ``df`` rides along; ``pos`` is kept in the output so a
    reader (or a resumed loader) can verify/re-establish order without
    recomputing hashes. The exchange width is
    ``min(n_writing * over_provision, max(64, ceil(est_input_bytes /
    target_task_bytes)))``: over-provisioning dilutes murmur3-collision
    skew (module docstring), while the size-derived cap keeps a
    many-tiny-shards export from paying the per-task dispatch floor on
    thousands of near-empty pinned partitions (repartition(N, col) is
    EXEMPT from AQE coalescing; the width probe measured the floor at
    exponent 1.53). When Catalyst has no size estimate the cap
    drops out (falls back to pure width sizing). Width never affects
    the output — shard membership/order are pure hash expressions.

    A ``_export_meta.json`` sidecar records the hash recipe +
    (n_shards, salt, id_col) at full-export time.

    ``only_shards`` is the FAILED-SHARD RETRY path the determinism
    exists for: with ``only_shards=[k, ...]`` and ``mode="overwrite"``
    (anything else raises — under append the dynamic-overwrite option
    is inert and a retry would stack a SECOND file into the target
    dirs) only the named ``shard=K`` dirs are recomputed and replaced
    (dynamic partition overwrite, pinned as a write option so the
    session conf can't widen it to a full-table overwrite) — every
    other shard's files are untouched, and because membership/order
    are pure functions of (id, salt) the re-exported shard is
    byte-identical to what the full export wrote. The retry first
    verifies the sidecar against its own recipe/parameters (a missing
    sidecar raises): a retry with a different hash recipe, salt,
    n_shards, or id column would otherwise silently replace the shard
    with a differently-permuted one mixed among the untouched
    rest."""
    if mode not in ("error", "errorifexists", "overwrite"):
        # append would stack extra files into shard dirs (order gone,
        # one-file invariant gone); ignore can silently skip the data
        # write yet leave this call free to replace the sidecar with
        # parameters that don't describe the existing artifact
        raise ValueError(
            f"write_training_shards supports mode='error' or"
            f" 'overwrite', got {mode!r}"
        )
    assigned = shard_assignments(df, n_shards, id_col=id_col, salt=salt)
    writer = assigned
    n_writing = n_shards
    if only_shards is not None:
        if mode != "overwrite":
            raise ValueError(
                f"only_shards requires mode='overwrite' (got {mode!r}):"
                " dynamic partition overwrite is inert under other"
                " modes and a retry would append a second file into"
                " the target shard dirs instead of replacing them"
            )
        wanted = [int(s) for s in only_shards]
        bad = [s for s in wanted if not 0 <= s < n_shards]
        if bad or not wanted:
            # a typo'd retry must fail loudly, not commit zero rows
            # and report success while the failed shard stays broken
            raise ValueError(
                f"only_shards must be a non-empty subset of"
                f" 0..{n_shards - 1}, got {only_shards!r}"
            )
        meta = read_export_meta(df.sparkSession, path)
        expect = {
            "hash": _HASH_RECIPE,
            "n_shards": int(n_shards),
            "salt": int(salt),
            "id_col": id_col,
        }
        got = {k: meta.get(k) for k in expect}
        if got != expect:
            raise ValueError(
                f"retry parameters do not match {path}'s export"
                f" meta: expected {expect}, found {got} — a"
                " mismatched retry would silently replace the"
                " shard with a differently-permuted one"
            )
        writer = assigned.where(F.col("shard").isin(wanted))
        n_writing = len(set(wanted))
    width = max(n_writing * over_provision, 64)
    est = _estimated_input_bytes(writer)
    if est is not None:
        width = min(width, max(64, math.ceil(est / target_task_bytes)))
    (
        writer.repartition(width, "shard")
        .sortWithinPartitions("shard", "pos", id_col)
        .write.mode(mode)
        # pin the one-ordered-file-per-shard invariant against session
        # conf: a caller-set spark.sql.files.maxRecordsPerFile would
        # silently split a shard across files, and the file boundary
        # scrambles order for readers without ordered=True. 0 = never
        # split; the writer option overrides the session conf.
        .option("maxRecordsPerFile", 0)
        # pinned BOTH directions (the session conf must never decide):
        # a retry replaces exactly the named shard dirs (dynamic); a
        # full overwrite truncates the whole export first (static) —
        # under a session-level dynamic conf, a full re-export with a
        # smaller n_shards would otherwise leave stale higher-numbered
        # shard dirs silently mixed into the new corpus
        .option(
            "partitionOverwriteMode",
            "dynamic" if only_shards is not None else "static",
        )
        .partitionBy("shard")
        .parquet(path)
    )
    if only_shards is None:
        # record the recipe AFTER the data commits: an export without
        # its sidecar is an export whose write failed — retries on it
        # refuse (above) instead of guessing
        _write_export_meta(df.sparkSession, path, n_shards, salt, id_col)


def audit_training_shards(
    spark: SparkSession,
    path: str,
    reference: DataFrame | None = None,
) -> DataFrame:
    """Integrity audit of an export — the DETECTION half of the
    failed-shard story (``only_shards`` is the repair half). Recomputes
    every stored row's assignment from the sidecar's recipe and
    returns one row per expected shard — plus one per UNEXPECTED
    stored shard value (a stale ``shard=K`` dir outside
    0..n_shards-1, e.g. left by an older wider export: its rows
    surface with ``n_bad_assign`` > 0 instead of being silently
    excluded from the report)::

        shard, n_rows, n_files, n_bad_assign, n_missing, n_extra, ok

    - ``n_files``: distinct data files CONTRIBUTING ROWS to the
      ``shard=K`` read (one is the invariant; 0 = lost/empty dir,
      2+ = a foreign append broke the single-ordered-file layout).
      A zero-row foreign part file is invisible to this census — and
      to every reader, since it contributes nothing to the stream;
      a non-parquet junk file fails the scan loudly instead of
      appearing as an audit row
    - ``n_bad_assign``: stored rows whose recomputed shard or pos
      disagrees with what's stored (corruption, or an export written
      by a different recipe/salt than the sidecar claims)
    - ``n_missing`` / ``n_extra``: vs the ``reference`` corpus when
      given (anti-joins both ways on the id column) — 0/0 without it

    Everything is distributed — assignment recompute, membership
    anti-joins, and the file census (``input_file_name`` grouped per
    shard, so there is NO O(n_shards) driver listing; at 100k shards
    a per-dir py4j loop would be minutes of driver round-trips). The
    per-shard result is n_shards rows. Shards failing any check feed
    straight into ``write_training_shards(..., only_shards=[...])``.

    The recipe comes from the export's sidecar; a missing sidecar
    raises (:func:`read_export_meta`)."""
    meta = read_export_meta(spark, path)
    if meta.get("hash") != _HASH_RECIPE:
        raise ValueError(
            f"export at {path} was written with hash recipe"
            f" {meta.get('hash')!r}; this code audits {_HASH_RECIPE!r}"
        )
    n_shards, salt, id_col = meta["n_shards"], meta["salt"], meta["id_col"]

    from pyspark.errors import AnalysisException

    try:
        stored = spark.read.parquet(path)
    except AnalysisException:
        # total loss: every shard dir gone (only the sidecar left) —
        # the reader can't infer a schema from zero files
        # (UNABLE_TO_INFER_SCHEMA / missing path are analysis-time).
        # The audit's contract is a per-shard report, not a traceback,
        # precisely in the worst case: synthesize an empty export and
        # let the universe/missing logic mark every shard failed. ONLY
        # analysis errors take this path — a corrupted footer or
        # FS/permission failure raises its real exception instead of
        # being misreported as data loss.
        from pyspark.sql.types import (
            IntegerType,
            LongType,
            StructField,
            StructType,
        )

        id_type = (
            reference.schema[id_col].dataType
            if reference is not None
            else LongType()
        )
        stored = spark.createDataFrame(
            [],
            StructType(
                [
                    StructField(id_col, id_type),
                    StructField("pos", LongType()),
                    StructField("shard", IntegerType()),
                ]
            ),
        )
    expect = shard_assignments(
        stored.select(id_col, F.col("shard").alias("_stored_shard"),
                      F.col("pos").alias("_stored_pos")),
        n_shards, id_col=id_col, salt=salt,
    )
    bad = (
        (F.col("shard") != F.col("_stored_shard"))
        | (F.col("pos") != F.col("_stored_pos"))
    ).cast("long")
    per_shard = expect.groupBy(F.col("_stored_shard").alias("shard")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(bad).alias("n_bad_assign"),
    )

    # expected shard universe (0..n-1), so a LOST dir still gets a row
    universe = spark.range(n_shards).select(F.col("id").cast("int").alias("shard"))

    if reference is not None:
        ref = shard_assignments(
            reference.select(id_col), n_shards, id_col=id_col, salt=salt
        )
        missing = (
            ref.join(stored.select(id_col), id_col, "left_anti")
            .groupBy("shard")
            .agg(F.count(F.lit(1)).alias("n_missing"))
        )
        extra = (
            stored.select(id_col, "shard")
            .join(reference.select(id_col), id_col, "left_anti")
            .groupBy("shard")
            .agg(F.count(F.lit(1)).alias("n_extra"))
        )
    else:
        missing = universe.select(
            "shard", F.lit(0).cast("long").alias("n_missing")
        ).limit(0)
        extra = universe.select(
            "shard", F.lit(0).cast("long").alias("n_extra")
        ).limit(0)

    # distributed file census: distinct source files per shard via
    # input_file_name — one more pass over the export's metadata-and-
    # rows, no driver loop. A dir the reader sees no files in (lost or
    # validly empty) simply contributes no row; the universe join
    # zero-fills it.
    files = (
        stored.select("shard", F.input_file_name().alias("_f"))
        .groupBy("shard")
        .agg(F.count_distinct("_f").alias("n_files"))
    )

    z = lambda c: F.coalesce(F.col(c), F.lit(0).cast("long")).alias(c)  # noqa: E731
    out = (
        # FULL outer against the expected universe: a stored shard
        # value OUTSIDE 0..n_shards-1 (a stale dir from an older wider
        # export, or an operator fat-finger copying one) must surface
        # as its own failing row — a left join would silently drop
        # those rows from every counter and bless a corrupted read
        universe.join(per_shard, "shard", "full_outer")
        .join(files, "shard", "left")
        .join(missing, "shard", "left")
        .join(extra, "shard", "left")
        .select(
            "shard", z("n_rows"), z("n_files"), z("n_bad_assign"),
            z("n_missing"), z("n_extra"),
        )
    )
    # a legitimately EMPTY shard (more shards than ids hash into)
    # writes no dir at all; only a reference corpus can tell that
    # apart from a lost dir (n_missing==0 proves nothing should be
    # there). Without a reference an empty shard reports ok=false —
    # conservative: the audit can't prove it wasn't lost.
    clean = (
        (F.col("n_bad_assign") == 0)
        & (F.col("n_missing") == 0)
        & (F.col("n_extra") == 0)
    )
    populated = (F.col("n_files") == 1) & (F.col("n_rows") > 0)
    validly_empty = (
        F.lit(reference is not None)
        & (F.col("n_files") == 0)
        & (F.col("n_rows") == 0)
    )
    return out.withColumn(
        "ok", clean & (populated | validly_empty)
    ).orderBy("shard")


def read_training_shards(
    spark: SparkSession,
    path: str,
    shard: int | None = None,
    ordered: bool = False,
    id_col: str = "doc_id",
) -> DataFrame:
    """Read the exported shards (all, or one by number).

    The export-order guarantee is FILE-level: within one shard's
    single file, parquet ROW order is the export order — but Spark
    splits files larger than spark.sql.files.maxPartitionBytes into
    several read partitions whose order follows split size, not file
    offset, so a collect over a big shard does NOT stream in export
    order by itself. Pass ``ordered=True`` to re-establish the
    deterministic order with an explicit sort on the stored keys (a
    loader that interleaves shards round-robin reads each shard
    sequentially and doesn't need it)."""
    df = spark.read.parquet(path)
    if shard is not None:
        df = df.where(F.col("shard") == shard)
    if ordered:
        df = df.orderBy("shard", "pos", id_col)
    return df
