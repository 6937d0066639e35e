"""Corpus ingestion: raw text on disk -> ``documents``-shaped frames.

The engine's whole LLM-pipeline surface (dedup, curation, quality
models, text analysis) operates on the five-column ``documents``
schema ``(doc_id, text, lang, source, n_chars)``; these readers are
the front door that gets a raw crawl there declaratively — one
document per text file, or JSON-lines with a malformed-record policy.
No reference counterpart (the reference ingests device metrics, not
corpora); this is a north-star extension alongside
operators/sampling.py.

Scale notes (100 TB): JSONL is the preferred shape — line-splittable,
so Spark parallelizes WITHIN files and `maxPartitionBytes` governs
task sizing. `wholetext` ingestion necessarily makes one row per
file (a file is the document), so parallelism == file count and a
single multi-GB file is one task — shard huge raw files upstream or
use JSONL. Both readers are scan-only: no shuffle, no Python rows,
ids derived per-row from the portable first-48-bits-of-sha256 recipe
(operators/sampling._bucket) so re-ingestion, retries, and AQE
re-plans produce identical ids on any cluster.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: the engine-wide documents schema (TESTDATA.md)
DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)

_CORRUPT = "_corrupt_record"

#: unique_doc_ids' broadcast-contract ceiling: the duplicate-id
#: violation set is replicated to every executor, so past this many
#: ids (~32 MB of longs plus hash-relation overhead at 4M) the pass
#: falls back to shuffle joins instead of letting the invariant
#: ENFORCER become the driver OOM.
_DUP_BROADCAST_CAP = 4_000_000


def _h48(col: Column) -> Column:
    """The shared portable id hash (operators/sampling.h48)."""
    from ..operators.sampling import h48

    return h48(col)


def _epoch_prefixed(id_col: Column, epoch: int) -> Column:
    """``(epoch << 48) + id`` — a monotonic batch namespace over the
    48-bit content/path hashes. Raw h48 ids are uniform over [0, 2^48)
    and so INTERLEAVE across ingestion batches, which violates
    run_incremental's monotonic-id precondition (every archive id must
    precede every batch id — canonical choice is min-id, so
    monotonicity is what makes "canonical" mean "first seen"). A
    strictly increasing ``epoch`` per batch (day number, batch
    sequence) restores it: ids stay deterministic and portable
    (reproducible from (epoch, text/path)), within-batch uniqueness is
    untouched, and every epoch-e id precedes every epoch-(e+1) id.
    15 bits of epoch keeps the result inside a positive int64."""
    if not 0 <= epoch < (1 << 15):
        raise ValueError(
            f"epoch must be in [0, {(1 << 15) - 1}], got {epoch}"
            " (the prefix must fit a positive 64-bit id)"
        )
    if epoch == 0:
        return id_col
    return F.lit(epoch << 48).cast("long") + id_col


def unique_doc_ids(
    df: DataFrame,
    max_broadcast_ids: int = _DUP_BROADCAST_CAP,
    cleanup: list[DataFrame] | None = None,
) -> DataFrame:
    """Enforce the engine-wide doc_id-uniqueness invariant on an
    arbitrary documents-shaped frame: one row per ``doc_id``, survivor
    chosen DETERMINISTICALLY as the minimum over the struct of all
    other columns (lexicographic — the same total-order rule
    :func:`ingest_jsonl` applies to id collisions, so re-running under
    any partitioning picks the same row). Duplicate ids would sail
    straight through exact dedup — its canonical choice keys ON
    doc_id, so two rows sharing an id both satisfy ``doc_id ==
    canonical`` and BOTH survive into the kept corpus and the postings
    index (double-counted shingles). Apply this wherever rows
    accumulate outside a single ingest call — e.g. reading back a
    streaming landing area, where a document redelivered after the
    dedup watermark evicted its hash lands a second time (the bounded
    -state trade streaming/curation.py documents). Columns must be
    orderable (struct min); frames carrying maps should drop them
    first.

    100 TB shape: the naive
    ``groupBy(doc_id).agg(min(struct(everything)))`` moves every
    document's TEXT through the exchange to adjudicate ids that are
    almost always already unique. Instead the pass is keyed on the
    violation set: one column-pruned aggregation finds the ids with
    >1 row (only ``(doc_id, partial count)`` shuffles — map-side
    combine, no text), the already-unique rows pass through a
    broadcast ANTI join untouched (no exchange at all on the corpus
    side), and the lexicographic min-struct survivor rule runs only
    on the broadcast SEMI-joined duplicate subset — so text bytes
    shuffle O(duplicates), not O(corpus), while the survivor is
    bit-identical to the all-rows rule (restricting a min to the
    groups with >1 candidate changes nothing for singleton groups).
    The duplicate-id set is broadcast by contract: it is the
    INVARIANT-VIOLATION set, small at every intended consumption
    point (a landing area's redeliveries, a crawl's boilerplate
    collisions); a corpus where most ids collide should go through
    exact dedup's content keying instead. The contract is ENFORCED,
    not assumed, and enforcement is FREE in the common case: the
    violation set is fetched with ``take(cap + 1)`` —
    one action on the already-column-pruned aggregation, no text
    touched, driver memory bounded by the SAME cap the broadcast
    itself implies (a broadcast collects to the driver anyway) — and
    when it fits, BOTH joins run against the fetched ids as a local
    relation, so ``df``'s aggregation lineage is evaluated exactly
    ONCE per call. Past ``max_broadcast_ids`` the pass
    warns loudly and falls back to lineage shuffle joins — slower
    (corpus text rides the exchange), but an upstream bug that
    duplicates most ids (a crawler stamping one id, an epoch
    mis-wiring) degrades to a shuffle instead of turning the
    invariant-enforcer itself into a driver OOM / broadcast timeout.
    Structurally pinned in tests/test_corpus_ingest.py: below the
    threshold, the only text-bearing exchange sits below the LeftSemi
    duplicate filter; above it, the fallback still collapses
    identically.

    PRECONDITION — deterministic lineage: the pass may
    evaluate ``df``'s lineage more than once (once below the cap; the
    over-cap fallback adds the two join evaluations). A frame whose
    lineage is non-deterministic across scans (rand()/uuid()-derived
    columns, unstable upstream sampling) can present DIFFERENT rows
    per evaluation, silently dropping or double-keeping rows where
    the old single-pass groupBy could not. Persist (or
    localCheckpoint) such a frame before calling; every engine front
    satisfies the precondition by construction (content-hash ids over
    stored bytes).

    ``cleanup`` (the repo's cache-handover convention — caller
    unpersists): only consulted on the over-cap FALLBACK path, where
    the dup-id frame is persisted so the two shuffle joins read one
    evaluation of ``df``'s pruned aggregation instead of two; below
    the cap there is nothing to persist (the local relation IS the
    one evaluation)."""
    others = [c for c in df.columns if c != "doc_id"]
    if not others:
        return df.dropDuplicates(["doc_id"])
    dup_ids = (
        df.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("__n"))
        .where(F.col("__n") > 1)
        .select(F.col("doc_id").alias("__dup_id"))
    )
    small = True
    if not df.isStreaming:  # a stream can't be fetched at plan time
        fetched = dup_ids.take(max_broadcast_ids + 1)
        small = len(fetched) <= max_broadcast_ids
        if small:
            # the fetched ids ARE the violation set: replan both joins
            # against a local relation so the corpus aggregation never
            # re-executes
            dup_ids = df.sparkSession.createDataFrame(
                fetched, schema=dup_ids.schema
            )
        else:
            import sys as _sys

            print(
                f"unique_doc_ids: violation set exceeds the broadcast"
                f" cap {max_broadcast_ids} — an upstream producer is"
                " mass-duplicating doc_ids; falling back to shuffle"
                " joins (correct but O(corpus) text movement). A"
                " mostly-colliding corpus should be keyed by exact"
                " dedup's content hash, not patched here.",
                file=_sys.stderr,
            )
            if cleanup is not None:
                dup_ids = dup_ids.persist()
                cleanup.append(dup_ids)
    hinted = F.broadcast(dup_ids) if small else dup_ids
    # eqNullSafe, not plain equality: the ingest fronts never emit a
    # NULL doc_id (content_doc_ids refuses at execution), but this is
    # a public invariant-enforcer for ARBITRARY frames, and a plain
    # join key treats NULL != NULL — multiple null-id rows would all
    # sail through the anti join where a groupBy collapses them to
    # one. Null-safe equality keeps the null
    # group a group, exactly like groupBy does.
    on = F.col("doc_id").eqNullSafe(F.col("__dup_id"))
    clean = df.join(hinted, on, "left_anti")
    winners = (
        df.join(hinted, on, "left_semi")
        .groupBy("doc_id")
        .agg(F.min(F.struct(*others)).alias("__survivor"))
        .select("doc_id", "__survivor.*")
    )
    return clean.select(*df.columns).unionByName(winners.select(*df.columns))


def content_doc_ids(
    df: DataFrame,
    epoch: int = 0,
    text_col: str = "text",
    unique: bool = True,
    cleanup: list[DataFrame] | None = None,
) -> DataFrame:
    """Assign (or overwrite) ``doc_id`` as the epoch-namespaced 48-bit
    content hash — the id recipe the batch ingest fronts use, exposed
    for sources that aren't files: a STREAMING ingest's micro-batches
    (the speed layer landing documents for the next daily
    run_incremental — the lambda handoff tests/test_llm_e2e.py pins),
    or any frame whose upstream carries no ids. Deterministic and
    portable (reproducible from (epoch, text)). Identical texts get
    identical ids, so a frame with repeated texts would violate the
    engine-wide doc_id-uniqueness invariant the ingest fronts enforce
    — by default the result is collapsed to one row per id
    (:func:`unique_doc_ids`); pass ``unique=False`` only when the
    caller already guarantees distinct texts per frame (e.g. a
    curate_stream micro-batch, whose state store dedups by the same
    content identity). NOTE the invariant is per-FRAME: rows
    accumulated across calls (a day's landing area) can still repeat
    an id — run :func:`unique_doc_ids` at the consumption point. Use
    the landing day's ``epoch`` so the landed batch satisfies
    run_incremental's monotonic-id precondition against any archive
    curated at a lower epoch — see :func:`_epoch_prefixed`.

    NULL text is refused when the id expression first EXECUTES
    (``raise_error`` inside it). With ``unique=True`` that is AT CALL
    — the uniqueness pass fetches its violation set eagerly to enforce
    the broadcast contract (see :func:`unique_doc_ids`), which also
    makes THIS front eager (one column-pruned job per call; its
    intended callers are micro-batch frames). With ``unique=False``
    construction stays fully lazy. Either way: sha2(NULL) would stamp a
    NULL id, which the uniqueness pass then MERGES across distinct
    null-text rows (null groups as one key — silent row loss) and
    every downstream doc_id join drops invisibly. The ingest fronts
    QUARANTINE missing text (ingest_jsonl's rejects frame); callers of
    this front must filter or quarantine dirty rows first — the
    lambda-handoff flow already does (curate_stream's quality gate
    drops null text before the landing sink ever sees it)."""
    text = F.col(text_col)
    ids = F.when(
        text.isNotNull(), _epoch_prefixed(_h48(text), epoch)
    ).otherwise(
        F.raise_error(
            F.lit(
                "content_doc_ids: NULL text cannot take a content id —"
                " quarantine or filter dirty rows before id assignment"
                " (ingest_jsonl's rejects posture)"
            )
        )
    )
    out = df.withColumn("doc_id", ids)
    return unique_doc_ids(out, cleanup=cleanup) if unique else out


def ingest_text_dir(spark: SparkSession, path: str, epoch: int = 0) -> DataFrame:
    """One document per text file under ``path`` (``wholetext``): the
    file's full content is ``text``, its path is ``source``, and
    ``doc_id`` is the 48-bit sha256 of the path — stable across
    re-ingestions and portable across engines (collision odds at 48
    bits are ~n²/2⁴⁹: negligible below ~10M files; dedup downstream
    keys on content, not on these ids). ``lang`` is left null — run
    the language_id scorer downstream if needed; ``n_chars`` is
    computed. Returns the frame in the ``documents`` schema (same
    names/types; path and length are provably non-null), so every
    operator in the engine consumes it directly. Zero-byte files yield
    NO row (Spark's text source emits nothing for them) — an empty
    file carries no document, and the quality gate would drop the
    empty string anyway; pinned in tests/test_corpus_ingest.py.

    ``epoch`` (default 0 = no prefix, ids unchanged) namespaces the
    ids as ``(epoch << 48) + h48`` so successive ingestion batches
    satisfy run_incremental's monotonic-id precondition — see
    :func:`_epoch_prefixed`."""
    raw = spark.read.text(path, wholetext=True)
    return raw.select(
        _epoch_prefixed(_h48(F.input_file_name()), epoch).alias("doc_id"),
        F.col("value").alias("text"),
        F.lit(None).cast("string").alias("lang"),
        F.input_file_name().alias("source"),
        F.length("value").cast("long").alias("n_chars"),
    )


def ingest_jsonl(
    spark: SparkSession,
    path: str,
    cleanup: list[DataFrame] | None = None,
    epoch: int = 0,
) -> tuple[DataFrame, DataFrame]:
    """JSON-lines ingestion with an explicit quarantine policy:
    returns ``(docs, rejects)`` where ``docs`` is ``documents``-shaped
    with UNIQUE doc_ids, and ``rejects`` carries every excluded line
    VERBATIM with a reason — at 100 TB silently dropping dirty lines
    is how a corpus loses an unknown slice of itself; the reject frame
    makes the loss measurable and re-driable. Reasons:

    - ``malformed``: the line is not a JSON object of the pinned
      schema (schema is never inferred — inference is an extra full
      scan and nondeterministic under dirty data);
    - ``missing_text``: parses but has no ``text`` (the raw line is
      preserved verbatim, unknown fields and all);
    - ``duplicate_doc_id``: a second line landed on an id already
      taken — identical repeated lines (crawl boilerplate) and
      id collisions both surface here instead of breaking the
      engine-wide doc_id-uniqueness invariant downstream (exact dedup
      keys canonical choice on doc_id; duplicate ids would sail
      through it). The survivor per id is chosen DETERMINISTICALLY
      (min by (text, lang, source, n_chars, raw) — a total order, so
      re-ingestion picks the same survivor under any partitioning).

    Field policy: ``doc_id`` defaults to the 48-bit sha256 of the
    text, ``n_chars`` to ``length(text)``; ``lang``/``source``
    default null. ``epoch`` (default 0 = no prefix) namespaces EVERY
    id — derived or explicit — as ``(epoch << 48) + id`` so
    successive batches satisfy run_incremental's monotonic-id
    precondition (see :func:`_epoch_prefixed`); duplicate detection
    runs on the prefixed ids, i.e. within the batch, as before.

    Mechanics: the file is read as raw text lines and parsed with
    ``from_json`` — the raw line rides alongside the parse, so every
    reject is byte-verbatim, and (unlike the json reader's internal
    corrupt column) the result filters freely without a forced
    persist. The uniqueness pass is one window shuffle on doc_id —
    the honest price of an enforced invariant. ``docs`` and
    ``rejects`` are lazy; a caller consuming BOTH can pass
    ``cleanup`` to persist the shared parse for one scan (the repo's
    cache-handover convention: the caller unpersists)."""
    schema = T.StructType(
        list(DOCUMENTS_SCHEMA) + [T.StructField(_CORRUPT, T.StringType())]
    )
    parsed = spark.read.text(path).select(
        F.col("value").alias("raw"),
        F.from_json(
            "value",
            schema,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": _CORRUPT},
        ).alias("d"),
    )
    return _quarantine_and_conform(parsed, cleanup, epoch)


def _quarantine_and_conform(
    parsed: DataFrame, cleanup: list[DataFrame] | None, epoch: int
) -> tuple[DataFrame, DataFrame]:
    """The shared back half of every line-oriented ingest front
    (JSONL, CSV): ``parsed`` carries the verbatim line as ``raw`` and
    the PERMISSIVE parse as a struct ``d`` with the documents fields
    plus the corrupt-record column. Flags malformed / missing_text,
    derives defaulted fields (content-h48 doc_id, length n_chars),
    epoch-prefixes ids, enforces doc_id uniqueness with the
    deterministic min-survivor window, and returns (docs, rejects)."""
    from pyspark.sql import Window

    malformed = F.col("d").isNull() | F.col(f"d.{_CORRUPT}").isNotNull()
    no_text = F.col("d.text").isNull()
    flagged = parsed.select(
        "raw",
        F.when(malformed, F.lit("malformed"))
        .when(no_text, F.lit("missing_text"))
        .alias("bad"),
        _epoch_prefixed(
            F.coalesce(F.col("d.doc_id"), _h48(F.col("d.text"))), epoch
        ).alias("doc_id"),
        F.col("d.text").alias("text"),
        F.col("d.lang").alias("lang"),
        F.col("d.source").alias("source"),
        F.coalesce(F.col("d.n_chars"), F.length("d.text").cast("long")).alias(
            "n_chars"
        ),
    )
    if cleanup is not None:
        flagged = flagged.persist()
        cleanup.append(flagged)
    w = Window.partitionBy("doc_id").orderBy(
        "text", "lang", "source", "n_chars", "raw"
    )
    ranked = flagged.where(F.col("bad").isNull()).withColumn(
        "rn", F.row_number().over(w)
    )
    docs = ranked.where(F.col("rn") == 1).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    rejects = (
        flagged.where(F.col("bad").isNotNull())
        .select("raw", F.col("bad").alias("reason"))
        .unionAll(
            ranked.where(F.col("rn") > 1).select(
                "raw", F.lit("duplicate_doc_id").alias("reason")
            )
        )
    )
    return docs, rejects


def _csv_header_predicate(columns: tuple[str, ...], sep: str) -> Column:
    """Is this raw line the layout's header row? Field-wise
    comparison after stripping a trailing ``\\r`` (CRLF files) and
    trimming each field ('text, lang') — byte equality missed both
    and let the header land silently as a junk data row.
    Also the CLI's did-any-line-match probe for the no-header-found
    warning. Quoted header fields are out of scope: headers are bare
    column names by construction (``columns`` validates against the
    documents schema)."""
    import re as _re

    line = F.regexp_replace(F.col("value"), "\r$", "")
    # lambda, not bare F.trim: trim's optional second param makes
    # transform() treat it as a binary (element, index) callback, and
    # trim(x, i) silently trims the index DIGIT instead of whitespace
    norm = F.array_join(
        F.transform(F.split(line, _re.escape(sep), -1), lambda x: F.trim(x)),
        sep,
    )
    return norm == F.lit(sep.join(columns))


def ingest_csv(
    spark: SparkSession,
    path: str,
    columns: tuple[str, ...] = ("text",),
    sep: str = ",",
    header: bool = False,
    cleanup: list[DataFrame] | None = None,
    epoch: int = 0,
) -> tuple[DataFrame, DataFrame]:
    """CSV/TSV ingestion with the same quarantine policy as
    :func:`ingest_jsonl` — the other line-oriented corpus delivery
    format (dataset dumps ship as TSV as often as JSONL). ``columns``
    names the file's columns IN ORDER; they must be documents-schema
    fields and include ``text`` (types come from the pinned schema —
    never inferred). Returns ``(docs, rejects)``: docs is
    documents-shaped with UNIQUE epoch-prefixed ids (defaults derived
    exactly as in ingest_jsonl), rejects carries every excluded line
    VERBATIM with reason malformed / missing_text / duplicate_doc_id.

    Mechanics: raw text lines + ``from_csv`` PERMISSIVE with a corrupt
    -record column, so a wrong-arity or type-mismatched row lands in
    rejects byte-verbatim instead of half-parsed — then the shared
    :func:`_quarantine_and_conform` back half. Line-oriented by
    construction: fields with EMBEDDED NEWLINES (multiline CSV) are
    not supported — each physical line is one record, matching the
    quarantine's verbatim-line contract. With ``header=True`` every
    line that IS the header row is dropped — per file, since all
    files of one layout share it; the match is field-wise after
    trimming a trailing ``\\r`` and per-field whitespace (a CRLF file,
    or a header written ``'text, lang'``, never matches byte equality,
    and its header would land silently as a junk data row — all-string
    layouts have no type mismatch to flag it).
    A data row that equals the header up to field whitespace is
    degenerate under the quality gate anyway."""
    fields = {f.name: f for f in DOCUMENTS_SCHEMA}
    unknown = [c for c in columns if c not in fields]
    if unknown:
        raise ValueError(
            f"ingest_csv: unknown columns {unknown} — choose from"
            f" {list(fields)} (documents schema; types are pinned)"
        )
    if len(set(columns)) != len(columns):
        # caught in review: a repeated name sailed past here and died
        # later as an opaque AMBIGUOUS_REFERENCE AnalysisException
        raise ValueError(f"ingest_csv: duplicate columns in {list(columns)}")
    if "text" not in columns:
        raise ValueError("ingest_csv: columns must include 'text'")
    csv_schema = T.StructType(
        [fields[c] for c in columns] + [T.StructField(_CORRUPT, T.StringType())]
    )
    raw = spark.read.text(path)
    if header:
        raw = raw.where(~_csv_header_predicate(columns, sep))
    d = F.from_csv(
        "value",
        csv_schema.simpleString(),
        {
            "mode": "PERMISSIVE",
            "columnNameOfCorruptRecord": _CORRUPT,
            "sep": sep,
        },
    )
    # conform the partial parse to the full documents field set so the
    # shared back half sees one shape regardless of the file's layout
    full = F.struct(
        *[
            (d[c] if c in columns else F.lit(None).cast(fields[c].dataType)).alias(c)
            for c in fields
        ],
        d[_CORRUPT].alias(_CORRUPT),
    )
    parsed = raw.select(F.col("value").alias("raw"), full.alias("d"))
    return _quarantine_and_conform(parsed, cleanup, epoch)
