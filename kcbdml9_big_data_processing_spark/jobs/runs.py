"""Run-level crash-safe commit for the curate pipeline.

A curate run produces THREE artifacts whose lockstep is the
daily-incremental contract: the kept corpus (the next run's archive),
the decision record, and the near-dup index maintenance (built over
exactly that kept set, or extended by exactly this batch). The plain CLI
path (``curate --out-kept ...``) writes them as three separate parquet
jobs — each one committer-atomic, but a crash BETWEEN them tears the
RUN: a kept set without its decision record, or an archive ahead of its
index, which is precisely the state ``run_incremental``'s own
preconditions reject. (The reference has the same weakness one level
down: its batch job appends four tables with no transaction —
BatchJobImpl.scala:90-100; SURVEY.md §7.4 flagged it; the index family's
generations fix it for indexes.)

This module lifts the index family's recipe (versioned dirs + one
small commit record as the single atomicity point —
queries/similarity._gen_begin/_gen_commit) to the RUN level:

- every run stages ALL its outputs under ``{root}/runs/r{N:06d}``
  (kept, decisions, step markers);
- the index lives at ``{root}/index`` and keeps its own generation
  machinery (a full run's build commits a fresh generation; an
  incremental run's extend appends — bracketed by markers, below);
- the run goes live only at its one record in the ``{root}/run_meta``
  log (``r{N:06d}.json``, committed by the driver with an atomic
  rename — fs.write_record). Readers (the next run, external
  consumers) resolve the current archive as the max-run_id record's
  ``{dir}/kept`` — an unpublished run dir is INVISIBLE.

Torn-run detection and idempotent retry: the next run_id is always
``latest committed + 1``, so a crashed attempt and its retry compute
the SAME run dir. Finding that dir already present means the prior
attempt tore somewhere before its run record; the recovery depends
on how far it got, read off the staged records (``intent``, written
at run start with the mode and the index generation it observed, and
the ``index_started``/``index_done`` markers):

- ``index_done`` present — every write finished, only the publish is
  missing: the retry COMMITS THE RUN RECORD AND MOVES ON (auto-resume;
  the new batch then curates against the just-published archive as
  the next run). Nothing recomputes.
- ``index_started`` present without ``index_done``, on an INCREMENTAL
  intent — the extend may have appended partial postings/hashes to
  the index's current generation, and extend is not idempotent (a
  redo would double-append whatever landed). The retry REFUSES until
  ``repair_index=True`` rebuilds the index from the last COMMITTED
  archive (a fresh generation supersedes the poisoned one — the
  generation layer's whole point), clears the torn dir, and redoes
  the batch.
- a FULL intent whose index BUILD already COMMITTED its generation
  (crash between build_dedup_index's internal gen_meta commit and the
  ``index_done`` marker) — detected by comparing the index's current
  generation version against the one the ``intent`` record staged at
  run start (without it this window would classify as partial_stage,
  and a --retry-torn redo in incremental mode would dedup against a
  generation reflecting the UNPUBLISHED kept set, silently dropping
  batch docs absent from the published archive).
  Classified ``index_ahead``: with a committed prior run the retry
  REFUSES until ``repair_index=True`` rebuilds over the standing
  archive (superseding the orphaned generation); on a fresh root the
  redo is necessarily full — its build supersedes — so plain
  ``retry_torn`` suffices.
- anything earlier (including a full run's partial index BUILD, which
  stages into a generation dir and is safely redoable) — the torn dir
  is dead weight: ``retry_torn=True`` deletes it and redoes the run;
  without the flag the attempt refuses loudly (an operator must opt
  into discarding staged bytes).

Single writer per root: ENFORCED when the opt-in writer-lock layer is
armed (similarity.enable_index_writer_locking / the CLI's
--writer-lock-ttl) — :func:`curate_run_root` and :func:`vacuum_runs`
then hold ``{root}/_writer.lock`` for the whole stage-to-publish span
(two concurrent curate runs compute the SAME next
run_id, so interleaved staging into one r{N:06d} dir must be a loud
IndexWriterLockError refusal, with the same TTL-steal escape hatch as
the index locks). Unlocked deployments keep the scheduling contract:
one curate job per root, the compact_dedup_index posture. The index
legs additionally hold their own ``{root}/index/_writer.lock``.

Retention: published run dirs before the standing
lineage (everything preceding the latest full run) are unreferenced
by readers — :func:`standing_archive` never opens them — and would
otherwise be kept forever, O(runs × corpus) storage.
:func:`vacuum_runs` deletes
superseded run dirs keeping the ``retain`` most recent of them (the
index family's retention-not-locking posture: run records are never
pruned — one small record per run — and a reader already planned on a
retained dir finishes against intact files).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..fs import delete_recursive as _delete
from ..fs import exists as _exists, read_log, read_record, write_record

#: the recovery an unreadable run-root record names
_REBUILD = (
    "start a fresh run root (curate --run-root NEW_ROOT) over the"
    " standing corpus"
)


class TornRunError(RuntimeError):
    """A prior curate attempt on this root crashed before its meta
    commit; the message names the recovery (``retry_torn`` /
    ``repair_index``)."""


class RunUsageError(ValueError):
    """A mode/flag combination curate_run_root refuses BEFORE staging
    anything (the intent marker must never be written on a pure usage
    error, or a typo'd flag escalates into a torn-run
    recovery intervention). The CLI maps this to exit 2; every other
    exception propagates loudly with its traceback."""


def _write_stage(df: DataFrame, path: str) -> None:
    """One staged artifact write (kept / decisions) — a seam the
    kill-between-writes tests monkeypatch to crash the run at exact
    points of the matrix."""
    df.write.mode("overwrite").parquet(path)


def _mark(spark: SparkSession, path: str) -> None:
    """Stage a step marker: one record (atomic like every commit record
    here — a crashed marker write is absent, which is the conservative
    reading for every marker below)."""
    write_record(spark, path, {"ok": True})


def _marked(spark: SparkSession, path: str) -> bool:
    return read_record(spark, path, _REBUILD) is not None


def run_dir(root: str, run_id: int) -> str:
    return f"{root}/runs/r{run_id:06d}"


def _index_version(spark: SparkSession, root: str) -> int:
    """The index's current COMMITTED generation version (0 when the
    index doesn't exist yet)."""
    from ..queries.similarity import _gen_meta_row

    row = _gen_meta_row(spark, index_root(root))
    return 0 if row is None else int(row["version"])


def index_root(root: str) -> str:
    return f"{root}/index"


def run_rows(spark: SparkSession, root: str) -> list[dict]:
    """Every COMMITTED run's record, ascending by run_id ([] on a
    fresh root). Driver file reads of one 3-field record per PUBLISHED
    run — days, not data. Strict: a run_meta dir that holds anything
    but records raises instead of reading as a fresh root (which would
    silently re-run a full curation)."""
    return sorted(
        read_log(spark, f"{root}/run_meta", _REBUILD),
        key=lambda r: r["run_id"],
    )


def latest_run(spark: SparkSession, root: str) -> dict | None:
    """Newest committed run's record as a dict, or None."""
    rows = run_rows(spark, root)
    return rows[-1] if rows else None


def standing_archive(spark: SparkSession, root: str) -> DataFrame | None:
    """The standing curated corpus a new incremental batch must honor:
    the last FULL run's kept set unioned with every incremental kept
    set published since (a full run rebuilds the index over its own
    kept set, resetting the lineage) — exactly the corpus the standing
    index holds. ``--repair-index`` rebuilds the index over it."""
    rows = run_rows(spark, root)
    if not rows:
        return None
    start = max(
        (i for i, r in enumerate(rows) if r["mode"] == "full"), default=0
    )
    frames = [
        spark.read.parquet(f"{r['dir']}/kept") for r in rows[start:]
    ]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def _commit(
    spark: SparkSession, root: str, run_id: int, rdir: str, mode: str
) -> None:
    """THE commit point: one run record flips the run live."""
    write_record(
        spark,
        f"{root}/run_meta/r{run_id:06d}.json",
        {"run_id": run_id, "dir": rdir, "mode": mode},
    )


def _torn_state(
    spark: SparkSession, root: str, rdir: str
) -> tuple[str, str | None]:
    """Classify an existing-but-unpublished run dir:
    ``('complete'|'partial_extend'|'index_ahead'|'partial_stage',
    intent)`` — the one classification both the recovery path and the
    read-only status verb apply, so they can never disagree on what a
    torn dir needs.

    ``index_ahead``: the index's committed generation
    version moved past the one this attempt's ``intent`` record staged
    at start — a full build's gen_meta commit landed before the crash
    (the window between build_dedup_index's internal commit and the
    ``index_done`` marker), so the CURRENT index reflects the torn
    run's unpublished kept set. A plain redo in incremental mode
    would dedup the batch against content absent from the published
    archive — silent row loss — so this state demands the same
    rebuild-over-committed-archive repair as a torn extend."""
    staged = read_record(spark, f"{rdir}/intent", _REBUILD)
    intent = None if staged is None else staged["mode"]
    if _marked(spark, f"{rdir}/index_done") and intent is not None:
        return "complete", intent
    if _marked(spark, f"{rdir}/index_started") and intent == "incremental":
        return "partial_extend", intent
    if staged is not None and _index_version(spark, root) > staged["index_version"]:
        return "index_ahead", intent
    return "partial_stage", intent


def run_status(spark: SparkSession, root: str) -> dict:
    """Read-only root inspection: every published run plus the torn
    next-run attempt (if any) with the recovery it needs — an
    operator's first move after a crashed curate, side-effect-free."""
    rows = run_rows(spark, root)
    for r in rows:
        # vacuum visibility: run records outlive their
        # vacuumed dirs, so status distinguishes a run you can still
        # read from one retained only as lineage history
        r["present"] = _exists(spark, r["dir"])
    nxt = 1 if not rows else int(rows[-1]["run_id"]) + 1
    rdir = run_dir(root, nxt)
    torn = None
    if _exists(spark, rdir):
        state, intent = _torn_state(spark, root, rdir)
        recovery = {
            "complete": "re-run curate --run-root (publishes as-is,"
            " nothing recomputes)",
            "partial_extend": "--repair-index (index generation may"
            " hold partial postings)",
            "index_ahead": "--repair-index (a full build committed an"
            " index generation for the UNPUBLISHED kept set)",
            "partial_stage": "--retry-torn (discard staged outputs,"
            " redo the batch)",
        }[state]
        if state == "index_ahead" and not rows:
            # fresh root: the redo is necessarily FULL — its build
            # supersedes the orphaned generation, no repair needed
            recovery = (
                "--retry-torn (redo is a full build; its fresh"
                " generation supersedes the orphaned one)"
            )
        torn = {
            "run_id": nxt,
            "dir": rdir,
            "state": state,
            "intent": intent,
            "recovery": recovery,
        }
    return {"runs": rows, "torn": torn}


def _resolve_torn(
    spark: SparkSession,
    root: str,
    prior: dict | None,
    run_id: int,
    rdir: str,
    retry_torn: bool,
    repair_index: bool,
) -> bool:
    """Handle an existing-but-unpublished run dir per the module
    docstring. Returns True when the torn run was PUBLISHED (caller
    advances to the next run_id), False when the dir was cleared for
    a redo; raises TornRunError when recovery needs an operator
    decision not yet granted."""
    import sys

    state, intent = _torn_state(spark, root, rdir)
    if state == "complete":
        print(
            f"curate: publishing torn-but-complete prior run r{run_id}"
            f" ({intent}) — every artifact was staged, only the run"
            " record was lost; nothing recomputes.",
            file=sys.stderr,
        )
        _commit(spark, root, run_id, rdir, intent)
        return True
    if state == "index_ahead" and prior is None:
        # fresh root: the orphaned generation reflects an
        # unpublished kept set, but with no committed runs the redo is
        # necessarily FULL — its build commits a fresh generation that
        # supersedes the orphan, so plain retry_torn is sufficient and
        # the repair path (which needs a standing archive) can't run
        state = "partial_stage"
    if state in ("partial_extend", "index_ahead"):
        if not repair_index:
            raise TornRunError(
                f"torn curate run at {rdir}: "
                + (
                    "its index extend started but never finished, so"
                    " the index's current generation may hold PARTIAL"
                    " postings for this batch (extend is not"
                    " redo-safe)."
                    if state == "partial_extend"
                    else "its full index build COMMITTED a generation"
                    " for the unpublished kept set — an"
                    " incremental redo would dedup against content"
                    " absent from the published archive and silently"
                    " drop batch docs."
                )
                + " Re-run with repair_index=True (--repair-index) to"
                " rebuild the index over the last committed archive —"
                " a fresh generation supersedes the"
                f" {'partial' if state == 'partial_extend' else 'orphaned'}"
                " one — then the batch redoes cleanly."
            )
        if prior is None:  # can't happen: incremental implies a prior
            raise TornRunError(
                f"torn incremental run at {rdir} with no committed"
                " prior run — root metadata is inconsistent"
            )
        from ..queries.dedup import build_dedup_index

        print(
            f"curate: repairing index at {index_root(root)} — full"
            " rebuild over the committed STANDING archive (last full"
            f" run's kept set + increments through r{prior['run_id']});"
            f" the {'partial' if state == 'partial_extend' else 'orphaned'}"
            " generation is superseded and vacuumable.",
            file=sys.stderr,
        )
        archive = standing_archive(spark, root).select("doc_id", "text")
        build_dedup_index(archive, index_root(root))
        _delete(spark, rdir)
        return False
    if not retry_torn:
        raise TornRunError(
            f"torn curate run at {rdir}: a prior attempt crashed"
            " before its run record (the run is unpublished and"
            " invisible to readers). Re-run with retry_torn=True"
            " (--retry-torn) to discard the staged partial outputs"
            " and redo the batch."
        )
    print(
        f"curate: clearing torn prior attempt at {rdir} and redoing"
        " the batch.",
        file=sys.stderr,
    )
    _delete(spark, rdir)
    return False


def curate_run_root(
    spark: SparkSession,
    root: str,
    docs: DataFrame,
    cfg,
    benchmark: DataFrame | None = None,
    full: bool = False,
    retry_torn: bool = False,
    repair_index: bool = False,
    cleanup: list[DataFrame] | None = None,
) -> dict:
    """One crash-safe curate run against ``root``: full curation on a
    fresh root (or with ``full=True`` — the periodic re-freeze, which
    also REBUILDS the index), else the daily incremental batch against
    the standing index, which holds the CUMULATIVE standing archive
    (:func:`standing_archive`). All outputs stage under a versioned
    run dir and publish at one run record; see the module docstring
    for the crash matrix. Returns ``{"run_id", "dir", "mode"}`` of the
    PUBLISHED run — which is the auto-published TORN run (plus
    ``"already_published": True``) when the caller's batch turns out
    to be the one that run consumed (the documented crash recovery is
    re-running the same command, and re-curating the just-published
    batch would trip run_incremental's monotonic-id guard AFTER
    staging, manufacturing a second torn dir out of consistent
    state).

    With the opt-in writer-lock layer armed
    (similarity.enable_index_writer_locking / --writer-lock-ttl) the
    whole stage-to-publish span holds ``{root}/_writer.lock``: a
    concurrent curate on the same root raises IndexWriterLockError
    instead of interleaving into the same staged run dir; a crashed
    holder's lock is stolen past the TTL exactly like
    the index locks."""
    from ..queries.similarity import _maybe_writer_lock

    with _maybe_writer_lock(spark, root):
        return _curate_run_root_locked(
            spark, root, docs, cfg, benchmark, full, retry_torn,
            repair_index, cleanup,
        )


def _curate_run_root_locked(
    spark: SparkSession,
    root: str,
    docs: DataFrame,
    cfg,
    benchmark: DataFrame | None,
    full: bool,
    retry_torn: bool,
    repair_index: bool,
    cleanup: list[DataFrame] | None,
) -> dict:
    from ..queries.dedup import build_dedup_index, extend_dedup_index
    from .training_data import TrainingDataCurator

    rows = run_rows(spark, root)
    prior = rows[-1] if rows else None
    nxt = 1 if prior is None else int(prior["run_id"]) + 1
    rdir = run_dir(root, nxt)
    if _exists(spark, rdir):
        if _resolve_torn(
            spark, root, prior, nxt, rdir, retry_torn, repair_index
        ):
            rows = run_rows(spark, root)  # the publish just committed
            prior = rows[-1]
            nxt += 1
            rdir = run_dir(root, nxt)
            # consumed-batch detection: the documented
            # recovery for a torn-but-complete run is re-running the
            # SAME command — whose batch the publish just consumed.
            # Re-curating it would trip the monotonic-id guard AFTER
            # the intent write (one crash → two interventions). The
            # published run's decisions carry one row per input doc,
            # so "already consumed" is exact: no batch id outside
            # them. Only the incremental path checks — an explicit
            # --full is a requested re-freeze of (possibly) the same
            # corpus and must proceed.
            if not full:
                import sys

                dec_ids = spark.read.parquet(
                    f"{prior['dir']}/decisions"
                ).select("doc_id")
                fresh = (
                    docs.select("doc_id")
                    .join(dec_ids, "doc_id", "left_anti")
                    .limit(1)
                    .count()
                )
                if fresh == 0:
                    print(
                        "curate: the offered batch is exactly the one"
                        f" just published as r{prior['run_id']} —"
                        " nothing further to curate.",
                        file=sys.stderr,
                    )
                    return {
                        "run_id": int(prior["run_id"]),
                        "dir": prior["dir"],
                        "mode": prior["mode"],
                        "already_published": True,
                    }

    mode = "full" if (prior is None or full) else "incremental"
    # EVERY usage refusal must precede the intent write — staging
    # anything on a flag mistake turns it into a torn-run recovery
    # intervention. That includes MODE-INDEPENDENT config
    # contradictions the curator itself would reject mid-pipeline
    # (the full-run drop-vs-scrub exclusivity).
    if (
        cfg.max_repeated_spans is not None
        and cfg.scrub_repeated_spans
    ):
        raise RunUsageError(
            "max_repeated_spans (drop policy) and scrub_repeated_spans"
            " (transform policy) are mutually exclusive — pick one"
        )
    if mode == "incremental":
        if benchmark is not None:
            raise RunUsageError(
                "--benchmark decontamination is a full-run stage; pass"
                " --full to re-freeze the corpus with it"
            )
        if (
            cfg.max_repeated_spans is not None
            or cfg.scrub_repeated_spans
            or cfg.min_rarity is not None
            or cfg.max_rarity is not None
        ):
            raise RunUsageError(
                "span/rarity policies are full-corpus-statistics"
                " stages; pass --full to apply them on a re-freeze"
            )
    # the intent record also carries the index generation observed
    # BEFORE any index work: a later torn-state classification compares
    # the index's committed version against it to catch a full build
    # whose gen_meta commit landed before the crash (see _torn_state's
    # index_ahead)
    write_record(
        spark,
        f"{rdir}/intent",
        {"mode": mode, "index_version": _index_version(spark, root)},
    )

    curator = TrainingDataCurator(cfg)
    if mode == "incremental":
        kept, dec = curator.run_incremental(
            docs, index_root(root), cleanup=cleanup
        )
    else:
        kept, dec = curator.run(docs, benchmark, cleanup=cleanup)
    _write_stage(kept, f"{rdir}/kept")
    _write_stage(dec, f"{rdir}/decisions")
    # index maintenance consumes the WRITTEN kept set (same rows;
    # decouples the artifact step from the run's cached lineage)
    kept_stored = spark.read.parquet(f"{rdir}/kept").select(
        "doc_id", "text"
    )
    if mode == "full":
        # the build is generation-committed; the crash window between
        # its internal gen_meta commit and index_done is caught by the
        # intent record's index_version (_torn_state's index_ahead)
        build_dedup_index(kept_stored, index_root(root))
        _mark(spark, f"{rdir}/index_done")
    else:
        # bracket the ONE non-idempotent step so a torn retry knows
        # whether the index may hold this batch's partial postings
        _mark(spark, f"{rdir}/index_started")
        extend_dedup_index(kept_stored, index_root(root))
        _mark(spark, f"{rdir}/index_done")
    _commit(spark, root, nxt, rdir, mode)
    return {"run_id": nxt, "dir": rdir, "mode": mode}


def vacuum_runs(
    spark: SparkSession, root: str, retain: int = 2
) -> list[str]:
    """Delete SUPERSEDED run dirs — runs preceding the standing
    lineage (everything before the latest full run), which
    :func:`standing_archive` never opens — keeping the ``retain``
    most recent superseded dirs as a rollback/reader grace window
    (without this, every run's full kept parquet lives forever —
    O(runs × corpus) dead weight). The index family's
    retention-not-locking posture, lifted to the run level
    (similarity.vacuum_index_generations): run records are never
    pruned (one small record per run; :func:`run_status` marks a
    vacuumed run's record ``present: False``), a reader already planned on a
    retained dir finishes against intact files, and the standing
    lineage itself is never touched — so the day-N incremental flow
    is oblivious to vacuuming. The torn next-run dir (if any) is not
    a published run and is never vacuumed — it belongs to the
    recovery flags. Holds the root writer lock when the opt-in layer
    is armed, like every other index-family vacuum. Returns the
    deleted dirs."""
    from ..queries.similarity import _maybe_writer_lock

    if retain < 0:
        raise ValueError(f"retain must be >= 0, got {retain}")
    with _maybe_writer_lock(spark, root):
        rows = run_rows(spark, root)
        if not rows:
            return []
        start = max(
            (i for i, r in enumerate(rows) if r["mode"] == "full"),
            default=0,
        )
        doomed = rows[: max(0, start - retain)]
        deleted = []
        for r in doomed:
            if _exists(spark, r["dir"]):
                _delete(spark, r["dir"])
                deleted.append(r["dir"])
        return deleted
