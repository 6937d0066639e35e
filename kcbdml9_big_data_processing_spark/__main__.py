"""CLI: run a registered query against a testdata directory.

    python -m kcbdml9_big_data_processing_spark QUERY [--sf DIR]
        [--out PATH] [--limit N] [--explain] [--list]

A user of the reference's two hardcoded mains gets the same
run-a-job-from-the-shell ergonomics, parameterized over every query
in the registry: results print as a table (first ``--limit`` rows) or
land in parquet with ``--out``; ``--explain`` prints the formatted
physical plan instead of executing.

The persisted-index lifecycle is driveable from the
shell too:

    python -m kcbdml9_big_data_processing_spark index ACTION
        --family {ngram,ivf,pq,semantic} --index-dir DIR
        [--sf DIR] [--where SQL] [--blocking label|label_ivf]
        [--n-cells K] [--out PATH] [--limit N]

ACTION is build / extend / search / compact / vacuum / stats
(compact applies to the ngram family's bucketed base+delta layout;
vacuum prunes superseded generations for every family — the ngram
base+tail versions, or the g{N} build generations of
ivf/pq/semantic; every family supports build / extend / search /
stats).
``--where`` filters the input table (documents for ngram, embeddings
otherwise) — e.g. build over ``doc_id % 2 = 0`` then search the
odd half against it.

The quality-classifier trainer is driveable too:

    python -m kcbdml9_big_data_processing_spark train
        (--labels PARQUET | --label-expr SQL [--sf DIR])
        [--dim N] [--iters N] [--lr-num N] [--out weights.json]

writing the fitted integer milli-weights as a JSON list — the
artifact classifier_score and CurationConfig.quality_model_weights
consume. And raw corpora land from the shell:

    python -m kcbdml9_big_data_processing_spark ingest
        (--text-dir DIR | --jsonl PATH | --csv PATH) --out DOCS_PARQUET
        [--rejects-out PATH] [--epoch N]
        [--csv-columns C,C,... --csv-sep S --csv-header]

And the deterministic training-shard export + failed-shard retry
from the shell:

    python -m kcbdml9_big_data_processing_spark export-shards
        (--input PARQUET | --sf DIR) --out ROOT --n-shards N
        [--salt N] [--id-col COL] [--where SQL]
        [--only-shards K,K,...] [--overwrite]
        [--writer-lock-ttl SEC]

with its detection sibling (exit 1 lists the shards to retry):

    python -m kcbdml9_big_data_processing_spark audit-shards
        --path ROOT [--reference PARQUET | --sf DIR]

And the curation job itself — full corpus run, or the daily
incremental batch when --index is given:

    python -m kcbdml9_big_data_processing_spark curate
        --docs PARQUET --out-kept PATH --out-decisions PATH
        [--index DIR [--extend-index]]
        [--benchmark PARQUET] [--build-index DIR]
        [--jaccard-min X] [--min-words N] [...quality thresholds]
        [--model-weights weights.json [--min-model-mean-milli N]]
        [--writer-lock-ttl SEC]

closing the shell pipeline end to end: ingest -> curate ->
export-shards, with the index artifact maintained across days.
"""

from __future__ import annotations

import argparse
import sys


def _index_main(argv: list[str], spark=None) -> int:
    ap = argparse.ArgumentParser(prog="kcbdml9-spark index")
    ap.add_argument(
        "action",
        choices=["build", "extend", "search", "compact", "vacuum", "stats"],
    )
    ap.add_argument(
        "--family",
        required=True,
        choices=["ngram", "ivf", "pq", "semantic"],
    )
    ap.add_argument("--index-dir", required=True)
    ap.add_argument("--sf", default="/root/testdata/sf0.01", help="testdata dir")
    ap.add_argument(
        "--where", default=None, help="SQL filter over the input table"
    )
    ap.add_argument(
        "--blocking",
        default="label_ivf",
        choices=["label", "label_ivf"],
        help="semantic-family blocking policy (build only); label_ivf "
        "is the measured-flat default, label opts into pure "
        "label-partitioned blocking",
    )
    ap.add_argument(
        "--n-cells", type=int, default=None, help="semantic label_ivf cell count"
    )
    ap.add_argument("--out", help="write search result as parquet to this path")
    ap.add_argument("--limit", type=int, default=20, help="rows to print")
    ap.add_argument(
        "--writer-lock-ttl",
        type=float,
        default=None,
        metavar="SEC",
        help="enforce single-writer-per-root for this invocation: hold"
        " {root}/_writer.lock for the write, raise if another writer"
        " holds it, steal locks staler than SEC (crashed writers)."
        " Default: off — the documented single-writer contract",
    )
    args = ap.parse_args(argv)

    from pyspark.sql import functions as F

    from .queries import dedup as D
    from .queries import similarity as S
    from .sources.parquet import read_table

    own_session = spark is None
    if own_session:
        from .session import get_spark

        spark = get_spark(app_name=f"kcbdml9-index-{args.family}")
    # shared invocation-scoped toggle (similarity.scoped_writer_lock_ttl):
    # entered explicitly so the 100-line body keeps its indentation.
    # Entering INSIDE the try keeps spark.stop() reachable when enable
    # rejects the ttl; the cm restores the host's prior setting itself,
    # and __exit__ on the already-finished generator is a no-op.
    lock_scope = S.scoped_writer_lock_ttl(args.writer_lock_ttl)
    try:
        lock_scope.__enter__()
        path = args.index_dir

        def docs():
            d = read_table(spark, args.sf, "documents").select("doc_id", "text")
            return d.where(args.where) if args.where else d

        def emb():
            e = read_table(spark, args.sf, "embeddings")
            return e.where(args.where) if args.where else e

        def sem_corpus():
            return emb().select(
                "vec_id",
                "label",
                F.expr("transform(embedding, x -> cast(x as double))").alias(
                    "emb"
                ),
            )

        result = None
        if args.action == "stats":
            return _index_stats(spark, args.family, path)
        if args.family == "ngram":
            if args.action == "build":
                D.build_dedup_index(docs(), path)
            elif args.action == "extend":
                D.extend_dedup_index(docs(), path)
            elif args.action == "compact":
                D.compact_dedup_index(spark, path)
            elif args.action == "vacuum":
                # both GC layers: superseded compaction dirs
                # inside the current generation, then whole superseded
                # build generations
                D.vacuum_dedup_index(spark, path)
                S.vacuum_index_generations(spark, path)
            else:
                result = D.dedup_against_index(spark, path, docs())
        elif args.family == "semantic":
            if args.action == "build":
                S.build_semantic_index(
                    sem_corpus(),
                    path,
                    blocking=args.blocking,
                    n_cells=args.n_cells,
                )
            elif args.action == "extend":
                S.extend_semantic_index(sem_corpus(), path)
            elif args.action == "search":
                result = S.semantic_dedup_against_index(
                    spark, path, sem_corpus()
                )
            elif args.action == "vacuum":
                S.vacuum_index_generations(spark, path)
            else:
                print(
                    f"{args.action} not supported for semantic", file=sys.stderr
                )
                return 2
        else:  # ivf / pq — probes filtered by --where, corpus is full
            corpus = read_table(spark, args.sf, "embeddings")
            if args.family == "ivf":
                if args.action == "build":
                    S.build_ivf_index(emb(), path)
                elif args.action == "extend":
                    S.extend_ivf_index(emb(), path)
                elif args.action == "search":
                    result = S.search_ivf_index(spark, path, emb(), corpus)
                elif args.action == "vacuum":
                    S.vacuum_index_generations(spark, path)
                else:
                    print(
                        f"{args.action} not supported for ivf", file=sys.stderr
                    )
                    return 2
            else:
                if args.action == "build":
                    S.build_pq_index(emb(), path)
                elif args.action == "extend":
                    S.extend_pq_index(emb(), path)
                elif args.action == "search":
                    result = S.search_pq_index(spark, path, emb(), corpus)
                elif args.action == "vacuum":
                    S.vacuum_index_generations(spark, path)
                else:
                    print(
                        f"{args.action} not supported for pq", file=sys.stderr
                    )
                    return 2
        if result is not None:
            if args.out:
                result.write.mode("overwrite").parquet(args.out)
                print(f"wrote {args.out}")
            else:
                result.show(args.limit, truncate=False)
        else:
            print(f"{args.action} {args.family} index at {path}: done")
    finally:
        lock_scope.__exit__(None, None, None)
        if own_session:
            spark.stop()
    return 0


def _index_stats(spark, family: str, path: str) -> int:
    """Print a persisted index's composition — the operational
    at-a-glance for the lifecycle commands above."""
    def rows(p, schema=None):
        try:
            r = spark.read
            if schema:
                r = r.schema(schema)
            return r.parquet(p).count()
        except Exception:
            return None

    print(f"family={family} path={path}")
    if family == "ngram":
        from .queries.dedup import (
            _POSTINGS_SCHEMA,
            _STOP_SCHEMA,
            _bucket_meta,
            _tail_dir,
        )
        from .queries.similarity import _gen_current

        # ngram builds are generational too — resolve like the vector
        # families below
        path = _gen_current(spark, path)
        print(f"generation_dir={path}")
        from .fs import dir_has_parquet

        if dir_has_parquet(spark, f"{path}/hashes"):
            print("exact_hash_map=yes")
        else:
            print(
                "exact_hash_map=MISSING — broken index: run_incremental"
                " refuses it; rebuild it over the kept archive with"
                " build_dedup_index (curate --build-index; a run root:"
                " curate --run-root ROOT --repair-index)"
            )
        meta = _bucket_meta(spark, path)
        tail = _tail_dir(meta, path)
        print(f"stop_shingles={rows(f'{path}/stop', _STOP_SCHEMA)}")
        if meta is None:
            print("compacted=no")
            print(f"postings={rows(f'{path}/postings', _POSTINGS_SCHEMA)}")
        else:
            print(
                f"compacted=yes version={meta['version']}"
                f" n_buckets={meta['n_buckets']}"
            )
            print(f"base_dir={meta['dir']} base_postings={rows(meta['dir'])}")
            print(
                f"tail_dir={tail}"
                f" tail_postings={rows(tail, _POSTINGS_SCHEMA)}"
            )
    elif family == "ivf":
        from .queries.similarity import _gen_current

        gdir = _gen_current(spark, path)
        print(f"generation_dir={gdir}")
        cents = spark.read.parquet(f"{gdir}/centroids")
        print(f"cells={cents.select('cell').distinct().count()}")
        print(f"indexed_vectors={rows(f'{gdir}/cells')}")
    elif family == "pq":
        from .queries.similarity import _gen_current

        gdir = _gen_current(spark, path)
        print(f"generation_dir={gdir}")
        book = spark.read.parquet(f"{gdir}/book")
        m = book.select("m").distinct().count()
        codes_per_m = book.select("m", "code").distinct().count()
        n_codes = rows(f"{gdir}/codes")
        print(f"subspaces={m} codebook_entries={codes_per_m}")
        print(
            "indexed_vectors="
            + str(n_codes // m if n_codes is not None and m else None)
        )
    else:  # semantic
        from .queries.similarity import (
            _SEM_BANDS_SCHEMA,
            _gen_current,
            _sem_meta,
        )

        gdir = _gen_current(spark, path)
        print(f"generation_dir={gdir}")
        meta = _sem_meta(spark, path)
        print(
            f"blocking={meta['blocking']} n_cells={meta['n_cells']}"
        )
        print(f"band_rows={rows(f'{gdir}/bands', _SEM_BANDS_SCHEMA)}")
        print(f"indexed_vectors={rows(f'{gdir}/vecs')}")
    return 0


def _train_main(argv: list[str], spark=None) -> int:
    """``train``: fit quality-classifier weights from labeled text and
    write them as a JSON int list — the artifact
    :func:`operators.quality_model.classifier_score` and
    ``CurationConfig.quality_model_weights`` consume. Labels come from
    a parquet of (text, label) rows (``--labels``), or from the
    testdata documents table with a SQL ``--label-expr`` (the
    seed-label bootstrap: label a slice by rule or by joined human
    labels, fit, then serve)."""
    ap = argparse.ArgumentParser(prog="kcbdml9-spark train")
    ap.add_argument(
        "--labels", default=None, help="parquet path with (text, label) rows"
    )
    ap.add_argument("--sf", default="/root/testdata/sf0.01", help="testdata dir")
    ap.add_argument(
        "--label-expr",
        default=None,
        help="SQL expression over the documents table yielding the 0/1 "
        "label (used when --labels is not given)",
    )
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--label-col", default="label")
    ap.add_argument("--dim", type=int, default=512)
    ap.add_argument("--iters", type=int, default=8)
    ap.add_argument("--lr-num", type=int, default=1 << 12)
    ap.add_argument(
        "--ngram-max",
        type=int,
        default=2,
        help="n-gram order of the hashed features; serve the weights "
        "with the SAME order (CurationConfig.quality_model_ngram_max)",
    )
    ap.add_argument(
        "--out", default=None, help="write weights JSON here (default stdout)"
    )
    args = ap.parse_args(argv)
    if args.labels is None and args.label_expr is None:
        print("train: need --labels or --label-expr", file=sys.stderr)
        return 2

    import json

    from pyspark.sql import functions as F

    from .operators.quality_model import train_classifier
    from .sources.parquet import read_table

    own_session = spark is None
    if own_session:
        from .session import get_spark

        spark = get_spark(app_name="kcbdml9-train")
    try:
        if args.labels is not None:
            df = spark.read.parquet(args.labels)
        else:
            df = read_table(spark, args.sf, "documents").withColumn(
                args.label_col, F.expr(args.label_expr).cast("int")
            )
        w = train_classifier(
            df,
            label_col=args.label_col,
            dim=args.dim,
            iters=args.iters,
            lr_num=args.lr_num,
            ngram_max=args.ngram_max,
            text_col=args.text_col,
        )
        payload = json.dumps(w)
        if args.out:
            with open(args.out, "w") as f:
                f.write(payload)
            print(f"wrote {args.out}")
        else:
            print(payload)
    finally:
        if own_session:
            spark.stop()
    return 0


def _ingest_main(argv: list[str], spark=None) -> int:
    """``ingest``: land a raw corpus (text-file dir, JSON-lines, or
    CSV/TSV) as a documents-schema parquet table, with line-format
    rejects quarantined to their own path — the shell front door to
    sources/corpus.py."""
    ap = argparse.ArgumentParser(prog="kcbdml9-spark ingest")
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--text-dir", help="directory of raw text files (one doc per file)")
    src.add_argument("--jsonl", help="JSON-lines path/glob")
    src.add_argument("--csv", help="CSV/TSV path/glob (line-oriented)")
    ap.add_argument("--out", required=True, help="documents parquet output path")
    ap.add_argument(
        "--rejects-out",
        default=None,
        help="parquet path for quarantined lines (default <out>_rejects)",
    )
    ap.add_argument(
        "--csv-columns",
        default="text",
        metavar="C,C,...",
        help="the CSV file's columns in order (documents-schema names;"
        " must include text)",
    )
    ap.add_argument("--csv-sep", default=",", help="field separator (\\t for TSV)")
    ap.add_argument(
        "--csv-header",
        action="store_true",
        help="drop lines equal to the header row sep.join(columns)",
    )
    ap.add_argument(
        "--epoch",
        type=int,
        default=0,
        help="batch sequence number: namespaces doc_ids as"
        " (epoch << 48) + h48 so successive ingestion batches satisfy"
        " the incremental curator's monotonic-id precondition",
    )
    args = ap.parse_args(argv)
    if not 0 <= args.epoch < (1 << 15):
        # one check for all three fronts: the library raises the same
        # bound, but only the CSV path's layout handler caught it —
        # the same bad flag must not traceback on one front and exit 2
        # on another
        print(
            f"ingest: --epoch must be in [0, {(1 << 15) - 1}], got"
            f" {args.epoch}",
            file=sys.stderr,
        )
        return 2

    from .sources.corpus import ingest_csv, ingest_jsonl, ingest_text_dir

    own_session = spark is None
    if own_session:
        from .session import get_spark

        spark = get_spark(app_name="kcbdml9-ingest")
    try:
        if args.text_dir:
            docs = ingest_text_dir(spark, args.text_dir, epoch=args.epoch)
            docs.write.mode("overwrite").parquet(args.out)
            print(f"wrote {args.out}")
        else:
            cleanup: list = []
            if args.jsonl:
                docs, rejects = ingest_jsonl(
                    spark, args.jsonl, cleanup=cleanup, epoch=args.epoch
                )
            else:
                # argparse renders a literal backslash-t; accept both
                sep = args.csv_sep.replace("\\t", "\t")
                cols = tuple(
                    c.strip()
                    for c in args.csv_columns.split(",")
                    if c.strip()
                )
                try:
                    docs, rejects = ingest_csv(
                        spark,
                        args.csv,
                        columns=cols,
                        sep=sep,
                        header=args.csv_header,
                        cleanup=cleanup,
                        epoch=args.epoch,
                    )
                except ValueError as e:  # bad --csv-columns: usage error
                    print(f"ingest: {e}", file=sys.stderr)
                    return 2
                if args.csv_header:
                    # a --csv-header that matched nothing
                    # means the declared layout disagrees with the
                    # file (wrong --csv-columns order, wrong
                    # --csv-sep) — warn before the header is silently
                    # ingested as data. limit(1) early-exits the scan.
                    from .sources.corpus import _csv_header_predicate

                    matched = (
                        spark.read.text(args.csv)
                        .where(_csv_header_predicate(cols, sep))
                        .limit(1)
                        .count()
                    )
                    if not matched:
                        print(
                            "ingest: warning: --csv-header is set but"
                            " no line matched the header"
                            f" {sep.join(cols)!r} — check"
                            " --csv-columns order and --csv-sep (the"
                            " real header line is being ingested as"
                            " a document)",
                            file=sys.stderr,
                        )
            docs.write.mode("overwrite").parquet(args.out)
            rej_path = args.rejects_out or f"{args.out}_rejects"
            rejects.write.mode("overwrite").parquet(rej_path)
            for f in cleanup:
                f.unpersist()
            print(f"wrote {args.out} (rejects: {rej_path})")
    finally:
        if own_session:
            spark.stop()
    return 0


def _export_shards_main(argv: list[str], spark=None) -> int:
    """``export-shards``: the deterministic training-shard export and
    its failed-shard retry (sinks/shards.py), from the shell — the
    operational feature the export's determinism exists for. A full
    export writes ``{out}/shard=K/`` dirs plus the recipe sidecar; a
    retry (``--only-shards``) recomputes and replaces ONLY the named
    shard dirs byte-identically, after verifying the sidecar matches
    this invocation's recipe/parameters."""
    ap = argparse.ArgumentParser(prog="kcbdml9-spark export-shards")
    src = ap.add_mutually_exclusive_group()
    src.add_argument(
        "--input", default=None, help="curated corpus parquet to export"
    )
    src.add_argument(
        "--sf",
        default=None,
        help="testdata dir; exports its documents table (demo path)",
    )
    ap.add_argument("--out", required=True, help="export root")
    ap.add_argument("--n-shards", type=int, required=True)
    ap.add_argument("--salt", type=int, default=0, help="epoch salt")
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument(
        "--where", default=None, help="SQL filter over the input"
    )
    ap.add_argument(
        "--only-shards",
        default=None,
        metavar="K,K,...",
        help="FAILED-SHARD RETRY: recompute + replace only these shard"
        " dirs (implies overwrite of exactly those dirs; the sidecar"
        " recipe check guards against mismatched parameters)",
    )
    ap.add_argument(
        "--overwrite",
        action="store_true",
        help="full export over an existing root (truncates it)",
    )
    ap.add_argument("--over-provision", type=int, default=16)
    ap.add_argument(
        "--target-task-bytes", type=int, default=128 << 20,
        help="size-derived cap on the exchange width",
    )
    ap.add_argument(
        "--writer-lock-ttl",
        type=float,
        default=None,
        metavar="SEC",
        help="RETRY ONLY: hold {out}/_writer.lock while replacing the"
        " named shards (single writer per export root); steal locks"
        " staler than SEC. A full export can't hold this lock: a"
        " fresh export's root must not pre-exist (the lock file would"
        " create it), and a full --overwrite's static truncate would"
        " delete the held lock mid-write",
    )
    args = ap.parse_args(argv)
    if args.input is None and args.sf is None:
        print("export-shards: need --input or --sf", file=sys.stderr)
        return 2
    if args.writer_lock_ttl is not None and args.only_shards is None:
        print(
            "export-shards: --writer-lock-ttl applies only to"
            " --only-shards retries (a full export either requires a"
            " fresh root or truncates it — both incompatible with a"
            " lock file inside the root)",
            file=sys.stderr,
        )
        return 2

    from contextlib import nullcontext

    from .queries import similarity as S
    from .sinks.shards import write_training_shards
    from .sources.parquet import read_table

    only = None
    if args.only_shards is not None:
        try:
            only = [int(s) for s in args.only_shards.split(",") if s.strip()]
        except ValueError:
            print(
                f"export-shards: bad --only-shards {args.only_shards!r}"
                " (want K,K,...)",
                file=sys.stderr,
            )
            return 2
        if not only:
            # an empty retry list (e.g. '' interpolated from an audit
            # that found nothing) must exit 2 like any other malformed
            # value, not surface the library's ValueError traceback
            print(
                "export-shards: --only-shards is empty — nothing to"
                " retry",
                file=sys.stderr,
            )
            return 2

    own_session = spark is None
    if own_session:
        from .session import get_spark

        spark = get_spark(app_name="kcbdml9-export-shards")
    lock_scope = S.scoped_writer_lock_ttl(args.writer_lock_ttl)
    try:
        lock_scope.__enter__()
        df = (
            spark.read.parquet(args.input)
            if args.input
            else read_table(spark, args.sf, "documents")
        )
        if args.where:
            df = df.where(args.where)
        mode = "overwrite" if (args.overwrite or only is not None) else "error"
        lock = (
            S._maybe_writer_lock(spark, args.out)
            if args.writer_lock_ttl is not None
            else nullcontext()
        )
        with lock:
            write_training_shards(
                df,
                args.out,
                n_shards=args.n_shards,
                id_col=args.id_col,
                salt=args.salt,
                mode=mode,
                over_provision=args.over_provision,
                only_shards=only,
                target_task_bytes=args.target_task_bytes,
            )
        what = f"shards {sorted(set(only))}" if only else f"{args.n_shards} shards"
        print(f"exported {what} to {args.out}")
    finally:
        lock_scope.__exit__(None, None, None)
        if own_session:
            spark.stop()
    return 0


def _audit_shards_main(argv: list[str], spark=None) -> int:
    """``audit-shards``: integrity-check a training-shard export
    against its sidecar recipe (and optionally a reference corpus) —
    prints one row per shard and exits 1 when any shard fails, so a
    pipeline can chain ``audit-shards`` → ``export-shards
    --only-shards`` mechanically."""
    ap = argparse.ArgumentParser(prog="kcbdml9-spark audit-shards")
    ap.add_argument("--path", required=True, help="export root")
    ap.add_argument(
        "--reference",
        default=None,
        help="original corpus parquet; enables missing/extra-row checks",
    )
    ap.add_argument(
        "--sf", default=None,
        help="testdata dir; its documents table is the reference",
    )
    ap.add_argument(
        "--out",
        default=None,
        help="write the full audit frame as parquet here; stdout then"
        " prints only FAILING shards plus a summary line — at a"
        " 10^6-shard export the per-shard report itself would be the"
        " driver bottleneck (one collected row per shard), so the"
        " report ships distributed and only failures surface",
    )
    args = ap.parse_args(argv)

    from .sinks.shards import audit_training_shards
    from .sources.parquet import read_table

    own_session = spark is None
    if own_session:
        from .session import get_spark

        spark = get_spark(app_name="kcbdml9-audit-shards")
    try:
        ref = None
        if args.reference:
            ref = spark.read.parquet(args.reference)
        elif args.sf:
            ref = read_table(spark, args.sf, "documents")
        from .sinks.shards import read_export_meta

        audit = audit_training_shards(spark, args.path, reference=ref)
        if args.out:
            # distributed report: the frame never rides the driver;
            # only failing rows (bounded by the failure count) and two
            # scalar counts are collected for the stdout summary
            audit.write.mode("overwrite").parquet(args.out)
            report = spark.read.parquet(args.out)
            rows = report.where(~report["ok"]).collect()
            n_audited = report.count()
            print(f"audit report: {n_audited} shards -> {args.out}")
        else:
            rows = audit.collect()
        n_shards = read_export_meta(spark, args.path)["n_shards"]
        bad = [r["shard"] for r in rows if not r["ok"]]
        for r in rows:
            print(
                f"shard={r['shard']} rows={r['n_rows']} files={r['n_files']}"
                f" bad_assign={r['n_bad_assign']} missing={r['n_missing']}"
                f" extra={r['n_extra']} ok={r['ok']}"
            )
        if bad:
            # split the repair hint: only in-range shards are
            # re-exportable; an out-of-range row is a STALE dir from a
            # wider export whose repair is deletion — feeding it to
            # --only-shards would raise
            retry = [k for k in bad if 0 <= k < n_shards]
            stale = [k for k in bad if not 0 <= k < n_shards]
            msg = "FAILED shards " + ",".join(str(k) for k in bad)
            if retry:
                msg += (
                    " — repair: export-shards --only-shards "
                    + ",".join(str(k) for k in retry)
                )
            if stale:
                msg += (
                    " — stale out-of-range dirs (delete them): "
                    + ", ".join(f"shard={k}" for k in stale)
                )
            print(msg, file=sys.stderr)
            return 1
        print("all shards ok")
    finally:
        if own_session:
            spark.stop()
    return 0


def _curate_main(argv: list[str], spark=None) -> int:
    """``curate``: the engine's core job from the shell — full-corpus
    curation (jobs/training_data.TrainingDataCurator.run) or the daily
    incremental batch (run_incremental, when ``--index`` is given).
    Closes the operational loop the other verbs bracket: ``ingest``
    lands the corpus, ``curate`` produces the kept set + decision record
    (and maintains the near-dup index artifact the NEXT day's increment
    needs), ``export-shards`` ships it. Per-reason decision counts print
    as the job summary.

    ``--run-root`` is the CRASH-SAFE orchestration of the same
    pipeline (jobs/runs.py): kept/decisions/index maintenance stage
    under a versioned run dir and publish at one run_meta record, so
    a mid-run crash can never tear the daily-incremental contract
    (archive = prior kept set, index in lockstep). First run full,
    later runs incremental against the last PUBLISHED run; recovery
    flags --retry-torn / --repair-index; exit 4 = a torn prior
    attempt needs one of them (stderr names which). ``--vacuum-runs``
    reclaims run dirs superseded by the latest full run's
    lineage, keeping ``--retain-runs`` (default 2) of them — run
    records and the standing archive are never touched."""
    ap = argparse.ArgumentParser(prog="kcbdml9-spark curate")
    ap.add_argument(
        "--docs",
        default=None,
        help="documents-schema parquet (the batch); required except"
        " for --status",
    )
    ap.add_argument("--out-kept", default=None, help="kept corpus parquet")
    ap.add_argument(
        "--out-decisions", default=None, help="decision-record parquet"
    )
    # crash-safe run-root mode: the root manages kept/
    # decisions/index itself — versioned run dirs, one meta commit
    ap.add_argument(
        "--run-root",
        default=None,
        metavar="ROOT",
        help="CRASH-SAFE MODE: stage kept+decisions+index maintenance"
        " under ROOT/runs/r{N} and publish with one run_meta record;"
        " first run is full, later runs incremental against the last"
        " published run (jobs/runs.py). Replaces --out-kept/"
        "--out-decisions/--index/--build-index/"
        "--extend-index.",
    )
    ap.add_argument(
        "--full",
        action="store_true",
        help="RUN-ROOT: force a periodic full re-curation + index"
        " rebuild instead of the default incremental",
    )
    ap.add_argument(
        "--retry-torn",
        action="store_true",
        help="RUN-ROOT: discard a crashed prior attempt's staged"
        " outputs and redo the batch",
    )
    ap.add_argument(
        "--repair-index",
        action="store_true",
        help="RUN-ROOT: a torn extend may have left partial postings —"
        " rebuild the index over the committed archive, then redo",
    )
    ap.add_argument(
        "--status",
        action="store_true",
        help="RUN-ROOT: read-only — list published runs and name any"
        " torn attempt + its recovery; the first move after a crash",
    )
    ap.add_argument(
        "--vacuum-runs",
        action="store_true",
        help="RUN-ROOT: delete run dirs superseded by the latest full"
        " run's lineage, keeping --retain-runs most recent of them"
        " (run records are never pruned; the standing archive is never"
        " touched)",
    )
    ap.add_argument(
        "--retain-runs",
        type=int,
        default=None,
        metavar="N",
        help="with --vacuum-runs: how many superseded run dirs to"
        " retain as a rollback window (default 2)",
    )
    ap.add_argument(
        "--index",
        default=None,
        help="INCREMENTAL: the persisted n-gram dedup index built over"
        " the kept archive (ids must be epoch-monotonic vs the batch)",
    )
    ap.add_argument(
        "--benchmark",
        default=None,
        help="FULL RUN: eval-set parquet (text column) to decontaminate"
        " against before curation",
    )
    ap.add_argument(
        "--build-index",
        default=None,
        metavar="PATH",
        help="FULL RUN: build the n-gram dedup index over the kept set"
        " here afterwards — the artifact the next day's --index needs",
    )
    ap.add_argument(
        "--extend-index",
        action="store_true",
        help="INCREMENTAL: append the batch's kept docs to --index"
        " afterwards, keeping it current for the next batch",
    )
    # quality-gate / near-dup thresholds (CurationConfig)
    ap.add_argument("--min-words", type=int, default=5)
    ap.add_argument("--max-stopword-ratio", type=float, default=0.9)
    ap.add_argument("--min-lexical-diversity", type=float, default=0.1)
    ap.add_argument("--jaccard-min", type=float, default=0.5)
    # full-run-only policy stages (run_incremental raises on these)
    ap.add_argument("--max-repeated-spans", type=int, default=None)
    ap.add_argument("--scrub-repeated-spans", action="store_true")
    ap.add_argument("--span-tokens", type=int, default=16)
    ap.add_argument("--min-rarity", type=float, default=None)
    ap.add_argument("--max-rarity", type=float, default=None)
    # trained model gate (the train -> curate loop)
    ap.add_argument(
        "--model-weights",
        default=None,
        metavar="JSON",
        help="weights file from the train verb; arms the model quality"
        " gate",
    )
    # None sentinels, real defaults applied after the weights check:
    # re-hardcoding the defaults in the inert-flag guard desyncs if
    # one drifts, and an EXPLICIT --model-ngram-max 2 without weights
    # must be caught too
    ap.add_argument("--min-model-mean-milli", type=int, default=None)
    ap.add_argument(
        "--model-ngram-max",
        type=int,
        default=None,
        help="MUST match the order the weights were trained with"
        " (default 2)",
    )
    ap.add_argument(
        "--writer-lock-ttl",
        type=float,
        default=None,
        metavar="SEC",
        help="hold the index writer lock while building/extending"
        " (single writer per index root); steal locks staler than SEC",
    )
    args = ap.parse_args(argv)

    if args.status and args.run_root is None:
        print(
            "curate: --status inspects a --run-root", file=sys.stderr
        )
        return 2
    if args.vacuum_runs and args.run_root is None:
        print(
            "curate: --vacuum-runs prunes a --run-root", file=sys.stderr
        )
        return 2
    if args.retain_runs is not None and not args.vacuum_runs:
        # inert-flag posture (the --writer-lock-ttl precedent): a
        # retention knob that guards nothing is a usage error
        print(
            "curate: --retain-runs tunes --vacuum-runs", file=sys.stderr
        )
        return 2
    if args.vacuum_runs and (args.status or args.docs is not None):
        print(
            "curate: --vacuum-runs is a standalone maintenance verb —"
            " run it without --docs/--status",
            file=sys.stderr,
        )
        return 2
    if args.docs is None and not (args.status or args.vacuum_runs):
        print("curate: --docs is required", file=sys.stderr)
        return 2
    if args.run_root is not None:
        managed = {
            "--out-kept": args.out_kept,
            "--out-decisions": args.out_decisions,
            "--index": args.index,
            "--build-index": args.build_index,
        }
        clashing = [k for k, v in managed.items() if v is not None]
        if args.extend_index:
            clashing.append("--extend-index")
        if clashing:
            print(
                "curate: --run-root manages outputs, archive and index"
                f" itself — drop {', '.join(clashing)}",
                file=sys.stderr,
            )
            return 2
    else:
        if args.out_kept is None or args.out_decisions is None:
            print(
                "curate: pass --out-kept and --out-decisions, or"
                " --run-root for the crash-safe managed layout",
                file=sys.stderr,
            )
            return 2
        if args.full or args.retry_torn or args.repair_index:
            print(
                "curate: --full/--retry-torn/--repair-index are"
                " --run-root recovery flags",
                file=sys.stderr,
            )
            return 2

    incremental = args.index is not None
    if incremental and args.benchmark is not None:
        print(
            "curate: --benchmark decontamination is a full-run stage;"
            " run it on the periodic full curation",
            file=sys.stderr,
        )
        return 2
    if incremental and args.build_index is not None:
        print(
            "curate: --build-index is the full run's artifact step; an"
            " incremental batch extends with --extend-index",
            file=sys.stderr,
        )
        return 2
    if args.extend_index and not incremental:
        print(
            "curate: --extend-index extends an incremental run's"
            " --index; a full run creates one with --build-index",
            file=sys.stderr,
        )
        return 2
    if args.writer_lock_ttl is not None and not (
        args.build_index is not None
        or args.extend_index
        or args.run_root is not None  # run-root always writes the index
    ):
        # mirror export-shards: an inapplicable lock flag must not be
        # a silent no-op the operator mistakes for protection
        print(
            "curate: --writer-lock-ttl guards the index write steps —"
            " pair it with --build-index or --extend-index",
            file=sys.stderr,
        )
        return 2
    if args.model_weights is None and (
        args.min_model_mean_milli is not None
        or args.model_ngram_max is not None
    ):
        # CurationConfig ignores both knobs when weights is None —
        # mirror the --writer-lock-ttl posture so an inert flag is a
        # usage error, never a no-op mistaken for a gate. None
        # sentinels, so an EXPLICITLY passed default value without
        # weights is caught too.
        print(
            "curate: --min-model-mean-milli / --model-ngram-max tune"
            " the model quality gate — they do nothing without"
            " --model-weights (the train verb's output)",
            file=sys.stderr,
        )
        return 2
    if incremental and (
        args.max_repeated_spans is not None
        or args.scrub_repeated_spans
        or args.min_rarity is not None
        or args.max_rarity is not None
    ):
        # same contract the library enforces (run_incremental raises):
        # surface it as a clean usage error, not a traceback
        print(
            "curate: span/rarity policies are full-corpus-statistics"
            " stages; apply them on the periodic full run",
            file=sys.stderr,
        )
        return 2

    import json

    from pyspark.sql import functions as F

    from .jobs.training_data import CurationConfig, TrainingDataCurator
    from .queries import similarity as S
    from .queries.dedup import build_dedup_index, extend_dedup_index

    weights = None
    if args.model_weights is not None:
        with open(args.model_weights) as f:
            weights = json.load(f)

    cfg = CurationConfig(
        min_words=args.min_words,
        max_stopword_ratio=args.max_stopword_ratio,
        min_lexical_diversity=args.min_lexical_diversity,
        jaccard_min=args.jaccard_min,
        max_repeated_spans=args.max_repeated_spans,
        scrub_repeated_spans=args.scrub_repeated_spans,
        span_tokens=args.span_tokens,
        min_rarity=args.min_rarity,
        max_rarity=args.max_rarity,
        quality_model_weights=weights,
        min_model_mean_milli=(
            0 if args.min_model_mean_milli is None
            else args.min_model_mean_milli
        ),
        quality_model_ngram_max=(
            2 if args.model_ngram_max is None else args.model_ngram_max
        ),
    )

    own_session = spark is None
    if own_session:
        from .session import get_spark

        spark = get_spark(app_name="kcbdml9-curate")
    lock_scope = S.scoped_writer_lock_ttl(args.writer_lock_ttl)
    cleanup: list = []
    try:
        if args.run_root is not None:
            from .jobs.runs import (
                RunUsageError,
                TornRunError,
                curate_run_root,
                run_status,
            )

            if args.vacuum_runs:
                from .jobs.runs import vacuum_runs

                with lock_scope:
                    deleted = vacuum_runs(
                        spark,
                        args.run_root,
                        retain=(
                            2 if args.retain_runs is None
                            else args.retain_runs
                        ),
                    )
                for d in deleted:
                    print(f"vacuumed {d}")
                print(f"vacuumed {len(deleted)} superseded run dir(s)")
                return 0

            if args.status:
                st = run_status(spark, args.run_root)
                for r in st["runs"]:
                    gone = "" if r.get("present", True) else " [vacuumed]"
                    print(f"r{r['run_id']} ({r['mode']}) {r['dir']}{gone}")
                if st["torn"] is not None:
                    t = st["torn"]
                    print(
                        f"TORN r{t['run_id']} [{t['state']}] at"
                        f" {t['dir']} — recovery: {t['recovery']}"
                    )
                elif not st["runs"]:
                    print("no runs published")
                return 0

            try:
                with lock_scope:
                    docs = spark.read.parquet(args.docs)
                    bench = (
                        spark.read.parquet(args.benchmark)
                        if args.benchmark is not None
                        else None
                    )
                    summary = curate_run_root(
                        spark,
                        args.run_root,
                        docs,
                        cfg,
                        benchmark=bench,
                        full=args.full,
                        retry_torn=args.retry_torn,
                        repair_index=args.repair_index,
                        cleanup=cleanup,
                    )
            except TornRunError as e:
                print(f"curate: {e}", file=sys.stderr)
                return 4
            except RunUsageError as e:
                # ONLY the library's pre-stage mode/flag refusals map
                # to exit 2: a broad ValueError catch would disguise
                # data-integrity failures — e.g. a monotonic-id
                # violation — as flag mistakes and discard their
                # tracebacks
                print(f"curate: {e}", file=sys.stderr)
                return 2
            for r in (
                spark.read.parquet(f"{summary['dir']}/decisions")
                .groupBy("reason")
                .agg(F.count(F.lit(1)).alias("n"))
                .orderBy("reason")
                .collect()
            ):
                print(f"{r['reason']}: {r['n']}")
            if summary.get("already_published"):
                print(
                    f"batch already published as r{summary['run_id']}"
                    f" ({summary['mode']}) at {summary['dir']} —"
                    " nothing recomputed"
                )
            else:
                print(
                    f"published run r{summary['run_id']}"
                    f" ({summary['mode']}) at {summary['dir']}"
                )
            return 0
        with lock_scope:
            docs = spark.read.parquet(args.docs)
            curator = TrainingDataCurator(cfg)
            if incremental:
                kept, dec = curator.run_incremental(
                    docs, args.index, cleanup=cleanup
                )
            else:
                bench = (
                    spark.read.parquet(args.benchmark)
                    if args.benchmark is not None
                    else None
                )
                kept, dec = curator.run(docs, bench, cleanup=cleanup)
            kept.write.mode("overwrite").parquet(args.out_kept)
            dec.write.mode("overwrite").parquet(args.out_decisions)
            # the index maintenance consumes the WRITTEN kept set:
            # same rows, and the read-back frame keeps the artifact
            # step decoupled from the run's cached lineage
            kept_stored = spark.read.parquet(args.out_kept).select(
                "doc_id", "text"
            )
            if args.build_index is not None:
                build_dedup_index(kept_stored, args.build_index)
            if args.extend_index:
                extend_dedup_index(kept_stored, args.index)
        for r in (
            spark.read.parquet(args.out_decisions)
            .groupBy("reason")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy("reason")
            .collect()
        ):
            print(f"{r['reason']}: {r['n']}")
        print(f"wrote {args.out_kept} + {args.out_decisions}")
    finally:
        for f in cleanup:
            f.unpersist()
        if own_session:
            spark.stop()
    return 0


def main(argv: list[str] | None = None) -> int:
    if argv is None:
        argv = sys.argv[1:]
    if argv and argv[0] == "curate":
        return _curate_main(argv[1:])
    if argv and argv[0] == "index":
        return _index_main(argv[1:])
    if argv and argv[0] == "train":
        return _train_main(argv[1:])
    if argv and argv[0] == "ingest":
        return _ingest_main(argv[1:])
    if argv and argv[0] == "export-shards":
        return _export_shards_main(argv[1:])
    if argv and argv[0] == "audit-shards":
        return _audit_shards_main(argv[1:])
    ap = argparse.ArgumentParser(prog="kcbdml9-spark")
    ap.add_argument("query", nargs="?", help="registered query name")
    ap.add_argument("--sf", default="/root/testdata/sf0.01", help="testdata dir")
    ap.add_argument("--out", help="write full result as parquet to this path")
    ap.add_argument("--limit", type=int, default=20, help="rows to print")
    ap.add_argument(
        "--explain", action="store_true", help="print the physical plan only"
    )
    ap.add_argument(
        "--list", action="store_true", help="list registered queries and exit"
    )
    args = ap.parse_args(argv)

    from .queries import QUERIES

    if args.list or not args.query:
        for name, spec in QUERIES.items():
            oracle = "oracle" if spec.oracle else "rows-only"
            print(f"{name}  [{oracle}]")
        return 0
    spec = QUERIES.get(args.query)
    if spec is None:
        print(f"unknown query: {args.query} (try --list)", file=sys.stderr)
        return 2

    from .session import get_spark

    spark = get_spark(app_name=f"kcbdml9-{args.query}")
    try:
        df = spec.fn(spark, args.sf)
        if args.explain:
            df.explain("formatted")
        elif args.out:
            df.write.mode("overwrite").parquet(args.out)
            print(f"wrote {args.out}")
        else:
            df.show(args.limit, truncate=False)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
