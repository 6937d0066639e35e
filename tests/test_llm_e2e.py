"""End-to-end LLM training-data pipeline: the full production story
composed through the real public APIs in one test — raw JSONL ingest
(with quarantine) → curation (quality gate + exact/near dedup +
decision record) → deterministic shard export (with recipe sidecar) →
audit (clean) → simulated shard loss → audit detects exactly it →
only_shards repair → audit clean again, shard byte-identical.

The streaming lambda architecture has tests/test_lambda_e2e.py; this
is its batch-curation sibling. Every stage is covered unit-wise
elsewhere — what THIS test pins is the composition: the frames each
stage hands the next (ingest's documents schema feeding the curator,
the curator's kept frame feeding the export, the audit's failing rows
feeding only_shards) stay mutually compatible as each evolves.
"""

from __future__ import annotations

import glob
import json
import os
import shutil

from pyspark.sql import functions as F


def test_ingest_curate_export_audit_repair_roundtrip(spark, tmp_path):
    from kcbdml9_big_data_processing_spark.jobs.training_data import (
        CurationConfig,
        TrainingDataCurator,
    )
    from kcbdml9_big_data_processing_spark.sinks.shards import (
        audit_training_shards,
        read_export_meta,
        read_training_shards,
        write_training_shards,
    )
    from kcbdml9_big_data_processing_spark.sources.corpus import ingest_jsonl

    # --- raw corpus: good docs, an exact duplicate, a near-duplicate,
    # degenerate garbage, and two malformed lines for the quarantine
    def doc(i, text):
        return json.dumps({"id": i, "text": text})

    base = (
        "the quick brown fox jumps over the lazy dog and then "
        "wanders far across the wide green valley looking for food"
    )
    lines = [
        doc(1, base),
        # exact duplicate of 1 under the curator's normalization
        # (lowercase + collapse whitespace) while staying a DISTINCT
        # raw line — a verbatim copy would already be deduplicated at
        # ingest (content-derived doc_id -> duplicate_doc_id reject)
        doc(2, base.upper()),
        doc(3, base + " tonight"),  # near-duplicate of 1
        doc(
            4,
            "an entirely different document about spark shuffles and "
            "partition pruning with plenty of distinct words to pass "
            "every quality heuristic in the default configuration",
        ),
        doc(5, "tiny"),  # fails min_words
        '{"id": 6, "text": ',  # malformed JSON -> quarantine
        "not json at all",  # -> quarantine
    ]
    raw = tmp_path / "raw.jsonl"
    raw.write_text("\n".join(lines) + "\n")

    cleanup: list = []
    docs, rejects = ingest_jsonl(spark, str(raw), cleanup=cleanup)
    try:
        assert rejects.count() == 2  # both bad lines quarantined, verbatim
        assert docs.count() == 5
        assert {"doc_id", "text"} <= set(docs.columns)

        # --- curate: the kept set and the total decision record
        curator = TrainingDataCurator(CurationConfig(jaccard_min=0.3))
        kept, decisions = curator.run(docs, cleanup=cleanup)
        kept_rows = {r["doc_id"]: r["text"] for r in kept.collect()}
        dec = {r["doc_id"]: r["reason"] for r in decisions.collect()}
        # decisions partition the INPUT: one verdict per ingested doc
        assert set(dec) == {r["doc_id"] for r in docs.collect()}
        by_text = {r["text"]: r["doc_id"] for r in docs.collect()}
        assert by_text[base] in kept_rows or base in kept_rows.values()
        reasons = sorted(dec.values())
        assert "kept" in reasons and "quality" in reasons
        assert any(r in ("exact_dup", "near_dup") for r in reasons)
        # the survivor set: one of the dup family + the distinct doc
        assert len(kept_rows) == 2

        # --- export the curated corpus as training shards
        out = str(tmp_path / "shards")
        write_training_shards(kept, out, n_shards=2, salt=1)
        assert read_export_meta(spark, out)["n_shards"] == 2
        back = read_training_shards(spark, out)
        assert {r["doc_id"] for r in back.collect()} == set(kept_rows)

        # --- audit clean end to end against the curated reference
        rep = {
            r["shard"]: r.asDict()
            for r in audit_training_shards(spark, out, reference=kept).collect()
        }
        assert set(rep) == {0, 1} and all(r["ok"] for r in rep.values())

        # --- lose a shard; the audit names exactly it; repair it;
        # the repaired shard is byte-identical and the audit is clean
        lost = next(k for k, r in rep.items() if r["n_rows"] > 0)
        want = read_training_shards(spark, out, shard=lost, ordered=True).collect()
        shutil.rmtree(f"{out}/shard={lost}")
        rep = {
            r["shard"]: r.asDict()
            for r in audit_training_shards(spark, out, reference=kept).collect()
        }
        bad = [k for k, r in rep.items() if not r["ok"]]
        assert bad == [lost]
        write_training_shards(
            kept, out, n_shards=2, salt=1, mode="overwrite", only_shards=[lost]
        )
        got = read_training_shards(spark, out, shard=lost, ordered=True).collect()
        assert got == want
        rep = {
            r["shard"]: r.asDict()
            for r in audit_training_shards(spark, out, reference=kept).collect()
        }
        assert all(r["ok"] for r in rep.values())
        assert all(
            len(glob.glob(f"{out}/shard={k}/*.parquet")) == 1
            for k, r in rep.items()
            if r["n_rows"] > 0
        )
        assert os.path.exists(f"{out}/_export_meta.json")
    finally:
        for f in cleanup:
            f.unpersist()


def test_daily_incremental_ingest_composes_with_epoch_ids(spark, tmp_path):
    """Day-2 of the production story: ingest (epoch-keyed) →
    run_incremental against the day-1 archive + persisted index →
    extend index → export. The r13 epoch prefix exists because raw
    h48 ingest ids INTERLEAVE across batches, violating
    run_incremental's monotonic-id precondition (canonical = min id =
    first seen) — this test pins both halves: with ``epoch`` the whole
    day-2 flow composes and the decisions point at day-1 canonicals;
    without it the guard refuses loudly instead of silently
    mis-canonicalizing."""
    import json

    from conftest import h48_py as h48

    from kcbdml9_big_data_processing_spark.jobs.training_data import (
        CurationConfig,
        TrainingDataCurator,
    )
    from kcbdml9_big_data_processing_spark.queries.dedup import (
        build_dedup_index,
        extend_dedup_index,
    )
    from kcbdml9_big_data_processing_spark.sources.corpus import ingest_jsonl

    def jsonl(path, texts):
        path.write_text(
            "\n".join(json.dumps({"text": t}) for t in texts) + "\n"
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
    day0 = tmp_path / "day0.jsonl"
    jsonl(day0, [base, other])

    curator = TrainingDataCurator(CurationConfig(jaccard_min=0.3))
    kept0, _ = curator.run(ingest_jsonl(spark, str(day0))[0])
    kept0 = kept0.select("doc_id", "text")
    archive_ids = {r["doc_id"] for r in kept0.collect()}
    assert archive_ids == {h48(base), h48(other)}
    idx = str(tmp_path / "ngram_idx")
    build_dedup_index(kept0, idx)

    # day-1 batch: near-dup of base, normalized exact dup of other,
    # and a genuinely new doc
    fresh = (
        "a third topic entirely concerning watermarks state stores "
        "and checkpoint recovery across streaming micro batch "
        "executions with many further distinct words"
    )
    day1 = tmp_path / "day1.jsonl"
    jsonl(day1, [base + " tonight", other.upper(), fresh])

    batch1 = ingest_jsonl(spark, str(day1), epoch=1)[0]
    ids1 = {r["text"]: r["doc_id"] for r in batch1.collect()}
    assert all(i >= (1 << 48) for i in ids1.values())  # namespaced
    kept1, dec1 = curator.run_incremental(batch1, idx)
    dec = {r["doc_id"]: (r["reason"], r["canonical_id"]) for r in dec1.collect()}
    assert set(dec) == set(ids1.values())  # verdict per batch doc
    assert dec[ids1[other.upper()]] == ("exact_dup", h48(other))
    assert dec[ids1[base + " tonight"]] == ("near_dup", h48(base))
    assert dec[ids1[fresh]] == ("kept", None)
    assert {r["doc_id"] for r in kept1.collect()} == {ids1[fresh]}

    # the index extends with the batch survivors and sees them
    extend_dedup_index(kept1.select("doc_id", "text"), idx)

    # WITHOUT the epoch prefix the same batch's raw h48 ids interleave
    # with the archive's and the guard must refuse — pick a fresh text
    # whose h48 provably precedes the archive max (deterministic
    # search over a literal suffix)
    lo = next(
        t
        for t in (f"{fresh} variant number {i}" for i in range(64))
        if h48(t) < max(archive_ids)
    )
    day1_raw = tmp_path / "day1_raw.jsonl"
    jsonl(day1_raw, [lo])
    batch_raw = ingest_jsonl(spark, str(day1_raw))[0]
    import pytest as _pytest

    # the guard piggybacks on the cleanup materialization (documented:
    # it's free when the caller persists anyway) — pass cleanup to arm
    # it, as the production daily job does
    guard_cleanup: list = []
    try:
        with _pytest.raises(ValueError, match="monotonic"):
            curator.run_incremental(batch_raw, idx, cleanup=guard_cleanup)
    finally:
        for f in guard_cleanup:
            f.unpersist()

    # epoch bounds are validated
    with _pytest.raises(ValueError, match="epoch"):
        ingest_jsonl(spark, str(day1), epoch=1 << 15)


def test_lambda_handoff_stream_landing_feeds_incremental_curator(
    spark, tmp_path
):
    """The LAMBDA HANDOFF: the speed layer (streaming curated ingest)
    lands quality-passing, within-stream-deduplicated documents into a
    parquet landing area with epoch-namespaced content ids
    (sources.corpus.content_doc_ids — raw crawl streams carry no ids),
    and the batch layer curates the landed day as run_incremental's
    batch against the day-0 archive + persisted index. What only this
    composition exercises: the stream's state-store dedup is
    WITHIN-STREAM only — a document already in the ARCHIVE sails
    through the speed layer and must be caught by the batch exact
    stage via the index's stored hash map; the landed frame carries
    the stream's extra columns (ts, content_hash) and the curator must
    consume it unchanged; and both layers must agree on content
    identity (curate_stream now shares queries.dedup.content_hash_expr
    instead of a hand-copied hash)."""
    import datetime as dt
    import json

    from pyspark.sql import types as T

    from conftest import h48_py as h48

    from kcbdml9_big_data_processing_spark.jobs.training_data import (
        CurationConfig,
        TrainingDataCurator,
    )
    from kcbdml9_big_data_processing_spark.queries.dedup import (
        build_dedup_index,
    )
    from kcbdml9_big_data_processing_spark.sources.corpus import (
        content_doc_ids,
        ingest_jsonl,
        unique_doc_ids,
    )
    from kcbdml9_big_data_processing_spark.sources.files import (
        read_file_stream,
    )
    from kcbdml9_big_data_processing_spark.streaming.curation import (
        IngestCurationConfig,
        start_curated_ingest,
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

    # --- day 0 (batch layer): curate the archive, build the index
    day0 = tmp_path / "day0.jsonl"
    day0.write_text(
        "\n".join(json.dumps({"text": t}) for t in (base, other)) + "\n"
    )
    curator = TrainingDataCurator(CurationConfig(jaccard_min=0.3))
    kept0, _ = curator.run(ingest_jsonl(spark, str(day0))[0])
    kept0 = kept0.select("doc_id", "text")
    idx = str(tmp_path / "ngram_idx")
    build_dedup_index(kept0, idx)

    # --- day 1 (speed layer): raw crawl stream of (ts, text) — NO ids
    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType(), True),
            T.StructField("text", T.StringType(), True),
        ]
    )
    t0 = dt.datetime(2024, 1, 2, 0, 0, 0)
    rows = [
        (t0, fresh),  # genuinely new
        (t0, fresh),  # redelivery -> suppressed WITHIN the stream
        (t0, other),  # already archived -> passes the stream, batch's job
        (t0, base + " tonight"),  # near-dup of base -> batch's job
        (t0, "tiny"),  # quality-fail -> never lands
    ]
    src = str(tmp_path / "crawl")
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    landing = str(tmp_path / "landing")

    def land(batch_df, batch_id):
        content_doc_ids(batch_df, epoch=1).write.mode("append").parquet(
            landing
        )

    q = start_curated_ingest(
        read_file_stream(spark, src, schema, fmt="parquet"),
        land,
        str(tmp_path / "ckpt"),
        IngestCurationConfig(),
        query_name="lambda_handoff_ingest",
        trigger_available_now=True,
    )
    assert q.awaitTermination(120), "availableNow drain did not finish"

    # FRESH gets redelivered twice more, hours apart: the first
    # redelivery is still suppressed (its hash is in state) but
    # advances the watermark past the stored event time, EVICTING the
    # hash at batch end; the second redelivery is then re-admitted —
    # the bounded-state trade streaming/curation.py documents — so the
    # landing holds the same doc_id twice across files. That is the
    # case unique_doc_ids exists for at the batch layer's read.
    for i, delta_h in enumerate((1, 2), start=2):
        spark.createDataFrame(
            [(t0 + dt.timedelta(hours=delta_h), fresh)], schema
        ).coalesce(1).write.mode("append").parquet(src)
        qn = start_curated_ingest(
            read_file_stream(spark, src, schema, fmt="parquet"),
            land,
            str(tmp_path / "ckpt"),
            IngestCurationConfig(),
            query_name=f"lambda_handoff_ingest_{i}",
            trigger_available_now=True,
        )
        assert qn.awaitTermination(120), "availableNow drain timed out"

    raw_landing = spark.read.parquet(landing)
    assert raw_landing.count() == 4  # the re-admitted dup landed
    assert raw_landing.select("doc_id").distinct().count() == 3
    landed = unique_doc_ids(raw_landing)
    landed_rows = {r["text"]: r for r in landed.collect()}
    # stream-side guarantees: quality-fail never landed, the
    # redelivered doc landed ONCE, extra columns rode along
    assert set(landed_rows) == {fresh, other, base + " tonight"}
    assert landed.count() == 3
    assert {"ts", "content_hash", "doc_id"} <= set(landed.columns)
    assert all(r["doc_id"] >= (1 << 48) for r in landed_rows.values())

    # --- day 1 (batch layer): the landed frame IS the batch
    kept1, dec1 = curator.run_incremental(landed, idx)
    dec = {
        r["doc_id"]: (r["reason"], r["canonical_id"]) for r in dec1.collect()
    }
    assert dec[landed_rows[other]["doc_id"]] == ("exact_dup", h48(other))
    assert dec[landed_rows[base + " tonight"]["doc_id"]] == (
        "near_dup",
        h48(base),
    )
    assert dec[landed_rows[fresh]["doc_id"]] == ("kept", None)
    assert {r["doc_id"] for r in kept1.collect()} == {
        landed_rows[fresh]["doc_id"]
    }
