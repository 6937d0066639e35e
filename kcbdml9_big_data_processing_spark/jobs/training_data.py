"""Training-data curation pipeline: the end-to-end composition of the
LLM-pipeline operators into the job a pre-training corpus actually
runs — per-doc quality signals -> quality gate -> exact dedup ->
near-dedup (complete Jaccard pair join -> connected components ->
canonical-per-cluster) -> an auditable keep/drop decision record plus
the kept corpus.

No reference counterpart (the reference is a telco-metrics engine);
this is the north-star extension composed entirely from the already
oracle-checked building blocks: quality expressions (queries/text.py),
``shingle_docs`` + ``_exact_jaccard_pairs`` + ``connected_components``
(queries/dedup.py).

Design points a 100 TB corpus forces:

- **Audit trail is a first-class output.** Every input doc appears in
  exactly one of (kept, decisions-with-drop-reason); debugging a
  filtered corpus without it means re-running the pipeline.
- **Stage order is cost order.** Quality gating is scan-speed and runs
  first; exact dedup is one shuffle on a 32-byte hash; the pairwise
  near-dup stage — the only super-linear stage — sees only the
  survivors.
- **Only hashes and ids shuffle.** Document text never enters a
  shuffle: quality signals are per-row projections, exact dedup
  shuffles sha256 digests, near-dup shuffles shingle fingerprints and
  (doc_a, doc_b) pairs. The final kept-corpus join re-attaches text by
  doc_id.
- **Lineage-bounded iteration.** The CC loop checkpoints per round
  (reliable checkpoint on a real cluster — see
  dedup._truncate_lineage).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.text_quality import (
    contamination_flags,
    rarity_scores,
    remove_repeated_spans,
    repeated_spans,
)
from ..queries.dedup import (
    _exact_jaccard_pairs,
    connected_components,
    shingle_docs,
)
from ..queries.text import _STOPWORDS, _tokens

#: decision-record reasons, in stage order
REASON_CONTAMINATED = "contaminated"
REASON_QUALITY = "quality"
REASON_RARITY = "rarity"
REASON_EXACT_DUP = "exact_dup"
REASON_SPAN_DUP = "span_dup"
REASON_NEAR_DUP = "near_dup"
REASON_KEPT = "kept"


@dataclass
class CurationConfig:
    """Thresholds for the quality gate + the near-dup decision.

    Defaults are permissive-but-real: the gate drops degenerate docs
    (too short, stopword-saturated, copy-paste low-diversity), not
    borderline prose. ``jaccard_min`` is the near-dup threshold the
    pair join verifies exactly."""

    min_words: int = 5
    max_stopword_ratio: float = 0.9
    min_lexical_diversity: float = 0.1
    jaccard_min: float = 0.5
    #: opt-in span-dedup policy: drop docs whose count of distinct
    #: cross-document repeated ``span_tokens``-token windows exceeds
    #: this (None = stage off; the exact-substring-dedup policy on top
    #: of operators/text_quality.repeated_spans' detection)
    max_repeated_spans: int | None = None
    #: opt-in span-SCRUB policy (mutually exclusive with
    #: max_repeated_spans): instead of dropping span-heavy docs,
    #: REMOVE every cross-document repeated span from every doc
    #: (operators/text_quality.remove_repeated_spans — the Lee et al.
    #: deployment shape: the spans go, the documents stay), after
    #: exact dedup and before near-dup, so downstream stages and the
    #: kept corpus see the scrubbed text. Docs whose text is entirely
    #: repeated spans scrub to empty and drop with reason span_dup.
    scrub_repeated_spans: bool = False
    span_tokens: int = 16
    #: opt-in rarity-band policy: drop docs whose corpus-statistics
    #: rarity score (operators/text_quality.rarity_scores — mean
    #: fixed-point inverse unigram frequency) falls outside
    #: [min_rarity, max_rarity]. Low scores are boilerplate built from
    #: the corpus's most common tokens; extreme highs are typically
    #: garbage/binary soup. None bounds = stage off.
    min_rarity: float | None = None
    max_rarity: float | None = None
    #: opt-in MODEL quality gate: trained integer milli-weights for
    #: operators/quality_model.classifier_score (e.g. fitted by
    #: train_classifier — the train -> curate loop). When set, the
    #: quality gate ADDITIONALLY requires a mean feature weight of at
    #: least ``min_model_mean_milli``: ``score * 1000 >=
    #: min_model_mean_milli * n_feats``, exact integer arithmetic so
    #: the keep/drop decision is engine- and order-independent. The
    #: model folds into the existing quality-signal scan (same single
    #: pass, zero extra shuffle). None = stage off (the heuristic
    #: gate alone, the oracle-graded default).
    quality_model_weights: "Sequence[int] | None" = None
    min_model_mean_milli: int = 0
    #: n-gram order the weights were TRAINED with — must match
    #: train_classifier's ngram_max or the gate scores over a
    #: different feature distribution than the model was fitted on
    #: (silently mis-calibrated, no error). Bundle this with the
    #: weights artifact.
    quality_model_ngram_max: int = 2
    #: reliable CC checkpointing (None = auto-detect setCheckpointDir)
    reliable_checkpoint: bool | None = None


class TrainingDataCurator:
    """run(docs) -> (kept, decisions).

    ``docs`` must carry (doc_id, text); extra columns ride along into
    ``kept``. ``decisions`` is (doc_id, reason, canonical_id) with one
    row per INPUT doc: reason in {quality, rarity [when a rarity
    bound is set], exact_dup, span_dup [when max_repeated_spans is
    set], near_dup, kept}, canonical_id = the retained duplicate for
    dropped dup docs, null otherwise.
    """

    def __init__(self, config: CurationConfig | None = None):
        self.config = config or CurationConfig()

    # -- stages (each takes/returns DataFrames; composable + testable) --

    def quality_signals(self, docs: DataFrame) -> DataFrame:
        """(doc_id, n_words, stopword_ratio, lexical_diversity) — the
        same arithmetic as the oracle-checked text_metrics query. With
        ``quality_model_weights`` configured, the same single scan also
        carries the classifier's (model_n_feats, model_score) — the
        model rides the signal projection instead of costing a second
        pass + join."""
        toks = _tokens()
        n_words = F.size(toks)
        sw = F.array([F.lit(w) for w in _STOPWORDS])
        n_stop = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
        cols = [
            F.col("doc_id"),
            n_words.cast("long").alias("n_words"),
            (n_stop.cast("double") / n_words.cast("double")).alias(
                "stopword_ratio"
            ),
            (
                F.size(F.array_distinct(toks)).cast("double")
                / n_words.cast("double")
            ).alias("lexical_diversity"),
        ]
        if self.config.quality_model_weights is None:
            return docs.select(*cols)
        from ..operators.quality_model import score_expr

        return docs.select(
            *cols,
            F.inline(
                F.array(
                    score_expr(
                        self.config.quality_model_weights,
                        ngram_max=self.config.quality_model_ngram_max,
                    )
                )
            ),
        ).withColumnsRenamed(
            {"n_feats": "model_n_feats", "score": "model_score"}
        )

    def quality_gate(
        self, docs: DataFrame, cleanup: list[DataFrame] | None = None
    ) -> tuple[DataFrame, DataFrame]:
        """Split docs into (passing, failing-doc_ids) by the config
        thresholds. One scan, no shuffle. With ``cleanup`` given, the
        tiny (doc_id, q_ok) flag frame is persisted (and appended for
        the caller to release): both outputs read it, and without the
        cache each consumer re-runs the tokenize + stopword-filter
        signal scan — the per-row arithmetic is the expensive part of
        this stage, not the flags."""
        cfg = self.config
        sig = self.quality_signals(docs)
        # coalesce: a null text yields null signals (size/division over
        # null under ANSI defaults), and a null predicate would exclude
        # the doc from BOTH where(ok) and where(~ok) — it must land in
        # the quality-drop bucket so the decision record keeps its
        # one-row-per-input-doc invariant
        conj = (
            (F.col("n_words") >= cfg.min_words)
            & (F.col("stopword_ratio") <= cfg.max_stopword_ratio)
            & (F.col("lexical_diversity") >= cfg.min_lexical_diversity)
        )
        if cfg.quality_model_weights is not None:
            # mean feature weight >= threshold, kept in exact integer
            # arithmetic: score * 1000 >= thr * n_feats
            conj = conj & (
                F.col("model_score") * F.lit(1000)
                >= F.lit(int(cfg.min_model_mean_milli)) * F.col("model_n_feats")
            )
        ok = F.coalesce(conj, F.lit(False))
        flagged = sig.select("doc_id", ok.alias("q_ok"))
        if cleanup is not None:
            flagged = flagged.persist()
            cleanup.append(flagged)
        passing = docs.join(
            flagged.where(F.col("q_ok")).select("doc_id"), "doc_id", "left_semi"
        )
        failing = flagged.where(~F.col("q_ok")).select("doc_id")
        return passing, failing

    def exact_dedup(
        self, docs: DataFrame, cleanup: list[DataFrame] | None = None
    ) -> tuple[DataFrame, DataFrame]:
        """Keep the smallest doc_id per normalized content hash; return
        (kept-docs, dropped (doc_id, canonical_id)). One shuffle on the
        sha256 digest — content never shuffles. With ``cleanup`` given,
        the hash-tagged frame is persisted (and appended for the caller
        to release): kept and dropped split it with complementary
        filters, and every downstream consumer (shingling, the kept
        join, the decision branches) would otherwise re-run the sha256
        scan + canonical-hash join per consumer."""
        from ..queries.dedup import content_hash_expr

        hashed = docs.withColumn("content_hash", content_hash_expr())
        canon = hashed.groupBy("content_hash").agg(
            F.min("doc_id").alias("canonical_id")
        )
        tagged = hashed.join(canon, "content_hash")
        if cleanup is not None:
            tagged = tagged.persist()
            cleanup.append(tagged)
        kept = tagged.where(F.col("doc_id") == F.col("canonical_id")).drop(
            "content_hash", "canonical_id"
        )
        dropped = tagged.where(F.col("doc_id") != F.col("canonical_id")).select(
            "doc_id", "canonical_id"
        )
        return kept, dropped

    def near_dedup(self, docs: DataFrame) -> tuple[DataFrame, DataFrame]:
        """Cluster docs whose word-3-gram Jaccard >= jaccard_min and
        keep one canonical doc per cluster (smallest doc_id). Returns
        (kept-docs, dropped (doc_id, canonical_id)). The pair join is
        the complete inverted-index formulation (df-capped postings
        self-join — never all-pairs); clustering is the checkpointed CC
        loop."""
        prepped = shingle_docs(docs).persist()
        # eager fill: without it the shingle cache races its pair-stage
        # consumers (the stop-shingle agg and the capped postings)
        # inside one job and the scan double-computes
        prepped.count()
        cleanup: list[DataFrame] = [prepped]
        try:
            pairs = _exact_jaccard_pairs(
                prepped, jaccard_min=self.config.jaccard_min, cleanup=cleanup
            ).select("doc_a", "doc_b")
            # the CC loop checkpoints per round, so the returned labels
            # carry no lineage back to the persisted frames — safe to
            # release them in the finally
            labels = connected_components(
                docs.select("doc_id"),
                pairs,
                reliable_checkpoint=self.config.reliable_checkpoint,
            )
        finally:
            for frame in cleanup:
                frame.unpersist()
        dropped = labels.where(F.col("doc_id") != F.col("canonical_id"))
        kept = docs.join(
            labels.where(F.col("doc_id") == F.col("canonical_id")).select(
                "doc_id"
            ),
            "doc_id",
            "left_semi",
        )
        return kept, dropped

    def semantic_dedup(
        self,
        docs: DataFrame,
        cos_min: float = 0.9,
        id_col: str = "doc_id",
        label_col: str = "label",
        emb_col: str = "emb",
        materialize: bool = True,
        prepared_pairs: DataFrame | None = None,
    ) -> tuple[DataFrame, DataFrame]:
        """SemDeDup-style embedding near-dedup (Abbas et al. 2023):
        cluster docs whose embedding cosine >= ``cos_min`` — pairs
        from the label×LSH-band blocked join
        (queries/similarity.embedding_near_dup_pairs), clusters from
        the checkpointed CC loop — and keep the smallest id per
        cluster. Returns (kept-docs, dropped (doc_id, canonical_id)).

        This is the stage to run when the corpus carries an embedding
        column: it catches paraphrase-level duplication that the
        lexical n-gram stage can't see. ``run()`` doesn't call it
        because the plain documents table has no embeddings; a corpus
        that does composes it after :meth:`near_dedup`.

        A corpus already carrying the near-dup prep columns
        (``nf``/``sig``) flows through prepped — the pair stage reuses
        them instead of recomputing norm + plane signature per call;
        a caller whose prepped corpus is durable (the per-process
        scratch store behind queries/similarity.semantic_dedup_clusters)
        passes ``materialize=False`` to skip the persist barrier too.

        ``prepared_pairs`` lets such a caller hand in the
        (doc_a, doc_b) pair plan it prepared once per process
        (registry._prepared_plan) instead of re-constructing +
        re-analyzing the band-join/cosine tree per call — valid only
        when the pair plan is fully static (no per-call persist in its
        tree, i.e. built with ``materialize=False`` over a durable
        corpus). Execution is unchanged: the pairs still scan, join,
        and filter in full every call."""
        from ..queries.similarity import embedding_near_dup_pairs

        cleanup: list[DataFrame] = []
        try:
            if prepared_pairs is not None:
                pairs = prepared_pairs
            else:
                sel = [
                    F.col(id_col).alias("vec_id"),
                    F.col(label_col).alias("label"),
                    F.col(emb_col).alias("emb"),
                ]
                if {"nf", "sig"}.issubset(docs.columns):
                    sel += [F.col("nf"), F.col("sig")]
                corpus = docs.select(*sel)
                pairs = embedding_near_dup_pairs(
                    corpus,
                    cos_min=cos_min,
                    cleanup=cleanup,
                    materialize=materialize,
                ).select(
                    F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
                )
            labels = connected_components(
                docs.select(F.col(id_col).alias("doc_id")),
                pairs,
                reliable_checkpoint=self.config.reliable_checkpoint,
            )
        finally:
            for frame in cleanup:
                frame.unpersist()
        dropped = labels.where(F.col("doc_id") != F.col("canonical_id"))
        kept = docs.join(
            labels.where(F.col("doc_id") == F.col("canonical_id")).select(
                F.col("doc_id").alias(id_col)
            ),
            id_col,
            "left_semi",
        )
        return kept, dropped

    # -- the pipeline ---------------------------------------------------

    def run(
        self,
        docs: DataFrame,
        benchmark: DataFrame | None = None,
        cleanup: list[DataFrame] | None = None,
    ) -> tuple[DataFrame, DataFrame]:
        """Curate ``docs``; with ``benchmark`` set, decontaminate first
        (drop docs sharing any word-3-gram with the eval set — the
        cheapest stage: one corpus scan against a broadcast shingle
        set, so it runs before everything else).

        With ``cleanup`` given, stage outputs that feed multiple
        consumers (the quality flags and the hash-tagged exact-dedup
        frame) are persisted and appended to it: the decision record
        unions four branches that each reach back into those stages,
        and without the caches the quality-signal scan runs ~4x and the
        exact-dedup join ~3x per materialization. The caller unpersists
        after its results are materialized (or lineage-truncated — see
        queries/curation.curation_run). Without ``cleanup`` the
        pipeline stays fully lazy and cache-free."""
        null_canon = F.lit(None).cast("long")
        c_fail = None
        if benchmark is not None:
            flags = contamination_flags(docs, benchmark)
            c_fail = flags.where(F.col("contaminated")).select("doc_id")
            docs = docs.join(c_fail, "doc_id", "left_anti")
        q_pass, q_fail = self.quality_gate(docs, cleanup=cleanup)
        r_fail = None
        if (
            self.config.min_rarity is not None
            or self.config.max_rarity is not None
        ):
            # rarity-band policy (opt-in): corpus-statistics scores
            # computed over the QUALITY SURVIVORS (the statistics a
            # gate should reflect — dropped garbage must not skew the
            # unigram distribution the band is judged against)
            scores = rarity_scores(q_pass)
            cond = F.lit(False)
            if self.config.min_rarity is not None:
                cond = cond | (F.col("rarity") < self.config.min_rarity)
            if self.config.max_rarity is not None:
                cond = cond | (F.col("rarity") > self.config.max_rarity)
            r_fail = scores.where(cond).select("doc_id")
            q_pass = q_pass.join(r_fail, "doc_id", "left_anti")
        e_kept, e_dropped = self.exact_dedup(q_pass, cleanup=cleanup)
        s_fail = None
        if (
            self.config.max_repeated_spans is not None
            and self.config.scrub_repeated_spans
        ):
            raise ValueError(
                "max_repeated_spans (drop policy) and"
                " scrub_repeated_spans (transform policy) are mutually"
                " exclusive"
            )
        if self.config.scrub_repeated_spans:
            # span-SCRUB policy (opt-in): rewrite every doc with its
            # cross-document repeated spans excised — near-dup and the
            # kept corpus consume the scrubbed text. Runs after exact
            # dedup (a verbatim redelivery must collapse as exact_dup,
            # not shred both copies to nothing) and before near-dup
            # (scrubbing removes exactly the shared material, so docs
            # that only LOOKED similar through boilerplate no longer
            # pair). Docs scrubbed to empty were pure duplication —
            # they drop with reason span_dup.
            scrubbed = remove_repeated_spans(
                e_kept, span_tokens=self.config.span_tokens
            )
            e_kept = e_kept.drop("text").join(
                scrubbed.select(
                    "doc_id", F.col("clean_text").alias("text")
                ),
                "doc_id",
            )
            s_fail = e_kept.where(
                F.length(F.trim(F.col("text"))) == 0
            ).select("doc_id")
            e_kept = e_kept.join(s_fail, "doc_id", "left_anti")
        if self.config.max_repeated_spans is not None:
            # span-dedup policy (opt-in): the detection operator ranks
            # docs by how many of their spans repeat verbatim in OTHER
            # docs; over-threshold docs drop before the (pricier)
            # pairwise near-dup stage. Runs after exact dedup so a
            # verbatim redelivery doesn't count as a span repeat.
            counts = repeated_spans(
                e_kept, span_tokens=self.config.span_tokens, cleanup=cleanup
            )
            s_fail = counts.where(
                F.col("n_repeated_spans") > self.config.max_repeated_spans
            ).select("doc_id")
            e_kept = e_kept.join(s_fail, "doc_id", "left_anti")
        n_kept, n_dropped = self.near_dedup(e_kept)

        decisions = (
            q_fail.select(
                "doc_id",
                F.lit(REASON_QUALITY).alias("reason"),
                null_canon.alias("canonical_id"),
            )
            .unionAll(
                e_dropped.select(
                    "doc_id", F.lit(REASON_EXACT_DUP).alias("reason"), "canonical_id"
                )
            )
            .unionAll(
                n_dropped.select(
                    "doc_id", F.lit(REASON_NEAR_DUP).alias("reason"), "canonical_id"
                )
            )
            .unionAll(
                n_kept.select(
                    "doc_id",
                    F.lit(REASON_KEPT).alias("reason"),
                    null_canon.alias("canonical_id"),
                )
            )
        )
        if s_fail is not None:
            decisions = s_fail.select(
                "doc_id",
                F.lit(REASON_SPAN_DUP).alias("reason"),
                null_canon.alias("canonical_id"),
            ).unionAll(decisions)
        if r_fail is not None:
            decisions = r_fail.select(
                "doc_id",
                F.lit(REASON_RARITY).alias("reason"),
                null_canon.alias("canonical_id"),
            ).unionAll(decisions)
        if c_fail is not None:
            decisions = c_fail.select(
                "doc_id",
                F.lit(REASON_CONTAMINATED).alias("reason"),
                null_canon.alias("canonical_id"),
            ).unionAll(decisions)
        return n_kept, decisions

    def run_incremental(
        self,
        batch: DataFrame,
        dedup_index_path: str,
        cleanup: list[DataFrame] | None = None,
    ) -> tuple[DataFrame, DataFrame]:
        """Curate an incoming batch against a previously-curated
        archive WITHOUT re-pairing the archive — the daily-ingest
        shape at 100 TB, where re-running run() over archive∪batch
        would pay O(archive) every day for an O(batch) question.

        Preconditions (the production contract):

        - the near-dup index at ``dedup_index_path`` was built
          (queries.dedup.build_dedup_index) over exactly the archive:
          the KEPT output of a previous :meth:`run` (pairwise
          dup-free — run()'s own pinned invariant), extended with each
          later batch's kept docs;
        - ids are monotonic: every archive doc_id precedes every
          batch doc_id (the natural ingest order).

        Under those, the batch's decision record EQUALS
        ``run(archive ∪ batch)`` restricted to batch ids (pinned in
        tests/test_pipeline.py): the kept archive contributes no
        archive-archive pairs, so the index's batch-touching pairs ARE
        the full pair set, and min-label canonicals agree because
        archive ids are smaller. Archived docs are immutable here —
        this path never revokes a previously-kept doc (with
        non-monotonic ids a full run could prefer a batch doc as
        canonical; the incremental path keeps the archive doc and
        drops the batch copy instead).

        Cost shape: quality gate is one batch scan; exact dedup
        shuffles 32-byte hashes (batch grouped within itself, then a
        hash join against the archive's STORED hash->canonical map —
        the ``hashes`` artifact the index build/extend maintains, so
        archive text is NEVER scanned here; an index without it
        raises, naming the rebuild); near-dup reads the persisted
        postings pruned to the batch's shingle vocabulary (the
        measured-flat dedup_vs_index series) and the CC loop runs over
        batch-touching pairs only (pinned in
        tests/test_pipeline.py::test_run_incremental_never_scans_archive).
        The monotonic-id guard reads the ``hashes_max`` sidecar first —
        O(1) when the bound already precedes the batch, falling back
        to the precise anti-join scan only on a possible violation or
        retry.

        Span/rarity policies are corpus-statistics stages — configure
        them on the periodic full run; this path raises if they are
        set. The model quality gate (quality_model_weights) composes
        fine: it is per-row.

        With ``cleanup`` given (the same convention as :meth:`run`),
        the three frames that feed multiple downstream actions — the
        hash-tagged exact frame, the batch-touching pairs, and the CC
        labels — are persisted and appended for the caller to release;
        the labels frame's lazy lineage reaches back through the whole
        index pair join, so a cache-free consumer materializing kept +
        each decision branch re-executes the O(batch·neighborhood)
        pair pipeline per branch. Without ``cleanup`` the outputs stay
        lazy and cache-free.

        Measured shape (tools/scale_probe.py, curator_vs_archive):
        fixed batch, archive×4 → **5.5 → 4.7 s (exponent −0.12)** —
        flat, as designed. One operational caveat the probe surfaced:
        run sessions are not free — a heavy :meth:`run` in the SAME
        session pins its CC loop's localCheckpoint RDD blocks for the
        process lifetime (catalog clearCache cannot see them), and
        with the archive curated in-session the identical timed runs
        measured 22× slower. Curate the archive in its own job (the
        production shape anyway), or unpersist the leftover RDDs via
        ``sparkContext._jsc.getPersistentRDDs()`` before latency-
        sensitive work."""
        from ..queries.dedup import (
            content_hash_expr,
            dedup_against_index,
            dedup_index_hashes,
            dedup_index_hashes_max,
        )

        cfg = self.config
        if (
            cfg.max_repeated_spans is not None
            or cfg.scrub_repeated_spans
            or cfg.min_rarity is not None
            or cfg.max_rarity is not None
        ):
            raise ValueError(
                "span/rarity policies are full-corpus-statistics stages;"
                " run_incremental supports the core quality -> exact ->"
                " near path — apply policies on the periodic full run"
            )
        null_canon = F.lit(None).cast("long")
        spark = batch.sparkSession
        # pin ONE index generation for the whole run: the exact stage
        # (stored hash map) and the near stage (postings search) must
        # read the SAME committed generation — resolved fresh here
        # (uncached, the writer posture), then identity-resolved by
        # the index readers below. The caller's
        # post-decision extend resolves fresh too; a rebuild committing
        # BETWEEN this run and that extend is two concurrent writers —
        # outside the single-writer-per-root contract.
        from ..queries.similarity import _gen_current

        dedup_index_path = _gen_current(spark, dedup_index_path, cached=False)
        q_pass, q_fail = self.quality_gate(batch, cleanup=cleanup)

        # exact: within-batch min-id canonical, then archive wins any
        # hash it already holds (archive ids precede batch ids, so the
        # archive canonical IS the full-run canonical). The archive
        # side is the index's STORED map — O(index-rows of 40-byte
        # hashes), not O(archive text).
        hashed = q_pass.withColumn("content_hash", content_hash_expr())
        batch_canon = hashed.groupBy("content_hash").agg(
            F.min("doc_id").alias("batch_canonical")
        )

        stored = dedup_index_hashes(spark, dedup_index_path)
        # prune the stored map to the batch's hashes BEFORE any
        # aggregation: the map is scanned (embarrassingly parallel,
        # ~40 bytes/doc) but never shuffled — the broadcast semi-join
        # keeps per-batch shuffle work at batch scale, and the
        # survivor set is small enough that the later left join
        # broadcasts it. At extreme batch sizes the broadcast of batch
        # hashes is the bound (40 B/doc -> ~400 MB at 10M docs/day);
        # past that, lay the hashes table out bucketed by content_hash
        # (sinks/bucketed.py) so the semi-join co-locates instead.
        arch_canon = (
            stored.join(
                F.broadcast(hashed.select("content_hash")),
                "content_hash",
                "left_semi",
            )
            .groupBy("content_hash")
            .agg(F.min("canonical_id").alias("archive_canonical"))
        )
        if cleanup is not None:
            # cleanup materializes anyway — cheaply assert the
            # load-bearing monotonic-id precondition. Fast path: the
            # index's hashes_max sidecar is an O(1) upper bound on
            # every id in the stored map — if it already precedes the
            # batch, the guard holds with no scan of the map at all.
            batch_min = batch.agg(F.min("doc_id").alias("m")).first()["m"]
            sidecar_max = dedup_index_hashes_max(spark, dedup_index_path)
            if (
                sidecar_max is None
                or batch_min is None
                or sidecar_max >= batch_min
            ):
                # precise check: a sidecar at/past batch_min is a
                # genuine violation OR a crashed run's own appends (a
                # retry) OR a crash-overstated sidecar — only the map
                # itself can tell them apart. The batch's OWN (hash,
                # min-id) pairs are anti-joined out first: a crashed
                # run that already extended the index appends exactly
                # those pairs, and a retry must not read its own
                # appends as a violating archive. Broadcast anti-join
                # — the map is scanned in parallel, never shuffled.
                own = batch_canon.select(
                    "content_hash",
                    F.col("batch_canonical").alias("canonical_id"),
                )
                arch_max = (
                    stored.join(
                        F.broadcast(own),
                        ["content_hash", "canonical_id"],
                        "left_anti",
                    )
                    .agg(F.max("canonical_id").alias("m"))
                    .first()["m"]
                )
                if (
                    arch_max is not None
                    and batch_min is not None
                    and arch_max >= batch_min
                ):
                    raise ValueError(
                        "monotonic-id precondition violated: archive"
                        f" max doc_id {arch_max} >= batch min doc_id"
                        f" {batch_min}; run_incremental's full-run"
                        " equivalence requires every archive id to"
                        " precede every batch id"
                    )
        tagged = hashed.join(batch_canon, "content_hash").join(
            arch_canon, "content_hash", "left"
        )
        # self-append defense: a stored-map entry at or
        # after this batch's own within-batch canonical can only be
        # this batch's append from an out-of-order run that extended
        # the index before committing decisions — under the monotonic
        # contract every TRUE archive canonical precedes every batch
        # id. Nulling it re-resolves those hashes within the batch,
        # so the exact stage reproduces the first run's decisions
        # instead of marking every kept doc an exact-dup of ITSELF.
        # Defense in depth, not a retry guarantee: the near stage is
        # not safe against re-curating an already-extended batch (see
        # extend_dedup_index's orchestration-order docstring — commit
        # decisions FIRST). Pure expression — nothing extra scans or
        # shuffles. Known residual (accepted): a caller
        # that redelivers an ARCHIVED doc with its ORIGINAL archive id
        # as "batch" input is indistinguishable from a legit retry at
        # this layer — the doc re-keeps instead of raising. The guard
        # still catches every such replay whose batch also contains
        # ids below some other true-archive id; only a replay of the
        # max-id region masks fully. Both inputs breach the monotonic
        # contract; the retry is the operationally common one, so the
        # trade goes to idempotence.
        tagged = tagged.withColumn(
            "archive_canonical",
            F.when(
                F.col("archive_canonical") < F.col("batch_canonical"),
                F.col("archive_canonical"),
            ),
        )
        if cleanup is not None:
            tagged = tagged.persist()
            cleanup.append(tagged)
        e_kept = tagged.where(
            F.col("archive_canonical").isNull()
            & (F.col("doc_id") == F.col("batch_canonical"))
        ).drop("content_hash", "batch_canonical", "archive_canonical")
        e_dropped = tagged.where(
            F.col("archive_canonical").isNotNull()
            | (F.col("doc_id") != F.col("batch_canonical"))
        ).select(
            "doc_id",
            F.coalesce("archive_canonical", "batch_canonical").alias(
                "canonical_id"
            ),
        )

        # near: batch-touching pairs from the persisted postings (the
        # proven search == full-dedup-restricted contract), CC over
        # exactly that pair set — archive nodes enter only if touched
        pairs = dedup_against_index(
            batch.sparkSession,
            dedup_index_path,
            e_kept.select("doc_id", "text"),
            jaccard_min=cfg.jaccard_min,
        ).select("doc_a", "doc_b")
        if cleanup is not None:
            pairs = pairs.persist()
            pairs.count()
            cleanup.append(pairs)
        touched = pairs.select(
            F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
        )
        nodes = e_kept.select("doc_id").unionAll(touched).distinct()
        labels = connected_components(
            nodes, pairs, reliable_checkpoint=cfg.reliable_checkpoint
        )
        if cleanup is not None:
            # the CC result's lazy tail (isolated-node union) reaches
            # back through `nodes` into the pair pipeline — pin it so
            # the decision branches below read one materialization
            labels = labels.persist()
            labels.count()
            cleanup.append(labels)
        batch_labels = labels.join(
            e_kept.select("doc_id"), "doc_id", "left_semi"
        )
        n_dropped = batch_labels.where(
            F.col("doc_id") != F.col("canonical_id")
        )
        n_kept = e_kept.join(
            batch_labels.where(
                F.col("doc_id") == F.col("canonical_id")
            ).select("doc_id"),
            "doc_id",
            "left_semi",
        )

        decisions = (
            q_fail.select(
                "doc_id",
                F.lit(REASON_QUALITY).alias("reason"),
                null_canon.alias("canonical_id"),
            )
            .unionAll(
                e_dropped.select(
                    "doc_id",
                    F.lit(REASON_EXACT_DUP).alias("reason"),
                    "canonical_id",
                )
            )
            .unionAll(
                n_dropped.select(
                    "doc_id",
                    F.lit(REASON_NEAR_DUP).alias("reason"),
                    "canonical_id",
                )
            )
            .unionAll(
                n_kept.select(
                    "doc_id",
                    F.lit(REASON_KEPT).alias("reason"),
                    null_canon.alias("canonical_id"),
                )
            )
        )
        return n_kept, decisions
