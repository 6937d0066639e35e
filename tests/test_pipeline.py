"""End-to-end training-data curation pipeline (jobs/training_data.py):
known-answer behavior on a hand-built corpus, plus the structural
invariants a corpus-curation run must satisfy on real data — the
decision record partitions the input, kept docs are dup-free (exact
AND near), canonical choices are minimal ids.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kcbdml9_big_data_processing_spark.jobs.training_data import (
    REASON_EXACT_DUP,
    REASON_KEPT,
    REASON_NEAR_DUP,
    REASON_QUALITY,
    CurationConfig,
    TrainingDataCurator,
)

# enough filler variety to pass the quality gate (>= 5 words, diverse)
_BASE = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"


@pytest.fixture(scope="module")
def tiny_corpus(spark):
    rows = [
        # 1 and 2: exact duplicates after normalization (ws + case)
        (1, _BASE + " kilo lima"),
        (2, "  " + _BASE.upper() + "   KILO    LIMA "),
        # 3: near-dup of 1 (drops the last token -> Jaccard >= 0.5)
        (3, _BASE + " kilo"),
        # 4: unrelated clean doc
        (4, "mike november oscar papa quebec romeo sierra tango uniform"),
        # 5: too short -> quality drop
        (5, "tiny doc"),
        # 6: stopword-saturated -> quality drop
        (6, "the the the the the the the the the a of to in is"),
        # 7: near-zero lexical diversity (1/15 < 0.1) -> quality drop
        (7, " ".join(["word"] * 15)),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_known_answer_decisions(spark, tiny_corpus):
    kept, decisions = TrainingDataCurator().run(tiny_corpus)
    dec = {r["doc_id"]: (r["reason"], r["canonical_id"]) for r in decisions.collect()}
    assert dec[5] == (REASON_QUALITY, None)
    assert dec[6] == (REASON_QUALITY, None)
    assert dec[7] == (REASON_QUALITY, None)
    # 2 is an exact dup of 1 (lower id wins); 3 a near-dup of 1
    assert dec[2] == (REASON_EXACT_DUP, 1)
    assert dec[3] == (REASON_NEAR_DUP, 1)
    assert dec[1] == (REASON_KEPT, None)
    assert dec[4] == (REASON_KEPT, None)
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 4]
    # kept keeps the full doc payload
    assert set(kept.columns) == {"doc_id", "text"}


def test_decisions_partition_the_input(spark, tiny_corpus):
    kept, decisions = TrainingDataCurator().run(tiny_corpus)
    n_input = tiny_corpus.count()
    assert decisions.count() == n_input
    assert decisions.select("doc_id").distinct().count() == n_input
    kept_ids = {r["doc_id"] for r in kept.collect()}
    dec_kept = {
        r["doc_id"]
        for r in decisions.where(F.col("reason") == REASON_KEPT).collect()
    }
    assert kept_ids == dec_kept


def test_real_corpus_invariants(spark):
    """Run the full pipeline on the driver's sf0.001 documents and
    assert the invariants that define a curated corpus:

    1. decision record partitions the input (one row per input doc);
    2. kept set has zero exact dups (distinct normalized hashes);
    3. kept set has zero near-dup pairs — re-running the complete
       Jaccard pair join ON THE KEPT SET returns empty (transitive
       clusters collapse to one representative, and cross-cluster
       pairs don't exist by definition of connected components);
    4. every dropped dup names a kept (or itself-dropped-to-kept)
       canonical that is <= its own id (min-label choice).
    """
    from kcbdml9_big_data_processing_spark.queries.dedup import (
        _exact_jaccard_pairs,
        shingle_docs,
    )
    from kcbdml9_big_data_processing_spark.sources.parquet import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    # append a near-dup + an exact dup so the dedup stages are
    # non-vacuous on this corpus (driver testdata has no natural dups)
    first = docs.orderBy("doc_id").limit(1)
    extra = first.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), F.col("text")
    )
    corpus = docs.unionAll(extra)

    kept, decisions = TrainingDataCurator().run(corpus)
    n_input = corpus.count()
    assert decisions.count() == n_input
    assert decisions.select("doc_id").distinct().count() == n_input

    norm = F.sha2(
        F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), 256
    )
    n_kept = kept.count()
    assert kept.select(norm.alias("h")).distinct().count() == n_kept

    prepped = shingle_docs(kept).persist()
    prepped.count()
    assert _exact_jaccard_pairs(prepped).count() == 0
    prepped.unpersist()

    dropped = decisions.where(
        F.col("reason").isin(REASON_EXACT_DUP, REASON_NEAR_DUP)
    )
    assert dropped.where(F.col("canonical_id") > F.col("doc_id")).count() == 0
    assert dropped.where(F.col("canonical_id").isNull()).count() == 0
    # the synthetic exact dup collapsed onto its original
    assert dropped.where(F.col("doc_id") >= 1_000_000).count() == 1


def test_config_thresholds_apply(spark, tiny_corpus):
    """A stricter min_words sweeps more docs into the quality bucket;
    a higher jaccard threshold keeps the near-dup pair apart."""
    strict = TrainingDataCurator(CurationConfig(min_words=100))
    kept, decisions = strict.run(tiny_corpus)
    assert kept.count() == 0
    assert (
        decisions.where(F.col("reason") == REASON_QUALITY).count()
        == tiny_corpus.count()
    )

    loose = TrainingDataCurator(CurationConfig(jaccard_min=0.99))
    kept, decisions = loose.run(tiny_corpus)
    # doc 3 (near-dup at J~0.85) now survives; doc 2 still exact-dup
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 3, 4]


def test_repetition_signals_known_answer(spark):
    from kcbdml9_big_data_processing_spark.operators.text_quality import (
        repetition_signals,
    )

    rows = [
        # 6 words, all distinct -> no repetition anywhere
        (1, "alpha bravo charlie delta echo foxtrot"),
        # "spam" 3x of 6 words (4 distinct) -> dup_word 1/3,
        # top_word 0.5; grams: 4 total ("spam spam spam","spam spam
        # alpha","spam alpha beta","alpha beta gamma") -> dup_3gram 0.0
        (2, "spam spam spam alpha beta gamma"),
        # looped phrase: "a b c a b c a b c" -> 9 words/3 uniq -> 2/3;
        # grams: 7 total, 3 distinct ("a b c","b c a","c a b") -> 4/7
        (3, "a b c a b c a b c"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (
            round(r["dup_word_frac"], 6),
            round(r["top_word_frac"], 6),
            round(r["dup_3gram_frac"], 6),
        )
        for r in repetition_signals(docs).collect()
    }
    assert got[1] == (0.0, round(1 / 6, 6), 0.0)
    assert got[2] == (round(1 / 3, 6), 0.5, 0.0)
    assert got[3] == (round(2 / 3, 6), round(1 / 3, 6), round(4 / 7, 6))


def test_contamination_flags_known_answer(spark):
    from kcbdml9_big_data_processing_spark.operators.text_quality import (
        contamination_flags,
    )

    docs = spark.createDataFrame(
        [
            # shares the benchmark's "quick brown fox" 3-gram (case-insensitive)
            (1, "The QUICK brown fox jumps over the lazy dog"),
            # same words, different order -> no shared 3-gram
            (2, "brown quick fox dog lazy the over jumps"),
            (3, "completely unrelated text about spark joins"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [("q1", "what does the quick brown fox do")],
        "qid string, text string",
    )
    got = {
        r["doc_id"]: (r["contaminated"], r["n_contaminated_ngrams"])
        for r in contamination_flags(docs, bench).collect()
    }
    assert got[1][0] is True and got[1][1] >= 1
    assert got[2] == (False, 0)
    assert got[3] == (False, 0)


def test_contamination_flags_keeps_null_text_docs(spark):
    # r7 ADVICE: a doc whose text is NULL must still get its
    # (doc_id, 0, false) row — one row per input doc, always.
    from kcbdml9_big_data_processing_spark.operators.text_quality import (
        contamination_flags,
    )

    docs = spark.createDataFrame(
        [(1, "the quick brown fox runs"), (2, None), (3, "")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [("q1", "the quick brown fox")], "qid string, text string"
    )
    got = {
        r["doc_id"]: (r["contaminated"], r["n_contaminated_ngrams"])
        for r in contamination_flags(docs, bench).collect()
    }
    assert set(got) == {1, 2, 3}
    assert got[1][0] is True
    assert got[2] == (False, 0)
    assert got[3] == (False, 0)


def test_pipeline_decontaminates_first(spark, tiny_corpus):
    from kcbdml9_big_data_processing_spark.jobs.training_data import (
        REASON_CONTAMINATED,
    )

    # benchmark shares doc 4's "mike november oscar" 3-gram
    bench = spark.createDataFrame(
        [("q1", "mike november oscar papa")], "qid string, text string"
    )
    kept, decisions = TrainingDataCurator().run(tiny_corpus, benchmark=bench)
    dec = {r["doc_id"]: r["reason"] for r in decisions.collect()}
    assert dec[4] == REASON_CONTAMINATED
    # decision record still partitions the input
    assert decisions.count() == tiny_corpus.count()
    assert sorted(r["doc_id"] for r in kept.collect()) == [1]


def test_semantic_dedup_collapses_perturbed_embeddings(spark):
    """SemDeDup stage: the embeddings table + a tiny-perturbation copy
    of every vector collapses back to one representative per original
    (perturbed cosine ~0.9997 >= 0.9), while distinct random vectors
    (pairwise cosine ~0) all survive; canonical ids are minimal."""
    from kcbdml9_big_data_processing_spark.jobs.training_data import (
        TrainingDataCurator,
    )
    from kcbdml9_big_data_processing_spark.sources.parquet import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    base = emb.select(
        F.col("vec_id").alias("doc_id"),
        "label",
        F.expr("transform(embedding, x -> cast(x as double))").alias("emb"),
    )
    perturbed = base.select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        "label",
        F.expr(
            "transform(emb, x -> x + 0.002)"
        ).alias("emb"),
    )
    corpus = base.unionAll(perturbed)
    n_orig = base.count()

    kept, dropped = TrainingDataCurator().semantic_dedup(corpus)
    kept_ids = sorted(r["doc_id"] for r in kept.collect())
    # every original survives, every perturbed copy collapses onto it
    assert len(kept_ids) == n_orig
    assert all(i < 10_000_000 for i in kept_ids)
    drops = {r["doc_id"]: r["canonical_id"] for r in dropped.collect()}
    assert len(drops) == n_orig
    for did, canon in drops.items():
        assert did >= 10_000_000 and canon == did - 10_000_000


def test_quantile_prune_known_answer(spark):
    from kcbdml9_big_data_processing_spark.operators.text_quality import (
        quantile_prune,
    )

    rows = [
        # group a: scores 5,4,3,2 -> keep_frac 0.5 keeps top 2 (ids 1,2)
        (1, "a", 5.0), (2, "a", 4.0), (3, "a", 3.0), (4, "a", 2.0),
        # group b: 3 rows -> ceil(1.5)=2 kept; tie at 9.0 resolves to
        # the smaller id (5), so kept = {7 (10.0), 5 (9.0)}, not 6
        (5, "b", 9.0), (6, "b", 9.0), (7, "b", 10.0),
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, score double")
    kept = {
        r["doc_id"]
        for r in quantile_prune(df, "score", 0.5, by="lang").collect()
    }
    assert kept == {1, 2, 5, 7}
    # ungrouped: 7 rows -> ceil(3.5)=4 kept, global top-4 by score
    kept_g = {
        r["doc_id"] for r in quantile_prune(df, "score", 0.5).collect()
    }
    assert kept_g == {7, 5, 6, 1}
    # determinism across repartitioning
    kept_r = {
        r["doc_id"]
        for r in quantile_prune(df.repartition(7), "score", 0.5, by="lang").collect()
    }
    assert kept_r == kept


def test_deterministic_sample_nested_and_stable(spark):
    from kcbdml9_big_data_processing_spark.operators.sampling import (
        deterministic_sample,
    )
    from kcbdml9_big_data_processing_spark.sources.parquet import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id"
    )
    n = docs.count()
    s10 = {r["doc_id"] for r in deterministic_sample(docs, 0.10).collect()}
    s50 = {r["doc_id"] for r in deterministic_sample(docs, 0.50).collect()}
    # roughly proportional (hash uniformity) and strictly nested
    assert abs(len(s50) - 0.5 * n) < 0.15 * n
    assert abs(len(s10) - 0.1 * n) < 0.08 * n
    assert s10 <= s50
    # identical under repartitioning (pure function of ids)
    s10b = {
        r["doc_id"]
        for r in deterministic_sample(docs.repartition(13), 0.10).collect()
    }
    assert s10b == s10


def test_weighted_mix_rates_and_default(spark):
    from kcbdml9_big_data_processing_spark.operators.sampling import (
        weighted_mix,
    )

    rows = [(i, "web" if i % 3 else "books") for i in range(3000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    mixed = weighted_mix(df, {"books": 1.0, "web": 0.1}, by="source")
    by_src = {
        r["source"]: r["n"]
        for r in mixed.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    n_books = 1000  # i % 3 == 0
    n_web = 2000
    assert by_src["books"] == n_books  # rate 1.0 keeps everything
    assert abs(by_src.get("web", 0) - 0.1 * n_web) < 0.06 * n_web
    # unknown sources drop by default
    extra = spark.createDataFrame([(99999, "crawl")], "doc_id long, source string")
    assert weighted_mix(df.unionAll(extra), {"books": 1.0}, by="source").where(
        F.col("source") == "crawl"
    ).count() == 0


def test_pack_sequences_greedy_budget_and_stability(spark):
    """Sequence packing: greedy budget fill in id order within a
    shard, exclusive-prefix semantics (a doc straddling the boundary
    stays in the earlier sequence), globally unique seq ids across
    shards, and repartition-stability."""
    from kcbdml9_big_data_processing_spark.operators.packing import (
        pack_sequences,
    )

    # single shard (ids all ≡ 0 mod 1): budget 10, token counts 4,4,4,4
    rows = [(i, " ".join(["w"] * 4)) for i in range(4)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["seq_id"], r["n_tokens"])
        for r in pack_sequences(df, 10, shards=1).collect()
    }
    # prefixes 0,4,8,12 -> sequences 0,0,0,1: doc 2 (prefix 8 < 10)
    # starts in seq 0 even though it overshoots the budget
    assert [got[i][0] for i in range(4)] == [0, 0, 0, 1]
    assert all(got[i][1] == 4 for i in range(4))

    # multiple shards: seq ids never collide across shards, and the
    # assignment is a pure function of ids (repartitioning-stable)
    rows = [(i, " ".join(["w"] * (1 + i % 7))) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = {r["doc_id"]: r["seq_id"] for r in pack_sequences(df, 16, shards=4).collect()}
    b = {
        r["doc_id"]: r["seq_id"]
        for r in pack_sequences(df.repartition(13), 16, shards=4).collect()
    }
    assert a == b
    shard_of = {d: s >> 40 for d, s in a.items()}
    assert all(shard_of[d] == d % 4 for d in shard_of)


def test_sample_and_mix_agree_on_every_fraction(spark):
    """The two sampling operators share one threshold rounding rule
    (advisor r5: ceil-vs-truncate drift): for any fraction — including
    ones that are NOT exact 1e-6 multiples — deterministic_sample and
    a single-source weighted_mix keep the IDENTICAL id set."""
    from kcbdml9_big_data_processing_spark.operators.sampling import (
        deterministic_sample,
        weighted_mix,
    )

    rows = [(i, "only") for i in range(5000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    for frac in (0.1, 0.25, 1 / 3, 0.0000015, 0.9999999):
        a = {r["doc_id"] for r in deterministic_sample(df, frac).collect()}
        b = {
            r["doc_id"]
            for r in weighted_mix(df, {"only": frac}, by="source").collect()
        }
        assert a == b, frac


def test_split_assign_partitions_and_is_growth_stable(spark):
    from kcbdml9_big_data_processing_spark.operators.sampling import (
        split_assign,
    )

    docs = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    fracs = {"train": 0.8, "val": 0.1, "test": 0.1}
    got = split_assign(docs, fracs).select("doc_id", "split").collect()
    by_doc = {r["doc_id"]: r["split"] for r in got}
    # fractions summing to 1.0 partition the input exactly
    assert len(by_doc) == 2000
    # roughly proportional (hash-uniform; generous band)
    from collections import Counter

    counts = Counter(by_doc.values())
    assert 0.7 * 2000 < counts["train"] < 0.9 * 2000
    # growth stability: the first half's assignments are unchanged
    # when only the first half exists
    half = split_assign(
        spark.range(0, 1000).withColumnRenamed("id", "doc_id"), fracs
    ).collect()
    assert all(by_doc[r["doc_id"]] == r["split"] for r in half)


def test_split_assign_sub_one_total_drops_remainder(spark):
    from kcbdml9_big_data_processing_spark.operators.sampling import (
        split_assign,
    )

    docs = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
    kept = split_assign(docs, {"train": 0.5}).count()
    assert 0.4 * 1000 < kept < 0.6 * 1000


def test_cap_per_group_nested_and_partition_stable(spark):
    from kcbdml9_big_data_processing_spark.operators.sampling import (
        cap_per_group,
    )
    from pyspark.sql import functions as F

    docs = (
        spark.range(0, 1000)
        .withColumnRenamed("id", "doc_id")
        .withColumn("source", F.concat(F.lit("s"), (F.col("doc_id") % 5)))
    )
    c10 = {r["doc_id"] for r in cap_per_group(docs, 10).collect()}
    c20 = {r["doc_id"] for r in cap_per_group(docs, 20).collect()}
    assert len(c10) == 50 and len(c20) == 100
    assert c10 <= c20  # nesting: a tighter cap keeps a subset
    # repartitioning must not change the draw
    c10b = {
        r["doc_id"] for r in cap_per_group(docs.repartition(13), 10).collect()
    }
    assert c10 == c10b


def test_split_and_sample_decorrelated_by_salt(spark):
    """A 50% sample of the train split should keep ~50% of it — the
    salt makes the two hash draws independent; without it the sample
    keep-set would systematically align with the low-bucket splits."""
    from kcbdml9_big_data_processing_spark.operators.sampling import (
        deterministic_sample,
        split_assign,
    )
    from pyspark.sql import functions as F

    docs = spark.range(0, 4000).withColumnRenamed("id", "doc_id")
    train = split_assign(docs, {"train": 0.5, "rest": 0.5}).where(
        F.col("split") == "train"
    )
    n_train = train.count()
    n_sampled = deterministic_sample(train, 0.5).count()
    assert 0.4 < n_sampled / n_train < 0.6


def test_chunk_documents_boundaries(spark):
    from kcbdml9_big_data_processing_spark.operators.chunking import (
        chunk_documents,
    )

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"t{i}" for i in range(1, 101))),  # 100 tokens
            (2, "a b c"),  # shorter than one chunk
        ],
        "doc_id long, text string",
    )
    rows = chunk_documents(docs, chunk_tokens=64, overlap=16).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    # doc 1: starts at 1 and 49 (bound = 100-16 = 84), so 2 chunks
    c1 = sorted(by_doc[1], key=lambda r: r.chunk_idx)
    assert [r.chunk_idx for r in c1] == [0, 1]
    assert c1[0].n_tokens == 64 and c1[0].chunk_text.startswith("t1 ")
    # second chunk starts at token 49 -> overlaps 16 tokens, runs short
    assert c1[1].chunk_text.startswith("t49 ")
    assert c1[1].n_tokens == 52
    # every token is covered
    covered = set()
    for r in c1:
        covered.update(r.chunk_text.split())
    assert len(covered) == 100
    # doc 2: one chunk, the whole doc
    assert [(r.chunk_idx, r.chunk_text) for r in by_doc[2]] == [(0, "a b c")]


def test_chunk_documents_rejects_bad_overlap(spark):
    import pytest as _pytest

    from kcbdml9_big_data_processing_spark.operators.chunking import (
        chunk_documents,
    )

    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with _pytest.raises(ValueError):
        chunk_documents(docs, chunk_tokens=8, overlap=8)


def test_chunk_documents_reconstruction_sweep(spark):
    """Exhaustive boundary sweep: for every token count 0..50, the
    chunks of a synthetic doc must (a) start at 1, 1+step, ... per the
    documented rule, (b) reconstruct the ORIGINAL token stream exactly
    when each non-first chunk drops its `overlap`-token prefix, and
    (c) never produce a chunk of <= overlap tokens except a single-
    chunk document. Pins the operator against off-by-one regressions
    at every alignment of doc length vs step."""
    from pyspark.sql import functions as F

    from kcbdml9_big_data_processing_spark.operators.chunking import (
        chunk_documents,
    )

    chunk_tokens, overlap = 16, 4
    step = chunk_tokens - overlap
    docs = spark.createDataFrame(
        [(n, " ".join(f"t{n}_{i}" for i in range(n))) for n in range(51)],
        "doc_id long, text string",
    )
    out = chunk_documents(docs, chunk_tokens=chunk_tokens, overlap=overlap)
    rows = out.orderBy("doc_id", "chunk_idx").collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for n in range(51):
        chunks = by_doc[n]
        toks = [f"t{n}_{i}" for i in range(n)]
        # empty doc: split('') yields one empty token; one chunk
        expected_tokens = toks if n else [""]
        n_tok = len(expected_tokens)
        expected_chunks = len(list(range(1, max(n_tok - overlap, 1) + 1, step)))
        assert len(chunks) == expected_chunks, (n, len(chunks))
        rebuilt = []
        for idx, c in enumerate(chunks):
            assert c["chunk_idx"] == idx
            ctoks = c["chunk_text"].split(" ")
            assert c["n_tokens"] == len(ctoks)
            if idx > 0:
                assert len(ctoks) > overlap  # no pure-suffix chunk
                ctoks = ctoks[overlap:]
            rebuilt.extend(ctoks)
        assert rebuilt == expected_tokens, n


def test_repeated_spans_known_answer(spark):
    """Hand-checkable corpus: doc 1 and doc 2 share exactly their
    (identical) first 4-token window; doc 3 shares nothing; doc 4 is
    a verbatim copy of doc 1 (every window shared). Span width 4."""
    from pyspark.sql import functions as F

    from kcbdml9_big_data_processing_spark.operators.text_quality import (
        repeated_spans,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f"),   # windows: abcd bcde cdef
            (2, "a b c d x y"),   # windows: abcd bcdx cdxy
            (3, "p q r s t u"),
            (4, "a b c d e f"),   # copy of 1
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["n_repeated_spans"]
        for r in repeated_spans(docs, span_tokens=4).collect()
    }
    # docs 1 and 4 share all 3 windows (with each other); doc 2 shares
    # only 'a b c d'; doc 3 shares none (absent)
    assert got == {1: 3, 4: 3, 2: 1}

    # short doc (< span) fingerprints its whole text once: two
    # identical short docs are repeated, a distinct one is not
    short = spark.createDataFrame(
        [(10, "tiny doc"), (11, "tiny doc"), (12, "other doc")],
        "doc_id long, text string",
    )
    got_s = {
        r["doc_id"]: r["n_repeated_spans"]
        for r in repeated_spans(short, span_tokens=4).collect()
    }
    assert got_s == {10: 1, 11: 1}


def test_curator_span_dedup_stage(spark):
    """Opt-in span-dedup policy: a doc that shares many 4-token spans
    with another doc (without being an exact or near dup under the
    strict Jaccard threshold) drops with reason span_dup; the decision
    record still partitions the input exactly."""
    from pyspark.sql import functions as F

    from kcbdml9_big_data_processing_spark.jobs.training_data import (
        REASON_SPAN_DUP,
        CurationConfig,
        TrainingDataCurator,
    )

    base = " ".join(f"w{i}" for i in range(30))
    # doc 2 = doc 1's 30 tokens + 40 fresh ones: every 4-token window of
    # doc 1 repeats in doc 2 (27 spans), but Jaccard(1,2) = 30/70 < 0.5
    extended = base + " " + " ".join(f"x{i}" for i in range(40))
    other = " ".join(f"z{i}" for i in range(30))
    docs = spark.createDataFrame(
        [(1, base), (2, extended), (3, other)],
        "doc_id long, text string",
    )
    cfg = CurationConfig(
        min_words=1,
        min_lexical_diversity=0.0,
        max_repeated_spans=5,
        span_tokens=4,
    )
    kept, decisions = TrainingDataCurator(cfg).run(docs)
    by_reason = {
        r["doc_id"]: r["reason"] for r in decisions.collect()
    }
    # both 1 and 2 exceed the 5-shared-span threshold; 3 is untouched
    assert by_reason[1] == REASON_SPAN_DUP
    assert by_reason[2] == REASON_SPAN_DUP
    assert by_reason[3] == "kept"
    assert len(by_reason) == 3  # record partitions the input
    assert {r["doc_id"] for r in kept.collect()} == {3}

    # stage off by default: same corpus, no span config -> all kept
    kept2, dec2 = TrainingDataCurator(
        CurationConfig(min_words=1, min_lexical_diversity=0.0)
    ).run(docs)
    assert {r["doc_id"] for r in kept2.collect()} == {1, 2, 3}


def test_rarity_scores_known_answer(spark):
    """rarity_scores on a hand-computable corpus: N_total = 6
    occurrences; counts: common=4, rare=1, solo=1. Per-token rarity
    r = (1e6 * 6) div c -> common 1500000, rare/solo 6000000; doc
    means follow exactly."""
    from kcbdml9_big_data_processing_spark.operators.text_quality import (
        rarity_scores,
    )

    df = spark.createDataFrame(
        [
            (1, "common common common rare"),   # (1.5e6*3 + 6e6)/4
            (2, "common solo"),                 # (1.5e6 + 6e6)/2
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.rarity for r in rarity_scores(df).collect()}
    assert got[1] == (1_500_000 * 3 + 6_000_000) / 4
    assert got[2] == (1_500_000 + 6_000_000) / 2


def test_curator_rarity_band_stage(spark):
    """Opt-in rarity-band policy: a boilerplate doc made entirely of
    the corpus's most common tokens scores low and drops with reason
    rarity; distinctive docs pass; the stage is off by default and the
    decision record still partitions the input."""
    from kcbdml9_big_data_processing_spark.jobs.training_data import (
        REASON_RARITY,
        CurationConfig,
        TrainingDataCurator,
    )
    from kcbdml9_big_data_processing_spark.operators.text_quality import (
        rarity_scores,
    )

    common = "the quick brown fox jumps over lazy dogs"
    # 8 distinct tail tokens per doc keep pairwise Jaccard at
    # 6/(14+14-6) ≈ 0.27 < 0.5 — no near-dup interference
    rows = [
        (i, common + " " + " ".join(f"t{i}w{j}" for j in range(8)))
        for i in range(1, 7)
    ]
    rows.append((7, common))  # pure boilerplate: only common tokens
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    # pick the band from the measured scores so the test pins the
    # POLICY (band membership -> reason), not a magic constant
    scores = {r.doc_id: r.rarity for r in rarity_scores(docs).collect()}
    assert scores[7] == min(scores.values())
    cut = (scores[7] + min(scores[d] for d in scores if d != 7)) / 2

    cfg = CurationConfig(
        min_words=1, min_lexical_diversity=0.0, min_rarity=cut
    )
    kept, decisions = TrainingDataCurator(cfg).run(docs)
    by_reason = {r["doc_id"]: r["reason"] for r in decisions.collect()}
    assert by_reason[7] == REASON_RARITY
    assert all(by_reason[d] == "kept" for d in range(1, 7))
    assert len(by_reason) == 7
    assert 7 not in {r["doc_id"] for r in kept.collect()}

    # off by default
    kept2, _ = TrainingDataCurator(
        CurationConfig(min_words=1, min_lexical_diversity=0.0)
    ).run(docs)
    assert {r["doc_id"] for r in kept2.collect()} == set(range(1, 8))


def test_curator_model_quality_gate(spark):
    """Opt-in model gate: with trained/planted classifier weights in
    the config, docs whose mean feature weight falls below
    min_model_mean_milli drop with reason quality, in the SAME scan as
    the heuristic signals; the expected drop set is derived from the
    pure-Python scorer (no magic constants), and the stage is off by
    default."""
    from kcbdml9_big_data_processing_spark.jobs.training_data import (
        REASON_QUALITY,
        CurationConfig,
        TrainingDataCurator,
    )
    from kcbdml9_big_data_processing_spark.operators.quality_model import (
        classifier_score_py,
        default_weights,
    )

    # distinct-token docs: all pass the heuristic gate, none are dups
    rows = [
        (i, " ".join(f"d{i}tok{j}" for j in range(10))) for i in range(1, 9)
    ]
    w = default_weights(32)
    scored = {d: classifier_score_py(t, w) for d, t in rows}  # (n, score)
    vals = sorted(s * 1000 / n for n, s in scored.values())
    thr = int((vals[3] + vals[4]) / 2)  # split the corpus in half
    # exact-integer gate semantics: drop iff score*1000 < thr*n_feats
    expect_drop = {d for d, (n, s) in scored.items() if s * 1000 < thr * n}
    assert 0 < len(expect_drop) < len(rows)

    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cfg = CurationConfig(
        quality_model_weights=w, min_model_mean_milli=thr
    )
    kept, decisions = TrainingDataCurator(cfg).run(docs)
    by_reason = {r["doc_id"]: r["reason"] for r in decisions.collect()}
    assert {d for d, r in by_reason.items() if r == REASON_QUALITY} == expect_drop
    assert {r["doc_id"] for r in kept.collect()} == set(scored) - expect_drop
    assert len(by_reason) == len(rows)

    # off by default: everything passes the heuristic-only gate
    kept2, _ = TrainingDataCurator(CurationConfig()).run(docs)
    assert {r["doc_id"] for r in kept2.collect()} == set(scored)


def test_remove_repeated_spans_known_answer(spark):
    """Positional semantics of the span-removal transform: a 20-token
    run shared by two docs removes exactly the covered tokens from
    each (prefix/suffix survivors differ per doc), a doc with no
    repeated window passes through whitespace-normalized, and a
    null-text doc keeps its row as ('', 0)."""
    from kcbdml9_big_data_processing_spark.operators.text_quality import (
        remove_repeated_spans,
    )

    words = [f"w{i}" for i in range(20)]
    shared = " ".join(words)
    rows = [
        (1, shared + " unique1 tail1"),
        (2, "prefix2 " + shared),
        (3, "no repeats   in this    short doc"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["clean_text"], r["n_removed_tokens"])
        for r in remove_repeated_spans(df, span_tokens=16).collect()
    }
    # doc1: windows 1..5 are shared (doc2 carries them at starts 2..6),
    # covering tokens 1..20; unique1/tail1 survive
    assert got[1] == ("unique1 tail1", 20)
    # doc2: shared windows start at 2..6, covering tokens 2..21
    assert got[2] == ("prefix2", 20)
    # doc3: untouched, whitespace normalized by the re-join
    assert got[3] == ("no repeats in this short doc", 0)
    assert got[4] == ("", 0)


def test_remove_repeated_spans_matches_detector(spark):
    """Consistency with repeated_spans: exactly the docs the detector
    reports (n_repeated_spans >= 1) lose tokens, and nothing else."""
    from pyspark.sql import functions as F

    from kcbdml9_big_data_processing_spark.operators.text_quality import (
        remove_repeated_spans,
        repeated_spans,
    )
    from kcbdml9_big_data_processing_spark.sources.parquet import read_table

    sf = "/root/testdata/sf0.001"
    docs = read_table(spark, sf, "documents").select("doc_id", "text")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    copies = docs.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 60_000_000).alias("doc_id"),
        F.array_join(
            F.slice(toks, 1, F.greatest(F.size(toks) - 2, F.lit(1))), " "
        ).alias("text"),
    )
    corpus = docs.unionAll(copies)
    flagged = {
        r["doc_id"] for r in repeated_spans(corpus, span_tokens=16).collect()
    }
    scrubbed = {
        r["doc_id"]: r["n_removed_tokens"]
        for r in remove_repeated_spans(corpus, span_tokens=16).collect()
    }
    assert set(scrubbed) == {r["doc_id"] for r in corpus.select("doc_id").collect()}
    lost = {d for d, n in scrubbed.items() if n > 0}
    assert lost == flagged and len(flagged) > 0


def test_curator_scrub_repeated_spans_policy(spark):
    """The opt-in span-SCRUB policy transforms instead of dropping:
    docs sharing a long span keep their rows with the span excised
    (and, no longer textually similar, stop pairing as near-dups); a
    doc that IS nothing but shared spans scrubs to empty and drops
    with reason span_dup; the decision record still partitions the
    input; drop- and scrub- policies are mutually exclusive."""
    import pytest as _pytest

    from kcbdml9_big_data_processing_spark.jobs.training_data import (
        REASON_SPAN_DUP,
        CurationConfig,
        TrainingDataCurator,
    )

    span = " ".join(f"s{i}" for i in range(20))  # 20-token shared span
    filler_a = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    filler_b = "mike november oscar papa quebec romeo sierra tango uniform victor"
    rows = [
        (1, filler_a + " " + span),
        (2, span + " " + filler_b),
        (3, span),  # nothing but the shared span -> scrubs to empty
        (4, "whiskey xray yankee zulu lima kilo golfer hotelier indigo jungle"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cfg = CurationConfig(scrub_repeated_spans=True, span_tokens=16)
    kept, decisions = TrainingDataCurator(cfg).run(docs)

    dec = {r["doc_id"]: r["reason"] for r in decisions.collect()}
    assert sorted(dec) == [1, 2, 3, 4]
    assert dec[3] == REASON_SPAN_DUP
    assert dec[1] == dec[2] == dec[4] == "kept"

    texts = {r["doc_id"]: r["text"] for r in kept.collect()}
    assert sorted(texts) == [1, 2, 4]
    assert texts[1] == filler_a
    assert texts[2] == filler_b
    assert texts[4] == rows[3][1]

    with _pytest.raises(ValueError, match="mutually exclusive"):
        TrainingDataCurator(
            CurationConfig(scrub_repeated_spans=True, max_repeated_spans=0)
        ).run(docs)


def test_remove_repeated_spans_differential_fuzz(spark):
    """Differential mini-fuzz: seeded random corpora checked against
    an independent pure-Python reference implementation of the same
    positional semantics (windows of k tokens, stride 1, short docs
    produce one clamped window; a window is repeated iff its token
    TUPLE occurs in >= 2 distinct docs; token j survives iff no
    repeated window starts in [j-k+1, j]). Catches any drift between
    the nested Spark expression (hash chains, slice windows, index
    lambdas) and the spec."""
    import random

    from kcbdml9_big_data_processing_spark.operators.text_quality import (
        remove_repeated_spans,
    )

    def reference(corpus, k):
        toks = {d: t.split() for d, t in corpus if t is not None}
        windows = {}
        for d, t in toks.items():
            n = len(t)
            nw = max(n - (k - 1), 1)
            for i in range(nw):
                windows.setdefault(tuple(t[i : i + k]), set()).add(d)
        repeated = {w for w, ds in windows.items() if len(ds) >= 2}
        out = {}
        for d, t in toks.items():
            n = len(t)
            nw = max(n - (k - 1), 1)
            marked = [tuple(t[i : i + k]) in repeated for i in range(nw)]
            kept = [
                t[j]
                for j in range(n)
                if not any(
                    marked[i]
                    for i in range(max(j - (k - 1), 0), min(j, nw - 1) + 1)
                )
            ]
            out[d] = (" ".join(kept), n - len(kept))
        for d, t in corpus:
            if t is None:
                out[d] = ("", 0)
        return out

    rng = random.Random(8)
    for trial in range(3):
        k = rng.choice([3, 4, 6])
        vocab = [f"t{i}" for i in range(6)]
        corpus = []
        for d in range(1, 9):
            n = rng.randint(1, 14)
            corpus.append(
                (d, " ".join(rng.choice(vocab) for _ in range(n)))
            )
        corpus.append((99, None))
        df = spark.createDataFrame(corpus, "doc_id long, text string")
        got = {
            r["doc_id"]: (r["clean_text"], r["n_removed_tokens"])
            for r in remove_repeated_spans(df, span_tokens=k).collect()
        }
        assert got == reference(corpus, k), f"trial={trial} k={k}"


def test_run_incremental_equals_full_run_restricted_to_batch(spark, tmp_path):
    """The daily-ingest path: curate a batch against the kept archive
    + its persisted near-dup index, WITHOUT re-pairing the archive.
    Under the documented preconditions (archive = a previous run()'s
    kept set, index built over it, archive ids precede batch ids) the
    batch's decision record must EQUAL run(archive ∪ batch) restricted
    to batch ids — reason AND canonical, row for row."""
    from kcbdml9_big_data_processing_spark.queries.dedup import (
        build_dedup_index,
    )

    def words(prefix, n=10):
        return " ".join(f"{prefix}w{j}" for j in range(n))

    # raw archive with its own dups so run() does real work
    raw_archive = spark.createDataFrame(
        [
            (1, words("a1")),
            (2, words("a1")),  # exact dup of 1
            (3, " ".join(words("a4").split()[:-1])),  # near-dup of 4
            (4, words("a4")),
            (5, words("a5")),
        ],
        "doc_id long, text string",
    )
    curator = TrainingDataCurator()
    kept_archive, _ = curator.run(raw_archive)
    kept_archive = kept_archive.persist()
    assert sorted(r["doc_id"] for r in kept_archive.collect()) == [1, 3, 5]

    idx = str(tmp_path / "inc_idx")
    build_dedup_index(kept_archive, idx)

    batch = spark.createDataFrame(
        [
            (101, words("b101")),  # genuinely new
            (102, words("a5")),  # exact redelivery of archived 5
            (103, " ".join(words("a1").split()[:-1])),  # near-dup of arch 1
            (104, words("b104")),
            (105, words("b104")),  # exact dup within batch
            (106, " ".join(words("b101").split()[:-1])),  # near-dup of 101
            (107, "tiny junk"),  # quality drop
        ],
        "doc_id long, text string",
    )

    inc_kept, inc_dec = curator.run_incremental(batch, idx)
    got_dec = {
        r["doc_id"]: (r["reason"], r["canonical_id"]) for r in inc_dec.collect()
    }
    # the cleanup/persist path must not change a single decision
    cleanup = []
    _, inc_dec2 = curator.run_incremental(batch, idx, cleanup=cleanup)
    assert {
        r["doc_id"]: (r["reason"], r["canonical_id"])
        for r in inc_dec2.collect()
    } == got_dec
    for f in cleanup:
        f.unpersist()

    full_kept, full_dec = curator.run(kept_archive.unionAll(batch))
    batch_ids = {r["doc_id"] for r in batch.collect()}
    want_dec = {
        r["doc_id"]: (r["reason"], r["canonical_id"])
        for r in full_dec.collect()
        if r["doc_id"] in batch_ids
    }
    assert got_dec == want_dec
    assert len(got_dec) == batch.count()  # partitions the batch

    inc_kept_ids = {r["doc_id"] for r in inc_kept.collect()}
    full_kept_ids = {r["doc_id"] for r in full_kept.collect()}
    assert inc_kept_ids == full_kept_ids & batch_ids
    # sanity on the scenario's intent
    assert got_dec[102] == ("exact_dup", 5)
    assert got_dec[103] == ("near_dup", 1)
    assert got_dec[105] == ("exact_dup", 104)
    assert got_dec[106] == ("near_dup", 101)
    assert got_dec[107] == ("quality", None)
    assert got_dec[101][0] == "kept" and got_dec[104][0] == "kept"
    kept_archive.unpersist()

    # policy stages are full-run-only: the incremental path refuses
    import pytest as _pytest

    with _pytest.raises(ValueError):
        TrainingDataCurator(
            CurationConfig(scrub_repeated_spans=True)
        ).run_incremental(batch, idx)


def test_run_incremental_never_scans_archive(spark, tmp_path):
    """run_incremental's plan must contain NO scan of the archive —
    the exact stage joins the index's stored 40-byte-per-doc
    ``hashes`` map, not a rehash of archive text: the decision plan's
    parquet scans don't include the archive's parquet path."""
    from kcbdml9_big_data_processing_spark.queries.dedup import (
        build_dedup_index,
    )

    def words(prefix, n=10):
        return " ".join(f"{prefix}w{j}" for j in range(n))

    archive = spark.createDataFrame(
        [(i, words(f"a{i}")) for i in range(1, 6)],
        "doc_id long, text string",
    )
    arch_path = str(tmp_path / "arch_parquet")
    archive.write.parquet(arch_path)
    stored_archive = spark.read.parquet(arch_path)

    idx = str(tmp_path / "inc_idx")
    build_dedup_index(stored_archive, idx)

    batch = spark.createDataFrame(
        [
            (101, words("b101")),
            (102, words("a5")),  # exact redelivery of archived 5
            (103, " ".join(words("a1").split()[:-1])),  # near-dup of 1
            (104, "tiny junk"),  # quality drop
        ],
        "doc_id long, text string",
    )
    curator = TrainingDataCurator()
    cleanup = []
    kept, dec = curator.run_incremental(batch, idx, cleanup=cleanup)
    got = {r["doc_id"]: (r["reason"], r["canonical_id"]) for r in dec.collect()}
    assert got == {
        101: (REASON_KEPT, None),
        102: (REASON_EXACT_DUP, 5),
        103: (REASON_NEAR_DUP, 1),
        104: (REASON_QUALITY, None),
    }
    assert {r["doc_id"] for r in kept.collect()} == {101}
    # plan guarantee: no scan of the archive parquet anywhere
    physical = dec._jdf.queryExecution().executedPlan().toString()
    assert "arch_parquet" not in physical
    for f in cleanup:
        f.unpersist()


def test_extend_dedup_index_extends_hashes(spark, tmp_path):
    """extend_dedup_index must carry the ``hashes`` map forward: after
    extending with a batch's kept docs, a redelivery of a BATCH doc is
    exact-dropped against the stored map with the batch doc as
    canonical — no archive or batch text rescan."""
    from kcbdml9_big_data_processing_spark.queries.dedup import (
        build_dedup_index,
        dedup_index_hashes,
        extend_dedup_index,
    )

    def words(prefix, n=10):
        return " ".join(f"{prefix}w{j}" for j in range(n))

    archive = spark.createDataFrame(
        [(1, words("a1"))], "doc_id long, text string"
    )
    idx = str(tmp_path / "ext_idx")
    build_dedup_index(archive, idx)

    day1_kept = spark.createDataFrame(
        [(101, words("b101"))], "doc_id long, text string"
    )
    extend_dedup_index(day1_kept, idx)
    stored = dedup_index_hashes(spark, idx)
    assert stored is not None and stored.count() == 2

    day2 = spark.createDataFrame(
        [(201, words("b101")), (202, words("c202"))],
        "doc_id long, text string",
    )
    _, dec = TrainingDataCurator().run_incremental(day2, idx)
    got = {r["doc_id"]: (r["reason"], r["canonical_id"]) for r in dec.collect()}
    assert got == {
        201: (REASON_EXACT_DUP, 101),
        202: (REASON_KEPT, None),
    }


def test_run_incremental_monotonic_id_guard(spark, tmp_path):
    """The monotonic-id precondition is load-bearing for full-run
    equivalence (ADVICE r10): on the cleanup path, where frames
    materialize anyway, a violating caller gets a ValueError rather
    than silently divergent decisions."""
    from kcbdml9_big_data_processing_spark.queries.dedup import (
        build_dedup_index,
    )

    def words(prefix, n=10):
        return " ".join(f"{prefix}w{j}" for j in range(n))

    archive = spark.createDataFrame(
        [(50, words("a50"))], "doc_id long, text string"
    )
    idx = str(tmp_path / "guard_idx")
    build_dedup_index(archive, idx)
    bad_batch = spark.createDataFrame(
        [(7, words("b7"))], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="monotonic-id precondition"):
        TrainingDataCurator().run_incremental(bad_batch, idx, cleanup=[])


def test_run_incremental_ignores_batchs_own_index_appends(spark, tmp_path):
    """r11 review: an out-of-order orchestrator that extends the index
    BEFORE committing decisions and then re-runs the batch must not
    see the batch's own appended hash entries as archive — the old
    behavior marked every kept doc an exact_dup of ITSELF (canonical
    == doc_id) and the monotonic guard hard-failed the cleanup path.
    The exact stage's decisions must reproduce the first run's, and
    genuine archive redeliveries must still resolve to the archive."""
    from kcbdml9_big_data_processing_spark.queries.dedup import (
        build_dedup_index,
        extend_dedup_index,
    )

    def words(prefix, n=10):
        return " ".join(f"{prefix}w{j}" for j in range(n))

    archive = spark.createDataFrame(
        [(1, words("a1")), (2, words("a2"))], "doc_id long, text string"
    )
    idx = str(tmp_path / "retry_idx")
    build_dedup_index(archive, idx)

    batch = spark.createDataFrame(
        [
            (101, words("b101")),  # genuinely new
            (102, words("a2")),  # exact redelivery of archived 2
            (103, words("b101")),  # exact dup within batch
        ],
        "doc_id long, text string",
    )
    curator = TrainingDataCurator()
    first = {
        r["doc_id"]: (r["reason"], r["canonical_id"])
        for r in curator.run_incremental(batch, idx)[1].collect()
    }
    assert first == {
        101: (REASON_KEPT, None),
        102: (REASON_EXACT_DUP, 2),
        103: (REASON_EXACT_DUP, 101),
    }

    # crashed-before-commit orchestrator already extended with kept
    extend_dedup_index(
        batch.where(F.col("doc_id") == 101), idx
    )
    cleanup = []
    retry = {
        r["doc_id"]: (r["reason"], r["canonical_id"])
        for r in curator.run_incremental(batch, idx, cleanup=cleanup)[
            1
        ].collect()
    }
    assert retry == first  # no self-dup rows, no guard false-positive
    for f in cleanup:
        f.unpersist()

def test_legacy_index_fallback_warns(spark, tmp_path):
    """An index without its ``hashes`` exact-dedup map is broken:
    run_incremental refuses it with an error naming the rebuild
    instead of curating against an incomplete index."""
    import shutil

    from kcbdml9_big_data_processing_spark.queries.dedup import (
        build_dedup_index,
    )
    from kcbdml9_big_data_processing_spark.queries.similarity import (
        _gen_current,
    )

    def words(prefix, n=10):
        return " ".join(f"{prefix}w{j}" for j in range(n))

    archive = spark.createDataFrame(
        [(1, words("a1"))], "doc_id long, text string"
    )
    idx = str(tmp_path / "warn_idx")
    build_dedup_index(archive, idx)
    shutil.rmtree(f"{_gen_current(spark, idx)}/hashes")
    batch = spark.createDataFrame(
        [(101, words("b101"))], "doc_id long, text string"
    )
    with pytest.raises(
        FileNotFoundError, match="no 'hashes'.*build_dedup_index.*--repair-index"
    ):
        TrainingDataCurator().run_incremental(batch, idx)


def test_hashes_max_sidecar_maintained_and_fast_paths_guard(
    spark, tmp_path
):
    """ADVICE r11: the monotonic-id guard's O(index) max-scan is
    replaced by the ``hashes_max`` sidecar on the common path. Pins:

    1. build and extend maintain the sidecar (max id per write);
    2. when the sidecar bound precedes the batch, the guard does NOT
       scan the map (white-box: a violating row smuggled into
       ``hashes`` behind the sidecar's back goes unseen — exactly the
       skip the sidecar buys; the write order in extend_dedup_index
       guarantees the real map can never outgrow the sidecar);
    3. with the sidecar removed, the same state falls back to the
       precise anti-join scan and raises.
    """
    import shutil

    from kcbdml9_big_data_processing_spark.queries.dedup import (
        build_dedup_index,
        dedup_index_hashes_max,
        extend_dedup_index,
    )
    from kcbdml9_big_data_processing_spark.queries.similarity import (
        _gen_current,
    )

    def words(prefix, n=10):
        return " ".join(f"{prefix}w{j}" for j in range(n))

    archive = spark.createDataFrame(
        [(1, words("a1")), (2, words("a2"))], "doc_id long, text string"
    )
    idx = str(tmp_path / "sidecar_idx")
    build_dedup_index(archive, idx)
    assert dedup_index_hashes_max(spark, idx) == 2

    extend_dedup_index(
        spark.createDataFrame(
            [(60, words("b60"))], "doc_id long, text string"
        ),
        idx,
    )
    assert dedup_index_hashes_max(spark, idx) == 60

    # smuggle a violating map row in WITHOUT updating the sidecar —
    # impossible through the writers (sidecar appends first), so this
    # isolates what the fast path skips
    gdir = _gen_current(spark, idx)
    spark.createDataFrame(
        [("deadbeef", 999)], "content_hash string, canonical_id long"
    ).write.mode("append").parquet(f"{gdir}/hashes")

    batch = spark.createDataFrame(
        [(101, words("b101"))], "doc_id long, text string"
    )
    curator = TrainingDataCurator()
    cleanup = []
    # sidecar max (60) < batch min (101): guard passes without the
    # scan that would have seen 999
    _, dec = curator.run_incremental(batch, idx, cleanup=cleanup)
    assert {r["doc_id"] for r in dec.collect()} == {101}
    for f in cleanup:
        f.unpersist()

    # remove the sidecar: the precise scan now sees the violating row
    shutil.rmtree(f"{gdir}/hashes_max")
    with pytest.raises(ValueError, match="monotonic-id precondition"):
        curator.run_incremental(batch, idx, cleanup=[])


def test_zero_doc_index_seeds_hashes_max_from_first_extend(spark, tmp_path):
    """The one current-format index without a ``hashes_max`` sidecar is
    one built over zero docs (the build writes the sidecar only for a
    non-empty map). Its first extend seeds the sidecar from the batch
    alone — exact, because the map held nothing — and two incremental
    days over it decide exactly what one full run over both batches
    decides."""
    from kcbdml9_big_data_processing_spark.queries.dedup import (
        build_dedup_index,
        dedup_index_hashes_max,
        extend_dedup_index,
    )

    def words(prefix, n=10):
        return " ".join(f"{prefix}w{j}" for j in range(n))

    schema = "doc_id long, text string"
    idx = str(tmp_path / "empty_idx")
    build_dedup_index(spark.createDataFrame([], schema), idx)
    assert dedup_index_hashes_max(spark, idx) is None

    day1 = spark.createDataFrame(
        [
            (1, words("a1")),
            (2, words("a2")),
            (3, words("a1")),  # exact dup within the day
        ],
        schema,
    )
    day2 = spark.createDataFrame(
        [
            (11, words("a2")),  # exact redelivery of day-1 doc 2
            (12, " ".join(words("a1").split()[:-1])),  # near-dup of 1
            (13, words("b13")),  # fresh
            (14, "tiny junk"),  # quality drop
        ],
        schema,
    )
    curator = TrainingDataCurator()
    kept1, dec1 = curator.run_incremental(day1, idx)
    got = {r["doc_id"]: (r["reason"], r["canonical_id"]) for r in dec1.collect()}
    extend_dedup_index(kept1, idx)
    assert dedup_index_hashes_max(spark, idx) == 2

    cleanup = []
    _, dec2 = curator.run_incremental(day2, idx, cleanup=cleanup)
    got.update(
        {r["doc_id"]: (r["reason"], r["canonical_id"]) for r in dec2.collect()}
    )
    for f in cleanup:
        f.unpersist()

    _, full_dec = curator.run(day1.unionAll(day2))
    want = {
        r["doc_id"]: (r["reason"], r["canonical_id"])
        for r in full_dec.collect()
    }
    assert got == want
    assert got[11] == (REASON_EXACT_DUP, 2)
    assert got[12] == (REASON_NEAR_DUP, 1)
    assert got[13] == (REASON_KEPT, None)
