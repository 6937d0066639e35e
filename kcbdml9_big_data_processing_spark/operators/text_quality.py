"""Corpus-hygiene operators a pre-training pipeline runs beyond the
basic quality signals: intra-document repetition (Gopher-style
repetition rules — Rae et al. 2021, "Scaling Language Models", §A1.1)
and benchmark-contamination flagging (n-gram overlap against an
evaluation set — the decontamination step of GPT-2/3-style data prep).

Both are DataFrame-in/DataFrame-out operators (no table read, no
registry entry — composed by jobs/training_data.py and usable on any
(doc_id, text) frame). Everything is built-in higher-order array
functions — JVM-side, codegen'd, scan-speed; the contamination join
broadcasts only the BENCHMARK's shingles (small by definition: an eval
set is KBs–MBs while the corpus is TBs), so the corpus never shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_WS = r"\s+"


def _toks(text_col: str) -> Column:
    return F.split(F.trim(F.col(text_col)), _WS)


def _word_ngrams(toks: Column, n: int) -> Column:
    """All word-``n``-grams of a token array, as strings. Built with
    the Column API (not F.expr SQL) deliberately: a ``'\\s+'`` literal
    inside expr SQL unescapes to ``'s+'`` and silently splits on the
    letter s — the Column API takes the pattern verbatim."""
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )


def repetition_signals(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document repetition metrics, all per-row expressions:

    - ``dup_word_frac``: fraction of word occurrences that are repeats
      (1 - distinct/total) — Gopher's duplicate-word-fraction rule;
    - ``top_word_frac``: share of the single most frequent word —
      catches "word word word ..." degenerate generations that still
      pass a distinct-ratio test when mixed with filler;
    - ``dup_3gram_frac``: fraction of word-3-gram occurrences that are
      repeats — catches looped phrases with a rotating vocabulary.

    The formulation is ~8x cheaper per row than a naive one (3.1 s ->
    0.4 s standalone at sf0.1, measured per metric) with identical
    values:

    - the most-frequent-word count is an O(n log n) sort + O(n)
      longest-equal-run aggregate over the sorted tokens instead of
      the O(unique x total) nested filter scan (1.0 s -> 0.3 s alone);
    - 3-grams are chained token-hash fingerprints (gram = one
      xxhash64 over three longs) instead of concat-built strings
      (2.2 s -> 0.2 s alone) — count-equal to the string formulation
      unless the 64-bit hash collides (the repeated_spans /
      contamination argument; the driver's oracle equality holds).
      CRITICAL lambda-binding detail: the token-hash array is bound
      through ``transform(array(th), h -> ...)`` so it evaluates once
      per row — referencing it as a free expression re-inlines the
      whole token-hash transform into every element_at (interpreted
      higher-order exprs get no CSE), measured at 7 s, i.e. WORSE
      than the strings it replaces.

    Still scan-speed: no shuffle anywhere.
    """
    toks = _toks(text_col)
    n = F.size(toks)
    n_uniq = F.size(F.array_distinct(toks))

    def longest_run(sorted_arr):
        """Longest equal-run over a SORTED array == max frequency.
        Initial prev is NULL (equal to no token), so the first element
        always opens a run."""
        acc0 = F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        )

        def step(a, x):
            same = x == a["prev"]
            run = F.when(same, a["run"] + 1).otherwise(F.lit(1))
            return F.struct(
                x.alias("prev"),
                run.alias("run"),
                F.greatest(a["best"], run).alias("best"),
            )

        return F.aggregate(sorted_arr, acc0, step, lambda a: a["best"])

    top_cnt = longest_run(F.array_sort(toks))
    th = F.transform(toks, lambda t: F.xxhash64(t))
    grams = F.transform(
        F.array(th),
        lambda h: F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(h) - 2, F.lit(1))),
            # try_element_at: a doc shorter than the gram width has
            # one partial gram (sequence floor is 1); the missing
            # positions are NULL, which xxhash64 skips — matching the
            # string formulation's partial trailing gram semantics
            # (ANSI element_at would throw on the short-doc edge)
            lambda i: F.xxhash64(
                F.try_element_at(h, i),
                F.try_element_at(h, i + 1),
                F.try_element_at(h, i + 2),
            ),
        ),
    )[0]
    n_g = F.size(grams)
    n_g_uniq = F.size(F.array_distinct(grams))
    return docs.select(
        "doc_id",
        (F.lit(1.0) - n_uniq.cast("double") / n.cast("double")).alias(
            "dup_word_frac"
        ),
        (top_cnt.cast("double") / n.cast("double")).alias("top_word_frac"),
        (F.lit(1.0) - n_g_uniq.cast("double") / n_g.cast("double")).alias(
            "dup_3gram_frac"
        ),
    )


def quantile_prune(
    df: DataFrame,
    score_col: str,
    keep_frac: float,
    by: str | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep the top ``keep_frac`` of rows by ``score_col`` (higher is
    better), optionally within each ``by`` group — the quantile-pruning
    step quality-classifier pipelines run (keep the best-scoring X% of
    a crawl, per language, rather than thresholding at a fixed value
    that drifts with the corpus).

    Deterministic: ranking is by (score DESC, id ASC), so ties at the
    cut line resolve by id instead of partition order, and reruns at
    any partitioning keep the identical set. One window per group —
    a single shuffle on ``by`` (or a global sort when ``by`` is None;
    at 100 TB prefer a grouped prune, or pre-compute the global score
    cutoff on a sample and broadcast a plain filter).
    """
    from pyspark.sql.window import Window

    part = Window.partitionBy(by) if by is not None else Window.partitionBy()
    w = part.orderBy(F.col(score_col).desc(), F.col(id_col).asc())
    n = F.count(F.lit(1)).over(part)
    keep_n = F.ceil(n * F.lit(keep_frac)).cast("long")
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .withColumn("__keep_n", keep_n)
        .where(F.col("__rn") <= F.col("__keep_n"))
        .drop("__rn", "__keep_n")
    )


def contamination_flags(
    docs: DataFrame,
    benchmark: DataFrame,
    ngram: int = 3,
    text_col: str = "text",
    benchmark_text_col: str = "text",
) -> DataFrame:
    """Flag corpus docs sharing any word-``ngram`` with the benchmark
    set: returns (doc_id, n_contaminated_ngrams, contaminated).

    Shape for 100 TB: the benchmark's distinct shingle fingerprints
    (xxhash64 longs) are BROADCAST and the corpus's exploded shingles
    probe them through a broadcast hash join — the hash table builds
    ONCE per task, so per-shingle membership is O(1). (Intersecting
    each doc's shingle array against the broadcast set ARRAY instead
    re-scans all |bench| entries per document — measured
    3.2 s -> 1.0 s standalone at sf0.1 with a ~13k-shingle bench, and
    the gap grows linearly with eval-set size.) Corpus CONTENT still
    never shuffles: the per-doc count aggregates map-side down to one
    (doc_id, count) row per doc before the one skinny exchange — at
    100 TB that shuffle is ids and counts, invisible next to the scan.
    Lowercased on both sides so casing can't hide overlap; ``ngram``
    defaults small for the synthetic corpus — real decontamination
    uses 8-13."""

    def shingles(col: str) -> Column:
        # chained token-hash fingerprints, token hashes bound once per
        # row (see repetition_signals for the binding rationale and
        # the partial-trailing-gram / collision arguments) — building
        # and hashing gram STRINGS instead measures ~10x slower per
        # row; both sides of the join use the identical scheme, so
        # overlap counts are unchanged
        toks = F.split(F.trim(F.lower(F.col(col))), _WS)
        th = F.transform(toks, lambda t: F.xxhash64(t))
        return F.array_distinct(
            F.transform(
                F.array(th),
                lambda h: F.transform(
                    F.sequence(
                        F.lit(1), F.greatest(F.size(h) - (ngram - 1), F.lit(1))
                    ),
                    lambda i: F.xxhash64(
                        *[F.try_element_at(h, i + j) for j in range(ngram)]
                    ),
                ),
            )[0]
        )

    bench_sh = (
        benchmark.select(F.explode(shingles(benchmark_text_col)).alias("k"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    # explode_outer, not explode: a null-text doc shingles to a NULL
    # array, and plain explode would emit no rows for it — the doc
    # would vanish from the output, breaking the one-row-per-input-doc
    # contract. The outer variant emits one NULL-key row,
    # which matches nothing in the left join and aggregates to
    # (doc_id, 0, false) like any other clean doc.
    exploded = docs.select(
        "doc_id", F.explode_outer(shingles(text_col)).alias("k")
    )
    n_hits = F.sum("__hit")
    return (
        exploded.join(F.broadcast(bench_sh), "k", "left")
        .groupBy("doc_id")
        .agg(n_hits.alias("__n"))
        .select(
            "doc_id",
            F.coalesce(F.col("__n"), F.lit(0)).cast("long").alias(
                "n_contaminated_ngrams"
            ),
            (F.coalesce(F.col("__n"), F.lit(0)) > 0).alias("contaminated"),
        )
    )


#: fixed-point scale for the inverse-unigram-frequency rarity score
_RARITY_SCALE = 1_000_000


def rarity_scores(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus-statistics rarity score per document — the
    language-model-quality signal class (CCNet buckets crawl text by
    LM perplexity; this is its exact-arithmetic stand-in): documents
    made of corpus-rare tokens score high, boilerplate made of the
    corpus's most common tokens scores low. Unlike the per-row
    repetition heuristics or the benchmark-relative contamination
    check, the statistic here comes from the CORPUS ITSELF — the one
    signal class the quality suite otherwise lacks.

    score(doc) = mean over token OCCURRENCES of
    ``(_RARITY_SCALE * N_total) div count(token)`` — integer
    arithmetic end to end (Spark ``div`` == DuckDB ``//``), one final
    IEEE division for the mean, so the driver's value-hash oracle
    applies exactly (a log-probability formulation would differ in
    the last ulp across libms).

    Shape at 100 TB: one token-count aggregation (map-side combined),
    then occurrences join counts — the count table is
    vocabulary-sized, so broadcast it (or bucket both sides by token)
    and the corpus never shuffles; the per-doc mean map-side-combines
    to one row per document."""
    toks = _toks(text_col)
    occ = docs.select(F.col(id_col), F.explode(toks).alias("t"))
    counts = occ.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    total = counts.agg(F.sum("c").alias("n_total"))
    return (
        occ.join(counts, "t")
        .crossJoin(F.broadcast(total))
        .select(
            id_col,
            F.expr(f"({_RARITY_SCALE}L * n_total) div c").alias("r"),
        )
        .groupBy(id_col)
        .agg(
            (F.sum("r").cast("double") / F.count(F.lit(1)).cast("double")).alias(
                "rarity"
            )
        )
    )


def repeated_spans(
    docs: DataFrame,
    span_tokens: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    cleanup: list[DataFrame] | None = None,
) -> DataFrame:
    """Cross-DOCUMENT repeated token spans — the memorization-hazard
    signal behind exact-substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better", which
    removes 50-token spans occurring verbatim more than once; the
    suffix-array formulation there is single-machine — this is the
    shuffle-bounded Spark shape of the same detection).

    Every ``span_tokens``-token window (stride 1) is fingerprinted;
    per-document DISTINCT fingerprints explode into a (fingerprint ->
    distinct-doc count) aggregation, and spans seen in >= 2 documents
    come back as (id_col, n_repeated_spans): how many of each
    document's distinct spans also appear verbatim elsewhere.
    Documents with zero shared spans are absent (join the result back
    and coalesce to 0 for a total accounting).

    Fingerprint scheme: each token is xxhash64'd ONCE (a dedicated
    projection, so codegen evaluates it once per row, not once per
    window), and a window's fingerprint chains its token hashes
    through xxhash64(acc, h) — O(span) JVM hash calls per window, full
    64-bit space, ANSI-safe (a plain polynomial overflows longs under
    ANSI arithmetic), instead of building and hashing a span STRING
    per window. Consumers compare COUNTS, so any collision-resistant
    scheme is equivalent — the oracle twin counts raw span strings.

    The exploded postings frame feeds two consumers (the
    shared-fingerprint aggregation and the per-doc count), so it is
    persisted — but ONLY when a ``cleanup`` list is passed to release
    the cache once results materialize (same convention as
    queries/dedup._exact_jaccard_pairs). Without ``cleanup`` the
    operator stays fully lazy: the explode recomputes once per
    consumer, the honest trade for a caller that cannot own an
    unpersist (an unconditional persist would leak executor memory
    per call in long-lived sessions).

    Scale shape: only (doc_id, 8-byte fingerprint) rows ever shuffle —
    never span text; work is one explode (~n_tokens rows per doc), one
    map-side-combined count per fingerprint, one semi-join back. A
    boilerplate span shared by millions of docs costs one count row,
    not a pair join — this DETECTS repeats; removing them is the
    caller's policy (typically: drop or truncate the offending
    documents, which the returned per-doc counts rank)."""
    token_hashes = F.transform(_toks(text_col), lambda t: F.xxhash64(t))
    hashed = docs.select(F.col(id_col), token_hashes.alias("__th"))
    window_fp = F.transform(
        F.sequence(
            F.lit(1),
            F.greatest(F.size(F.col("__th")) - (span_tokens - 1), F.lit(1)),
        ),
        lambda i: F.aggregate(
            F.slice(F.col("__th"), i, span_tokens),
            F.lit(0).cast("long"),
            lambda acc, v: F.xxhash64(acc, v),
        ),
    )
    ex = hashed.select(
        id_col, F.explode(F.array_distinct(window_fp)).alias("fp")
    )
    if cleanup is not None:
        ex = ex.persist()
        cleanup.append(ex)
    # plain count, not count_distinct: ``ex`` explodes each doc's
    # array_distinct'd fingerprints, so (doc, fp) rows are unique by
    # construction — the count IS the distinct-doc count, without the
    # distinct aggregation's extra dedup pass (measured ~6%)
    shared = (
        ex.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") >= 2)
        .select("fp")
    )
    return (
        ex.join(shared, "fp", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_repeated_spans"))
    )


def remove_repeated_spans(
    docs: DataFrame,
    span_tokens: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    cleanup: list[DataFrame] | None = None,
) -> DataFrame:
    """Cross-document repeated-span REMOVAL — the transform half of
    exact-substring dedup (Lee et al. 2022 *remove* the repeated
    50-token spans from the training set rather than dropping whole
    documents; :func:`repeated_spans` is the detection half, this is
    the surgery). Returns one row per input doc:
    (id_col, clean_text, n_removed_tokens), where ``clean_text`` is
    the document with every token covered by at least one globally
    repeated ``span_tokens``-token window removed (windows stride 1;
    "globally repeated" = the window occurs verbatim in >= 2 distinct
    documents), remaining tokens re-joined with single spaces.

    Semantics are positional: a repeated window starting at 1-based
    token ``i`` covers tokens ``[i, i+span_tokens-1]``; token ``j``
    survives iff no repeated window starts in ``[j-span_tokens+1, j]``.
    Docs with no repeated spans pass through with their tokens intact
    (whitespace normalized by the re-join); null-text docs keep their
    row as ('', 0) (the contamination_flags lesson — one row per
    input doc, always).

    Distributed shape (same as the detector): window fingerprints are
    xxhash64 chains over once-hashed tokens, so only (doc_id, 8-byte
    fp) rows ever shuffle — the fingerprint->distinct-doc-count
    aggregation, a semi-join, and one collect_set per affected doc;
    the removal itself is a pure per-row expression over the doc's
    (small) set of repeated fingerprints, evaluated where the text
    already sits. Fingerprint-vs-string equivalence is the
    repeated_spans collision argument; the oracle twin marks positions
    by raw span STRINGS and the driver hash-proves the cleaned text
    matches byte-for-byte.

    The lambda-binding discipline matters here (see
    repetition_signals): token hashes, the marked-start mask, and the
    kept-token array are each bound ONCE through
    ``transform(array(x), v -> ...)`` levels — free-expression
    references would re-inline the whole token-hash transform into
    every window (no CSE for interpreted higher-order exprs)."""
    k = span_tokens
    token_hashes = F.transform(_toks(text_col), lambda t: F.xxhash64(t))
    hashed = docs.select(F.col(id_col), token_hashes.alias("__th"))
    window_fp = F.transform(
        F.sequence(
            F.lit(1),
            F.greatest(F.size(F.col("__th")) - (k - 1), F.lit(1)),
        ),
        lambda i: F.aggregate(
            F.slice(F.col("__th"), i, k),
            F.lit(0).cast("long"),
            lambda acc, v: F.xxhash64(acc, v),
        ),
    )
    ex = hashed.select(
        id_col, F.explode(F.array_distinct(window_fp)).alias("fp")
    )
    if cleanup is not None:
        ex = ex.persist()
        cleanup.append(ex)
    # plain count == distinct-doc count (see repeated_spans)
    shared = (
        ex.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") >= 2)
        .select("fp")
    )
    bad = (
        ex.join(shared, "fp", "left_semi")
        .groupBy(id_col)
        .agg(F.collect_set("fp").alias("__bad"))
    )
    ws = _WS.replace("\\", "\\\\")
    scrub = F.expr(
        f"""
        transform(array(named_struct(
            't', coalesce(split(trim({text_col}), '{ws}'),
                          cast(array() as array<string>)),
            'bad', coalesce(__bad, cast(array() as array<bigint>)))), r ->
          transform(array(transform(r.t, x -> xxhash64(x))), th ->
            transform(array(transform(
                sequence(1, greatest(size(th) - {k - 1}, 1)),
                i -> array_contains(r.bad,
                       aggregate(slice(th, i, {k}), cast(0 as bigint),
                                 (a, v) -> xxhash64(a, v))))), mk ->
              transform(array(filter(r.t, (x, j) ->
                  size(filter(slice(mk,
                      greatest(j - {k - 2}, 1),
                      least(j + 1, size(mk)) - greatest(j - {k - 2}, 1) + 1),
                      b -> b)) = 0)), kept ->
                named_struct(
                  'clean_text', concat_ws(' ', kept),
                  'n_removed_tokens',
                  cast(size(r.t) - size(kept) as bigint))
              )[0]
            )[0]
          )[0]
        )[0]"""
    )
    return (
        docs.join(bad, id_col, "left")
        .select(F.col(id_col), scrub.alias("__s"))
        .select(
            id_col,
            F.col("__s.clean_text").alias("clean_text"),
            F.col("__s.n_removed_tokens").alias("n_removed_tokens"),
        )
    )
