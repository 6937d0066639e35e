"""Registry queries that put the LLM-corpus-curation operators inside
the driver's oracle gate: deterministic sampling / dataset mixing
(operators/sampling.py), quantile pruning / repetition signals /
benchmark decontamination (operators/text_quality.py), and the
end-to-end :class:`~..jobs.training_data.TrainingDataCurator` pipeline
(jobs/training_data.py).

No reference counterpart (the reference is a telco-metrics engine —
these are north-star extension operators); until round 6 they were
pytest-pinned only. Two registrations cover them (the registry must
stay at the driver's 50-row window):

- ``llm_curation_suite`` — a long-format melt (variant, doc_id, value)
  over the documents table: one variant per operator, every kept row
  and its defining value hash-checked against DuckDB.
- ``curation_run`` — the full curator pipeline; the checked result is
  the per-input-doc DECISION RECORD (doc_id, reason, canonical_id),
  which transitively pins every stage: quality gate, exact dedup,
  complete Jaccard pair join, and the connected-components clustering.

Cross-engine determinism notes: the sampling hash is the first 48 bits
of sha256 over the decimal id (operators/sampling.py — both engines
bit-identical); every ratio is a single IEEE division of integer
inputs; contamination counts compare xxhash64 shingle fingerprints on
the Spark side against raw shingle strings in DuckDB — equal counts
unless xxhash64 collides within a document's shingle set (~1e-10 at
test scale, the same argument queries/dedup.py:_shingled_corpus makes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.chunking import chunk_documents
from ..operators.packing import pack_sequences
from ..operators.quality_model import classifier_score, default_weights
from ..operators.sampling import (
    _bucket,
    _threshold,
    bucket_sql,
    cap_per_group,
    deterministic_sample,
    split_assign,
    weighted_mix,
)
from ..operators.text_quality import (
    contamination_flags,
    quantile_prune,
    rarity_scores,
    remove_repeated_spans,
    repeated_spans,
    repetition_signals,
)
from ..sinks.shards import (
    pos_sql,
    read_training_shards,
    shard_sql,
    write_training_shards,
)
from ..sources.parquet import read_table, spread_scan
from .dedup import _truncate_lineage
from .registry import _prepared_lifecycle_plan, build_once_dir, register
from .text import _SW_ARR_SQL, _tokens_sql

_WS = r"\s+"

#: deterministic_sample fraction exercised by the suite
_SAMPLE_FRAC = 0.25
#: weighted_mix rates (named sources + default for the other 16)
_MIX_RATES = {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.1}
_MIX_DEFAULT = 0.05
#: quantile_prune keep fraction, per language
_PRUNE_FRAC = 0.3
#: every 97th doc plays the "benchmark" for decontamination
_BENCH_MOD = 97
#: sequence packing: token budget per training sequence, shard count
_PACK_BUDGET = 512
_PACK_SHARDS = 8
#: train/val/test fractions for the split variant (dict order matters)
_SPLIT_FRACS = {"train": 0.8, "val": 0.1, "test": 0.1}
#: per-source cap for the cap variant (binds: ~25 docs/source at test SFs)
_CAP_N = 15
#: chunking: token window + overlap (small enough that test docs
#: produce multi-chunk output, so boundaries are non-vacuous)
_CHUNK_TOKENS = 16
_CHUNK_OVERLAP = 4
#: training-shard export keying (sinks/shards.py): shard count + the
#: epoch salt the variants pin — membership AND the exact permutation
_SHARD_N = 8
_SHARD_SALT = 12

def _shard_export(docs: DataFrame, sf_dir: str) -> DataFrame:
    """The suite's training-shard export, written once per (app, sf_dir)
    by write_training_shards and READ back by every call, so the oracle
    hash pins the artifact actually produced (membership, order keys
    and the partitioned layout), not just the assignment expressions."""
    spark = docs.sparkSession
    path = build_once_dir(
        spark,
        "shard_export",
        sf_dir,
        lambda p: write_training_shards(
            docs.select("doc_id"), p, _SHARD_N, salt=_SHARD_SALT, mode="overwrite"
        ),
    )
    return read_training_shards(spark, path)


def _mix_threshold_sql() -> str:
    whens = " ".join(
        f"WHEN '{k}' THEN {_threshold(v)}" for k, v in _MIX_RATES.items()
    )
    return f"(CASE source {whens} ELSE {_threshold(_MIX_DEFAULT)} END)"


def _split_cums() -> list[tuple[str, int]]:
    """(name, cumulative threshold) pairs with the SAME float
    accumulation order the Spark operator uses, so both engines round
    identical cumulative sums onto the bucket grid."""
    out, cum = [], 0.0
    for name, frac in _SPLIT_FRACS.items():
        cum += frac
        out.append((name, _threshold(cum)))
    return out


def _split_index_sql() -> str:
    b = bucket_sql("doc_id", salt="split")
    whens = " ".join(
        f"WHEN {b} < {thr} THEN {i}.0"
        for i, (_, thr) in enumerate(_split_cums())
    )
    return f"(CASE {whens} END)"


def _grams3_sql(toks_expr: str) -> str:
    """DuckDB word-3-grams of a token list (twin of
    operators/text_quality._word_ngrams at n=3)."""
    return (
        f"list_transform(generate_series(1, greatest(len({toks_expr}) - 2, 1)),"
        f" i -> array_to_string(list_slice({toks_expr}, CAST(i AS INT),"
        f" CAST(i + 2 AS INT)), ' '))"
    )


#: lowercased tokens / distinct shingles for the contamination check
_LTOKS_SQL = f"string_split_regex(trim(lower(text)), '{_WS}')"
_LSH_SQL = f"list_distinct({_grams3_sql(_LTOKS_SQL)})"

#: repeated-span variant: window width + the perturbed-copy layer that
#: guarantees non-trivial cross-document repeats at every SF (a copy
#: missing its last _SPAN_DROP tokens shares every span that fits in
#: the shortened text and none of the trailing ones — so per-doc
#: counts exercise both the sharing and the boundary arithmetic)
_SPAN_TOKENS = 16
_SPAN_DROP = 2
_SPAN_COPY_OFFSET = 30_000_000

#: linear quality-classifier variant (operators/quality_model): the
#: feature space is deliberately small — the point is pinning the
#: inference arithmetic (hash → weight lookup → integer sum) in both
#: engines, not model capacity; a production model just passes a
#: bigger trained vector
_CLF_DIM = 512
_CLF_WEIGHTS = default_weights(_CLF_DIM)


def _clf_sql() -> str:
    """DuckDB twin of operators/quality_model.classifier_score at
    unigram+bigram order: same truncated-slice n-gram boundary as
    _word_ngrams, same first-48-bits-of-sha256 feature hash, same
    1-based weight lookup into the identical literal vector."""
    wl = "[" + ", ".join(str(x) for x in _CLF_WEIGHTS) + "]"
    fid = f"CAST((CAST(('0x' || substr(sha256(x), 1, 12)) AS BIGINT) % {_CLF_DIM}) + 1 AS INT)"
    return f"""
        WITH toks AS (
            SELECT doc_id, {_tokens_sql()} AS t FROM documents
        ),
        ng AS (
            SELECT doc_id, list_concat(t, list_transform(
                       generate_series(1, greatest(len(t) - 1, 1)),
                       i -> array_to_string(list_slice(t, CAST(i AS INT),
                                CAST(i + 1 AS INT)), ' '))) AS g
            FROM toks
        )
        SELECT doc_id,
               CAST(len(g) AS BIGINT) AS n_feats,
               CAST(list_sum(list_transform(g,
                    x -> list_extract(CAST({wl} AS BIGINT[]), {fid})))
                    AS BIGINT) AS score
        FROM ng
    """


@register("quality_clf", oracle=_clf_sql(), prepare=True)
def quality_clf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fasttext-style linear quality-classifier INFERENCE
    (operators/quality_model.classifier_score) as a driver row: every
    document's word unigrams + bigrams hash into a 512-bucket feature
    space (the hashing trick, first-48-bits-of-sha256 — the portable
    hash operators/sampling._bucket established) and a literal weight
    vector scores them; the result is one (doc_id, n_feats, score)
    row per document with ``score`` the exact integer milli-weight
    sum — the model-based quality-filter step (CCNet / fastText
    classifiers) beside the suite's heuristic signals.

    No reference counterpart (north-star extension operator). Both
    engines embed the identical deterministic weight vector as a plan
    literal (default_weights — the trained-model stand-in) and
    compute the identical hash, so the equality is exact integer
    arithmetic; a differential pure-Python pin (including the
    weight-binding no-CSE regression) lives in tests/test_llm_ops.py.

    100 TB shape: a pure per-row projection — scan-parallel on any
    executor count, zero shuffle, zero Python rows; the model rides
    as a plan literal (~dim longs per executor, the broadcast-variable
    shape), so inference cost is exactly one corpus scan."""
    docs = spread_scan(read_table(spark, sf_dir, "documents"))
    return classifier_score(docs, _CLF_WEIGHTS)


@register(
    "llm_curation_suite",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, {_tokens_sql()} AS t FROM documents
        ),
        grams AS (
            SELECT doc_id, {_grams3_sql('t')} AS g FROM toks
        ),
        bench AS (
            SELECT DISTINCT unnest({_LSH_SQL}) AS s FROM documents
            WHERE doc_id % {_BENCH_MOD} = 0
        ),
        doc_sh AS (
            SELECT doc_id, unnest({_LSH_SQL}) AS s FROM documents
        ),
        span_corpus AS (
            SELECT doc_id, {_tokens_sql()} AS t2 FROM documents
            UNION ALL
            SELECT doc_id + {_SPAN_COPY_OFFSET},
                   list_slice({_tokens_sql()}, 1,
                              greatest(len({_tokens_sql()}) - {_SPAN_DROP}, 1))
            FROM documents
        ),
        span_spans AS (
            SELECT doc_id, unnest(list_distinct(list_transform(
                generate_series(1, greatest(len(t2) - {_SPAN_TOKENS - 1}, 1)),
                i -> array_to_string(list_slice(t2, CAST(i AS INT),
                         CAST(i + {_SPAN_TOKENS - 1} AS INT)), ' ')))) AS sp
            FROM span_corpus
        ),
        span_shared AS (
            SELECT sp FROM span_spans
            GROUP BY sp HAVING COUNT(DISTINCT doc_id) >= 2
        ),
        occ AS (
            SELECT doc_id, unnest(t) AS tok FROM toks
        ),
        tok_counts AS (
            SELECT tok, COUNT(*) AS c FROM occ GROUP BY tok
        ),
        tok_total AS (
            SELECT SUM(c) AS n_total FROM tok_counts
        )
        SELECT 'sample' AS variant, doc_id,
               CAST({bucket_sql('doc_id')} AS DOUBLE) AS value
        FROM documents WHERE {bucket_sql('doc_id')} < {_threshold(_SAMPLE_FRAC)}
        UNION ALL
        SELECT 'mix', doc_id, CAST({bucket_sql('doc_id')} AS DOUBLE)
        FROM documents WHERE {bucket_sql('doc_id')} < {_mix_threshold_sql()}
        UNION ALL
        SELECT 'prune', doc_id, CAST(n_chars AS DOUBLE)
        FROM (
            SELECT doc_id, n_chars,
                   ROW_NUMBER() OVER (
                       PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS rn,
                   COUNT(*) OVER (PARTITION BY lang) AS cnt
            FROM documents
        ) WHERE rn <= CAST(ceil(cnt * {_PRUNE_FRAC}) AS BIGINT)
        UNION ALL
        SELECT 'rep_dup_word', doc_id,
               1.0 - CAST(len(list_distinct(t)) AS DOUBLE)
                   / CAST(len(t) AS DOUBLE)
        FROM toks
        UNION ALL
        SELECT 'rep_top_word', doc_id,
               CAST(list_max(list_transform(list_distinct(t),
                        w -> len(list_filter(t, x -> x = w)))) AS DOUBLE)
                   / CAST(len(t) AS DOUBLE)
        FROM toks
        UNION ALL
        SELECT 'rep_dup_3gram', doc_id,
               1.0 - CAST(len(list_distinct(g)) AS DOUBLE)
                   / CAST(len(g) AS DOUBLE)
        FROM grams
        UNION ALL
        SELECT 'contamination', d.doc_id, CAST(count(b.s) AS DOUBLE)
        FROM doc_sh d LEFT JOIN bench b USING (s)
        GROUP BY d.doc_id
        UNION ALL
        SELECT 'pack', doc_id,
               CAST((doc_id % {_PACK_SHARDS}) * {1 << 40}
                    + floor(COALESCE(SUM(len(t)) OVER (
                          PARTITION BY doc_id % {_PACK_SHARDS}
                          ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                      ), 0) / {_PACK_BUDGET}) AS DOUBLE)
        FROM toks
        UNION ALL
        SELECT 'split', doc_id, {_split_index_sql()}
        FROM documents
        UNION ALL
        SELECT 'cap', doc_id, CAST(rnk AS DOUBLE)
        FROM (
            SELECT doc_id, ROW_NUMBER() OVER (
                PARTITION BY source
                ORDER BY {bucket_sql('doc_id', salt='cap')}, doc_id) AS rnk
            FROM documents
        ) WHERE rnk <= {_CAP_N}
        UNION ALL
        SELECT 'chunk', doc_id,
               CAST(((u.s - 1) // {_CHUNK_TOKENS - _CHUNK_OVERLAP}) * 10000000
                    + {bucket_sql(
                        "array_to_string(list_slice(t, CAST(u.s AS INT),"
                        f" CAST(u.s + {_CHUNK_TOKENS} - 1 AS INT)), ' ')")}
               AS DOUBLE)
        FROM toks, unnest(generate_series(
                 1, greatest(len(t) - {_CHUNK_OVERLAP}, 1),
                 {_CHUNK_TOKENS - _CHUNK_OVERLAP})) AS u(s)
        UNION ALL
        SELECT 'span', doc_id, CAST(COUNT(*) AS DOUBLE)
        FROM span_spans JOIN span_shared USING (sp)
        WHERE doc_id < {_SPAN_COPY_OFFSET}
        GROUP BY doc_id
        UNION ALL
        SELECT 'rarity', doc_id,
               CAST(SUM((1000000 * n_total) // c) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE)
        FROM occ JOIN tok_counts USING (tok) CROSS JOIN tok_total
        GROUP BY doc_id
        UNION ALL
        SELECT 'shard', doc_id,
               CAST({shard_sql('doc_id', _SHARD_N, _SHARD_SALT)} AS DOUBLE)
        FROM documents
        UNION ALL
        SELECT 'shard_pos', doc_id,
               CAST({pos_sql('doc_id', _SHARD_SALT)} AS DOUBLE)
        FROM documents
    """,
    headline=True,
)
def llm_curation_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-curation operator family in one long-format registration
    (variant, doc_id, value):

    - ``sample``: :func:`deterministic_sample` at 25% — kept ids AND
      their bucket hashes, so the oracle equality pins the hash itself;
    - ``mix``: :func:`weighted_mix` over four named source rates plus
      the default — pins the per-group threshold lookup;
    - ``prune``: :func:`quantile_prune` keeping the top 30% by n_chars
      within each language — pins the deterministic tie-break window;
    - ``rep_*``: the three Gopher-style repetition fractions, per doc;
    - ``contamination``: 3-gram overlap counts against the broadcast
      benchmark shingle set (every 97th doc plays the eval set);
    - ``pack``: :func:`pack_sequences` greedy fixed-budget sequence
      assembly (512-token budget, 8 shards) — pins the sharded
      running-sum assignment;
    - ``split``: :func:`split_assign` 80/10/10 train/val/test (value =
      split index) — pins the salted cumulative-range assignment;
    - ``cap``: :func:`cap_per_group` keeping 15 docs per source (value
      = the in-group hash rank) — pins the salted-hash draw order;
    - ``chunk``: :func:`chunk_documents` 16-token windows with overlap
      4 (value = chunk_idx·1e7 + a 48-bit content fingerprint of the
      chunk text) — pins every chunk boundary AND its exact content;
    - ``span``: :func:`repeated_spans` cross-document repeated
      16-token windows over the corpus plus a last-2-tokens-dropped
      copy layer (value = the doc's count of distinct spans repeated
      verbatim elsewhere) — Spark counts xxhash64 fingerprints, the
      oracle raw span strings; equal unless the hash collides
      (the contamination variant's standard argument);
    - ``rarity``: :func:`rarity_scores` mean fixed-point inverse
      unigram frequency — the corpus-statistics quality signal (the
      CCNet perplexity-bucket stand-in), integer arithmetic end to
      end so the value hash applies exactly;
    - ``shard`` / ``shard_pos``: the training-shard export itself —
      write_training_shards lands a REAL export in a per-process
      scratch dir (build-once/read-many) and the variants read the
      WRITTEN files: shard membership and the exact 48-bit
      within-shard sort key, h48-keyed so DuckDB reproduces the full
      deterministic permutation bit-for-bit from the raw table, so
      the gated variants exercise the write path end to end.

    Shapes: sample/mix/rep_*/split/shard/shard_pos are pure scans;
    prune and cap are
    one window shuffle each (lang / source) planning partial top-n
    (WindowGroupLimit); pack is one window shuffle on its shard key;
    contamination broadcasts only the benchmark shingles — the corpus
    never shuffles anywhere. The MODEL-based quality signal (linear
    classifier inference) is its own row, ``quality_clf``.

    The thirteen variants compose off ONE persisted ``documents`` scan
    rather than one scan per union branch; the modest
    long-format result is eagerly lineage-truncated so every cache
    (the corpus and the span postings) is released before returning —
    the caller gets a self-contained frame, not live cache
    references.

    Plan construction + Catalyst analysis of the 13-variant union
    (~1.5 s/call, the row's single largest cost) run once per
    (app, sf_dir) via _prepared_lifecycle_plan; every call still
    re-persists the corpus and span-postings caches, executes the full
    scan/shuffle pipeline through a fresh QueryExecution (so the cache
    manager sees THIS call's registrations), truncates, and
    unpersists."""
    out, frames = _prepared_lifecycle_plan(
        spark,
        "llm_curation_suite",
        sf_dir,
        lambda: _llm_union_build(spark, sf_dir),
    )
    for f in frames:
        f.persist()
    try:
        # eager truncation materializes the (small, long-format) result
        # off the caches, which are then safe to release immediately
        return _truncate_lineage(out, eager=True, skippable=True)
    finally:
        for f in frames:
            f.unpersist()


def _llm_union_build(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, list[DataFrame]]:
    """Construct the 13-variant union plan; returns (out, frames)
    where frames is the per-call persist set (the documents corpus and
    the span operator's postings cache)."""
    docs = read_table(spark, sf_dir, "documents")
    bucket_val = _bucket("doc_id").cast("double").alias("value")
    sample = deterministic_sample(docs, _SAMPLE_FRAC).select(
        F.lit("sample").alias("variant"), "doc_id", bucket_val
    )
    mix = weighted_mix(
        docs, _MIX_RATES, by="source", default_rate=_MIX_DEFAULT
    ).select(F.lit("mix").alias("variant"), "doc_id", bucket_val)
    prune = quantile_prune(docs, "n_chars", _PRUNE_FRAC, by="lang").select(
        F.lit("prune").alias("variant"),
        "doc_id",
        F.col("n_chars").cast("double").alias("value"),
    )
    rep = repetition_signals(docs).select(
        "doc_id",
        F.expr(
            "stack(3, 'rep_dup_word', dup_word_frac,"
            " 'rep_top_word', top_word_frac,"
            " 'rep_dup_3gram', dup_3gram_frac) AS (variant, value)"
        ),
    ).select("variant", "doc_id", "value")
    bench = docs.where(F.col("doc_id") % _BENCH_MOD == 0)
    cont = contamination_flags(docs, bench).select(
        F.lit("contamination").alias("variant"),
        "doc_id",
        F.col("n_contaminated_ngrams").cast("double").alias("value"),
    )
    pack = pack_sequences(docs, _PACK_BUDGET, _PACK_SHARDS).select(
        F.lit("pack").alias("variant"),
        "doc_id",
        F.col("seq_id").cast("double").alias("value"),
    )
    idx_col = None
    for i, name in enumerate(_SPLIT_FRACS):
        cond = F.col("split") == name
        idx_col = (
            F.when(cond, float(i)) if idx_col is None else idx_col.when(cond, float(i))
        )
    split = split_assign(docs, _SPLIT_FRACS).select(
        F.lit("split").alias("variant"),
        "doc_id",
        idx_col.cast("double").alias("value"),
    )
    cap = cap_per_group(docs, _CAP_N, by="source").select(
        F.lit("cap").alias("variant"),
        "doc_id",
        F.col("cap_rank").cast("double").alias("value"),
    )
    span_toks = F.split(F.trim(F.col("text")), _WS)
    span_pert = docs.select(
        (F.col("doc_id") + _SPAN_COPY_OFFSET).alias("doc_id"),
        F.array_join(
            F.slice(
                span_toks, 1, F.greatest(F.size(span_toks) - _SPAN_DROP, F.lit(1))
            ),
            " ",
        ).alias("text"),
    )
    cleanup: list[DataFrame] = [docs]
    span = (
        repeated_spans(
            docs.select("doc_id", "text").unionAll(span_pert),
            span_tokens=_SPAN_TOKENS,
            cleanup=cleanup,
        )
        .where(F.col("doc_id") < _SPAN_COPY_OFFSET)
        .select(
            F.lit("span").alias("variant"),
            "doc_id",
            F.col("n_repeated_spans").cast("double").alias("value"),
        )
    )
    rar = rarity_scores(docs).select(
        F.lit("rarity").alias("variant"), "doc_id", F.col("rarity").alias("value")
    )
    # the training-shard export: membership ('shard') plus the
    # within-shard sort key ('shard_pos', 48-bit so the DOUBLE melt
    # carries it exactly), read back from the written export
    # (_shard_export), are hash-checked against the oracle's
    # independent recomputation.
    shard_v = (
        _shard_export(docs, sf_dir)
        .select(
            "doc_id",
            F.expr(
                "stack(2, 'shard', cast(shard AS double),"
                " 'shard_pos', cast(pos AS double)) AS (variant, value)"
            ),
        )
        .select("variant", "doc_id", "value")
    )
    chunk = chunk_documents(
        docs, chunk_tokens=_CHUNK_TOKENS, overlap=_CHUNK_OVERLAP
    ).select(
        F.lit("chunk").alias("variant"),
        "doc_id",
        # chunk index + content fingerprint in one value: the hash
        # equality pins every chunk's exact text, not just the count
        (
            F.col("chunk_idx") * F.lit(10_000_000)
            + _bucket(F.col("chunk_text"))
        )
        .cast("double")
        .alias("value"),
    )
    out = (
        sample.unionAll(mix)
        .unionAll(prune)
        .unionAll(rep)
        .unionAll(cont)
        .unionAll(pack)
        .unionAll(split)
        .unionAll(cap)
        .unionAll(chunk)
        .unionAll(span)
        .unionAll(rar)
        .unionAll(shard_v)
    )
    return out, cleanup


# --- end-to-end curator run ------------------------------------------------

#: id offsets for the two synthetic duplicate layers
_EXACT_OFFSET = 10_000_000
_PERTURB_OFFSET = 20_000_000
#: the perturbed copy drops the last _DROP tokens
_DROP = 2

_PERTURBED_TEXT_SQL = (
    f"array_to_string(list_slice({{t}}, 1, greatest(len({{t}}) - {_DROP}, 1)), ' ')"
)

#: 3-gram shingles over a token list (twin of queries/dedup.shingle_docs
#: — strings here, xxhash64 fingerprints on the Spark side; Jaccard is
#: identical unless the fingerprint collides, see module docstring)
_SHINGLES_SQL = (
    f"list_distinct(list_transform(generate_series(1, greatest(len({{t}}) - 2, 1)),"
    f" i -> array_to_string(list_slice({{t}}, CAST(i AS INT), CAST(i + 2 AS INT)), ' ')))"
)

_CURATION_DEFAULT_MIN_WORDS = 5
_CURATION_MAX_STOPWORD = 0.9
_CURATION_MIN_DIVERSITY = 0.1
_CURATION_JACCARD_MIN = 0.5


def _curation_oracle() -> str:
    toks = _tokens_sql()
    norm = f"sha256(regexp_replace(lower(trim(text)), '{_WS}', ' ', 'g'))"
    return f"""
        WITH RECURSIVE
        corpus AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + {_EXACT_OFFSET}, text FROM documents
            UNION ALL
            SELECT doc_id + {_PERTURB_OFFSET},
                   {_PERTURBED_TEXT_SQL.format(t=toks)}
            FROM documents
        ),
        sig AS (
            SELECT doc_id, text,
                   len({toks.replace('text', 'text')}) AS n_words,
                   CAST(len(list_filter({toks}, t ->
                        list_contains({_SW_ARR_SQL}, t))) AS DOUBLE)
                     / CAST(len({toks}) AS DOUBLE) AS swr,
                   CAST(len(list_distinct({toks})) AS DOUBLE)
                     / CAST(len({toks}) AS DOUBLE) AS div
            FROM corpus
        ),
        q AS (
            SELECT doc_id, text,
                   COALESCE(n_words >= {_CURATION_DEFAULT_MIN_WORDS}
                            AND swr <= {_CURATION_MAX_STOPWORD}
                            AND div >= {_CURATION_MIN_DIVERSITY}, FALSE) AS ok
            FROM sig
        ),
        hashed AS (
            SELECT doc_id, text, {norm} AS h FROM q WHERE ok
        ),
        ecanon AS (
            SELECT h, min(doc_id) AS canonical_id FROM hashed GROUP BY h
        ),
        etag AS (
            SELECT d.doc_id, c.canonical_id
            FROM hashed d JOIN ecanon c USING (h)
        ),
        ekept AS (
            SELECT doc_id, text FROM etag JOIN hashed USING (doc_id)
            WHERE doc_id = canonical_id
        ),
        prepped AS MATERIALIZED (
            SELECT doc_id, {_SHINGLES_SQL.format(t=toks)} AS sh FROM ekept
        ),
        pairs AS MATERIALIZED (
            SELECT doc_a, doc_b FROM (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                       len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS inter,
                       len(a.sh) + len(b.sh)
                         - len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS uni
                FROM prepped a JOIN prepped b ON a.doc_id < b.doc_id
            )
            WHERE (CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE))
                  >= {_CURATION_JACCARD_MIN}
        ),
        edges AS MATERIALIZED (
            SELECT doc_a AS a, doc_b AS b FROM pairs
            UNION
            SELECT doc_b, doc_a FROM pairs
        ),
        reach(a, b) AS (
            SELECT doc_id, doc_id FROM ekept
            UNION
            SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        ),
        labels AS (
            SELECT a AS doc_id, CAST(MIN(b) AS BIGINT) AS canonical_id
            FROM reach GROUP BY a
        )
        SELECT doc_id, 'quality' AS reason, CAST(NULL AS BIGINT) AS canonical_id
        FROM q WHERE NOT ok
        UNION ALL
        SELECT doc_id, 'exact_dup', CAST(canonical_id AS BIGINT)
        FROM etag WHERE doc_id <> canonical_id
        UNION ALL
        SELECT doc_id, 'near_dup', canonical_id
        FROM labels WHERE doc_id <> canonical_id
        UNION ALL
        SELECT doc_id, 'kept', CAST(NULL AS BIGINT)
        FROM labels WHERE doc_id = canonical_id
    """


@register("curation_run", oracle=_curation_oracle())
def curation_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end :class:`TrainingDataCurator` run over a corpus with
    two synthetic duplicate layers (an exact copy at +1e7 and a
    last-2-tokens-dropped near-dup copy at +2e7, so every stage is
    non-vacuous at every SF). The checked result is the DECISION
    RECORD — one row per input doc with reason in {{quality,
    exact_dup, near_dup, kept}} and the canonical survivor for dropped
    duplicates — which transitively hash-pins the quality gate, the
    single-shuffle exact dedup, the df-capped complete Jaccard pair
    join, and the checkpointed connected-components clustering against
    a recursive-CTE oracle. The kept corpus itself is exactly the
    decisions' ``kept`` rows (tests/test_pipeline.py pins that the
    record partitions the input)."""
    from ..jobs.training_data import TrainingDataCurator

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.trim(F.col("text")), _WS)
    perturbed_text = F.array_join(
        F.slice(toks, 1, F.greatest(F.size(toks) - _DROP, F.lit(1))), " "
    )
    corpus = (
        docs.unionAll(
            docs.select((F.col("doc_id") + _EXACT_OFFSET).alias("doc_id"), "text")
        )
        .unionAll(
            docs.select(
                (F.col("doc_id") + _PERTURB_OFFSET).alias("doc_id"),
                perturbed_text.alias("text"),
            )
        )
        # the curator reads its input from several stages (quality
        # signals, content hashing, shingling, the final kept-join and
        # decision branches) — persist the synthetic corpus once so
        # each consumer reads the cache instead of re-deriving the
        # 3-way union from the parquet scan. No spread_scan: the
        # pipeline's dozens of small stages multiply per-task overhead
        # faster than the <=3 heavy map tasks gain (A/B'd at 32 and 8
        # ways, OPTIMIZATION_r16.md).
        .persist()
    )
    # stage caches (quality flags, hash-tagged frame) collect here; the
    # lineage truncation below materializes the decision record ONCE
    # off those caches, then everything is released — the returned
    # frame reads checkpoint blocks, not the cache, so a long-lived
    # session keeps no blocks pinned after the query returns
    cleanup: list[DataFrame] = [corpus]
    _, decisions = TrainingDataCurator().run(corpus, cleanup=cleanup)
    decisions = decisions.select(
        "doc_id", "reason", F.col("canonical_id").cast("long").alias("canonical_id")
    )
    try:
        return _truncate_lineage(decisions, skippable=True)
    finally:
        for frame in cleanup:
            frame.unpersist()


# --- repeated-span removal (the transform half of exact-substring dedup) --

#: every doc_id % _SCRUB_COPY_MOD == 0 document gets a tail-dropped
#: near-copy in the scrub scenario, so MOST documents pass through
#: untouched while a fifth get surgically scrubbed — discriminative at
#: every SF, unlike a full-copy scenario where every output would be
#: near-empty
_SCRUB_COPY_MOD = 5


def _span_scrub_oracle() -> str:
    k = _SPAN_TOKENS
    t = _tokens_sql()
    return f"""
        WITH scrub_corpus AS (
            SELECT doc_id, {t} AS t2 FROM documents
            UNION ALL
            SELECT doc_id + {_SPAN_COPY_OFFSET},
                   list_slice({t}, 1, greatest(len({t}) - {_SPAN_DROP}, 1))
            FROM documents WHERE doc_id % {_SCRUB_COPY_MOD} = 0
        ),
        scrub_pos AS (
            SELECT doc_id, g.i AS i,
                   array_to_string(list_slice(t2, CAST(g.i AS INT),
                       CAST(g.i + {k - 1} AS INT)), ' ') AS sp
            FROM scrub_corpus,
                 unnest(generate_series(1, greatest(len(t2) - {k - 1}, 1)))
                     AS g(i)
        ),
        scrub_shared AS (
            SELECT sp FROM scrub_pos
            GROUP BY sp HAVING COUNT(DISTINCT doc_id) >= 2
        ),
        scrub_marked AS (
            SELECT doc_id, list(i) AS starts
            FROM scrub_pos JOIN scrub_shared USING (sp)
            GROUP BY doc_id
        ),
        scrub_kept AS (
            SELECT c.doc_id, c.t2,
                   list_filter(generate_series(1, len(c.t2)),
                       j -> len(list_filter(
                                COALESCE(m.starts, CAST([] AS BIGINT[])),
                                s -> s >= j - {k - 1} AND s <= j)) = 0) AS kj
            FROM scrub_corpus c LEFT JOIN scrub_marked m USING (doc_id)
            WHERE c.doc_id < {_SPAN_COPY_OFFSET}
        )
        SELECT doc_id,
               -- COALESCE: duckdb's array_to_string([]) is NULL where
               -- spark's concat_ws over an empty array is '' (a fully
               -- scrubbed doc must compare equal across engines)
               COALESCE(array_to_string(list_transform(kj,
                   j -> t2[CAST(j AS INT)]), ' '), '') AS clean_text,
               CAST(len(t2) - len(kj) AS BIGINT) AS n_removed_tokens
        FROM scrub_kept
    """


@register("span_scrub", oracle=_span_scrub_oracle(), headline=True, prepare=True)
def span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-span REMOVAL as a driver row — the Lee
    et al. (2022) exact-substring-dedup TRANSFORM
    (operators/text_quality.remove_repeated_spans), where the
    registry's `span` variant (llm_curation_suite) only detects: every
    token covered by a 16-token window occurring verbatim in >= 2
    documents is excised and the surviving tokens re-joined. Scenario:
    the documents table plus a tail-dropped near-copy of every fifth
    document (the llm suite's span constants), output restricted to
    the originals — so ~4/5 of the rows must pass through
    byte-identical while the rest are surgically scrubbed, and the
    oracle (which marks positions by raw span STRINGS where Spark uses
    xxhash64 chain fingerprints) hash-proves the cleaned TEXT matches
    byte-for-byte, pinning the positional semantics, not just counts.
    Scale shape: only (doc_id, 8-byte fp) rows shuffle; the removal is
    a per-row expression where the text already sits (see the
    operator's docstring)."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    copies = docs.where(F.col("doc_id") % _SCRUB_COPY_MOD == 0).select(
        (F.col("doc_id") + _SPAN_COPY_OFFSET).alias("doc_id"),
        F.array_join(
            F.slice(toks, 1, F.greatest(F.size(toks) - _SPAN_DROP, F.lit(1))),
            " ",
        ).alias("text"),
    )
    # spread AFTER the union, not at the read — the operator
    # derives three consumers from its input, and a spread at the read
    # is re-planned per union branch with different pushed filters
    # below it (non-reusable exchanges: pinned count went 2 -> 7);
    # spreading the assembled corpus keeps the subtree identical in
    # every consumer, so exchange reuse executes it once (guide §2.5,
    # §2.4). The window-fingerprint chains then run 32-way instead of
    # as ONE task over the single-row-group input.
    return remove_repeated_spans(
        spread_scan(docs.unionAll(copies)), span_tokens=_SPAN_TOKENS
    ).where(F.col("doc_id") < _SPAN_COPY_OFFSET)
