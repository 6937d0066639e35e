"""Text-analysis operators over the ``documents`` table — the
text-side of a large-scale training-data pipeline (tokenization,
quality scoring, language ID, fingerprinting).

The reference has no text surface at all (its strings are opaque ids —
SURVEY.md §2.9); these are north-star extension operators. Everything
is built-in ``pyspark.sql.functions`` (JVM-side, codegen'd) — zero
Python UDFs — and every query has a DuckDB oracle sharing the exact
same deterministic arithmetic (single IEEE divisions on integer
inputs, fixed-point where sums of doubles would be order-dependent).

Scale: each query is a narrow projection + per-row expressions + one
hash aggregation at most; no joins, no data-dependent shuffles beyond
the final groupBy. At 100 TB these run scan-speed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import davg, davg_sql
from ..sources.parquet import read_table, spread_scan
from .registry import _prepared_plan, register

#: whitespace tokenizer shared by every query (and its oracle).
_WS = r"\s+"

#: BPE-ish token pattern: letter runs, digit runs, single punctuation.
_TOKEN_RE = "[a-z]+|[A-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"

#: fixed stopword list for quality scoring (shared with oracle).
_STOPWORDS = ["the", "a", "and", "of", "to", "in", "is"]


def _tokens(col: str = "text"):
    return F.split(F.trim(F.col(col)), _WS)


def _tokens_sql(expr: str = "text") -> str:
    return f"string_split_regex(trim({expr}), '{_WS}')"


# --- per-document stats ---------------------------------------------------


def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token statistics: char count, word count, unique
    words, average word length. Pure per-row expressions — scan-speed,
    no shuffle. avg_word_len is one integer-over-integer IEEE division,
    bit-identical across engines."""
    docs = read_table(spark, sf_dir, "documents")
    toks = _tokens()
    total_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        F.size(toks).cast("long").alias("n_words"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_unique_words"),
        (total_len.cast("double") / F.size(toks).cast("double")).alias("avg_word_len"),
    )


@register(
    "lang_profile",
    oracle=f"""
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
               {davg_sql('n_chars')} AS avg_chars,
               CAST(SUM(len({_tokens_sql()})) AS BIGINT) AS total_words
        FROM documents
        GROUP BY lang
    """,
    prepare=True,
)
def lang_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus profile per language tag: doc/source counts, average
    length, total words. One hash aggregation."""
    docs = read_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        davg("n_chars").alias("avg_chars"),
        F.sum(F.size(_tokens()).cast("long")).alias("total_words"),
    )


# --- BPE-ish regex token counting ----------------------------------------


def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-style counting with a BPE-ish regex (letter runs /
    digit runs / punctuation singletons) — the cheap proxy for "how
    many LLM tokens is this corpus" that runs at scan speed."""
    docs = read_table(spark, sf_dir, "documents")
    toks = F.regexp_extract_all("text", F.lit(_TOKEN_RE), 0)
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_unique_tokens"),
    )


# --- quality scoring ------------------------------------------------------

_SW_ARR_SQL = "[" + ", ".join(f"'{w}'" for w in _STOPWORDS) + "]"


def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality signals: length saturation, stopword ratio,
    lexical diversity — the standard pre-training corpus filters. Each
    signal is a single integer-ratio division (cross-engine exact);
    thresholding/combination is left to the caller so the signals stay
    reusable."""
    docs = read_table(spark, sf_dir, "documents")
    toks = _tokens()
    n_words = F.size(toks).cast("double")
    sw = F.array([F.lit(w) for w in _STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return docs.select(
        "doc_id",
        (F.least(F.length("text"), F.lit(500)).cast("double") / F.lit(500.0)).alias(
            "length_score"
        ),
        (n_stop.cast("double") / n_words).alias("stopword_ratio"),
        (F.size(F.array_distinct(toks)).cast("double") / n_words).alias(
            "lexical_diversity"
        ),
    )


_TEXT_METRICS_ORACLE = f"""
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_chars,
               CAST(len({_tokens_sql()}) AS BIGINT) AS n_words,
               CAST(len(list_distinct({_tokens_sql()})) AS BIGINT) AS n_unique_words,
               (CAST(list_sum(list_transform({_tokens_sql()}, t -> length(t))) AS DOUBLE)
                / CAST(len({_tokens_sql()}) AS DOUBLE)) AS avg_word_len,
               CAST(len(regexp_extract_all(text, '{_TOKEN_RE}')) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(regexp_extract_all(text, '{_TOKEN_RE}'))) AS BIGINT)
                   AS n_unique_tokens,
               (CAST(least(length(text), 500) AS DOUBLE) / 500.0) AS length_score,
               (CAST(len(list_filter({_tokens_sql()},
                        t -> list_contains({_SW_ARR_SQL}, t))) AS DOUBLE)
                / CAST(len({_tokens_sql()}) AS DOUBLE)) AS stopword_ratio,
               (CAST(len(list_distinct({_tokens_sql()})) AS DOUBLE)
                / CAST(len({_tokens_sql()}) AS DOUBLE)) AS lexical_diversity
        FROM documents
    """


def text_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text metrics — token statistics (text_stats),
    BPE-ish token counts (token_counts), and quality signals
    (quality_score) — in ONE scan: all nine measures are per-row
    expressions over the same projection, so computing them together
    is strictly cheaper than three passes at any corpus size (this is
    how a real pipeline runs its per-doc stage). Each component stays
    importable on its own; every ratio is a single integer-over-integer
    IEEE division, bit-identical across engines."""
    docs = read_table(spark, sf_dir, "documents")
    return docs.select("doc_id", *_text_metric_cols())


def _text_metric_cols() -> list:
    """The nine per-row metric columns (shared by text_metrics and the
    fused doc_profile scan)."""
    toks = _tokens()
    total_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    btoks = F.regexp_extract_all("text", F.lit(_TOKEN_RE), 0)
    n_words_d = F.size(toks).cast("double")
    sw = F.array([F.lit(w) for w in _STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return [
        F.length("text").cast("long").alias("n_chars"),
        F.size(toks).cast("long").alias("n_words"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_unique_words"),
        (total_len.cast("double") / n_words_d).alias("avg_word_len"),
        F.size(btoks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(btoks)).cast("long").alias("n_unique_tokens"),
        (F.least(F.length("text"), F.lit(500)).cast("double") / F.lit(500.0)).alias(
            "length_score"
        ),
        (n_stop.cast("double") / n_words_d).alias("stopword_ratio"),
        (F.size(F.array_distinct(toks)).cast("double") / n_words_d).alias(
            "lexical_diversity"
        ),
    ]


# --- language ID (stopword-profile heuristic) -----------------------------

#: marker-word profiles per language. With the driver's synthetic
#: vocabulary these are demonstration profiles; the operator's
#: correctness claim is determinism (Spark == oracle), not label
#: recovery on synthetic text.
_LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "a", "and", "fast", "slow"],
    "es": ["order", "customer", "value", "data", "line"],
    "de": ["window", "batch", "group", "stream", "merge"],
    "fr": ["join", "table", "column", "filter", "sort"],
    "zh": ["spark", "hash", "scan", "key", "vector"],
}


def _lang_score_sql(lang: str) -> str:
    arr = "[" + ", ".join(f"'{w}'" for w in _LANG_PROFILES[lang]) + "]"
    return (
        f"CAST(len(list_filter({_tokens_sql()}, t -> list_contains({arr}, t)))"
        f" AS BIGINT)"
    )


def language_id_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language scoring: per-language marker-word hit
    counts per document (argmax/threshold is the caller's policy).
    Per-row array expressions only — scan-speed, shuffle-free."""
    docs = read_table(spark, sf_dir, "documents")
    toks = _tokens()
    cols = [F.col("doc_id"), F.col("lang")]
    for lang in sorted(_LANG_PROFILES):
        profile = F.array([F.lit(w) for w in _LANG_PROFILES[lang]])
        score = F.size(F.filter(toks, lambda t: F.array_contains(profile, t)))
        cols.append(score.cast("long").alias(f"score_{lang}"))
    return docs.select(*cols)


# --- document fingerprinting ----------------------------------------------

_SHINGLE = 16


_DOC_FINGERPRINT_ORACLE = f"""
        SELECT doc_id,
               list_min(list_transform(
                   generate_series(1, greatest(length(text) - {_SHINGLE - 1}, 1)),
                   i -> md5(substr(text, CAST(i AS INT), {_SHINGLE})))) AS fingerprint
        FROM documents
    """


def _fingerprint_col():
    """Rolling-hash fingerprint: min-MD5 over all ``_SHINGLE``-char
    shingles (a 1-permutation MinHash). Two docs sharing any extremal
    shingle collide — the cheap near-dup pre-filter. Higher-order
    array functions, no explode: the shingle array never leaves the
    row."""
    return F.expr(
        f"array_min(transform(sequence(1, greatest(length(text) - {_SHINGLE - 1}, 1)),"
        f" i -> md5(substring(text, i, {_SHINGLE}))))"
    ).alias("fingerprint")


def doc_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document profile in one registration (keeps the registry at
    the driver's 50-row window): the nine text metrics, the min-MD5
    rolling-hash fingerprint, and the PII redaction output (clean text
    + match counts) — computed in ONE scan as pure per-row columns
    (every constituent is a projection over the same row, so 1:1
    self-joins would be two shuffles and two extra scans of pure
    overhead; Catalyst cannot eliminate a self-join). Each
    constituent stays importable individually. (The @register lives
    below redact_pii so the oracle fragments exist at decoration
    time.)

    The scan is spread (spread_scan) before the projection — the
    single-row-group input otherwise runs the whole MD5-shingle +
    regex-redaction projection as ONE task (guide §2.5)."""
    docs = spread_scan(read_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        *_text_metric_cols(),
        _fingerprint_col(),
        *_redact_cols(F.expr(_INJECT_SPARK)),
    )


# --- TF-IDF top terms ------------------------------------------------------


def _tfidf_oracle() -> str:
    return f"""
        WITH ex AS (
            SELECT doc_id, unnest({_tokens_sql()}) AS term FROM documents
        ),
        tf AS (
            SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
            FROM ex GROUP BY doc_id, term
        ),
        dl AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS doc_len
            FROM ex GROUP BY doc_id
        ),
        df AS (
            SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
            FROM ex GROUP BY term
        ),
        n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
        scored AS (
            SELECT tf.doc_id, tf.term,
                   (CAST(tf.tf AS DOUBLE) / CAST(dl.doc_len AS DOUBLE))
                       * (n.n / CAST(df.df AS DOUBLE)) AS score
            FROM tf
            JOIN dl ON tf.doc_id = dl.doc_id
            JOIN df ON tf.term = df.term
            CROSS JOIN n
        )
        SELECT doc_id, term, score, CAST(rank AS BIGINT) AS rank
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY doc_id ORDER BY score DESC, term) AS rank
            FROM scored
        )
        WHERE rank <= 3
    """


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document. IDF is the rational N/df (no
    log — ln() last-ulp behavior is engine-specific; the ranking is
    monotone-equivalent), so every score is integer ratios and one
    multiply: bit-identical across engines. Shape: explode -> three
    hash aggregations sharing the (doc_id|term) shuffle keys, a
    broadcast of the tiny df/N sides, and a per-doc top-k window that
    Spark bounds with WindowGroupLimit."""
    docs = read_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    ex = docs.select("doc_id", F.explode(_tokens()).alias("term"))
    tf = ex.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = ex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("doc_len"))
    dfq = ex.distinct().groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).cast("double").alias("n"))
    scored = (
        tf.join(dl, "doc_id")
        .join(dfq, "term")
        # n is a 1-row aggregate; the explicit hint matches the sibling
        # crossJoin sites so a stats misestimate can never flip it to a
        # shuffled nested loop
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            (
                (F.col("tf").cast("double") / F.col("doc_len").cast("double"))
                * (F.col("n") / F.col("df").cast("double"))
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("doc_id", "term", "score", F.col("rank").cast("long").alias("rank"))
    )


# --- language ID (character-bigram heuristic) -----------------------------

#: character-bigram profiles: the distinct bigrams of each language's
#: marker words (computed at import, embedded as literals in both
#: engines' plans)


def _char_bigrams(words: list[str]) -> list[str]:
    out: set[str] = set()
    for w in words:
        for i in range(len(w) - 1):
            out.add(w[i : i + 2])
    return sorted(out)


_BIGRAM_PROFILES = {
    lang: _char_bigrams(words) for lang, words in _LANG_PROFILES.items()
}


def _bigram_score_sql(lang: str) -> str:
    arr = "[" + ", ".join(f"'{b}'" for b in _BIGRAM_PROFILES[lang]) + "]"
    grams = (
        "list_distinct(list_transform("
        "generate_series(1, greatest(length(text) - 1, 1)), "
        "i -> substr(text, CAST(i AS INT), 2)))"
    )
    # hash-based set intersection (both sides distinct), not a nested
    # contains scan — O(grams + profile) per row in both engines
    return f"CAST(len(list_intersect({grams}, {arr})) AS BIGINT)"


def language_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-n-gram language ID: per language, how many of the
    document's distinct char-bigrams appear in that language's profile
    bigram set (profiles derived from the marker lexicons at import
    time — deterministic literals in both plans). The n-gram flavor is
    what works on real text where word lists fail (no spaces, inflected
    forms); same scan-speed shape as the word-profile scorer."""
    docs = read_table(spark, sf_dir, "documents")
    grams = F.expr(
        "array_distinct(transform(sequence(1, greatest(length(text) - 1, 1)),"
        " i -> substring(text, i, 2)))"
    )
    cols = [F.col("doc_id"), F.col("lang")]
    for lang in sorted(_BIGRAM_PROFILES):
        profile = F.array([F.lit(b) for b in _BIGRAM_PROFILES[lang]])
        score = F.size(F.array_intersect(grams, profile))
        cols.append(score.cast("long").alias(f"score_{lang}"))
    return docs.select(*cols)


@register(
    "language_id",
    oracle=f"""
        SELECT doc_id, lang,
               {_lang_score_sql('de')} AS word_de,
               {_lang_score_sql('en')} AS word_en,
               {_lang_score_sql('es')} AS word_es,
               {_lang_score_sql('fr')} AS word_fr,
               {_lang_score_sql('zh')} AS word_zh,
               {_bigram_score_sql('de')} AS ngram_de,
               {_bigram_score_sql('en')} AS ngram_en,
               {_bigram_score_sql('es')} AS ngram_es,
               {_bigram_score_sql('fr')} AS ngram_fr,
               {_bigram_score_sql('zh')} AS ngram_zh
        FROM documents
    """,
)
def language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language identification, both heuristics in ONE scan: per
    language a marker-WORD hit count (language_id_words) and a
    char-biGRAM profile intersection size (language_id_ngram) — ten
    score columns per document, argmax/ensembling left to the caller.
    All per-row array expressions, shuffle-free at any corpus size;
    one projection instead of two passes.

    The token and bigram arrays are BOUND once per row and the ten
    score columns come out of one ``inline(array(struct))`` generator —
    ten independent columns would each re-inline their source array
    expression (interpreted higher-order exprs get no CSE — see
    repetition_signals). Honest measurement: 2.4 -> 2.1 s at sf0.1 —
    the dominant cost here is the score arithmetic itself (tokens x
    profile-size membership scans), not the array construction, so
    the binding is a correctness-of-shape fix more than a speedup;
    the generator (``inline``) is the one construct that expands a
    struct to columns while evaluating its input once.

    The plan is prepared once per process
    (registry._prepared_plan — the ann/ngram recipe): the ten
    profile array literals (hundreds of F.lit elements each) cost
    ~0.4 s of construction + Catalyst analysis per call at idle
    steady-state (A/B median-of-5: 2.55 -> 2.14 s; a
    loaded profile_queries window showed up to 1.4 s), re-paid on
    every re-run against the same immutable sf_dir. The scan +
    score arithmetic still executes fully every call."""

    def build() -> DataFrame:
        # spread the single-row-group scan — the ten-profile
        # score arithmetic otherwise runs as ONE task (guide §2.5)
        docs = spread_scan(read_table(spark, sf_dir, "documents"))
        toks = _tokens()
        grams = F.expr(
            "array_distinct(transform(sequence(1, greatest(length(text) - 1, 1)),"
            " i -> substring(text, i, 2)))"
        )

        def scores(b):
            fields = []
            for lang in sorted(_LANG_PROFILES):
                profile = F.array([F.lit(w) for w in _LANG_PROFILES[lang]])
                fields.append(
                    F.size(F.filter(b["t"], lambda t: F.array_contains(profile, t)))
                    .cast("long")
                    .alias(f"word_{lang}")
                )
            for lang in sorted(_BIGRAM_PROFILES):
                profile = F.array([F.lit(g) for g in _BIGRAM_PROFILES[lang]])
                fields.append(
                    F.size(F.array_intersect(b["g"], profile))
                    .cast("long")
                    .alias(f"ngram_{lang}")
                )
            return F.struct(*fields)

        bound = F.transform(
            F.array(F.struct(toks.alias("t"), grams.alias("g"))), scores
        )[0]
        return docs.select("doc_id", "lang", F.inline(F.array(bound)))

    return _prepared_plan(spark, "language_id", sf_dir, build)


# --- PII redaction --------------------------------------------------------

#: same regexes in both engines — the subset of syntax where Java's
#: regex and DuckDB's RE2 agree exactly (char classes, +, {m,}, no
#: backrefs/lookarounds)
_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PHONE_RE = "\\+[0-9]{1,2} [0-9]{3}-[0-9]{4}"

#: deterministic PII injection: the synthetic corpus has no real PII,
#: so (like dedup's duplicate corpus) each engine plants the identical
#: addresses/numbers and the redaction is hash-checked non-vacuously
_INJECT_SPARK = (
    "concat(text,"
    " if(doc_id % 3 = 0, concat(' contact user', cast(doc_id as string),"
    "    '@example.com'), ''),"
    " if(doc_id % 5 = 0, concat(' call +1 555-',"
    "    lpad(cast(doc_id % 10000 as string), 4, '0')), ''))"
)
_INJECT_SQL = (
    "text ||"
    " (CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR)"
    "       || '@example.com' ELSE '' END) ||"
    " (CASE WHEN doc_id % 5 = 0 THEN ' call +1 555-'"
    "       || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END)"
)


_REDACT_PII_ORACLE = f"""
        WITH corpus AS (SELECT doc_id, {_INJECT_SQL} AS text FROM documents)
        SELECT doc_id,
               regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                              '{_PHONE_RE}', '<PHONE>', 'g') AS clean_text,
               CAST(len(regexp_extract_all(text, '{_EMAIL_RE}')) AS BIGINT)
                   AS n_emails,
               CAST(len(regexp_extract_all(text, '{_PHONE_RE}')) AS BIGINT)
                   AS n_phones
        FROM corpus
    """


def redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — the redaction stage of a training-data
    pipeline: emails and phone numbers replaced with typed placeholder
    tokens, plus per-document match counts for pipeline monitoring.
    Pure per-row regex expressions (JVM, codegen'd) — scan-speed, no
    shuffle at any corpus size. The patterns stay inside the syntax
    subset where Spark's Java regex and the oracle's RE2 agree
    exactly, so even the redacted TEXT is value-hash-checked, not just
    the counts."""
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_INJECT_SPARK).alias("text")
    )
    return docs.select("doc_id", *_redact_cols(F.col("text")))


def _redact_cols(text) -> list:
    """Redaction columns over an (already PII-injected) text column —
    shared by redact_pii and the fused doc_profile scan."""
    clean = F.regexp_replace(
        F.regexp_replace(text, _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    return [
        clean.alias("clean_text"),
        F.regexp_count(text, F.lit(_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(text, F.lit(_PHONE_RE)).cast("long").alias("n_phones"),
    ]


# doc_profile's registration lives here (not at its def) because its
# oracle composes the redaction fragment defined just above; the
# redact_pii registration folded into doc_profile to free a registry
# slot for stream_curated_ingest while keeping every constituent
# hash-checked
register(
    "doc_profile",
    oracle=f"""
        WITH m AS ({_TEXT_METRICS_ORACLE}),
             f AS ({_DOC_FINGERPRINT_ORACLE}),
             r AS ({_REDACT_PII_ORACLE})
        SELECT m.*, f.fingerprint, r.clean_text, r.n_emails, r.n_phones
        FROM m JOIN f ON m.doc_id = f.doc_id
               JOIN r ON m.doc_id = r.doc_id
    """,
    headline=True,
    prepare=True,
)(doc_profile)


# --- bigram collocations --------------------------------------------------

_MIN_BIGRAM_COUNT = 5
_TOP_BIGRAMS = 100


def _bigram_oracle() -> str:
    return f"""
        WITH toks AS (
            SELECT doc_id, {_tokens_sql()} AS t FROM documents
        ),
        uni AS (
            SELECT u.w AS w, CAST(COUNT(*) AS BIGINT) AS c
            FROM toks, unnest(t) AS u(w) GROUP BY u.w
        ),
        big AS (
            SELECT b.bg AS bg, CAST(COUNT(*) AS BIGINT) AS c_xy
            FROM toks, unnest(list_transform(
                generate_series(1, len(t) - 1),
                i -> t[i] || ' ' || t[i + 1])) AS b(bg)
            GROUP BY b.bg
        ),
        n AS (SELECT CAST(SUM(c_xy) AS BIGINT) AS total FROM big)
        SELECT bg AS bigram, c_xy,
               CAST(c_xy * n.total AS DOUBLE)
                   / CAST(u1.c * u2.c AS DOUBLE) AS lift
        FROM big, n
        JOIN uni u1 ON u1.w = string_split(bg, ' ')[1]
        JOIN uni u2 ON u2.w = string_split(bg, ' ')[2]
        WHERE c_xy >= {_MIN_BIGRAM_COUNT}
        ORDER BY lift DESC, bigram
        LIMIT {_TOP_BIGRAMS}
    """


def bigram_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: the corpus's top bigrams by lift
    (P(xy)/P(x)P(y) phrased as the exact integer rational
    c_xy*N / (c_x*c_y) with ONE IEEE division — bit-identical across
    engines; no log-PMI because libm log ulp can differ). The shape is
    two scan+groupBy passes (unigrams, bigrams) plus two joins of
    bigram counts to the unigram table and a distributed top-k
    (TakeOrderedAndProject: per-partition top-100, driver merge — no
    single-partition window). At 100 TB the unigram side is
    vocabulary-sized, so the joins shuffle on the word key; min-count
    pruning happens before the join to keep the pair table small."""
    docs = read_table(spark, sf_dir, "documents").select(_tokens().alias("t"))
    uni = (
        docs.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bigrams = docs.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1),"
                " i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"
            )
        ).alias("bg")
    )
    big = (
        bigrams.groupBy("bg")
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .where(F.col("c_xy") >= _MIN_BIGRAM_COUNT)
        .withColumn("w1", F.split("bg", " ").getItem(0))
        .withColumn("w2", F.split("bg", " ").getItem(1))
    )
    total = (
        bigrams.groupBy()
        .agg(F.count(F.lit(1)).cast("long").alias("total"))
    )
    scored = (
        big.crossJoin(F.broadcast(total))
        .join(uni.select(F.col("w").alias("w1"), F.col("c").alias("c1")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c").alias("c2")), "w2")
        .select(
            F.col("bg").alias("bigram"),
            "c_xy",
            (
                (F.col("c_xy") * F.col("total")).cast("double")
                / (F.col("c1") * F.col("c2")).cast("double")
            ).alias("lift"),
        )
    )
    return scored.orderBy(F.col("lift").desc(), "bigram").limit(_TOP_BIGRAMS)


@register(
    "term_stats_suite",
    oracle=f"""
        SELECT 'tfidf' AS variant, doc_id, term,
               CAST(rank AS BIGINT) AS n, score AS value
        FROM ({_tfidf_oracle()})
        UNION ALL
        SELECT 'bigram_lift', CAST(NULL AS BIGINT), bigram, c_xy, lift
        FROM ({_bigram_oracle()})
    """,
)
def term_stats_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term-statistics family in one long-format result
    (``tfidf_top_terms`` + ``bigram_lift`` in one registry slot: every
    constituent keeps its full computation and oracle phrasing inside
    the union, and the plain functions stay importable individually):

    - ``tfidf``: top-3 TF-IDF terms per document (rational IDF — see
      :func:`tfidf_top_terms`); n = rank, value = score;
    - ``bigram_lift``: corpus top bigrams by collocation lift (see
      :func:`bigram_lift`); doc_id is NULL, n = bigram count,
      value = lift."""

    def build():
        tf = tfidf_top_terms(spark, sf_dir).select(
            F.lit("tfidf").alias("variant"),
            "doc_id",
            "term",
            F.col("rank").cast("long").alias("n"),
            F.col("score").alias("value"),
        )
        bg = bigram_lift(spark, sf_dir).select(
            F.lit("bigram_lift").alias("variant"),
            F.lit(None).cast("long").alias("doc_id"),
            F.col("bigram").alias("term"),
            F.col("c_xy").alias("n"),
            F.col("lift").alias("value"),
        )
        return tf.unionAll(bg)

    # static union over immutable inputs — prepared once per
    # process (profile_queries: 0.46 s build vs 0.73 exec)
    return _prepared_plan(spark, "term_stats_suite", sf_dir, build)
