"""Text-analysis operators: token stats, quality scoring, language id,
document fingerprints (SURVEY.md north-star extensions; BASELINE.json).

All pure Catalyst expressions (split / regexp / HOF filter / md5) —
whole-stage-codegen'd, shuffle-free per-row projections that scale
linearly with partitions. Each operator has a DuckDB-SQL twin builder
(used by the driver oracle) generated from the SAME constants so the
two can't drift.

Cross-engine parity notes (validated empirically):
- ``split(lower(text), '\\s+')`` ≡ DuckDB ``string_split_regex``
- ``regexp_extract_all`` counts agree for the pretoken pattern
- ``md5`` hex output is identical
- ``instr('0123456789abcdef', nibble)`` is identical
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from vectra_py_spark.session import local_frame, spread

__all__ = [
    "words_col",
    "analyze_text",
    "analyze_text_sql",
    "tokenizer_fertility",
    "tokenizer_fertility_sql",
    "language_id",
    "language_id_sql",
    "fingerprint",
    "fingerprint_sql",
    "repetition_signals",
    "repetition_signals_sql",
    "pii_scrub",
    "pii_scrub_sql",
    "frequent_tokens",
    "frequent_tokens_sql",
    "quality_score_col",
    "quality_score_sql_expr",
    "pred_lang_col",
    "is_repetitive_col",
    "ngram_diversity",
    "ngram_diversity_sql",
    "unigram_lm_score",
    "unigram_lm_score_sql",
    "corpus_stats",
    "corpus_stats_sql",
    "bpe_pair_counts",
    "bpe_pair_counts_sql",
    "cross_source_dups",
    "cross_source_dups_sql",
    "bigram_lm_score",
    "bigram_lm_score_sql",
    "dup_shingle_ratio",
    "dup_shingle_ratio_sql",
    "source_token_drift",
    "source_token_drift_sql",
    "duplicate_ngram_spans",
    "duplicate_ngram_spans_sql",
    "nb_quality_score",
    "nb_quality_score_sql",
]

# PII patterns restricted to the Java∩RE2 regex subset so Spark and
# DuckDB match identically. Conservative by design (precision over
# recall — a scrubber that mangles non-PII text corrupts training data).
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_PATTERN = r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b"

# Pretokenizer pattern (BPE-shaped; see text/tokenizers.py) restricted to
# RE2∩Java-compatible syntax so Spark and DuckDB count identically.
PRETOKEN_SQL_PATTERN = r" ?[A-Za-z]+| ?\d+| ?[^\sA-Za-z\d]+|\s+"

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]

# Language marker words for the n-gram/stopword-vote heuristic. The CJK
# check runs first (character-class evidence beats word votes).
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "is"],
    "de": ["der", "die", "das", "und", "ist"],
    "es": ["el", "la", "los", "es", "y"],
    "fr": ["le", "la", "les", "et", "est"],
}
_CJK_PATTERN = r"[\x{4E00}-\x{9FFF}]"


def words_col(text_col: str) -> Column:
    return F.split(F.lower(F.col(text_col)), r"\s+")


def bigrams_col(words: Column) -> Column:
    """Adjacent-word bigram array over a words column — exposed so
    compositions can stage it once (see the ``words=``/``bigrams=``
    note below)."""
    n_words = F.size(words)
    return F.zip_with(
        F.slice(words, 1, F.greatest(n_words - 1, F.lit(0))),
        F.slice(words, 2, F.greatest(n_words - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )


# Optimization note (don't compute things twice):
# every signal expression below references its words/bigrams arrays
# several times, and these HOF-bearing expressions are evaluated
# interpreted (no whole-stage codegen, no runtime subexpression
# elimination) — so inlining ``split(lower(text))`` at every reference
# re-splits the text per reference (the clean_corpus plan carried ~25
# copies). The ``words=``/``bigrams=`` parameters let a caller stage
# the arrays ONCE in a preceding projection and pass the resulting
# attribute; Catalyst's CollapseProject keeps the stage separate
# because the producer expressions are non-cheap and multiply
# referenced. Passing nothing preserves the original inlined shape.


def _words_sql(text_expr: str) -> str:
    return rf"string_split_regex(lower({text_expr}), '\s+')"


# ---------------------------------------------------------------------------
# Token stats + quality score
# ---------------------------------------------------------------------------
def quality_score_col(
    text_col: str = "text", words: Column | None = None
) -> Column:
    """The quality-score expression alone — reusable in single-scan
    compositions (``clean_corpus``); identical structure to what
    :func:`analyze_text` emits."""
    t = F.col(text_col)
    if words is None:
        words = words_col(text_col)
    n_words = F.size(words)
    n_chars = F.length(t)
    alpha = F.length(F.regexp_replace(t, "[^A-Za-z]", ""))
    stop = F.size(F.filter(words, lambda w: w.isin(*STOPWORDS)))
    len_score = F.least(n_words / F.lit(100.0), F.lit(1.0))
    return F.round(
        0.4 * len_score
        + 0.3 * (alpha / F.greatest(n_chars, F.lit(1)))
        + 0.3 * F.least(
            (stop / F.greatest(n_words, F.lit(1))) * 10.0, F.lit(1.0)
        ),
        6,
    )


def analyze_text(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document token counts + character-class ratios + quality score.

    Quality score (publicly standard shape: length/punct/stopword
    signals): ``0.4·len_score + 0.3·alpha_ratio + 0.3·stopword_presence``
    where len_score saturates at 100 words.
    """
    # stage the words array once per row (see the staging note above)
    df = spread(df).select("*", words_col(text_col).alias("__words"))
    t = F.col(text_col)
    words = F.col("__words")
    n_words = F.size(words)
    n_chars = F.length(t)
    alpha = F.length(F.regexp_replace(t, "[^A-Za-z]", ""))
    digits = F.length(F.regexp_replace(t, "[^0-9]", ""))
    stop = F.size(F.filter(words, lambda w: w.isin(*STOPWORDS)))
    n_bpe = F.size(F.regexp_extract_all(t, F.lit(PRETOKEN_SQL_PATTERN), 0))

    alpha_ratio = F.round(alpha / F.greatest(n_chars, F.lit(1)), 6)
    stop_ratio = F.round(stop / F.greatest(n_words, F.lit(1)), 6)
    quality = quality_score_col(text_col, words=words)
    return df.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_words.alias("n_words"),
        n_bpe.alias("n_tokens_bpe"),
        digits.alias("n_digits"),
        alpha_ratio.alias("alpha_ratio"),
        stop_ratio.alias("stopword_ratio"),
        quality.alias("quality_score"),
    )


def quality_score_sql_expr(text_expr: str = "text") -> str:
    """DuckDB twin of :func:`quality_score_col` as a bare expression
    (rounded at 6 dp, like the Column builder)."""
    w = _words_sql(text_expr)
    stops = ", ".join(f"'{s}'" for s in STOPWORDS)
    return (
        f"ROUND(0.4 * least(len({w}) / 100.0, 1.0)"
        f" + 0.3 * (length(regexp_replace({text_expr}, '[^A-Za-z]', '', 'g'))"
        f" * 1.0 / greatest(length({text_expr}), 1))"
        f" + 0.3 * least(len(list_filter({w}, x -> x IN ({stops})))"
        f" * 10.0 / greatest(len({w}), 1), 1.0), 6)"
    )


def tokenizer_fertility(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    dp: int = 6,
) -> DataFrame:
    """Per-source tokenizer fertility card: BPE-style pretokens per
    word, characters per pretoken, and pretokens per document — the
    numbers a token budget and serving-cost plan are priced from
    (fertility varies sharply by domain: code-ish and non-English
    sources run hot, and a fertility shift after a crawl refresh is a
    tokenizer-mismatch smell).

    One narrow scan (pretokenization is the same codegen'd regex the
    per-doc analyzer uses — no explode, no Python) into a
    partial-agg'd per-source rollup; ratios derive from exact integer
    sums, so the result is partitioning-invariant.
    """
    t = F.col(text_col)
    per_doc = df.select(
        F.col(source_col),
        F.length(t).alias("c"),
        F.size(words_col(text_col)).alias("w"),
        F.size(
            F.regexp_extract_all(t, F.lit(PRETOKEN_SQL_PATTERN), 0)
        ).alias("b"),
    )
    return (
        per_doc.groupBy(source_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("c").alias("sc"),
            F.sum("w").alias("sw"),
            F.sum("b").alias("sb"),
        )
        .select(
            source_col,
            "n_docs",
            F.round(F.col("sb") / F.col("sw"), dp).alias("tokens_per_word"),
            F.round(F.col("sc") / F.col("sb"), dp).alias("chars_per_token"),
            F.round(F.col("sb") / F.col("n_docs"), dp).alias("tokens_per_doc"),
        )
        .orderBy(source_col)
    )


def tokenizer_fertility_sql(
    table: str = "documents",
    text_expr: str = "text",
    source_col: str = "source",
    dp: int = 6,
) -> str:
    """DuckDB twin of :func:`tokenizer_fertility`."""
    w = _words_sql(text_expr)
    return f"""
        WITH per_doc AS (
          SELECT {source_col},
                 length({text_expr}) AS c,
                 len({w}) AS word_n,
                 len(regexp_extract_all({text_expr},
                     '{PRETOKEN_SQL_PATTERN}')) AS b
          FROM {table}
        )
        SELECT {source_col},
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               ROUND(SUM(b) / SUM(word_n), {dp}) AS tokens_per_word,
               ROUND(SUM(c) / SUM(b), {dp}) AS chars_per_token,
               ROUND(SUM(b) / COUNT(*), {dp}) AS tokens_per_doc
        FROM per_doc
        GROUP BY {source_col}
        ORDER BY {source_col}
    """


def analyze_text_sql(table: str = "documents", text_expr: str = "text") -> str:
    w = _words_sql(text_expr)
    stops = ", ".join(f"'{s}'" for s in STOPWORDS)
    return f"""
        SELECT doc_id,
               length({text_expr}) AS n_chars,
               len({w}) AS n_words,
               len(regexp_extract_all({text_expr}, '{PRETOKEN_SQL_PATTERN}'))
                   AS n_tokens_bpe,
               length(regexp_replace({text_expr}, '[^0-9]', '', 'g')) AS n_digits,
               ROUND(length(regexp_replace({text_expr}, '[^A-Za-z]', '', 'g'))
                     * 1.0 / greatest(length({text_expr}), 1), 6) AS alpha_ratio,
               ROUND(len(list_filter({w}, x -> x IN ({stops})))
                     * 1.0 / greatest(len({w}), 1), 6) AS stopword_ratio,
               ROUND(0.4 * least(len({w}) / 100.0, 1.0)
                     + 0.3 * (length(regexp_replace({text_expr}, '[^A-Za-z]', '', 'g'))
                              * 1.0 / greatest(length({text_expr}), 1))
                     + 0.3 * least(len(list_filter({w}, x -> x IN ({stops})))
                                   * 10.0 / greatest(len({w}), 1), 1.0),
                     6) AS quality_score
        FROM {table}
    """


# ---------------------------------------------------------------------------
# Language id (n-gram heuristic)
# ---------------------------------------------------------------------------
def pred_lang_col(
    text_col: str = "text", words: Column | None = None
) -> Column:
    """The language-id CASE expression alone — reusable in single-scan
    compositions; identical structure to :func:`language_id`."""
    t = F.col(text_col)
    if words is None:
        words = words_col(text_col)

    def _vote(markers: list[str]) -> Column:
        # single-arg lambda required: F.filter treats 2-arg lambdas as
        # (element, index)
        return F.size(F.filter(words, lambda w: w.isin(*markers)))

    votes = {lang: _vote(markers) for lang, markers in LANG_MARKERS.items()}
    best = F.greatest(*votes.values())
    pred = F.when(t.rlike(_CJK_PATTERN), F.lit("zh"))
    for lang in LANG_MARKERS:  # fixed order = deterministic tie-break
        pred = pred.when((votes[lang] == best) & (best > 0), F.lit(lang))
    return pred.otherwise(F.lit("und"))


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """CJK character-class check, else arg-max of stopword votes
    (ties resolved in fixed language order, 'und' for zero votes)."""
    # stage the words array once per row (see the staging note above):
    # the vote CASE references it ~10x and evaluates interpreted
    return (
        spread(df)
        .select("doc_id", text_col, words_col(text_col).alias("__words"))
        .select(
            "doc_id",
            pred_lang_col(text_col, words=F.col("__words"))
            .alias("pred_lang"),
        )
    )


def pred_lang_sql_expr(text_expr: str = "text") -> str:
    """The language-ID decision as one SQL CASE expression (DuckDB) —
    shared by :func:`language_id_sql` and :func:`lang_confusion_sql`."""
    w = _words_sql(text_expr)

    def vote(markers: list[str]) -> str:
        lits = ", ".join(f"'{m}'" for m in markers)
        return f"len(list_filter({w}, x -> x IN ({lits})))"

    votes = {lang: vote(m) for lang, m in LANG_MARKERS.items()}
    best = "greatest(" + ", ".join(votes.values()) + ")"
    whens = "\n".join(
        f"WHEN {votes[lang]} = {best} AND {best} > 0 THEN '{lang}'"
        for lang in LANG_MARKERS
    )
    return (
        f"CASE WHEN regexp_matches({text_expr}, '{_CJK_PATTERN}') THEN 'zh'\n"
        f"     {whens}\n"
        f"     ELSE 'und' END"
    )


def language_id_sql(table: str = "documents", text_expr: str = "text") -> str:
    return f"""
        SELECT doc_id,
               {pred_lang_sql_expr(text_expr)} AS pred_lang
        FROM {table}
    """


def lang_confusion(
    df: DataFrame,
    label_col: str = "lang",
    text_col: str = "text",
    dp: int = 6,
) -> DataFrame:
    """Language-ID QA: confusion cells of the n-gram classifier's
    prediction against the labeled ``lang`` column, with each cell's
    share of its label row — the eval table a curation pipeline reads
    before trusting a lang filter to route 100 TB of text.

    Output: (lang, pred_lang, n, share) ordered by (lang, pred_lang);
    ``share`` = n / label_total, ROUND(dp).

    100 TB design: prediction is the same zero-shuffle projection as
    :func:`language_id` (stopword votes + CJK regex, all in the scan's
    codegen stage); the confusion aggregate groups on a ≤|langs|² key
    space with map-side partial counts, and the share window runs over
    the aggregated cells, never the corpus.
    """
    cells = (
        df.select(label_col, text_col, words_col(text_col).alias("__words"))
        .select(
            F.col(label_col),
            pred_lang_col(text_col, words=F.col("__words"))
            .alias("pred_lang"),
        )
        .groupBy(label_col, "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy(label_col)
    return (
        cells.withColumn(
            "share", F.round(F.col("n") / F.sum("n").over(w), dp)
        )
        .orderBy(label_col, "pred_lang")
    )


def lang_confusion_sql(
    table: str = "documents",
    label_col: str = "lang",
    text_expr: str = "text",
    dp: int = 6,
) -> str:
    return f"""
        WITH pred AS (
            SELECT {label_col} AS lang,
                   {pred_lang_sql_expr(text_expr)} AS pred_lang
            FROM {table}
        )
        SELECT lang, pred_lang, count(*) AS n,
               ROUND(count(*)::DOUBLE /
                     SUM(count(*)) OVER (PARTITION BY lang), {dp}) AS share
        FROM pred
        GROUP BY lang, pred_lang
        ORDER BY lang, pred_lang
    """


# ---------------------------------------------------------------------------
# Repetition signals (Gopher-style quality filter; Rae et al. 2021, §A1.1)
# ---------------------------------------------------------------------------
# Flag thresholds: chosen so the fixture corpus splits (see COVERAGE.md);
# the Gopher paper's own cuts are corpus-tuned too.
REPETITION_TOP_BIGRAM_MAX = 0.06
REPETITION_DUP_BIGRAM_MAX = 0.10


def _bigram_signal_cols(
    text_col: str = "text",
    words: Column | None = None,
    bigrams: Column | None = None,
) -> tuple[Column, Column]:
    """(dup_bigram_frac, top_bigram_frac) expressions — the two inputs
    of the repetition flag, reusable in single-scan compositions."""
    if words is None:
        words = words_col(text_col)
    if bigrams is None:
        bigrams = bigrams_col(words)
    n_bigrams = F.size(bigrams)
    top_count = F.aggregate(
        F.array_sort(bigrams),
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc.best,
                F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc.best,
    )
    dup_bigram = F.round(
        F.lit(1.0)
        - F.size(F.array_distinct(bigrams))
        * F.lit(1.0)
        / F.greatest(n_bigrams, F.lit(1)),
        6,
    )
    top_bigram = F.round(
        top_count * F.lit(1.0) / F.greatest(n_bigrams, F.lit(1)), 6
    )
    return dup_bigram, top_bigram


def is_repetitive_col(
    text_col: str = "text",
    words: Column | None = None,
    bigrams: Column | None = None,
) -> Column:
    """The repetition flag alone (int 0/1), for compositions."""
    dup_bigram, top_bigram = _bigram_signal_cols(text_col, words, bigrams)
    return (
        (top_bigram > REPETITION_TOP_BIGRAM_MAX)
        | (dup_bigram > REPETITION_DUP_BIGRAM_MAX)
    ).cast("int")


def repetition_signals(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document repetition ratios + a repetition flag.

    Signals (word-level; the fixture corpus has no line structure):
    ``dup_word_frac`` (1 − distinct/total words), ``dup_bigram_frac``,
    ``top_bigram_frac`` (share of the most frequent bigram among all
    bigrams) and ``is_repetitive`` (either bigram signal past its cut).

    100 TB design: a pure per-row projection — words/bigrams live only
    inside array HOFs, the most-frequent-bigram count is a run-length
    scan over the row's SORTED bigram array (``aggregate`` HOF), so no
    explode, no shuffle, whole-stage codegen end to end. Contrast the
    DuckDB oracle twin, which uses unnest + GROUP BY: same semantics,
    quadratic-shuffle shape we deliberately avoid on the Spark side.
    """
    # stage words AND bigrams once per row (see the staging note above)
    df = (
        spread(df)
        .select("*", words_col(text_col).alias("__words"))
        .select("*", bigrams_col(F.col("__words")).alias("__bigrams"))
    )
    words = F.col("__words")
    n_words = F.size(words)
    n_distinct = F.size(F.array_distinct(words))
    dup_word = F.round(
        F.lit(1.0) - n_distinct * F.lit(1.0) / F.greatest(n_words, F.lit(1)), 6
    )
    dup_bigram, top_bigram = _bigram_signal_cols(
        text_col, words=words, bigrams=F.col("__bigrams")
    )
    flag = (
        (top_bigram > REPETITION_TOP_BIGRAM_MAX)
        | (dup_bigram > REPETITION_DUP_BIGRAM_MAX)
    ).cast("int")
    return df.select(
        "doc_id",
        dup_word.alias("dup_word_frac"),
        dup_bigram.alias("dup_bigram_frac"),
        top_bigram.alias("top_bigram_frac"),
        flag.alias("is_repetitive"),
    )


def repetition_signals_sql(table: str = "documents", text_expr: str = "text") -> str:
    w = _words_sql(text_expr)
    return f"""
        WITH b AS (
          SELECT doc_id, len(words) AS n_words,
                 len(list_distinct(words)) AS n_distinct_words,
                 [words[i] || ' ' || words[i+1]
                  for i in range(1, len(words))] AS bigrams
          FROM (SELECT doc_id, {w} AS words FROM {table})
        ), e AS (
          SELECT doc_id, unnest(bigrams) AS bg FROM b
        ), c AS (
          SELECT doc_id, max(c) AS top_c FROM (
            SELECT doc_id, bg, count(*) AS c FROM e GROUP BY doc_id, bg
          ) GROUP BY doc_id
        )
        SELECT b.doc_id,
               ROUND(1.0 - n_distinct_words * 1.0 / greatest(n_words, 1), 6)
                   AS dup_word_frac,
               ROUND(1.0 - len(list_distinct(bigrams)) * 1.0
                     / greatest(len(bigrams), 1), 6) AS dup_bigram_frac,
               ROUND(coalesce(top_c, 0) * 1.0
                     / greatest(len(bigrams), 1), 6) AS top_bigram_frac,
               CAST(ROUND(coalesce(top_c, 0) * 1.0 / greatest(len(bigrams), 1), 6)
                        > {REPETITION_TOP_BIGRAM_MAX}
                    OR ROUND(1.0 - len(list_distinct(bigrams)) * 1.0
                             / greatest(len(bigrams), 1), 6)
                        > {REPETITION_DUP_BIGRAM_MAX}
                    AS int) AS is_repetitive
        FROM b LEFT JOIN c ON b.doc_id = c.doc_id
    """


# ---------------------------------------------------------------------------
# PII scrubbing (email/phone redaction — standard pre-training step)
# ---------------------------------------------------------------------------
def pii_scrub(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact emails/phones; per-doc counts + hash of the scrubbed text.

    Pure Catalyst regexp projections (codegen'd, shuffle-free). The
    driver fixture corpus contains no PII, so the driver oracle checks
    the zero-redaction path end to end; planted-data semantics live in
    the unit test (same pattern as the multimodal decode stub).
    """
    df = spread(df)
    t = F.col(text_col)
    scrubbed = F.regexp_replace(
        F.regexp_replace(t, EMAIL_PATTERN, "[EMAIL]"),
        PHONE_PATTERN,
        "[PHONE]",
    )
    return df.select(
        "doc_id",
        F.size(F.regexp_extract_all(t, F.lit(EMAIL_PATTERN), 0))
        .alias("n_emails"),
        F.size(F.regexp_extract_all(t, F.lit(PHONE_PATTERN), 0))
        .alias("n_phones"),
        F.md5(scrubbed).alias("scrubbed_fp"),
    )


def pii_scrub_sql(table: str = "documents", text_expr: str = "text") -> str:
    return f"""
        SELECT doc_id,
               len(regexp_extract_all({text_expr}, '{EMAIL_PATTERN}'))
                   AS n_emails,
               len(regexp_extract_all({text_expr}, '{PHONE_PATTERN}'))
                   AS n_phones,
               md5(regexp_replace(
                     regexp_replace({text_expr}, '{EMAIL_PATTERN}',
                                    '[EMAIL]', 'g'),
                     '{PHONE_PATTERN}', '[PHONE]', 'g')) AS scrubbed_fp
        FROM {table}
    """


# ---------------------------------------------------------------------------
# Fingerprint (whitespace-normalized content hash)
# ---------------------------------------------------------------------------
def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    return df.select("doc_id", F.md5(norm).alias("fingerprint"))


def fingerprint_sql(table: str = "documents", text_expr: str = "text") -> str:
    return rf"""
        SELECT doc_id,
               md5(trim(regexp_replace(lower({text_expr}), '\s+', ' ', 'g')))
                   AS fingerprint
        FROM {table}
    """


# ---------------------------------------------------------------------------
# Heavy hitters: corpus-wide token frequency top-k
# ---------------------------------------------------------------------------
def frequent_tokens(
    df: DataFrame, k: int = 25, text_col: str = "text", min_len: int = 2
) -> DataFrame:
    """Top-k most frequent tokens across the corpus (count DESC, token
    ASC) — the vocabulary/stopword-discovery pass of a training-data
    pipeline.

    100 TB design: ``explode`` is a narrow map (no shuffle); the count
    aggregates map-side per partition first, so the single exchange
    carries one row per DISTINCT token per partition — vocabulary-sized,
    not corpus-sized (Zipf: the head tokens partial-aggregate millions
    of occurrences into one row each). Top-k is
    ``TakeOrderedAndProject``, no global sort. For heavy skew on the
    head tokens the partial agg IS the salting — no explicit salt
    needed. An approximate alternative (count-min / ``freqItems``)
    exists in ``DataFrame.stat``, but the exact form is itself
    scale-correct here, so we keep the oracle-able exact query.
    """
    return (
        df.select(F.explode(words_col(text_col)).alias("token"))
        .filter(F.length("token") >= min_len)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(k)
    )


def frequent_tokens_sql(
    k: int = 25, table: str = "documents", text_expr: str = "text",
    min_len: int = 2,
) -> str:
    w = _words_sql(text_expr)
    # unnest must be projected in a subquery before GROUP BY (DuckDB)
    return f"""
        SELECT token, count(*) AS n
        FROM (SELECT unnest({w}) AS token FROM {table})
        WHERE length(token) >= {min_len}
        GROUP BY token
        ORDER BY n DESC, token
        LIMIT {k}
    """


# ---------------------------------------------------------------------------
# Corpus n-gram diversity per source (inter-document repetition health)
# ---------------------------------------------------------------------------
def ngram_diversity(
    df: DataFrame,
    k: int = 3,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-source corpus diversity: distinct k-grams / total per-doc
    k-gram emissions (1.0 = no k-gram shared between documents of that
    source; low values flag template/boilerplate-heavy sources before
    they reach training).

    100 TB design: per-doc distinct shingles stream out of a narrow
    ``mapInPandas`` (same batch-sliced slicing as the dedup family —
    no explode of a corpus-wide array column); the distinct aggregate
    partially de-dups map-side on (source, shingle) before its
    exchange, so the shuffle carries the source vocabulary, not the
    emission stream.
    """
    import re

    import pandas as pd

    from vectra_py_spark.session import spread as _spread

    def gen(batches):
        ws = re.compile(r"\s+", re.ASCII)  # ASCII \s: parity with Java/RE2 twins
        for pdf in batches:
            src_out: list = []
            sh_out: list = []
            for src, t in zip(pdf[source_col], pdf[text_col]):
                if t is None:
                    continue
                w = ws.split(str(t).lower())
                seen = set()
                for j in range(len(w) - k + 1):
                    s = " ".join(w[j : j + k])
                    if s not in seen:
                        seen.add(s)
                        src_out.append(src)
                        sh_out.append(s)
            yield pd.DataFrame({"source": src_out, "shingle": sh_out})

    sh = _spread(df.select(source_col, text_col)).mapInPandas(
        gen, schema="source string, shingle string"
    )
    return (
        sh.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("total_shingles"),
            F.count_distinct("shingle").alias("distinct_shingles"),
        )
        .select(
            "source",
            "total_shingles",
            "distinct_shingles",
            F.round(
                F.col("distinct_shingles") / F.col("total_shingles"), 6
            ).alias("diversity"),
        )
        .orderBy("source")
    )


def ngram_diversity_sql(
    k: int = 3,
    table: str = "documents",
    source_col: str = "source",
    text_expr: str = "text",
) -> str:
    return rf"""
        WITH sh AS (
          SELECT DISTINCT doc_id, {source_col} AS source,
                 array_to_string(w[i:i+{k - 1}], ' ') AS shingle
          FROM (SELECT doc_id, {source_col},
                       string_split_regex(lower({text_expr}), '\s+') AS w
                FROM {table}),
               LATERAL unnest(range(1, greatest(len(w) - {k - 1}, 0) + 1))
                   AS t(i)
        )
        SELECT source, count(*) AS total_shingles,
               count(DISTINCT shingle) AS distinct_shingles,
               ROUND(count(DISTINCT shingle) * 1.0 / count(*), 6)
                   AS diversity
        FROM sh GROUP BY source ORDER BY source
    """


# ---------------------------------------------------------------------------
# Unigram-LM cross-entropy quality score (CCNet-style)
# ---------------------------------------------------------------------------
def unigram_lm_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 1,
) -> DataFrame:
    """Per-document cross-entropy under the corpus's OWN unigram LM —
    the language-model quality filter of CCNet (Wenzek et al. 2020)
    with the corpus itself as the reference model: documents whose
    token distribution diverges from the corpus (gibberish, boilerplate
    floods, wrong-language shards) score HIGH and can be cut at a
    quantile.

    ``xent(doc) = -avg_w log2(count(w) / total_tokens)`` over the
    doc's tokens. Docs with no qualifying tokens are omitted (same in
    the twin).

    100 TB design: two passes over the token stream, both map-side
    combined — (1) the vocab count aggregate shuffles one row per
    distinct token per partition (Zipf makes this vocabulary-sized),
    (2) the per-doc aggregate shuffles (doc_id, partial sums) only.
    The trained model (vocab freqs + 1-row total) re-enters via
    broadcast joins, so the corpus-sized token stream is never
    shuffled on token. No driver action: the model stays a lazy
    DataFrame, composable downstream of any filter.
    """
    toks = (
        df.select(F.col(id_col), F.explode(words_col(text_col)).alias("token"))
        .filter((F.length("token") >= min_len) & (F.col("token") != ""))
    )
    freq = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .persist()  # vocab-sized; totals + broadcast reuse the fit scan
    )
    total = freq.agg(F.sum("n").alias("total"))
    return (
        toks.join(F.broadcast(freq), "token")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                -F.avg(F.log2(F.col("n") / F.col("total"))), 6
            ).alias("xent"),
        )
        .orderBy(id_col)
    )


def unigram_lm_score_sql(
    table: str = "documents", id_col: str = "doc_id",
    text_expr: str = "text", min_len: int = 1,
) -> str:
    w = _words_sql(text_expr)
    return f"""
        WITH toks AS (
            SELECT {id_col}, token
            FROM (SELECT {id_col}, unnest({w}) AS token FROM {table})
            WHERE length(token) >= {min_len} AND token <> ''
        ),
        f AS (SELECT token, count(*) AS n FROM toks GROUP BY token),
        t AS (SELECT sum(n) AS total FROM f)
        SELECT {id_col}, count(*) AS n_tokens,
               ROUND(-avg(log2(n / total)), 6) AS xent
        FROM toks JOIN f USING (token) CROSS JOIN t
        GROUP BY {id_col}
        ORDER BY {id_col}
    """


# ---------------------------------------------------------------------------
# Per-source corpus statistics (dataset-card aggregate)
# ---------------------------------------------------------------------------
def corpus_stats(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """One-scan dataset card per source: volume, language spread, exact
    duplicate count, and length distribution — the summary table every
    training-data curation round starts and ends with.

    100 TB design: single groupBy on source; all metrics are aggregate
    expressions over one pass (no self-joins — duplicates are counted
    as ``n_docs − count(DISTINCT md5(text))`` inside the same
    aggregate). The two DISTINCT aggregates make Catalyst plan an
    Expand (~2× rows into the exchange, still map-side combined); at
    extreme scale swap ``approx_count_distinct`` (HLL) — no SQL oracle
    for the sketch, hence the exact form here. Exact percentiles sort
    per group; ``percentile_approx`` is the sketch path.
    """
    length = F.length(F.col(text_col))
    n_words = F.size(words_col(text_col))
    return (
        df.groupBy(source_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (
                F.count(F.lit(1)) - F.countDistinct(F.md5(F.col(text_col)))
            ).alias("n_dups"),
            F.countDistinct(F.col(lang_col)).alias("n_langs"),
            F.sum(length).alias("total_chars"),
            F.round(F.avg(n_words), 6).alias("avg_words"),
            F.round(F.expr(f"percentile(length({text_col}), 0.5)"), 6)
            .alias("p50_chars"),
            F.round(F.expr(f"percentile(length({text_col}), 0.9)"), 6)
            .alias("p90_chars"),
        )
        .orderBy(source_col)
    )


def corpus_stats_sql(
    table: str = "documents", source_col: str = "source",
    text_expr: str = "text", lang_col: str = "lang",
) -> str:
    w = _words_sql(text_expr)
    return f"""
        SELECT {source_col},
               COUNT(*) AS n_docs,
               COUNT(*) - COUNT(DISTINCT md5({text_expr})) AS n_dups,
               COUNT(DISTINCT {lang_col}) AS n_langs,
               CAST(SUM(length({text_expr})) AS BIGINT) AS total_chars,
               ROUND(AVG(len({w})), 6) AS avg_words,
               ROUND(quantile_cont(length({text_expr}), 0.5), 6) AS p50_chars,
               ROUND(quantile_cont(length({text_expr}), 0.9), 6) AS p90_chars
        FROM {table}
        GROUP BY {source_col}
        ORDER BY {source_col}
    """


# ---------------------------------------------------------------------------
# BPE merge-pair counting (one distributed tokenizer-training round)
# ---------------------------------------------------------------------------
def bpe_pair_counts(
    df: DataFrame, k: int = 20, text_col: str = "text"
) -> DataFrame:
    """Corpus-weighted adjacent-symbol pair counts — the inner statistic
    of BPE tokenizer training (Sennrich et al. 2016): the top pair is
    the next merge. One round over the character alphabet here; after a
    merge the same query re-runs over re-segmented words.

    100 TB design: the classic BPE trick — count pairs over the
    DISTINCT-WORD vocabulary weighted by word frequency, never over the
    corpus stream. The corpus-sized explode collapses into the
    map-side-combined word count first (vocabulary-sized exchange); the
    pair explode then touches ~|V|·avg_len rows, and the final pair sum
    is alphabet²-sized. Top-k is ``TakeOrderedAndProject``.
    """
    freq = (
        df.select(F.explode(words_col(text_col)).alias("word"))
        .filter((F.col("word") != "") & (F.length("word") >= 2))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    pairs = freq.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(word) - 1),"
                " i -> struct(substring(word, i, 1) AS l,"
                "             substring(word, i + 1, 1) AS r))"
            )
        ).alias("p"),
        "freq",
    )
    return (
        pairs.groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .agg(F.sum("freq").alias("n"))
        .orderBy(F.desc("n"), F.asc("l"), F.asc("r"))
        .limit(k)
    )


def bpe_pair_counts_sql(
    k: int = 20, table: str = "documents", text_expr: str = "text"
) -> str:
    w = _words_sql(text_expr)
    return f"""
        WITH f AS (
            SELECT word, count(*) AS freq
            FROM (SELECT unnest({w}) AS word FROM {table})
            WHERE word <> '' AND length(word) >= 2
            GROUP BY word
        ),
        p AS (
            SELECT substring(word, i, 1) AS l,
                   substring(word, i + 1, 1) AS r,
                   freq
            FROM f, LATERAL unnest(range(1, length(word))) AS t(i)
        )
        SELECT l, r, CAST(SUM(freq) AS BIGINT) AS n
        FROM p GROUP BY l, r
        ORDER BY n DESC, l, r
        LIMIT {k}
    """


# ---------------------------------------------------------------------------
# Distributed BPE tokenizer TRAINING loop (N merge rounds)
# ---------------------------------------------------------------------------
def _merge_pair_expr(syms, lhs: str, rhs: str):
    """Greedy left-to-right non-overlapping merge of the adjacent pair
    (lhs, rhs) in a symbol array — Sennrich et al. 2016's merge step —
    as a pure JVM ``aggregate`` foldLeft (whole-stage codegen, no UDF).

    State = (out, carry): carry holds the unconsumed previous symbol;
    when (carry, current) == (lhs, rhs) the merged token is emitted and
    the carry cleared, so a merged token never re-matches as the left
    element within the same round — exactly the reference semantics
    (e.g. pair (a,a) on "a a a a" → [aa, aa], on "a a a" → [aa, a]).
    Values are passed as literal Columns, never interpolated into SQL
    text (symbols may contain quotes)."""
    lc, rc, mc = F.lit(lhs), F.lit(rhs), F.lit(lhs + rhs)
    init = F.struct(
        F.expr("cast(array() as array<string>)").alias("out"),
        F.lit(None).cast("string").alias("carry"),
    )

    def step(acc, s):
        out, carry = acc["out"], acc["carry"]
        return (
            F.when(carry.isNull(), F.struct(out.alias("out"), s.alias("carry")))
            .when(
                (carry == lc) & (s == rc),
                F.struct(
                    F.concat(out, F.array(mc)).alias("out"),
                    F.lit(None).cast("string").alias("carry"),
                ),
            )
            .otherwise(
                F.struct(
                    F.concat(out, F.array(carry)).alias("out"),
                    s.alias("carry"),
                )
            )
        )

    def finish(acc):
        return F.when(acc["carry"].isNull(), acc["out"]).otherwise(
            F.concat(acc["out"], F.array(acc["carry"]))
        )

    return F.aggregate(syms, init, step, finish)


def _adjacent_pairs(seg: DataFrame) -> DataFrame:
    """(lhs, rhs, n) adjacent-pair counts over a segmentation table
    (word → syms array, cnt), weighted by word frequency. Vocab-sized
    input, pair-alphabet-sized output; map-side combinable."""
    pairs = F.when(
        F.size("syms") > 1,
        F.expr(
            "transform(sequence(1, size(syms) - 1),"
            " i -> struct(element_at(syms, i) AS lhs,"
            "             element_at(syms, i + 1) AS rhs))"
        ),
    ).otherwise(F.expr("cast(array() as array<struct<lhs:string,rhs:string>>)"))
    return (
        seg.select(F.explode(pairs).alias("p"), "cnt")
        .groupBy(F.col("p.lhs").alias("lhs"), F.col("p.rhs").alias("rhs"))
        .agg(F.sum("cnt").alias("n"))
    )


def _bpe_word_freq(df: DataFrame, vocab_cap: int, text_col: str) -> DataFrame:
    """The ONE distributed corpus pass both trainer variants share:
    map-side-combined word count, capped to the top ``vocab_cap`` words
    by (freq DESC, word ASC) — the table every training round runs on."""
    return (
        df.select(F.explode(words_col(text_col)).alias("word"))
        .filter((F.col("word") != "") & (F.length("word") >= 2))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("word"))
        .limit(vocab_cap)
    )


def _bpe_merge_word(syms: list, lhs: str, rhs: str) -> list:
    """Greedy left-to-right non-overlapping merge — the in-process twin
    of :func:`_merge_pair_expr`'s carry fold (a merged token never
    re-matches as the left element within the same round)."""
    out = []
    i, n = 0, len(syms)
    while i < n:
        if i + 1 < n and syms[i] == lhs and syms[i + 1] == rhs:
            out.append(lhs + rhs)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _bpe_loop_local(
    rows: list, n_rounds: int
) -> tuple[list, list]:
    """In-process merge loop over the collected (word, cnt) vocabulary —
    the production-merge-count trainer (Sennrich et al. 2016's
    incremental algorithm): pair counts and a pair→words inverted index
    are updated only for words the chosen merge touches, and the best
    pair comes from a lazy max-heap (stale entries corrected on pop),
    so 32k merge rounds cost no Spark jobs and no full recounts.

    Semantics are IDENTICAL to the distributed JVM fold
    (:func:`_merge_pair_expr` / :func:`_adjacent_pairs`): all adjacent
    positions counted (overlaps included), best pair by
    (n DESC, lhs ASC, rhs ASC), greedy non-overlapping re-segmentation
    — equality-tested merge-list-byte-identical in
    tests/test_bpe_train.py. Returns (merges, final segmentation rows
    as (word, cnt, syms))."""
    import heapq
    from collections import defaultdict

    words = [list(word) for word, _cnt in rows]
    cnts = [int(cnt) for _word, cnt in rows]

    def count_pairs(syms: list) -> dict:
        d: dict = defaultdict(int)
        for a, b in zip(syms, syms[1:]):
            d[(a, b)] += 1
        return d

    pair_n: dict = defaultdict(int)
    pair_words: dict = defaultdict(set)
    per_word: list = []
    for wi, syms in enumerate(words):
        d = count_pairs(syms)
        per_word.append(d)
        for p, c in d.items():
            pair_n[p] += c * cnts[wi]
            pair_words[p].add(wi)
    heap = [(-n, l, r) for (l, r), n in pair_n.items()]
    heapq.heapify(heap)

    merges = []
    for rnd in range(1, n_rounds + 1):
        best = None
        while heap:
            negn, l, r = heap[0]
            cur = pair_n.get((l, r), 0)
            if cur <= 0:
                heapq.heappop(heap)
                continue
            if cur == -negn:
                best = (l, r, cur)
                break
            heapq.heappop(heap)
            heapq.heappush(heap, (-cur, l, r))
        if best is None:
            break
        lhs, rhs, n = best
        merges.append((rnd, lhs, rhs, n))
        for wi in sorted(pair_words[(lhs, rhs)]):
            new = _bpe_merge_word(words[wi], lhs, rhs)
            old_d, new_d = per_word[wi], count_pairs(new)
            for p in set(old_d) | set(new_d):
                delta = new_d.get(p, 0) - old_d.get(p, 0)
                if delta:
                    pair_n[p] += delta * cnts[wi]
                    if pair_n[p] <= 0:
                        pair_n.pop(p, None)
                    else:
                        heapq.heappush(heap, (-pair_n[p], p[0], p[1]))
                if new_d.get(p, 0) > 0:
                    pair_words[p].add(wi)
                else:
                    pair_words[p].discard(wi)
            words[wi] = new
            per_word[wi] = new_d
    seg_rows = [
        (word, cnt, syms)
        for (word, _), cnt, syms in zip(rows, cnts, words)
    ]
    return merges, seg_rows


def _bpe_loop(
    df: DataFrame, n_rounds: int, vocab_cap: int, text_col: str
) -> tuple[list, DataFrame, list[DataFrame]]:
    """Distributed training loop — the cross-engine-checked twin of
    :func:`_bpe_loop_local` (one Spark job + driver round-trip per
    merge round; fine at demo round counts, the local loop is the
    production path). Returns (merges, final segmentation — lazily
    carrying ALL n merges, persisted intermediates to unpersist
    when done). `bpe_train` reads the merges; `bpe_vocab_usage` also
    aggregates the final segmentation."""
    freq = _bpe_word_freq(df, vocab_cap, text_col)
    seg = freq.select(
        "word",
        "cnt",
        F.expr(
            "transform(sequence(1, length(word)), i -> substring(word, i, 1))"
        ).alias("syms"),
    ).persist()
    merges = []
    cached = [seg]
    for rnd in range(1, n_rounds + 1):
        best = (
            _adjacent_pairs(seg)
            .orderBy(F.desc("n"), F.asc("lhs"), F.asc("rhs"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        b = best[0]
        merges.append((rnd, b.lhs, b.rhs, int(b.n)))
        # always re-segment (lazy): round N's segmentation costs
        # nothing unless a consumer materializes it
        seg = seg.select(
            "word", "cnt",
            _merge_pair_expr(F.col("syms"), b.lhs, b.rhs).alias("syms"),
        ).persist()
        cached.append(seg)
    return merges, seg, cached


def bpe_train(
    df: DataFrame,
    n_rounds: int = 4,
    vocab_cap: int = 2000,
    text_col: str = "text",
    distributed: bool = False,
) -> DataFrame:
    """Train ``n_rounds`` BPE merges on the corpus — the full training
    loop (count pairs → pick the best → re-segment → repeat), not just
    the one-round statistic (:func:`bpe_pair_counts`). Returns one row
    per learned merge: (round, lhs, rhs, n) with the deterministic
    tie-break (count DESC, lhs ASC, rhs ASC) that makes the result
    hash-comparable cross-engine.

    This closes the loop between the pipeline operators and the
    vendored tokenizer (text/tokenizers.py trains its 256-merge
    fallback locally; reference intent: tiktoken-style learned merges,
    gpt3_tokenizer.py:5-13) — the same table becomes trainable ON the
    corpus, distributed.

    100 TB design — the classic BPE trick, kept honest at every stage:
    the corpus is scanned ONCE (map-side-combined word count → a
    vocabulary-sized exchange, capped to the top ``vocab_cap`` words by
    (freq, word)); the merge loop then runs IN-PROCESS on the collected
    (word, cnt) table — bounded by ``vocab_cap`` by construction — with
    Sennrich-style incremental pair updates + a lazy max-heap
    (:func:`_bpe_loop_local`), so a production 32k-merge train is one
    Spark job plus seconds of driver CPU, not 32k tiny jobs.
    ``distributed=True`` keeps the all-Spark
    round loop (pair explode ≈ |V|·avg_len rows, alphabet²-sized agg,
    re-segmentation a narrow JVM ``aggregate`` fold, one-row driver
    round-trip per round) as the cross-engine-checked twin; the two
    are equality-tested merge-list-identical on the same corpus.
    """
    if distributed:
        merges, _seg, cached = _bpe_loop(df, n_rounds, vocab_cap, text_col)
        for c in cached:
            c.unpersist()
    else:
        rows = _bpe_word_freq(df, vocab_cap, text_col).collect()
        merges, _seg_rows = _bpe_loop_local(
            [(r.word, r.cnt) for r in rows], n_rounds
        )
    return local_frame(
        df.sparkSession, merges, "round INT, lhs STRING, rhs STRING, n BIGINT"
    )


def bpe_vocab_usage(
    df: DataFrame,
    n_rounds: int = 4,
    vocab_cap: int = 2000,
    k: int = 30,
    text_col: str = "text",
    distributed: bool = False,
) -> DataFrame:
    """Train ``n_rounds`` merges, APPLY them back to the corpus
    vocabulary, and report the top-``k`` resulting subword symbols by
    corpus-weighted usage — the apply side of the training loop: what
    the learned table actually does to the corpus (which subwords
    carry the token mass), the go/no-go readout before committing to a
    tokenizer at scale.

    Same 100 TB shape as :func:`bpe_train`: one corpus scan, every
    later stage vocab-capped. Default path trains AND applies on the
    collected vocab in-process (:func:`_bpe_loop_local`);
    ``distributed=True`` keeps the pure-JVM greedy fold per learned
    merge (no UDF, no extra corpus pass) with a subword-alphabet-sized
    usage aggregate as the cross-engine-checked twin.
    Deterministic (count DESC, symbol ASC) for cross-engine hashing.
    """
    if distributed:
        merges, seg, cached = _bpe_loop(df, n_rounds, vocab_cap, text_col)
        rows = (
            seg.select(F.explode("syms").alias("sym"), "cnt")
            .groupBy("sym")
            .agg(F.sum("cnt").alias("n"))
            .orderBy(F.desc("n"), F.asc("sym"))
            .limit(k)
            .collect()
        )
        for c in cached:
            c.unpersist()
        out = [(r.sym, int(r.n)) for r in rows]
    else:
        freq = _bpe_word_freq(df, vocab_cap, text_col).collect()
        _merges, seg_rows = _bpe_loop_local(
            [(r.word, r.cnt) for r in freq], n_rounds
        )
        usage: dict = {}
        for _word, cnt, syms in seg_rows:
            for s in syms:
                usage[s] = usage.get(s, 0) + cnt
        out = sorted(usage.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    return local_frame(df.sparkSession, out, "sym STRING, n BIGINT")


def _bpe_cte_parts(
    n_rounds: int,
    vocab_cap: int,
    table: str,
    text_expr: str,
    final_seg: bool,
) -> list[str]:
    """Shared CTE generator for the BPE SQL twins: word count → capped
    vocab → seg0 → per-round (pair counts, best pick, recursive-CTE
    greedy re-segmentation). ``final_seg=True`` also materializes the
    segmentation AFTER the last merge (needed by the apply twin).

    Every non-recursive CTE is ``AS MATERIALIZED``: DuckDB otherwise
    INLINES CTEs, so the scalar subqueries on ``b{r}`` inside each
    recursive stage re-evaluate the whole prior chain per row per
    iteration — measured 61.8 s → 0.1 s at sf0.001 with the hints."""
    w = _words_sql(text_expr)
    parts = [
        f"""
f AS MATERIALIZED (
  SELECT word, COUNT(*) AS cnt
  FROM (SELECT unnest({w}) AS word FROM {table})
  WHERE word <> '' AND length(word) >= 2
  GROUP BY word
),
v AS MATERIALIZED (SELECT word, cnt FROM f ORDER BY cnt DESC, word LIMIT {vocab_cap}),
seg0 AS MATERIALIZED (
  SELECT word, cnt,
         list_transform(range(1, length(word) + 1),
                        i -> substring(word, i, 1)) AS syms
  FROM v
)"""
    ]
    for r in range(1, n_rounds + 1):
        prev = f"seg{r - 1}"
        parts.append(
            f"""
p{r} AS MATERIALIZED (
  SELECT syms[i] AS lhs, syms[i+1] AS rhs, SUM(cnt) AS n
  FROM {prev}, LATERAL unnest(range(1, len(syms))) t(i)
  GROUP BY 1, 2
),
b{r} AS MATERIALIZED (SELECT lhs, rhs, n FROM p{r} ORDER BY n DESC, lhs, rhs LIMIT 1)"""
        )
        if r < n_rounds or final_seg:
            parts.append(
                f"""
m{r} AS (
  SELECT word, cnt, syms, 1 AS i, []::VARCHAR[] AS acc FROM {prev}
  UNION ALL
  SELECT word, cnt, syms,
    CASE WHEN i < len(syms) AND syms[i] = (SELECT lhs FROM b{r})
              AND syms[i+1] = (SELECT rhs FROM b{r})
         THEN i + 2 ELSE i + 1 END,
    CASE WHEN i < len(syms) AND syms[i] = (SELECT lhs FROM b{r})
              AND syms[i+1] = (SELECT rhs FROM b{r})
         THEN list_append(acc, (SELECT lhs || rhs FROM b{r}))
         ELSE list_append(acc, syms[i]) END
  FROM m{r} WHERE i <= len(syms)
),
seg{r} AS MATERIALIZED (SELECT word, cnt, acc AS syms FROM m{r} WHERE i = len(syms) + 1)"""
            )
    return parts


def bpe_train_sql(
    n_rounds: int = 4,
    vocab_cap: int = 2000,
    table: str = "documents",
    text_expr: str = "text",
) -> str:
    """DuckDB twin of :func:`bpe_train`: the training loop unrolled into
    ``n_rounds`` CTE stages; each stage's re-segmentation is a recursive
    CTE replaying the SAME greedy left-to-right non-overlapping scan as
    the Spark ``aggregate`` fold (pointer i walks the symbol list; a
    match consumes two symbols, so every path terminates at
    i = len(syms) + 1, which is what selects the final row)."""
    parts = _bpe_cte_parts(n_rounds, vocab_cap, table, text_expr, False)
    union = "\nUNION ALL\n".join(
        f"SELECT {r} AS round, lhs, rhs, CAST(n AS BIGINT) AS n FROM b{r}"
        for r in range(1, n_rounds + 1)
    )
    return (
        "WITH RECURSIVE "
        + ",".join(parts)
        + f"\nSELECT CAST(round AS INT) AS round, lhs, rhs, n FROM ({union}) ORDER BY round"
    )


def bpe_vocab_usage_sql(
    n_rounds: int = 4,
    vocab_cap: int = 2000,
    k: int = 30,
    table: str = "documents",
    text_expr: str = "text",
) -> str:
    """DuckDB twin of :func:`bpe_vocab_usage`: the same unrolled loop
    INCLUDING the final re-segmentation, then corpus-weighted subword
    usage over the applied vocabulary."""
    parts = _bpe_cte_parts(n_rounds, vocab_cap, table, text_expr, True)
    return (
        "WITH RECURSIVE "
        + ",".join(parts)
        + f"""
SELECT sym, CAST(SUM(cnt) AS BIGINT) AS n
FROM seg{n_rounds}, LATERAL unnest(syms) AS t(sym)
GROUP BY sym
ORDER BY n DESC, sym
LIMIT {k}"""
    )


# ---------------------------------------------------------------------------
# Cross-source duplicate flows
# ---------------------------------------------------------------------------
def cross_source_dups(
    df: DataFrame, source_col: str = "source", text_col: str = "text"
) -> DataFrame:
    """Which sources copy which: per unordered source pair, the number
    of distinct texts present in BOTH — the mirror/syndication map that
    tells a curation pipeline where its duplicate mass comes from.

    100 TB design: texts collapse to (md5, source) DISTINCT first (one
    map-side-combined exchange on the hash — 16 bytes a row, never
    text); the self-equi-join on hash then fans out only within each
    hash's source set (bounded by |sources|, not corpus), and the pair
    aggregate is |sources|²-sized.
    """
    h = (
        df.select(
            F.md5(F.col(text_col)).alias("h"),
            F.col(source_col).alias("source"),
        )
        .distinct()
    )
    a = h.select(F.col("h"), F.col("source").alias("src_a"))
    b = h.select(F.col("h").alias("hb"), F.col("source").alias("src_b"))
    return (
        a.join(b, (a["h"] == b["hb"]) & (F.col("src_a") < F.col("src_b")))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("shared_texts"))
        .orderBy("src_a", "src_b")
    )


def cross_source_dups_sql(
    table: str = "documents", source_col: str = "source",
    text_expr: str = "text",
) -> str:
    return f"""
        WITH h AS (
            SELECT DISTINCT md5({text_expr}) AS h, {source_col} AS source
            FROM {table}
        )
        SELECT a.source AS src_a, b.source AS src_b,
               count(*) AS shared_texts
        FROM h a JOIN h b ON a.h = b.h AND a.source < b.source
        GROUP BY 1, 2
        ORDER BY 1, 2
    """


# ---------------------------------------------------------------------------
# Bigram-LM cross-entropy (conditional next-word quality score)
# ---------------------------------------------------------------------------
def bigram_lm_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document cross-entropy under the corpus bigram LM:
    ``xent2 = -avg log2( c(w1,w2) / c1(w1) )`` over the doc's adjacent
    word pairs — the conditional-probability sharpening of
    :func:`unigram_lm_score` (catches word-salad documents whose
    unigram distribution looks normal but whose transitions don't).
    Docs with fewer than 2 tokens are omitted.

    100 TB design: adjacent pairs come straight out of each row's words
    array (``transform`` over an index sequence — a narrow map, no
    posexplode + window shuffle); both count tables are Zipf-bounded
    aggregates that re-enter via broadcast, so the corpus-sized pair
    stream is never shuffled on its join key. ``c1`` counts w1
    occurrences IN THE PAIR STREAM (= conditional denominator), not raw
    word frequency, so probabilities sum to 1 per context by
    construction.
    """
    pair_expr = F.expr(
        """filter(
            transform(
                sequence(1, size(__w) - 1),
                i -> struct(__w[i - 1] AS w1, __w[i] AS w2)),
            p -> p.w1 <> '' AND p.w2 <> '')"""
    )
    pairs = (
        df.select(F.col(id_col), words_col(text_col).alias("__w"))
        .filter(F.size("__w") >= 2)  # ANSI: no OOB index, no empty seq
        .select(F.col(id_col), F.explode(pair_expr).alias("p"))
        .select(id_col, F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    big = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c2"))
        .persist()  # Zipf-bounded; c1 + broadcast reuse the pair scan
    )
    uni = big.groupBy("w1").agg(F.sum("c2").alias("c1"))
    return (
        pairs.join(F.broadcast(big), ["w1", "w2"])
        .join(F.broadcast(uni), "w1")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                -F.avg(F.log2(F.col("c2") / F.col("c1"))), 6
            ).alias("xent2"),
        )
        .orderBy(id_col)
    )


def bigram_lm_score_sql(
    table: str = "documents", id_col: str = "doc_id",
    text_expr: str = "text",
) -> str:
    w = _words_sql(text_expr)
    return f"""
        WITH pairs AS (
            SELECT {id_col}, w[i] AS w1, w[i + 1] AS w2
            FROM (SELECT {id_col}, {w} AS w FROM {table}),
                 LATERAL unnest(range(1, greatest(len(w), 1))) AS t(i)
            WHERE w[i] <> '' AND w[i + 1] <> ''
        ),
        big AS (SELECT w1, w2, count(*) AS c2 FROM pairs GROUP BY w1, w2),
        uni AS (SELECT w1, sum(c2) AS c1 FROM big GROUP BY w1)
        SELECT {id_col}, count(*) AS n_bigrams,
               ROUND(-avg(log2(c2 / c1)), 6) AS xent2
        FROM pairs JOIN big USING (w1, w2) JOIN uni USING (w1)
        GROUP BY {id_col}
        ORDER BY {id_col}
    """


# ---------------------------------------------------------------------------
# Per-document duplication score (shingle containment vs the corpus)
# ---------------------------------------------------------------------------
def dup_shingle_ratio(
    df: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document duplication score: the fraction of the doc's
    distinct k-grams that appear in at least one OTHER document — the
    doc-granular contamination dial (1.0 ≈ fully boilerplate/copied;
    pairwise near-dup joins tell you WHO, this tells you HOW MUCH per
    doc, including many-source mosaics no single pair explains).

    100 TB design: reuses the dedup family's narrow ``mapInPandas``
    distinct-shingle stream; the per-shingle doc count is one
    map-side-combined aggregate (shingle-vocabulary-sized), rejoined to
    the stream on shingle (the known dedup-join shape — hot shingles
    are exactly the rows AQE skew-splits), and the per-doc fraction is
    a second small aggregate.
    """
    from vectra_py_spark.operators.dedup import shingle_df

    sh = shingle_df(df, id_col=id_col, text_col=text_col, k=k)
    # ``sh`` (a Python shingling pass) feeds the doc-count
    # aggregate and the rejoin with different exchange inputs, so it
    # executed twice; checkpoint the narrow (id, shingle) stream once
    # (same rows the shuffles already carry).
    sh = sh.localCheckpoint()
    counts = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        sh.join(counts, "shingle")
        .groupBy(F.col(id_col))
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.round(
                F.sum((F.col("n_docs") >= 2).cast("int"))
                / F.count(F.lit(1)),
                6,
            ).alias("dup_ratio"),
        )
        .orderBy(id_col)
    )


def dup_shingle_ratio_sql(
    k: int = 3, table: str = "documents", id_col: str = "doc_id",
    text_expr: str = "text",
) -> str:
    from vectra_py_spark.operators.dedup import _shingles_sql

    sh = _shingles_sql(text_expr, k).format(table=table)
    return f"""
        WITH sh AS ({sh}),
        c AS (SELECT shingle, count(*) AS n_docs FROM sh GROUP BY shingle)
        SELECT {id_col}, count(*) AS n_shingles,
               ROUND(SUM(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) * 1.0
                     / count(*), 6) AS dup_ratio
        FROM sh JOIN c USING (shingle)
        GROUP BY {id_col}
        ORDER BY {id_col}
    """


# ---------------------------------------------------------------------------
# Per-source token-distribution drift (KL divergence vs the corpus)
# ---------------------------------------------------------------------------
def source_token_drift(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    min_len: int = 1,
) -> DataFrame:
    """KL(source ‖ corpus) over token distributions, per source — the
    domain-drift dial: a source whose language shifted (spam influx,
    template change, wrong-language crawl) diverges from the corpus
    mixture before any per-doc filter notices.

    KL is computed over the corpus vocabulary restricted to tokens the
    source actually emits (all its terms are well-defined: q > 0
    whenever p > 0 since the source's tokens are in the corpus).

    100 TB design: both distributions come from ONE (source, token)
    count aggregate (map-side combined; source-vocabulary-sized) — the
    corpus marginal is a re-aggregation of it, broadcast back with the
    per-source totals; no second corpus pass, and the token stream
    never shuffles on token.
    """
    toks = (
        df.select(
            F.col(source_col).alias("source"),
            F.explode(words_col(text_col)).alias("token"),
        )
        .filter((F.length("token") >= min_len) & (F.col("token") != ""))
    )
    st_counts = toks.groupBy("source", "token").agg(
        F.count(F.lit(1)).alias("c_st")
    )
    s_tot = st_counts.groupBy("source").agg(F.sum("c_st").alias("c_s"))
    t_counts = st_counts.groupBy("token").agg(F.sum("c_st").alias("c_t"))
    total = t_counts.agg(F.sum("c_t").alias("c_all"))
    p = F.col("c_st") / F.col("c_s")
    q = F.col("c_t") / F.col("c_all")
    return (
        st_counts.join(F.broadcast(s_tot), "source")
        .join(F.broadcast(t_counts), "token")
        .crossJoin(F.broadcast(total))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.round(F.sum(p * F.log2(p / q)), 6).alias("kl_bits"),
        )
        .orderBy("source")
    )


def source_token_drift_sql(
    table: str = "documents", source_col: str = "source",
    text_expr: str = "text", min_len: int = 1,
) -> str:
    w = _words_sql(text_expr)
    return f"""
        WITH toks AS (
            SELECT {source_col} AS source, token
            FROM (SELECT {source_col}, unnest({w}) AS token FROM {table})
            WHERE length(token) >= {min_len} AND token <> ''
        ),
        st AS (SELECT source, token, count(*) AS c_st
               FROM toks GROUP BY source, token),
        s AS (SELECT source, sum(c_st) AS c_s FROM st GROUP BY source),
        t AS (SELECT token, sum(c_st) AS c_t FROM st GROUP BY token),
        a AS (SELECT sum(c_t) AS c_all FROM t)
        SELECT source, count(*) AS n_terms,
               ROUND(SUM((c_st / c_s)
                         * log2((c_st / c_s) / (c_t / c_all))), 6)
                   AS kl_bits
        FROM st JOIN s USING (source) JOIN t USING (token) CROSS JOIN a
        GROUP BY source
        ORDER BY source
    """


# ---------------------------------------------------------------------------
# Positional duplicate n-gram spans (substring-level dedup signal)
# ---------------------------------------------------------------------------
def duplicate_ngram_spans(
    df: DataFrame,
    window: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Substring-level duplication localizer — the hash-window
    formulation of Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better"): hash every ``window``-token sliding
    window, count occurrences corpus-wide, and report per document the
    duplicated-window fraction AND the longest contiguous duplicated
    span. Unlike :func:`dup_shingle_ratio` (distinct shingles — HOW
    MUCH is boilerplate) this keeps positions, so it answers WHERE: the
    longest span is what a substring-cut pass would actually remove.

    Documents shorter than ``window`` tokens emit no windows and are
    omitted (same in the twin).

    100 TB design: the window stream is narrow (id, pos, 32-hex hash) —
    one row per token occurrence, linear in corpus size (the scalable
    alternative to the paper's monolithic suffix array). The occurrence
    count is one map-side-combined aggregate (distinct-window-sized
    after partial agg); the rejoin shuffles on hash (hot hashes ARE the
    duplicates — exactly the rows AQE skew-splits); the span
    run-length uses the gaps-and-islands trick under a per-doc window,
    partitioned by doc_id so no single-partition funnel.
    """
    base = spread(df.select(id_col, text_col)).select(
        F.col(id_col), words_col(text_col).alias("w")
    )
    # Spark sequence(1, 0) yields a DESCENDING [1, 0] — guard short docs
    # with an explicit empty array instead of greatest().
    idx = F.when(
        F.size("w") >= window,
        F.sequence(F.lit(1), F.size("w") - (window - 1)),
    ).otherwise(F.array().cast("array<int>"))
    wins = base.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                idx,
                lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("w"), i, window))),
            )
        ).alias("pos", "h"),
    )
    # ``wins`` feeds both the count aggregate and the rejoin with
    # DIFFERENT exchange inputs (partial-agg rows vs raw rows), so
    # ReuseExchange cannot dedupe and the md5-window explode ran twice;
    # ``j`` likewise feeds the per-doc aggregate and the span window.
    # Materializing both (the same narrow rows the shuffles already
    # carry) pins each to one execution: 3.1–3.4 s → 1.8–2.0 s at
    # sf0.1, values identical.
    wins = wins.localCheckpoint()
    counts = wins.groupBy("h").agg(F.count(F.lit(1)).alias("n"))
    j = wins.join(counts, "h").select(
        F.col(id_col), F.col("pos"), (F.col("n") >= 2).alias("is_dup")
    ).localCheckpoint()
    per = j.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.sum(F.col("is_dup").cast("int")).alias("dup_windows"),
        F.round(
            F.sum(F.col("is_dup").cast("int")) / F.count(F.lit(1)), 6
        ).alias("dup_ratio"),
    )
    from pyspark.sql import Window as W

    dup = j.filter("is_dup").withColumn(
        "grp",
        F.col("pos")
        - F.row_number().over(W.partitionBy(id_col).orderBy("pos")),
    )
    spans = (
        dup.groupBy(id_col, "grp")
        .agg(F.count(F.lit(1)).alias("run"))
        .groupBy(id_col)
        .agg((F.max("run") + F.lit(window - 1)).alias("max_span"))
    )
    return (
        per.join(spans, id_col, "left")
        .select(
            F.col(id_col),
            "n_windows",
            "dup_windows",
            "dup_ratio",
            F.coalesce(F.col("max_span"), F.lit(0))
            .cast("long")
            .alias("max_dup_span_tokens"),
        )
        .orderBy(id_col)
    )


def duplicate_ngram_spans_sql(
    window: int = 8, table: str = "documents", id_col: str = "doc_id",
    text_expr: str = "text",
) -> str:
    w = _words_sql(text_expr)
    return f"""
        WITH wins AS (
            -- i - 1: 0-based, matching Spark's posexplode (pos only
            -- feeds the run-length grouping today, but the twins must
            -- not disagree on the representation)
            SELECT {id_col}, i - 1 AS pos,
                   md5(array_to_string(w[i:i+{window - 1}], ' ')) AS h
            FROM (SELECT {id_col}, {w} AS w FROM {table}),
                 LATERAL unnest(
                     range(1, greatest(len(w) - {window - 1}, 0) + 1)
                 ) AS t(i)
        ),
        c AS (SELECT h, count(*) AS n FROM wins GROUP BY h),
        j AS (SELECT {id_col}, pos, (n >= 2) AS is_dup
              FROM wins JOIN c USING (h)),
        per AS (
            SELECT {id_col}, count(*) AS n_windows,
                   CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
                       AS dup_windows,
                   ROUND(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) * 1.0
                         / count(*), 6) AS dup_ratio
            FROM j GROUP BY {id_col}
        ),
        runs AS (
            SELECT {id_col},
                   pos - row_number() OVER (
                       PARTITION BY {id_col} ORDER BY pos) AS grp
            FROM j WHERE is_dup
        ),
        spans AS (
            SELECT {id_col}, max(run) + {window - 1} AS max_span
            FROM (SELECT {id_col}, grp, count(*) AS run
                  FROM runs GROUP BY {id_col}, grp)
            GROUP BY {id_col}
        )
        SELECT per.{id_col}, n_windows, dup_windows, dup_ratio,
               CAST(COALESCE(max_span, 0) AS BIGINT) AS max_dup_span_tokens
        FROM per LEFT JOIN spans USING ({id_col})
        ORDER BY {id_col}
    """


# ---------------------------------------------------------------------------
# Seeded Naive-Bayes quality classifier (train + score, one pipeline)
# ---------------------------------------------------------------------------
def nb_quality_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed_quality: float = 0.5,
    min_len: int = 1,
) -> DataFrame:
    """Train a Naive-Bayes token classifier against a heuristic seed and
    score every document — the counting-model cousin of the
    linear quality classifiers of GPT-3 / CCNet (seed set vs crawl,
    score = how seed-like a document's tokens are). The seed label is
    :func:`quality_score_col` ``>= seed_quality`` so the whole pipeline
    is deterministic and oracle-able; swap the label for a curated seed
    set in production.

    Per-token log-odds with Laplace +1 smoothing:
    ``log2((pos_n+1)/(pos_total+V)) - log2((neg_n+1)/(neg_total+V))``;
    a document scores the MEAN log-odds of its tokens (length-
    normalized, so long docs aren't favored). Docs with no qualifying
    tokens are omitted (same in the twin).

    100 TB design: training is ONE map-side-combined conditional
    aggregate over the token stream (vocabulary-sized output); the
    priors are a 1-row re-aggregation of the model; both re-enter via
    broadcast, so corpus-sized data never shuffles on token, and the
    per-doc score is one (doc_id)-keyed aggregate.
    """
    lab = spread(df.select(id_col, text_col)).select(
        F.col(id_col),
        (quality_score_col(text_col) >= F.lit(seed_quality))
        .cast("int")
        .alias("y"),
        words_col(text_col).alias("w"),
    )
    toks = lab.select(
        F.col(id_col), "y", F.explode("w").alias("token")
    ).filter((F.length("token") >= min_len) & (F.col("token") != ""))
    model = toks.groupBy("token").agg(
        F.sum("y").alias("pos_n"), F.count(F.lit(1)).alias("n")
    ).persist()  # vocab-sized; priors + broadcast reuse the fit scan
    priors = model.agg(
        F.sum("pos_n").alias("pos_total"),
        F.sum(F.col("n") - F.col("pos_n")).alias("neg_total"),
        F.count(F.lit(1)).alias("v"),
    )
    logodds = F.log2(
        (F.col("pos_n") + 1) / (F.col("pos_total") + F.col("v"))
    ) - F.log2(
        (F.col("n") - F.col("pos_n") + 1)
        / (F.col("neg_total") + F.col("v"))
    )
    return (
        toks.join(F.broadcast(model), "token")
        .crossJoin(F.broadcast(priors))
        .groupBy(id_col)
        .agg(
            F.max("y").alias("seed_label"),
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg(logodds), 6).alias("nb_logodds"),
        )
        .orderBy(id_col)
    )


def nb_quality_score_sql(
    table: str = "documents", id_col: str = "doc_id",
    text_expr: str = "text", seed_quality: float = 0.5, min_len: int = 1,
) -> str:
    w = _words_sql(text_expr)
    q = quality_score_sql_expr(text_expr)
    return f"""
        WITH lab AS (
            SELECT {id_col},
                   CASE WHEN {q} >= {seed_quality} THEN 1 ELSE 0 END AS y,
                   {w} AS w
            FROM {table}
        ),
        toks AS (
            SELECT {id_col}, y, token
            FROM (SELECT {id_col}, y, unnest(w) AS token FROM lab)
            WHERE length(token) >= {min_len} AND token <> ''
        ),
        m AS (SELECT token, CAST(SUM(y) AS BIGINT) AS pos_n,
                     count(*) AS n
              FROM toks GROUP BY token),
        t AS (SELECT CAST(SUM(pos_n) AS BIGINT) AS pos_total,
                     CAST(SUM(n - pos_n) AS BIGINT) AS neg_total,
                     count(*) AS v
              FROM m)
        SELECT {id_col}, CAST(max(y) AS INT) AS seed_label,
               count(*) AS n_tokens,
               ROUND(avg(log2((pos_n + 1) * 1.0 / (pos_total + v))
                         - log2((n - pos_n + 1) * 1.0 / (neg_total + v))),
                     6) AS nb_logodds
        FROM toks JOIN m USING (token) CROSS JOIN t
        GROUP BY {id_col}
        ORDER BY {id_col}
    """


# ---------------------------------------------------------------------------
# Corpus vocabulary + tokenize-to-ids (word-level id encoding at scale)
# ---------------------------------------------------------------------------
def build_vocab(
    df: DataFrame,
    text_col: str = "text",
    vocab_size: int = 256,
) -> DataFrame:
    """Frequency-ranked word vocabulary: (word, token_id) with id =
    rank by (count DESC, word ASC), 0-based, truncated to
    ``vocab_size``. The deterministic tie order makes the mapping
    reproducible across engines and runs.

    100 TB design: one explode + groupBy(word) with map-side partial
    counts (the shuffle carries one partial per distinct word per
    partition, not token occurrences); the global rank then runs over
    ≤ |vocab| surviving rows. Natural-language vocabularies are
    Zipfian — a few million distinct words even at corpus scale — so
    the ranked result is broadcast-sized by construction.
    """
    counts = (
        df.select(F.explode(words_col(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.orderBy(F.col("n").desc(), F.col("word"))
    return (
        counts.withColumn("token_id", F.row_number().over(w) - 1)
        .filter(F.col("token_id") < vocab_size)
        .select("word", F.col("token_id").cast("long").alias("token_id"))
    )


def tokenize_to_ids(
    df: DataFrame,
    vocab: DataFrame,
    vocab_size: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Word-level id encoding: every document becomes flattened
    (id, pos, token_id) rows — position-explode the text, broadcast-join
    the vocabulary, out-of-vocabulary words map to id ``vocab_size``
    (the reserved OOV bucket). Long output keeps the result shuffle-free
    to write and trivially re-assembled downstream
    (``collect_list sorted by pos``, or fed straight to
    ``packing.concat_chunk``).

    100 TB design: the vocab join is a broadcast (Zipfian vocabularies
    are small — see :func:`build_vocab`); the explode + join is a single
    narrow stage per input split, no shuffle at all.
    """
    toks = df.select(
        id_col, F.posexplode(words_col(text_col)).alias("pos", "word")
    )
    return (
        toks.join(F.broadcast(vocab), "word", "left")
        .select(
            id_col,
            F.col("pos").cast("long").alias("pos"),
            F.coalesce(F.col("token_id"), F.lit(vocab_size))
            .cast("long")
            .alias("token_id"),
        )
    )


def tokenize_to_ids_sql(
    doc_pred: str = "TRUE",
    table: str = "documents",
    id_col: str = "doc_id",
    text_expr: str = "text",
    vocab_size: int = 256,
) -> str:
    """DuckDB twin of :func:`build_vocab` + :func:`tokenize_to_ids`
    (vocab ranked over the FULL table; output restricted to
    ``doc_pred`` rows)."""
    ws = _words_sql(text_expr)
    return f"""
        WITH w AS (
            SELECT {id_col},
                   unnest(generate_series(0, len(ws) - 1)) AS pos,
                   unnest(ws) AS word
            FROM (SELECT {id_col}, {ws} AS ws FROM {table})
        ),
        vocab AS (
            SELECT word, row_number() OVER (ORDER BY n DESC, word) - 1 AS token_id
            FROM (SELECT word, COUNT(*) AS n FROM w GROUP BY word)
        )
        SELECT w.{id_col}, w.pos,
               COALESCE(v.token_id, {vocab_size}) AS token_id
        FROM w LEFT JOIN (
            SELECT * FROM vocab WHERE token_id < {vocab_size}
        ) v USING (word)
        WHERE {doc_pred}
        ORDER BY {id_col}, pos
    """


# ---------------------------------------------------------------------------
# TF-IDF top terms per source (corpus characterization)
# ---------------------------------------------------------------------------
def tfidf_top_terms(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    top_n: int = 5,
    dp: int = 6,
) -> DataFrame:
    """Per-``group_col`` most characteristic terms by tf-idf, treating
    each group as one mega-document: tf = term occurrences in the
    group, idf = ln(n_groups / n_groups_containing_term). Output
    (group, word, tfidf): top ``top_n`` per group by
    (rounded tfidf DESC, word ASC) — ranking on the ROUNDED score keeps
    the order identical across engines.

    100 TB design: one explode + groupBy(group, word) with map-side
    combine; document frequency and the group count derive from that
    aggregate (≤ |groups|·|vocab| rows), re-entering via a 1-row
    broadcast — no second pass over the corpus. Final top-n is a window
    over the aggregated (small) relation.
    """
    tf = (
        df.select(
            F.col(group_col).alias("grp"),
            F.explode(words_col(text_col)).alias("word"),
        )
        .groupBy("grp", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
        # |groups|·|vocab|-bounded; persisted because FOUR consumers
        # (dfreq, the group count, both sides of the score join) would
        # otherwise each re-run the corpus explode
        .persist()
    )
    n_groups = tf.agg(
        F.countDistinct("grp").alias("n_groups")
    )
    dfreq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df_w"))
    scored = (
        tf.join(F.broadcast(dfreq), "word")
        .crossJoin(F.broadcast(n_groups))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * F.log(F.col("n_groups") / F.col("df_w")),
                dp,
            ),
        )
    )
    w = Window.partitionBy("grp").orderBy(
        F.col("tfidf").desc(), F.col("word")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top_n)
        .select(
            F.col("grp").alias(group_col), "word", "tfidf"
        )
        .orderBy(group_col, "word")
    )


def tfidf_top_terms_sql(
    table: str = "documents",
    group_col: str = "source",
    text_expr: str = "text",
    top_n: int = 5,
    dp: int = 6,
) -> str:
    """DuckDB twin of :func:`tfidf_top_terms`."""
    ws = _words_sql(text_expr)
    return f"""
        WITH w AS (
            SELECT {group_col} AS grp, unnest({ws}) AS word FROM {table}
        ),
        tf AS (SELECT grp, word, COUNT(*) AS tf FROM w GROUP BY 1, 2),
        dfreq AS (SELECT word, COUNT(*) AS df_w FROM tf GROUP BY 1),
        ng AS (SELECT COUNT(DISTINCT grp) AS n_groups FROM tf),
        scored AS (
            SELECT tf.grp, tf.word,
                   ROUND(tf.tf * ln(ng.n_groups * 1.0 / dfreq.df_w), {dp})
                       AS tfidf
            FROM tf JOIN dfreq USING (word) CROSS JOIN ng
        )
        SELECT grp AS {group_col}, word, tfidf
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY grp ORDER BY tfidf DESC, word
            ) AS rn
            FROM scored
        )
        WHERE rn <= {top_n}
        ORDER BY {group_col}, word
    """


# ---------------------------------------------------------------------------
# PMI collocations (corpus phrase mining)
# ---------------------------------------------------------------------------
def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top_n: int = 20,
    dp: int = 6,
) -> DataFrame:
    """Top adjacent-word collocations by pointwise mutual information:
    ``pmi = ln( (c_ab/N_b) / ((c_a/N_u)·(c_b/N_u)) )`` with bigram and
    unigram counts over the whole corpus, ``min_count`` pruning the
    long tail of one-off pairs (PMI's classic degenerate maximum).
    Output (w1, w2, c_ab, pmi): top ``top_n`` by (rounded pmi DESC,
    w1, w2) — phrase mining for tokenizer/vocab decisions ("new york"
    should be one token) and boilerplate discovery.

    100 TB design: adjacent pairs come straight out of each row's
    words array (narrow map, no posexplode+window); the bigram and
    unigram aggregates are Zipf-bounded; totals re-enter as a 1-row
    broadcast. Nothing corpus-sized is ever shuffled on a string key —
    the pair stream partial-aggregates map-side.
    """
    pair_expr = F.expr(
        """filter(
            transform(
                sequence(1, size(__w) - 1),
                i -> struct(__w[i - 1] AS w1, __w[i] AS w2)),
            p -> p.w1 <> '' AND p.w2 <> '')"""
    )
    pairs = (
        df.select(words_col(text_col).alias("__w"))
        .filter(F.size("__w") >= 2)
        .select(F.explode(pair_expr).alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    # both count tables are Zipf/vocab-bounded; persisted because the
    # totals row and the score join would otherwise re-run the corpus
    # explodes they derive from
    big = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .persist()
    )
    uni = (
        df.select(F.explode(words_col(text_col)).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .persist()
    )
    totals = big.agg(F.sum("c_ab").alias("n_b")).crossJoin(
        uni.agg(F.sum("c").alias("n_u"))
    )
    scored = (
        big.filter(F.col("c_ab") >= min_count)
        .join(
            F.broadcast(uni.withColumnRenamed("w", "w1")
                        .withColumnRenamed("c", "c_a")),
            "w1",
        )
        .join(
            F.broadcast(uni.withColumnRenamed("w", "w2")
                        .withColumnRenamed("c", "c_b")),
            "w2",
        )
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "pmi",
            F.round(
                F.log(
                    (F.col("c_ab") / F.col("n_b"))
                    / ((F.col("c_a") / F.col("n_u"))
                       * (F.col("c_b") / F.col("n_u")))
                ),
                dp,
            ),
        )
    )
    w = Window.orderBy(F.col("pmi").desc(), F.col("w1"), F.col("w2"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top_n)
        .select("w1", "w2", "c_ab", "pmi")
        .orderBy("w1", "w2")
    )


def pmi_collocations_sql(
    table: str = "documents",
    text_expr: str = "text",
    min_count: int = 5,
    top_n: int = 20,
    dp: int = 6,
) -> str:
    """DuckDB twin of :func:`pmi_collocations`."""
    ws = _words_sql(text_expr)
    return f"""
        WITH warr AS (SELECT {ws} AS w FROM {table}),
        pairs AS (
            SELECT w[i] AS w1, w[i + 1] AS w2
            FROM warr, unnest(generate_series(1, len(w) - 1)) AS t(i)
            WHERE len(w) >= 2 AND w[i] <> '' AND w[i + 1] <> ''
        ),
        big AS (SELECT w1, w2, COUNT(*) AS c_ab FROM pairs GROUP BY 1, 2),
        uni AS (
            SELECT word, COUNT(*) AS c FROM (
                SELECT unnest(w) AS word FROM warr
            ) WHERE word <> '' GROUP BY 1
        ),
        totals AS (
            SELECT (SELECT SUM(c_ab) FROM big) AS n_b,
                   (SELECT SUM(c) FROM uni) AS n_u
        ),
        scored AS (
            SELECT big.w1, big.w2, big.c_ab,
                   ROUND(ln((big.c_ab * 1.0 / t.n_b)
                            / ((ua.c * 1.0 / t.n_u)
                               * (ub.c * 1.0 / t.n_u))), {dp}) AS pmi
            FROM big
            JOIN uni ua ON big.w1 = ua.word
            JOIN uni ub ON big.w2 = ub.word
            CROSS JOIN totals t
            WHERE big.c_ab >= {min_count}
        )
        SELECT w1, w2, c_ab, pmi
        FROM (
            SELECT *, row_number() OVER (
                ORDER BY pmi DESC, w1, w2
            ) AS rn FROM scored
        )
        WHERE rn <= {top_n}
        ORDER BY w1, w2
    """


# ---------------------------------------------------------------------------
# Sequence-length planning histogram (max_seq_len selection)
# ---------------------------------------------------------------------------
def seq_len_histogram(
    df: DataFrame,
    text_col: str = "text",
    dp: int = 6,
) -> DataFrame:
    """Token-length histogram over power-of-two buckets with cumulative
    coverage: for each bucket (smallest power of two ≥ the doc's token
    count), the doc count, token mass, and the CUMULATIVE fraction of
    documents and tokens covered by sequences up to that length — the
    table you read to pick ``max_seq_len`` (e.g. "1024 covers 97% of
    tokens; the rest is truncation loss").

    100 TB design: one narrow scan computes each doc's token count and
    bucket (no explode — ``size(words)``); the groupBy carries ≤
    log2(max_len) buckets; cumulative sums run as a window over that
    bucket-sized relation, not the corpus.
    """
    n = F.size(F.filter(words_col(text_col), lambda w: w != ""))
    bucket = F.pow(
        F.lit(2.0), F.ceil(F.log2(F.greatest(n, F.lit(1))))
    ).cast("long")
    per = (
        df.select(bucket.alias("max_len"), n.alias("n_tok"))
        .groupBy("max_len")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
        )
    )
    w = Window.orderBy("max_len").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    totals = per.agg(
        F.sum("n_docs").alias("t_docs"), F.sum("n_tokens").alias("t_toks")
    )
    return (
        per.withColumn("cum_docs", F.sum("n_docs").over(w))
        .withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .crossJoin(F.broadcast(totals))
        .select(
            "max_len",
            "n_docs",
            "n_tokens",
            F.round(F.col("cum_docs") / F.col("t_docs"), dp).alias(
                "doc_coverage"
            ),
            F.round(F.col("cum_tokens") / F.col("t_toks"), dp).alias(
                "token_coverage"
            ),
        )
        .orderBy("max_len")
    )


def seq_len_histogram_sql(
    table: str = "documents",
    text_expr: str = "text",
    dp: int = 6,
) -> str:
    """DuckDB twin of :func:`seq_len_histogram`."""
    ws = _words_sql(text_expr)
    return f"""
        WITH per_doc AS (
            SELECT CAST(power(2, ceil(log2(GREATEST(n, 1)))) AS BIGINT)
                       AS max_len,
                   n AS n_tok
            FROM (
                SELECT len(list_filter({ws}, x -> x <> '')) AS n
                FROM {table}
            )
        ),
        per AS (
            SELECT max_len, COUNT(*) AS n_docs, SUM(n_tok) AS n_tokens
            FROM per_doc GROUP BY 1
        ),
        tot AS (
            SELECT SUM(n_docs) AS t_docs, SUM(n_tokens) AS t_toks FROM per
        )
        SELECT max_len, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
               ROUND(SUM(n_docs) OVER (ORDER BY max_len) * 1.0 / t.t_docs,
                     {dp}) AS doc_coverage,
               ROUND(SUM(n_tokens) OVER (ORDER BY max_len) * 1.0 / t.t_toks,
                     {dp}) AS token_coverage
        FROM per CROSS JOIN tot t
        ORDER BY max_len
    """


def oov_rate(
    df: DataFrame,
    vocab: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    dp: int = 6,
) -> DataFrame:
    """Out-of-vocabulary rate per ``group_col``: the fraction of token
    occurrences the given vocabulary (a :func:`build_vocab` result —
    its size IS the vocab budget under test) cannot cover — the
    go/no-go metric when sizing a vocabulary or admitting a new source
    whose token distribution the tokenizer never saw.

    Output: (group, n_tokens, n_oov, oov_rate).

    100 TB design: same shape as :func:`tokenize_to_ids` — one explode
    + broadcast vocab join (Zipfian vocabularies stay broadcast-sized),
    then a per-group aggregate whose shuffle carries one partial per
    group per partition.
    """
    toks = df.select(
        F.col(group_col).alias("grp"),
        F.explode(words_col(text_col)).alias("word"),
    )
    return (
        toks.join(F.broadcast(vocab), "word", "left")
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                F.col("token_id").isNull().cast("long")
            ).alias("n_oov"),
        )
        .select(
            F.col("grp").alias(group_col),
            "n_tokens",
            "n_oov",
            (
                F.round(
                    F.col("n_oov") / F.col("n_tokens").cast("double"), dp
                )
                + F.lit(0.0)
            ).alias("oov_rate"),
        )
    )


def oov_rate_sql(
    table: str = "documents",
    group_col: str = "source",
    text_expr: str = "text",
    vocab_size: int = 256,
    dp: int = 6,
) -> str:
    """DuckDB twin of :func:`build_vocab` + :func:`oov_rate`."""
    ws = _words_sql(text_expr)
    return f"""
        WITH w AS (
            SELECT {group_col} AS grp, unnest({ws}) AS word FROM {table}
        ),
        vocab AS (
            SELECT word FROM (
                SELECT word,
                       row_number() OVER (ORDER BY COUNT(*) DESC, word) - 1
                           AS token_id
                FROM w GROUP BY word
            ) WHERE token_id < {vocab_size}
        )
        SELECT grp AS {group_col},
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_oov,
               ROUND(SUM(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END)
                     / (COUNT(*) * 1.0), {dp}) + 0.0 AS oov_rate
        FROM w LEFT JOIN vocab v USING (word)
        GROUP BY grp
        ORDER BY grp
    """


def word_entropy(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dp: int = 6,
) -> DataFrame:
    """Per-document Shannon entropy of the word distribution plus the
    normalized (0–1) variant — the information-theoretic quality
    signal: spam/keyword-stuffed/templated documents have LOW entropy
    for their length, natural prose sits near the top.

    ``H = log2(n) − (Σ c·log2(c)) / n`` over per-word counts ``c``;
    ``norm_entropy = H / log2(n_types)`` (1.0 when every type is
    uniform; defined 0 for single-type docs). Output: (id, n_words,
    n_types, entropy, norm_entropy), both entropies ROUND(dp) + 0.0.

    Cross-engine: the Σ c·log2(c) term sums doubles, so each term is
    cast to DECIMAL(28,10) first — order-free exact summation, the
    same discipline as :func:`~vectra_py_spark.operators.similarity.
    group_centroids` (log2 itself agrees on the small-integer counts
    this ever sees, as with the LM-quality scorers).

    100 TB design: explode → groupBy(id, word) → groupBy(id), both
    map-side combined; the shuffles carry (id, word-hash, count)
    partials, never text.
    """
    dec = "decimal(28,10)"
    counts = (
        spread(df.select(id_col, text_col))
        .select(F.col(id_col), F.explode(words_col(text_col)).alias("w"))
        .groupBy(id_col, "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_doc = counts.groupBy(id_col).agg(
        F.sum("c").cast("long").alias("n_words"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(
            (F.col("c").cast("double") * F.log2(F.col("c").cast("double")))
            .cast(dec)
        ).alias("clogc"),
    )
    h = F.log2(F.col("n_words").cast("double")) - F.col("clogc").cast(
        "double"
    ) / F.col("n_words").cast("double")
    return per_doc.select(
        id_col,
        "n_words",
        "n_types",
        (F.round(h, dp) + F.lit(0.0)).alias("entropy"),
        (
            F.round(
                F.when(F.col("n_types") > 1, h / F.log2(F.col("n_types").cast("double")))
                .otherwise(F.lit(0.0)),
                dp,
            )
            + F.lit(0.0)
        ).alias("norm_entropy"),
    )


def word_entropy_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_expr: str = "text",
    dp: int = 6,
) -> str:
    """DuckDB twin of :func:`word_entropy` (same DECIMAL-exact
    summation, same n_types guard)."""
    ws = _words_sql(text_expr)
    return f"""
        WITH counts AS (
            SELECT {id_col}, w, COUNT(*) AS c
            FROM (SELECT {id_col}, unnest({ws}) AS w FROM {table})
            GROUP BY {id_col}, w
        ),
        per_doc AS (
            SELECT {id_col},
                   CAST(SUM(c) AS BIGINT) AS n_words,
                   CAST(COUNT(*) AS BIGINT) AS n_types,
                   SUM(CAST(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE))
                            AS DECIMAL(28,10))) AS clogc
            FROM counts GROUP BY {id_col}
        )
        SELECT {id_col}, n_words, n_types,
               ROUND(log2(CAST(n_words AS DOUBLE))
                     - CAST(clogc AS DOUBLE) / n_words, {dp}) + 0.0
                   AS entropy,
               ROUND(CASE WHEN n_types > 1
                          THEN (log2(CAST(n_words AS DOUBLE))
                                - CAST(clogc AS DOUBLE) / n_words)
                               / log2(CAST(n_types AS DOUBLE))
                          ELSE 0.0 END, {dp}) + 0.0 AS norm_entropy
        FROM per_doc
        ORDER BY {id_col}
    """
