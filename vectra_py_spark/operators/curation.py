"""Corpus-curation filters from the published pretraining-data
pipelines: Gopher quality rules, C4 line filtering, CCNet-style
line-level boilerplate dedup, and per-source length-percentile
trimming.

North-star extensions (no reference analog — the reference ingests
documents as-is, ``/root/reference/src/vectra_py/local_document_index.py``);
these are the standard cleaning stages a 100 TB pretraining corpus runs
BEFORE chunking/embedding, re-expressed Spark-first:

- :func:`gopher_quality` — the Rae et al. 2021 (Gopher) document-level
  heuristics: word-count bounds, mean-word-length bounds, symbol-word
  ratio, alpha-word fraction, bullet/ellipsis line ratios, minimum
  stop-word hits. One narrow projection per document — every rule is a
  higher-order-function over the split word/line arrays, whole-stage
  codegen, NO shuffle and NO Python.
- :func:`c4_line_stats` — the Raffel et al. 2020 (C4/T5) line rules:
  keep lines ending in terminal punctuation with ≥ ``min_words`` words
  and no "javascript"; flag documents containing "lorem ipsum" or
  ``{``. Same narrow HOF shape.
- :func:`line_dedup_stats` — CCNet-style (Wenzek et al. 2020)
  line-level boilerplate: a normalized line occurring in ≥ ``min_docs``
  DISTINCT documents is boilerplate (headers, footers, nav). Lines
  explode → per-doc distinct → line-hash document frequency → join
  back. Every stage is keyed on the line hash (never raw text — the
  shuffle carries (doc_id, 32-hex) rows), map-side combined.
- :func:`length_trim` — drop per-source length outliers outside the
  [lo, hi] percent-rank band. Rank-based (``percent_rank``), not
  approximate quantiles, so the cut is exact, deterministic, and
  engine-portable; one hash exchange on the source key.

Every operator carries a DuckDB-SQL twin built from the SAME constants
for the driver's oracle gate.

100 TB notes: gopher/c4 add zero shuffles to an ingest pipeline (pure
projections — they fuse into the scan stage). line_dedup's document
frequency is Zipfian (boilerplate lines are few and hot, body lines
unique): the groupBy's map-side partial aggregation absorbs the hot
keys, and the join back is an equi-join on the hash AQE can
skew-split. length_trim's window runs per source — source counts are
corpus-table-sized metadata, and the per-source sort is the same
exchange a per-source report already pays.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from vectra_py_spark.operators.text_analysis import _words_sql, words_col

__all__ = [
    "gopher_quality",
    "gopher_quality_sql",
    "c4_line_stats",
    "c4_line_stats_sql",
    "line_dedup_stats",
    "line_dedup_stats_sql",
    "length_trim",
    "length_trim_sql",
    "nfc_normalize",
    "nfc_normalize_sql",
    "curation_funnel",
    "curation_funnel_sql",
    "corpus_diff",
    "corpus_diff_sql",
    "content_checksum",
    "content_checksum_sql",
    "embedding_coverage",
    "embedding_coverage_sql",
    "encoding_report",
    "encoding_report_sql",
    "fix_mojibake",
]

# Gopher (Rae et al. 2021, Table A1) document-quality bounds.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MIN_ALPHA_FRAC = 0.8
GOPHER_MAX_BULLET_RATIO = 0.9
GOPHER_MAX_ELLIPSIS_RATIO = 0.3
GOPHER_MIN_STOPWORDS = 2
# Gopher's stop-word list ("must contain ≥2 of ...").
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")

C4_MIN_LINE_WORDS = 5
C4_MIN_KEPT_LINES = 3

LINE_DEDUP_MIN_DOCS = 2

LENGTH_TRIM_LO = 0.05
LENGTH_TRIM_HI = 0.95


def _lines_col(text_col: str) -> Column:
    """Non-empty trimmed lines of the document."""
    return F.filter(
        F.transform(F.split(F.col(text_col), "\n"), F.trim),
        lambda ln: ln != F.lit(""),
    )


def _lines_sql(text_expr: str) -> str:
    return (
        f"list_filter(list_transform(string_split({text_expr}, chr(10)),"
        f" l -> trim(l)), l -> l <> '')"
    )


# ---------------------------------------------------------------------------
# Gopher document-quality rules
# ---------------------------------------------------------------------------
def gopher_pass_col(
    text_col: str = "text",
    words: Column | None = None,
    lines: Column | None = None,
    dp: int = 6,
) -> Column:
    """The ``pass_gopher`` flag as ONE inline expression — reusable in
    single-scan compositions (:func:`curation_funnel`), mirroring the
    rounded-ratio-then-threshold arithmetic of :func:`gopher_quality`
    operation-for-operation. Pass pre-staged ``words``/``lines``
    attribute columns to avoid re-splitting the text per reference
    (the staging note in ``text_analysis``)."""
    if words is None:
        words = words_col(text_col)
    if lines is None:
        lines = _lines_col(text_col)
    sw = F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
    n_words = F.size(words)
    nw = F.greatest(n_words.cast("double"), F.lit(1.0))
    nl = F.greatest(F.size(lines), F.lit(1)).cast("double")
    word_chars = F.aggregate(
        F.transform(words, F.length), F.lit(0), lambda a, x: a + x
    )
    mean_wl = F.round(word_chars / nw, dp)
    sym = F.round(
        F.size(F.filter(words, lambda w: w.rlike("#|\\.\\.\\."))) / nw, dp
    )
    alpha = F.round(
        F.size(F.filter(words, lambda w: w.rlike("[a-z]"))) / nw, dp
    )
    bullet = F.round(
        F.size(
            F.filter(
                lines, lambda ln: ln.startswith("-") | ln.startswith("•")
            )
        )
        / nl,
        dp,
    )
    ellip = F.round(
        F.size(F.filter(lines, lambda ln: ln.endswith("..."))) / nl, dp
    )
    n_stop = F.size(F.filter(words, lambda w: F.array_contains(sw, w)))
    return (
        (n_words >= GOPHER_MIN_WORDS)
        & (n_words <= GOPHER_MAX_WORDS)
        & (mean_wl >= GOPHER_MIN_MEAN_WORD_LEN)
        & (mean_wl <= GOPHER_MAX_MEAN_WORD_LEN)
        & (sym <= GOPHER_MAX_SYMBOL_RATIO)
        & (alpha >= GOPHER_MIN_ALPHA_FRAC)
        & (bullet <= GOPHER_MAX_BULLET_RATIO)
        & (ellip <= GOPHER_MAX_ELLIPSIS_RATIO)
        & (n_stop >= GOPHER_MIN_STOPWORDS)
    )


def gopher_quality(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", dp: int = 6
) -> DataFrame:
    """Per-document Gopher heuristics + pass flags.

    Output: (id, n_words, mean_word_len, symbol_ratio, alpha_frac,
    bullet_ratio, ellipsis_ratio, n_stopwords, 7 pass_* booleans,
    pass_gopher). All ratios ROUND(dp); divisions guard n=0.

    Plan: ONE narrow projection — words/lines split once via HOFs, all
    rules evaluated in the same whole-stage-codegen stage as the scan.
    No shuffle, no UDF, survives any scale the scan survives.
    """
    # stage the split arrays once per row (the rules reference
    # words 5x and lines 3x, and HOF-bearing projections evaluate
    # interpreted without subexpression elimination — inlining re-split
    # the text per reference; see text_analysis.bigrams_col's note).
    # spread(): one-file scans otherwise evaluate the whole interpreted
    # rule stage on a single task (no-op at real scale).
    from vectra_py_spark.session import spread

    df = spread(df).select(
        "*",
        words_col(text_col).alias("__words"),
        _lines_col(text_col).alias("__lines"),
    )
    words = F.col("__words")
    lines = F.col("__lines")
    sw = F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])

    d = df.select(
        F.col(id_col),
        F.size(words).alias("n_words"),
        F.size(lines).alias("n_lines"),
        F.aggregate(
            F.transform(words, F.length), F.lit(0), lambda a, x: a + x
        ).alias("word_chars"),
        F.size(
            F.filter(words, lambda w: w.rlike("#|\\.\\.\\."))
        ).alias("n_symbol_words"),
        F.size(F.filter(words, lambda w: w.rlike("[a-z]"))).alias(
            "n_alpha_words"
        ),
        F.size(
            F.filter(
                lines, lambda ln: ln.startswith("-") | ln.startswith("•")
            )
        ).alias("n_bullet_lines"),
        F.size(F.filter(lines, lambda ln: ln.endswith("..."))).alias(
            "n_ellipsis_lines"
        ),
        F.size(F.filter(words, lambda w: F.array_contains(sw, w))).alias(
            "n_stopwords"
        ),
    )

    nw = F.col("n_words").cast("double")
    nl = F.greatest(F.col("n_lines"), F.lit(1)).cast("double")
    mean_wl = F.round(F.col("word_chars") / F.greatest(nw, F.lit(1.0)), dp)
    sym = F.round(F.col("n_symbol_words") / F.greatest(nw, F.lit(1.0)), dp)
    alpha = F.round(F.col("n_alpha_words") / F.greatest(nw, F.lit(1.0)), dp)
    bullet = F.round(F.col("n_bullet_lines") / nl, dp)
    ellip = F.round(F.col("n_ellipsis_lines") / nl, dp)

    out = d.select(
        id_col,
        "n_words",
        mean_wl.alias("mean_word_len"),
        sym.alias("symbol_ratio"),
        alpha.alias("alpha_frac"),
        bullet.alias("bullet_ratio"),
        ellip.alias("ellipsis_ratio"),
        F.col("n_stopwords"),
    )
    p_words = (F.col("n_words") >= GOPHER_MIN_WORDS) & (
        F.col("n_words") <= GOPHER_MAX_WORDS
    )
    p_mwl = (F.col("mean_word_len") >= GOPHER_MIN_MEAN_WORD_LEN) & (
        F.col("mean_word_len") <= GOPHER_MAX_MEAN_WORD_LEN
    )
    p_sym = F.col("symbol_ratio") <= GOPHER_MAX_SYMBOL_RATIO
    p_alpha = F.col("alpha_frac") >= GOPHER_MIN_ALPHA_FRAC
    p_bullet = F.col("bullet_ratio") <= GOPHER_MAX_BULLET_RATIO
    p_ellip = F.col("ellipsis_ratio") <= GOPHER_MAX_ELLIPSIS_RATIO
    p_stop = F.col("n_stopwords") >= GOPHER_MIN_STOPWORDS
    return out.select(
        "*",
        p_words.alias("pass_words"),
        p_mwl.alias("pass_mean_word_len"),
        p_sym.alias("pass_symbols"),
        p_alpha.alias("pass_alpha"),
        p_bullet.alias("pass_bullets"),
        p_ellip.alias("pass_ellipsis"),
        p_stop.alias("pass_stopwords"),
        (
            p_words & p_mwl & p_sym & p_alpha & p_bullet & p_ellip & p_stop
        ).alias("pass_gopher"),
    )


def gopher_quality_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_expr: str = "text",
    dp: int = 6,
) -> str:
    """DuckDB twin of :func:`gopher_quality` (same constants, same
    rounded arithmetic)."""
    ws = _words_sql(text_expr)
    ls = _lines_sql(text_expr)
    sw = ", ".join(f"'{s}'" for s in GOPHER_STOPWORDS)
    return f"""
        WITH base AS (
            SELECT {id_col},
                   len(ws) AS n_words,
                   len(ls) AS n_lines,
                   COALESCE(list_sum(list_transform(ws, w -> length(w))), 0)
                       AS word_chars,
                   len(list_filter(ws, w -> regexp_matches(w, '#|\\.\\.\\.')))
                       AS n_symbol_words,
                   len(list_filter(ws, w -> regexp_matches(w, '[a-z]')))
                       AS n_alpha_words,
                   len(list_filter(ls, l -> l LIKE '-%' OR l LIKE chr(8226) || '%'))
                       AS n_bullet_lines,
                   len(list_filter(ls, l -> l LIKE '%...')) AS n_ellipsis_lines,
                   len(list_filter(ws, w -> w IN ({sw}))) AS n_stopwords
            FROM (SELECT {id_col}, {ws} AS ws, {ls} AS ls FROM {table})
        ),
        m AS (
            SELECT {id_col}, n_words, n_stopwords,
                   ROUND(word_chars * 1.0 / greatest(n_words, 1), {dp}) AS mean_word_len,
                   ROUND(n_symbol_words * 1.0 / greatest(n_words, 1), {dp}) AS symbol_ratio,
                   ROUND(n_alpha_words * 1.0 / greatest(n_words, 1), {dp}) AS alpha_frac,
                   ROUND(n_bullet_lines * 1.0 / greatest(n_lines, 1), {dp}) AS bullet_ratio,
                   ROUND(n_ellipsis_lines * 1.0 / greatest(n_lines, 1), {dp}) AS ellipsis_ratio
            FROM base
        )
        SELECT {id_col}, n_words, mean_word_len, symbol_ratio, alpha_frac,
               bullet_ratio, ellipsis_ratio, n_stopwords,
               (n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS})
                   AS pass_words,
               (mean_word_len >= {GOPHER_MIN_MEAN_WORD_LEN}
                AND mean_word_len <= {GOPHER_MAX_MEAN_WORD_LEN}) AS pass_mean_word_len,
               (symbol_ratio <= {GOPHER_MAX_SYMBOL_RATIO}) AS pass_symbols,
               (alpha_frac >= {GOPHER_MIN_ALPHA_FRAC}) AS pass_alpha,
               (bullet_ratio <= {GOPHER_MAX_BULLET_RATIO}) AS pass_bullets,
               (ellipsis_ratio <= {GOPHER_MAX_ELLIPSIS_RATIO}) AS pass_ellipsis,
               (n_stopwords >= {GOPHER_MIN_STOPWORDS}) AS pass_stopwords,
               (n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS}
                AND mean_word_len >= {GOPHER_MIN_MEAN_WORD_LEN}
                AND mean_word_len <= {GOPHER_MAX_MEAN_WORD_LEN}
                AND symbol_ratio <= {GOPHER_MAX_SYMBOL_RATIO}
                AND alpha_frac >= {GOPHER_MIN_ALPHA_FRAC}
                AND bullet_ratio <= {GOPHER_MAX_BULLET_RATIO}
                AND ellipsis_ratio <= {GOPHER_MAX_ELLIPSIS_RATIO}
                AND n_stopwords >= {GOPHER_MIN_STOPWORDS}) AS pass_gopher
        FROM m
        ORDER BY {id_col}
    """


# ---------------------------------------------------------------------------
# C4 line filtering
# ---------------------------------------------------------------------------
def c4_line_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = C4_MIN_LINE_WORDS,
    min_kept: int = C4_MIN_KEPT_LINES,
) -> DataFrame:
    """C4 line rules per document: a line is KEPT iff it ends in a
    terminal punctuation mark (``. ! ? "``), has ≥ ``min_words`` words,
    and does not contain "javascript" (case-insensitive). A document is
    FLAGGED (dropped wholesale in C4) if it contains "lorem ipsum" or a
    ``{``; it is kept only if not flagged and ≥ ``min_kept`` lines
    survive.

    Output: (id, n_lines, n_kept, kept_chars, doc_flagged, keep_doc).
    Same zero-shuffle narrow-projection plan as :func:`gopher_quality`.
    """
    lines = _lines_col(text_col)
    kept = F.filter(
        lines,
        lambda ln: ln.rlike('[.!?"]$')
        & (F.size(F.split(ln, r"\s+")) >= min_words)
        & ~F.lower(ln).contains("javascript"),
    )
    flagged = F.lower(F.col(text_col)).contains("lorem ipsum") | F.col(
        text_col
    ).contains("{")
    return df.select(
        F.col(id_col),
        F.size(lines).alias("n_lines"),
        F.size(kept).alias("n_kept"),
        F.aggregate(
            F.transform(kept, F.length), F.lit(0), lambda a, x: a + x
        ).alias("kept_chars"),
        flagged.alias("doc_flagged"),
        (~flagged & (F.size(kept) >= min_kept)).alias("keep_doc"),
    )


def c4_line_stats_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_expr: str = "text",
    min_words: int = C4_MIN_LINE_WORDS,
    min_kept: int = C4_MIN_KEPT_LINES,
) -> str:
    """DuckDB twin of :func:`c4_line_stats`."""
    ls = _lines_sql(text_expr)
    return f"""
        WITH base AS (
            SELECT {id_col},
                   ls,
                   list_filter(ls, l ->
                       regexp_matches(l, '[.!?"]$')
                       AND len(string_split_regex(l, '\\s+')) >= {min_words}
                       AND NOT contains(lower(l), 'javascript')) AS kept,
                   (contains(lower({text_expr}), 'lorem ipsum')
                    OR contains({text_expr}, '{{')) AS doc_flagged
            FROM (SELECT {id_col}, {text_expr}, {ls} AS ls FROM {table})
        )
        SELECT {id_col},
               len(ls) AS n_lines,
               len(kept) AS n_kept,
               CAST(COALESCE(list_sum(list_transform(kept, l -> length(l))), 0)
                    AS BIGINT) AS kept_chars,
               doc_flagged,
               (NOT doc_flagged AND len(kept) >= {min_kept}) AS keep_doc
        FROM base
        ORDER BY {id_col}
    """


# ---------------------------------------------------------------------------
# CCNet-style line-level boilerplate dedup
# ---------------------------------------------------------------------------
def line_dedup_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = LINE_DEDUP_MIN_DOCS,
    dp: int = 6,
) -> DataFrame:
    """Line-level boilerplate statistics: a normalized (lowercased,
    trimmed) line occurring in ≥ ``min_docs`` DISTINCT documents is
    boilerplate. Output per document: (id, n_lines, n_boiler,
    kept_ratio) over the document's DISTINCT lines.

    Plan: explode lines → md5 → per-doc distinct → document frequency
    per hash (map-side combined — boilerplate keys are hot but partial
    agg collapses them per partition) → join back on hash → per-doc
    rollup. The shuffled payload is (id, 32-hex) rows; raw line text
    never leaves the first stage. At 100 TB the df-counts relation is
    vocabulary-sized (distinct lines), and the final join is an
    equi-join AQE can skew-split.
    """
    lines = (
        df.select(
            F.col(id_col),
            F.explode(_lines_col(text_col)).alias("line"),
        )
        .select(id_col, F.md5(F.lower(F.col("line"))).alias("lh"))
        .distinct()
    )
    freq = lines.groupBy("lh").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        lines.join(freq, "lh")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(
                (F.col("n_docs") >= min_docs).cast("long")
            ).alias("n_boiler"),
        )
        .select(
            id_col,
            "n_lines",
            "n_boiler",
            F.round(
                1.0 - F.col("n_boiler") / F.col("n_lines").cast("double"), dp
            ).alias("kept_ratio"),
        )
    )


def line_dedup_stats_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_expr: str = "text",
    min_docs: int = LINE_DEDUP_MIN_DOCS,
    dp: int = 6,
) -> str:
    """DuckDB twin of :func:`line_dedup_stats`."""
    ls = _lines_sql(text_expr)
    return f"""
        WITH lines AS (
            SELECT DISTINCT {id_col}, md5(lower(l)) AS lh
            FROM (SELECT {id_col}, unnest({ls}) AS l FROM {table})
        ),
        freq AS (
            SELECT lh, COUNT(*) AS n_docs FROM lines GROUP BY lh
        )
        SELECT l.{id_col},
               COUNT(*) AS n_lines,
               CAST(SUM(CASE WHEN f.n_docs >= {min_docs} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_boiler,
               ROUND(1.0 - SUM(CASE WHEN f.n_docs >= {min_docs} THEN 1 ELSE 0 END)
                     * 1.0 / COUNT(*), {dp}) AS kept_ratio
        FROM lines l JOIN freq f USING (lh)
        GROUP BY l.{id_col}
        ORDER BY l.{id_col}
    """


# ---------------------------------------------------------------------------
# Per-source length-percentile trim
# ---------------------------------------------------------------------------
def length_trim(
    df: DataFrame,
    id_col: str = "doc_id",
    source_col: str = "source",
    len_col: str = "n_chars",
    lo: float = LENGTH_TRIM_LO,
    hi: float = LENGTH_TRIM_HI,
    dp: int = 6,
) -> DataFrame:
    """Keep documents whose length falls inside the per-source
    [``lo``, ``hi``] percent-rank band — the standard outlier trim
    before length-sensitive stages (packing, embedding batching).

    Rank-based, not approximate: ``percent_rank = (rank−1)/(n−1)`` is
    exact, gives ties identical ranks, and computes bit-identically on
    both engines (one double division) — so the band edges never
    disagree. One hash exchange on the source key; the per-source sort
    is the window's, bounded by the largest source. At 100 TB, when
    exact ranks aren't required, compute per-source cutoffs ONCE with
    ``df.stat.approxQuantile`` (or ``approx_percentile`` grouped by
    source) and broadcast them — the trim then degrades to a pure
    filter projection with zero sorts; this exact-rank variant stays
    the oracle twin.
    """
    w = Window.partitionBy(source_col).orderBy(len_col)
    return (
        df.select(id_col, source_col, len_col)
        .withColumn("pr", F.percent_rank().over(w))
        .filter((F.col("pr") >= lo) & (F.col("pr") <= hi))
        .select(
            id_col,
            source_col,
            len_col,
            (F.round(F.col("pr"), dp) + F.lit(0.0)).alias("pr"),
        )
    )


def length_trim_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    source_col: str = "source",
    len_col: str = "n_chars",
    lo: float = LENGTH_TRIM_LO,
    hi: float = LENGTH_TRIM_HI,
    dp: int = 6,
) -> str:
    """DuckDB twin of :func:`length_trim`."""
    return f"""
        SELECT {id_col}, {source_col}, {len_col},
               ROUND(pr, {dp}) + 0.0 AS pr
        FROM (
            SELECT {id_col}, {source_col}, {len_col},
                   percent_rank() OVER (PARTITION BY {source_col}
                                        ORDER BY {len_col}) AS pr
            FROM {table}
        )
        WHERE pr >= {lo} AND pr <= {hi}
        ORDER BY {id_col}
    """


# ---------------------------------------------------------------------------
# Unicode NFC normalization + control scrub
# ---------------------------------------------------------------------------
_CTRL_PATTERN = r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]"


def nfc_normalize(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Canonical text normalization before any hashing/dedup stage:
    Unicode NFC composition, C0/DEL control-character strip (keeping
    ``\\t``/``\\n``/``\\r``), and space-run collapse. Running dedup on
    un-normalized text silently splits duplicates that differ only in
    composition form (é as U+00E9 vs e+U+0301) or stray control bytes.

    Output: (id, norm_hash, n_chars_norm, changed) — the md5 of the
    normalized text (what a dedup stage would key on), not the text
    itself, so nothing wide is shuffled or collected.

    Plan: one narrow Arrow-batched pass (``unicodedata.normalize`` has
    no Catalyst equivalent), embarrassingly parallel, no shuffle. The
    DuckDB twin uses its native ``nfc_normalize`` — both implement
    Unicode NFC, so the hashes agree.
    """
    import hashlib
    import re
    import unicodedata

    from vectra_py_spark.session import map_rows, spread

    ctrl = re.compile(_CTRL_PATTERN)
    spaces = re.compile(" +")

    def row(i, t):
        if t is None:
            # NULL text stays a (NULL-featured) row — dropping it would
            # silently lose the doc from every downstream dedup, and
            # diverge from the SQL twin
            return [(i, None, None, None)]
        norm = spaces.sub(
            " ", ctrl.sub("", unicodedata.normalize("NFC", str(t)))
        )
        return [(i, hashlib.md5(norm.encode()).hexdigest(), len(norm),
                 norm != t)]

    return map_rows(
        spread(df.select(id_col, text_col)), [id_col, text_col], row,
        f"{df.select(id_col).schema.toDDL()}, norm_hash STRING, "
        "n_chars_norm INT, changed BOOLEAN",
    )


def nfc_normalize_sql(
    table: str = "documents", id_col: str = "doc_id", text_expr: str = "text"
) -> str:
    """DuckDB twin of :func:`nfc_normalize` (native ``nfc_normalize`` +
    the same RE2-compatible control/space patterns)."""
    norm = (
        f"regexp_replace(regexp_replace(nfc_normalize({text_expr}),"
        f" '{_CTRL_PATTERN}', '', 'g'), ' +', ' ', 'g')"
    )
    return f"""
        SELECT {id_col},
               md5({norm}) AS norm_hash,
               CAST(length({norm}) AS INT) AS n_chars_norm,
               ({norm} <> {text_expr}) AS changed
        FROM {table}
        ORDER BY {id_col}
    """


# ---------------------------------------------------------------------------
# End-to-end curation funnel
# ---------------------------------------------------------------------------
def curation_funnel(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """The composed cleaning pipeline as one funnel report — the number
    every curation run is judged by: documents and tokens surviving
    each stage.

    Stages: ``s0_input`` → ``s1_quality`` (Gopher pass) → ``s2_exact``
    (exact dedup, min-id survivor per text hash) → ``s3_neardup``
    (MinHash-LSH near-dup, drop the larger id of each pair ≥
    ``threshold``).

    Output: (stage, n_docs, n_tokens), one row per stage.

    100 TB design: the funnel composes operators that are each
    scale-safe (zero-shuffle quality projection, hash-keyed exact
    dedup, banded LSH) — the composition adds only the per-stage
    1-row aggregates. Production materializes each stage's survivor
    ids; here the stages chain lazily for the oracle check.
    """
    from vectra_py_spark.operators.dedup import minhash_lsh_pairs

    docs = df.select(id_col, text_col)

    # The old four-branch union scanned the corpus once PER STAGE (and reached s1 through a doc_id
    # semi-join against the Gopher projection — two exchanges to apply
    # a per-row flag). Now ONE tagged pass: each row carries its token
    # count and q/e/n survival flags, and a single aggregate produces
    # every stage's (n_docs, n_tokens) as conditional sums — same
    # values (integer sums are order-free), four output rows via one
    # inline explode of the 1-row aggregate. The exact-dedup survivor
    # among quality rows is `min(CASE WHEN q THEN id END) OVER
    # (PARTITION BY md5(text))` — identical to the old min-over-s1
    # window because min ignores NULLs. The MinHash pass still sees
    # exactly the s2 survivor rows.
    from vectra_py_spark.session import spread

    words = words_col(text_col)
    staged = spread(docs).select(
        F.col(id_col),
        F.col(text_col),
        words.alias("__w"),
        _lines_col(text_col).alias("__l"),
    )
    q = gopher_pass_col(text_col, words=F.col("__w"), lines=F.col("__l"))
    keep = Window.partitionBy(F.md5(F.col(text_col)))
    base = (
        staged.select(
            F.col(id_col),
            F.col(text_col),
            F.size(F.col("__w")).alias("__tok"),
            q.alias("__q"),
        )
        .withColumn(
            "__keep",
            F.min(F.when(F.col("__q"), F.col(id_col))).over(keep),
        )
        .withColumn("__e", F.col("__q") & (F.col(id_col) == F.col("__keep")))
    )
    dup_ids = (
        minhash_lsh_pairs(
            base.filter(F.col("__e")).select(id_col, text_col),
            id_col=id_col, text_col=text_col, threshold=threshold,
        )
        .select(F.col("id_b").alias(id_col))
        .distinct()
        .withColumn("__dup", F.lit(1))
    )
    tagged = base.join(dup_ids, id_col, "left").withColumn(
        "__n", F.col("__e") & F.col("__dup").isNull()
    )

    def _cnt(flag):
        return F.count(F.when(flag, F.lit(1)))

    def _tok(flag):
        return (
            F.coalesce(F.sum(F.when(flag, F.col("__tok"))), F.lit(0))
            .cast("long")
        )

    agg = tagged.agg(
        F.count(F.lit(1)).alias("d0"),
        F.coalesce(F.sum("__tok"), F.lit(0)).cast("long").alias("t0"),
        _cnt(F.col("__q")).alias("d1"), _tok(F.col("__q")).alias("t1"),
        _cnt(F.col("__e")).alias("d2"), _tok(F.col("__e")).alias("t2"),
        _cnt(F.col("__n")).alias("d3"), _tok(F.col("__n")).alias("t3"),
    )
    stages = F.array(
        F.struct(
            F.lit("s0_input").alias("stage"),
            F.col("d0").alias("n_docs"), F.col("t0").alias("n_tokens"),
        ),
        F.struct(
            F.lit("s1_quality").alias("stage"),
            F.col("d1").alias("n_docs"), F.col("t1").alias("n_tokens"),
        ),
        F.struct(
            F.lit("s2_exact").alias("stage"),
            F.col("d2").alias("n_docs"), F.col("t2").alias("n_tokens"),
        ),
        F.struct(
            F.lit("s3_neardup").alias("stage"),
            F.col("d3").alias("n_docs"), F.col("t3").alias("n_tokens"),
        ),
    )
    return agg.select(F.explode(stages).alias("s")).select(
        "s.stage", "s.n_docs", "s.n_tokens"
    )


def curation_funnel_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_expr: str = "text",
    threshold: float = 0.5,
) -> str:
    """DuckDB twin of :func:`curation_funnel` (gopher + minhash twins
    embedded as CTEs over the same stage relations)."""
    from vectra_py_spark.operators.dedup import minhash_lsh_pairs_sql

    ws = _words_sql(text_expr)
    g = gopher_quality_sql(table=table, id_col=id_col, text_expr=text_expr)
    pairs = minhash_lsh_pairs_sql(table="s2", text_expr=text_expr,
                                  threshold=threshold)

    def agg(rel: str, name: str) -> str:
        return (
            f"SELECT '{name}' AS stage, CAST(COUNT(*) AS BIGINT) AS n_docs,"
            f" CAST(COALESCE(SUM(len({ws})), 0) AS BIGINT) AS n_tokens"
            f" FROM {rel}"
        )

    return f"""
        WITH g AS ({g}),
        s1 AS (
            SELECT d.{id_col}, d.{text_expr}
            FROM {table} d JOIN g USING ({id_col})
            WHERE g.pass_gopher
        ),
        s2 AS (
            SELECT {id_col}, {text_expr} FROM (
                SELECT {id_col}, {text_expr},
                       MIN({id_col}) OVER (PARTITION BY md5({text_expr}))
                           AS keep_id
                FROM s1
            ) WHERE {id_col} = keep_id
        ),
        pairs AS ({pairs}),
        s3 AS (
            SELECT * FROM s2
            WHERE {id_col} NOT IN (SELECT id_b FROM pairs)
        )
        {agg(table, 's0_input')}
        UNION ALL {agg('s1', 's1_quality')}
        UNION ALL {agg('s2', 's2_exact')}
        UNION ALL {agg('s3', 's3_neardup')}
        ORDER BY stage
    """


# ---------------------------------------------------------------------------
# Corpus snapshot diff (incremental crawl management)
# ---------------------------------------------------------------------------
def corpus_diff(
    old_df: DataFrame,
    new_df: DataFrame,
    id_col: str = "doc_id",
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Diff two corpus snapshots: per (source, status) document counts
    with status ∈ added / removed / changed / unchanged — the report an
    incremental-crawl pipeline runs before deciding what to re-clean,
    re-embed, and re-index (only `added` + `changed` flow downstream).

    Comparison is by content hash, so moved/re-fetched but identical
    documents stay `unchanged`. Plan: each side reduces to
    (id, source, md5) FIRST — the full-outer join ships 3 narrow
    columns, never text — then one hash-keyed join and a counts
    aggregate. At 100 TB both sides are id-bucketed snapshots, so the
    join co-locates without a shuffle (see ``sources/bucketed.py``).
    """
    # presence is tracked by dedicated marker columns, NOT hash
    # nullity — a present row with NULL text (e.g. a quarantined
    # PERMISSIVE-parse) has a NULL md5 and would otherwise be
    # misclassified as absent; hash comparison is null-safe for the
    # same reason (NULL text on both sides = unchanged).
    o = old_df.select(
        F.col(id_col),
        F.col(source_col).alias("src_old"),
        F.md5(F.col(text_col)).alias("h_old"),
        F.lit(1).alias("_in_old"),
    )
    n = new_df.select(
        F.col(id_col),
        F.col(source_col).alias("src_new"),
        F.md5(F.col(text_col)).alias("h_new"),
        F.lit(1).alias("_in_new"),
    )
    joined = o.join(n, id_col, "full_outer")
    status = (
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(F.col("h_old").eqNullSafe(F.col("h_new")), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return (
        joined.select(
            F.coalesce(F.col("src_new"), F.col("src_old")).alias(source_col),
            status.alias("status"),
        )
        .groupBy(source_col, "status")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy(source_col, "status")
    )


def corpus_diff_sql(
    old_rel: str,
    new_rel: str,
    id_col: str = "doc_id",
    source_col: str = "source",
    text_expr: str = "text",
) -> str:
    """DuckDB twin of :func:`corpus_diff`. ``old_rel`` / ``new_rel``
    are relations (table names or parenthesized subqueries)."""
    return f"""
        WITH o AS (
            SELECT {id_col}, {source_col} AS src_old,
                   md5({text_expr}) AS h_old, 1 AS in_old
            FROM {old_rel}
        ),
        n AS (
            SELECT {id_col}, {source_col} AS src_new,
                   md5({text_expr}) AS h_new, 1 AS in_new
            FROM {new_rel}
        )
        SELECT COALESCE(src_new, src_old) AS {source_col},
               CASE WHEN in_old IS NULL THEN 'added'
                    WHEN in_new IS NULL THEN 'removed'
                    WHEN h_old IS NOT DISTINCT FROM h_new THEN 'unchanged'
                    ELSE 'changed' END AS status,
               CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM o FULL OUTER JOIN n USING ({id_col})
        GROUP BY 1, 2
        ORDER BY 1, 2
    """


# ---------------------------------------------------------------------------
# Order-independent content checksum (replication / migration validation)
# ---------------------------------------------------------------------------
def content_checksum(
    df: DataFrame,
    id_col: str = "doc_id",
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-source order-independent content checksum: SUM over rows of
    the first 8 hex chars of ``md5(id|source|text)`` as a 32-bit int.
    Two copies of a corpus agree iff (n_rows, checksum) agree per
    source — the cheap validation a migration, replication, or engine
    swap runs on both sides (this repo's own Spark↔DuckDB gate is the
    same idea row-by-row; this is the one-number version).

    SUM of 32-bit values is order-free and overflows int64 only past
    ~10^9 rows per source — switch the accumulator to DECIMAL(38,0) at
    that scale (same op, wider lane). One aggregate, map-side combined;
    the shuffle carries one (source, partial) pair per partition.

    NULL cells hash as the control byte ``\\x01`` (``concat_ws`` would
    silently SKIP them, making ``(id, src, NULL)`` collide with
    ``(id, src)``-without-a-text-field and diverging from SQL ``||``
    NULL propagation) — so a NULL-vs-empty corruption on one side of a
    migration is detected, not masked.
    """
    null_mark = "\x01"
    row_str = F.concat_ws(
        "|",
        F.coalesce(F.col(id_col).cast("string"), F.lit(null_mark)),
        F.coalesce(F.col(source_col), F.lit(null_mark)),
        F.coalesce(F.col(text_col), F.lit(null_mark)),
    )
    h32 = F.conv(F.substring(F.md5(row_str), 1, 8), 16, 10).cast("long")
    return (
        df.groupBy(source_col)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(h32).alias("checksum"),
        )
        .orderBy(source_col)
    )


# Classic UTF-8-decoded-as-cp1252 smoking guns: â€¦ (curly quotes,
# dashes, ellipsis) and Ã + Latin-1 tail (é→Ã©, ü→Ã¼, …). Identical
# regex semantics in Java (Spark) and RE2 (DuckDB) for these BMP
# classes — parity-tested.
MOJIBAKE_PATTERN = r"â€.|Ã[\x{80}-\x{ff}]"
# C0 control characters except \t \n \r — binary junk / PDF-extraction
# residue inside "text".
CTRL_PATTERN = r"[\x00-\x08\x0b\x0c\x0e-\x1f]"
REPLACEMENT_CHAR = "�"


def encoding_report(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    dp: int = 6,
) -> DataFrame:
    """Per-source encoding-health report: documents carrying mojibake
    (UTF-8 double-decode artifacts), U+FFFD replacement characters, or
    stray C0 control bytes — the upstream-pipeline smells (wrong
    charset sniff, lossy transcode, binary spillover) that per-doc
    quality scores don't isolate because the damaged docs still read
    as mostly-normal text. A source whose ``pct_flagged`` jumps after
    a crawl refresh broke its decoding, not its content.

    One narrow scan (three codegen'd regex/replace counters, no
    explode) + a per-source partial aggregate — same cost envelope as
    ``dup_rate_by_source``.
    """
    t = F.col(text_col)
    moji = F.size(F.regexp_extract_all(t, F.lit(MOJIBAKE_PATTERN), 0))
    ctrl = F.size(F.regexp_extract_all(t, F.lit(CTRL_PATTERN), 0))
    repl = F.length(t) - F.length(
        F.replace(t, F.lit(REPLACEMENT_CHAR), F.lit(""))
    )
    per_doc = df.select(
        F.col(source_col),
        moji.alias("m"),
        ctrl.alias("c"),
        repl.alias("r"),
    )
    flagged = (F.col("m") + F.col("c") + F.col("r")) > 0
    return (
        per_doc.groupBy(source_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(flagged.cast("int")).alias("n_flagged"),
            F.sum("m").alias("mojibake_hits"),
            F.sum("c").alias("control_hits"),
            F.sum("r").alias("replacement_hits"),
        )
        .select(
            source_col,
            "n_docs",
            "n_flagged",
            F.round(F.col("n_flagged") / F.col("n_docs"), dp).alias(
                "pct_flagged"
            ),
            "mojibake_hits",
            "control_hits",
            "replacement_hits",
        )
        .orderBy(source_col)
    )


def fix_mojibake(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Mojibake REPAIR — the corrective sibling of
    :func:`encoding_report`'s detector: text that was UTF-8 on the
    wire but got decoded as windows-1252 somewhere upstream
    ("café" → "cafÃ©", "'" → "â€™") is re-encoded through cp1252 and
    re-decoded as UTF-8, entirely in Catalyst. The repair applies ONLY
    when it is evidently safe, otherwise rows pass through untouched:

    - the detector pattern fires (there IS an artifact), and
    - every char is in the cp1252-representable range (codepoint
      ≤ U+00FF or one of cp1252's 0x80-0x9F punctuation block), so
      the re-encode is lossless, and
    - the recovered byte string is STRUCTURALLY VALID UTF-8 (checked
      by regex over the byte-chars — Spark 4's decode throws on
      malformed input rather than emitting U+FFFD, so validity is
      established before any row reaches the decoder), and
    - the result is strictly shorter (real artifacts are multi-char
      expansions of single codepoints; a "repair" that doesn't
      shrink is a misfire).

    Single-pass (double-encoded text repairs one layer per
    application — run twice for pathological feeds). Adds
    ``was_repaired``; one narrow projection, no shuffle."""
    t = F.col(text_col)
    # Spark's encode() knows only the charset core (no windows-1252),
    # so the cp1252 punctuation block (€ ‚ ƒ … ' ' " " – — ™ œ ž …)
    # is first translate()d down to its 0x80-0x9F byte chars — after
    # which ISO-8859-1 encode reproduces the original wire bytes
    # exactly. The map is derived from the codec, not hand-typed.
    _extras = {}
    for b in range(0x80, 0xA0):
        try:
            _extras[bytes([b]).decode("cp1252")] = chr(b)
        except UnicodeDecodeError:
            pass  # the five unmapped cp1252 bytes
    as_wire = F.translate(t, "".join(_extras), "".join(_extras.values()))
    cp1252_safe = ~t.rlike("[^\\x00-\\xff" + "".join(_extras) + "]")
    # structural UTF-8 over byte-chars (RFC 3629 table): ASCII, 2-byte
    # C2-DF lead, the four 3/4-byte shapes with their constrained
    # second bytes (E0/ED/F0/F4 specials exclude overlongs/surrogates)
    utf8_valid = as_wire.rlike(
        "^(?:[\\x00-\\x7f]"
        "|[\\xc2-\\xdf][\\x80-\\xbf]"
        "|\\xe0[\\xa0-\\xbf][\\x80-\\xbf]"
        "|[\\xe1-\\xec][\\x80-\\xbf]{2}"
        "|\\xed[\\x80-\\x9f][\\x80-\\xbf]"
        "|[\\xee-\\xef][\\x80-\\xbf]{2}"
        "|\\xf0[\\x90-\\xbf][\\x80-\\xbf]{2}"
        "|[\\xf1-\\xf3][\\x80-\\xbf]{3}"
        "|\\xf4[\\x80-\\x8f][\\x80-\\xbf]{3})*$"
    )
    safe = t.rlike(MOJIBAKE_PATTERN) & cp1252_safe & utf8_valid
    # strict-mode encode/decode only ever see rows that passed the
    # validity gate (CaseWhen branches evaluate per-row)
    repaired = F.decode(
        F.encode(F.when(safe, as_wire).otherwise(F.lit("")), "ISO-8859-1"),
        "UTF-8",
    )
    cond = safe & (F.length(repaired) < F.length(t))
    return df.withColumn("was_repaired", cond).withColumn(
        text_col, F.when(cond, repaired).otherwise(t)
    )


def encoding_report_sql(
    table: str = "documents",
    text_expr: str = "text",
    source_col: str = "source",
    dp: int = 6,
) -> str:
    """DuckDB twin of :func:`encoding_report`."""
    t = text_expr
    moji = f"len(regexp_extract_all({t}, '{MOJIBAKE_PATTERN}'))"
    ctrl = f"len(regexp_extract_all({t}, '{CTRL_PATTERN}'))"
    repl = f"(length({t}) - length(replace({t}, chr(65533), '')))"
    return f"""
        WITH per_doc AS (
          SELECT {source_col}, {moji} AS m, {ctrl} AS c, {repl} AS r
          FROM {table}
        )
        SELECT {source_col},
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN m + c + r > 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_flagged,
               ROUND(SUM(CASE WHEN m + c + r > 0 THEN 1 ELSE 0 END)
                     / COUNT(*), {dp}) AS pct_flagged,
               CAST(SUM(m) AS BIGINT) AS mojibake_hits,
               CAST(SUM(c) AS BIGINT) AS control_hits,
               CAST(SUM(r) AS BIGINT) AS replacement_hits
        FROM per_doc
        GROUP BY {source_col}
        ORDER BY {source_col}
    """


def embedding_coverage(
    docs: DataFrame,
    embeddings: DataFrame,
    id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
    source_col: str = "source",
    dp: int = 6,
) -> DataFrame:
    """Referential-integrity audit between the corpus and its embedding
    table: per source, how many documents have an embedding row and
    the coverage fraction. The pre-flight check before any
    embedding-dependent stage (ANN dedup, semantic split, clustering)
    — silent coverage gaps there turn into silently-skipped documents.

    100 TB design: one equi-join on the id (both sides big → AQE picks
    the shuffle strategy; embedding PAYLOADS are never read — the
    join side is pruned to the id column, so bytes shuffled are
    8/row), then a partial-agg'd per-source rollup. Ids are unique on
    both sides, so the left join preserves document count exactly.
    """
    emb_ids = embeddings.select(F.col(vec_id_col).alias("_vid"))
    return (
        docs.select(F.col(id_col), F.col(source_col))
        .join(emb_ids, F.col(id_col) == F.col("_vid"), "left")
        .groupBy(source_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("_vid").alias("n_embedded"),
        )
        .select(
            source_col,
            "n_docs",
            "n_embedded",
            F.round(F.col("n_embedded") / F.col("n_docs"), dp).alias(
                "coverage"
            ),
        )
        .orderBy(source_col)
    )


def embedding_coverage_sql(
    docs_table: str = "documents",
    emb_table: str = "embeddings",
    id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
    source_col: str = "source",
    dp: int = 6,
) -> str:
    """DuckDB twin of :func:`embedding_coverage`."""
    return f"""
        SELECT {source_col},
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT({vec_id_col}) AS BIGINT) AS n_embedded,
               ROUND(COUNT({vec_id_col}) / COUNT(*), {dp}) AS coverage
        FROM {docs_table}
        LEFT JOIN {emb_table} ON {id_col} = {vec_id_col}
        GROUP BY {source_col}
        ORDER BY {source_col}
    """


def content_checksum_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    source_col: str = "source",
    text_expr: str = "text",
) -> str:
    """DuckDB twin of :func:`content_checksum` (no ``conv`` in DuckDB —
    nibble arithmetic over the same 8 hex chars, as in
    ``splits.hash_bucket_sql``; NULL cells take the same ``chr(1)``
    sentinel as the Spark side)."""
    h = (
        f"md5(COALESCE(CAST({id_col} AS VARCHAR), chr(1)) || '|' || "
        f"COALESCE({source_col}, chr(1)) || '|' || "
        f"COALESCE({text_expr}, chr(1)))"
    )
    nib = [
        f"(instr('0123456789abcdef', substr({h}, {j + 1}, 1)) - 1)"
        for j in range(8)
    ]
    terms = " + ".join(
        f"{n} * {16 ** (7 - j)}" for j, n in enumerate(nib)
    )
    return f"""
        SELECT {source_col},
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM({terms}) AS BIGINT) AS checksum
        FROM {table}
        GROUP BY {source_col}
        ORDER BY {source_col}
    """
