"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Each operator is pure Catalyst (split/explode/md5/groupBy joins) with a
DuckDB-SQL twin built from the SAME constants — the driver's oracle gate
verifies the two stay in lockstep.

Scale design (100 TB):

- **exact** — one hash-groupBy; map-side partial agg makes the shuffle
  carry (hash, partial-count) not raw text.
- **n-gram Jaccard** — the exact-but-quadratic baseline: shingle explode
  → equi-join on shingle → per-pair intersection counts. The shingle
  join is the scale hazard (hot shingles fan out); MinHash-LSH below is
  the production path, this is the oracle/recall reference.
- **MinHash+LSH** — signatures via H independent min-hashes computed in
  ONE groupBy (H agg columns, map-side combined); banding turns
  near-dup search into B equi-joins on (band, band_value) — each a
  standard shuffle join AQE can handle, no cartesian anywhere.
  Candidate pairs then verify with the exact signature estimate.
- **SimHash** — per-word hash bit votes summed per document INSIDE a
  narrow ``mapInPandas`` (a doc's words live in its own text cell — no
  explode, no shuffle), fingerprint = packed sign bits; near-dups =
  fingerprint equality (or small hamming ball) — no joins.

Every banded pair join here (MinHash bands, SimHash blocks, winnowed
fingerprints, typo deletions) is one call of the shared band-candidate
kernel (:mod:`vectra_py_spark.operators.bands`); each operator keeps
its own verify and its own distinct/aggregate.

MinHash over *hex-string* md5 values: MinHash needs any total order on
hash values, not integers — lexicographic min over fixed-width hex is
portable across engines (no int64 conversion games).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vectra_py_spark.operators.bands import (
    BLOCK_KEY,
    band_pairs,
    block_rows,
    hamming,
    pigeonhole,
    write_band_index,
)
from vectra_py_spark.session import hash_buckets, local_frame, spread, xxhash_bucket

__all__ = [
    "exact_dedup",
    "shingle_df",
    "shingle_df_with_sizes",
    "ngram_jaccard_pairs",
    "ngram_jaccard_pairs_sql",
    "minhash_signatures",
    "minhash_of_text",
    "minhash_lsh_pairs",
    "minhash_lsh_pairs_sql",
    "minhash_write_index",
    "minhash_probe",
    "minhash_probe_sql",
    "simhash",
    "simhash_sql",
    "simhash_neardup",
    "simhash_neardup_sql",
    "winnow_fingerprints",
    "winnow_fingerprints_sql",
    "winnow_matches",
    "winnow_matches_sql",
    "winnow_of_text",
    "winnow_write_index",
    "winnow_probe",
    "winnow_contamination",
    "winnow_span_cut",
    "winnow_span_cut_sql",
    "winnow_contamination_sql",
    "soft_dedup_weights",
    "soft_dedup_weights_sql",
    "incremental_dedup",
    "incremental_dedup_against_store",
    "incremental_dedup_sql",
    "dup_rate_by_source",
    "dup_rate_by_source_sql",
    "typo_pairs",
    "typo_pairs_sql",
    "source_overlap",
    "source_overlap_sql",
]

DEFAULT_SHINGLE_K = 3
DEFAULT_NUM_HASHES = 12
DEFAULT_BANDS = 4  # rows per band = NUM_HASHES // BANDS = 3
SIMHASH_BITS = 16


# ---------------------------------------------------------------------------
# Exact dedup (hash-groupBy)
# ---------------------------------------------------------------------------
def exact_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Group identical texts; keep the smallest id as survivor."""
    return (
        df.withColumn("text_hash", F.md5(F.col(text_col)))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def exact_dedup_sql(table: str = "documents", id_col: str = "doc_id",
                    text_expr: str = "text") -> str:
    return f"""
        SELECT md5({text_expr}) AS text_hash,
               MIN({id_col}) AS keep_id,
               COUNT(*) AS n_copies
        FROM {table}
        GROUP BY md5({text_expr})
    """


# ---------------------------------------------------------------------------
# Word-shingle helpers
# ---------------------------------------------------------------------------
def _shingles_sql(text_expr: str, k: int) -> str:
    """DuckDB twin: DISTINCT doc_id/shingle rows (lateral unnest)."""
    return rf"""
        SELECT DISTINCT doc_id, array_to_string(w[i:i+{k - 1}], ' ') AS shingle
        FROM (SELECT doc_id, string_split_regex(lower({text_expr}), '\s+') AS w
              FROM {{table}}),
             LATERAL unnest(range(1, greatest(len(w) - {k - 1}, 0) + 1)) AS t(i)
    """


def shingle_df(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    k: int = DEFAULT_SHINGLE_K,
) -> DataFrame:
    """(id, shingle) rows, distinct per document.

    Runs as ``mapInPandas``: plain Python string slicing per Arrow batch
    is ~5× faster here than the nested transform/slice/concat_ws HOF
    expression (whose per-index array copies dominate), with identical
    output — split on ``\\s+``, lowercase, space-joined k-grams,
    first-occurrence distinct. Embarrassingly parallel, no shuffle.
    """
    import re

    import pandas as pd

    id_type = df.schema[id_col].dataType.simpleString()

    def gen(batches):
        ws = re.compile(r"\s+", re.ASCII)  # ASCII \s: parity with Java/RE2 twins
        for pdf in batches:
            ids_out: list = []
            sh_out: list = []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                if t is None:
                    continue
                w = ws.split(str(t).lower())
                seen = set()
                for j in range(len(w) - k + 1):
                    s = " ".join(w[j : j + k])
                    if s not in seen:
                        seen.add(s)
                        ids_out.append(i)
                        sh_out.append(s)
            yield pd.DataFrame({"doc_id": ids_out, "shingle": sh_out})

    return spread(df.select(id_col, text_col)).mapInPandas(
        gen, schema=f"doc_id {id_type}, shingle string"
    )


def shingle_df_with_sizes(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    k: int = DEFAULT_SHINGLE_K,
) -> DataFrame:
    """(id, shingle, n_sh) rows — like :func:`shingle_df` but each row
    carries its document's distinct-shingle count, so the Jaccard join
    needs no separate size aggregation + re-joins (two shuffles saved;
    the join payload grows by one int)."""
    import re

    import pandas as pd

    id_type = df.schema[id_col].dataType.simpleString()

    def gen(batches):
        ws = re.compile(r"\s+", re.ASCII)  # ASCII \s: parity with Java/RE2 twins
        for pdf in batches:
            ids_out: list = []
            sh_out: list = []
            n_out: list = []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                if t is None:
                    continue
                w = ws.split(str(t).lower())
                seen: dict = {}
                for j in range(len(w) - k + 1):
                    seen.setdefault(" ".join(w[j : j + k]))
                n = len(seen)
                ids_out.extend([i] * n)
                sh_out.extend(seen)
                n_out.extend([n] * n)
            yield pd.DataFrame(
                {"doc_id": ids_out, "shingle": sh_out, "n_sh": n_out}
            )

    return spread(df.select(id_col, text_col)).mapInPandas(
        gen, schema=f"doc_id {id_type}, shingle string, n_sh int"
    )


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard similarity join
# ---------------------------------------------------------------------------
def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = DEFAULT_SHINGLE_K,
    threshold: float = 0.5,
) -> DataFrame:
    """All pairs with shingle-set Jaccard ≥ threshold.

    One equi-join on shingle; each side carries its doc's
    distinct-shingle count (:func:`shingle_df_with_sizes`), so
    ``|A∪B| = |A|+|B|−|A∩B|`` resolves inside the pair group-by —
    no size aggregation, no re-joins. Pairs ordered (id_a < id_b).
    """
    sh = shingle_df_with_sizes(df, id_col, text_col, k).cache()
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.first(F.col("a.n_sh")).alias("n_a"),
            F.first(F.col("b.n_sh")).alias("n_b"),
        )
    )
    jac = F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter"))
    return (
        inter.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_pairs_sql(
    table: str = "documents", text_expr: str = "text",
    k: int = DEFAULT_SHINGLE_K, threshold: float = 0.5,
) -> str:
    sh = _shingles_sql(text_expr, k).format(table=table)
    return f"""
        WITH sh AS ({sh}),
        pair AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
            FROM sh a JOIN sh b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1)
        SELECT id_a, id_b,
               ROUND(inter * 1.0 / (sa.n_sh + sb.n_sh - inter), 6) AS jaccard
        FROM pair
        JOIN sz sa ON pair.id_a = sa.doc_id
        JOIN sz sb ON pair.id_b = sb.doc_id
        WHERE ROUND(inter * 1.0 / (sa.n_sh + sb.n_sh - inter), 6) >= {threshold}
    """


# ---------------------------------------------------------------------------
# MinHash signatures + banded LSH
# ---------------------------------------------------------------------------
def minhash_of_text(
    text: str, k: int = DEFAULT_SHINGLE_K, num_hashes: int = DEFAULT_NUM_HASHES
) -> list[str] | None:
    """Pure-Python minhash signature of ONE text — byte-identical to a
    row of :func:`minhash_signatures` (same md5 seed-prefix scheme), so
    a driver-side probe can be compared against stored signatures.
    Returns None for texts with no k-shingle."""
    import hashlib
    import re

    # flags=re.ASCII: Java's \s (the distributed side) and RE2's \s
    # (the DuckDB twin) are ASCII-only; Python's default \s would also
    # split on U+00A0 etc. and silently diverge from stored signatures.
    w = re.split(r"\s+", str(text).lower(), flags=re.ASCII)
    shingles = {" ".join(w[j : j + k]) for j in range(len(w) - k + 1)}
    if not shingles:
        return None
    prefixes = [f"{h}:".encode() for h in range(num_hashes)]
    mins: list[str | None] = [None] * num_hashes
    for s in shingles:
        sb = s.encode()
        for h in range(num_hashes):
            d = hashlib.md5(prefixes[h] + sb).hexdigest()
            if mins[h] is None or d < mins[h]:
                mins[h] = d
    return mins  # type: ignore[return-value]


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = DEFAULT_SHINGLE_K,
    num_hashes: int = DEFAULT_NUM_HASHES,
) -> DataFrame:
    """One row per doc with columns h0..h{H-1}: lexicographic min of
    seed-prefixed md5 over the doc's shingles.

    A document's shingles derive from its own text cell, so all H mins
    compute inside one narrow ``mapInPandas`` pass — no shingle explode,
    no H-column groupBy shuffle. A per-task memo caches the H hashes of
    repeated shingles (corpus vocabulary ≪ total shingle occurrences).
    Python's md5 hex of ``f"{h}:{shingle}"`` is byte-identical to the
    SQL twin's ``md5(h || ':' || shingle)``, so the oracle stays exact.
    """
    import hashlib
    import re

    import pandas as pd

    id_type = df.schema[id_col].dataType.simpleString()
    prefixes = [f"{h}:".encode() for h in range(num_hashes)]

    def gen(batches):
        ws = re.compile(r"\s+", re.ASCII)  # ASCII \s: parity with Java/RE2 twins
        memo: dict[str, list[str]] = {}
        for pdf in batches:
            cols: dict[str, list] = {"doc_id": []}
            for h in range(num_hashes):
                cols[f"h{h}"] = []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                if t is None:
                    continue
                w = ws.split(str(t).lower())
                shingles = {
                    " ".join(w[j : j + k]) for j in range(len(w) - k + 1)
                }
                if not shingles:
                    continue
                mins: list[str | None] = [None] * num_hashes
                for s in shingles:
                    hs = memo.get(s)
                    if hs is None:
                        sb = s.encode()
                        hs = [
                            hashlib.md5(p + sb).hexdigest() for p in prefixes
                        ]
                        memo[s] = hs
                    for h in range(num_hashes):
                        if mins[h] is None or hs[h] < mins[h]:
                            mins[h] = hs[h]
                cols["doc_id"].append(i)
                for h in range(num_hashes):
                    cols[f"h{h}"].append(mins[h])
            yield pd.DataFrame(cols)

    schema = f"doc_id {id_type}, " + ", ".join(
        f"h{h} string" for h in range(num_hashes)
    )
    return spread(df.select(id_col, text_col)).mapInPandas(gen, schema=schema)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = DEFAULT_SHINGLE_K,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup pairs via banded LSH, verified by signature agreement.

    Candidates = pairs sharing ≥1 band (equi-join per band — no
    cartesian); estimate = matching-minhash fraction; keep ≥ threshold.
    """
    sig = minhash_signatures(df, id_col, text_col, k, num_hashes).cache()
    banded = _band_rows(sig, num_hashes, bands, "doc_id")
    cand = (
        band_pairs(banded, ["band", "val"], "doc_id")
        .select("id_a", "id_b")
        .distinct()
    )
    siga = sig.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"h{h}").alias(f"a{h}") for h in range(num_hashes)],
    )
    sigb = sig.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"h{h}").alias(f"b{h}") for h in range(num_hashes)],
    )
    matches = sum(
        F.when(F.col(f"a{h}") == F.col(f"b{h}"), 1).otherwise(0)
        for h in range(num_hashes)
    )
    return (
        cand.join(siga, "id_a").join(sigb, "id_b")
        .withColumn(
            "est_jaccard", F.round(matches / F.lit(float(num_hashes)), 6)
        )
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def minhash_lsh_pairs_sql(
    table: str = "documents", text_expr: str = "text",
    k: int = DEFAULT_SHINGLE_K, num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS, threshold: float = 0.5,
) -> str:
    rows = num_hashes // bands
    sh = _shingles_sql(text_expr, k).format(table=table)
    sig_cols = ",\n               ".join(
        f"MIN(md5('{h}:' || shingle)) AS h{h}" for h in range(num_hashes)
    )
    band_selects = "\n            UNION ALL\n".join(
        f"            SELECT doc_id, {b} AS band, "
        + " || ".join(f"h{b * rows + r}" for r in range(rows))
        + " AS val FROM sig"
        for b in range(bands)
    )
    matches = " + ".join(
        f"CASE WHEN sa.h{h} = sb.h{h} THEN 1 ELSE 0 END"
        for h in range(num_hashes)
    )
    return f"""
        WITH sh AS ({sh}),
        sig AS (
            SELECT doc_id,
               {sig_cols}
            FROM sh GROUP BY doc_id
        ),
        banded AS (
{band_selects}
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM banded a JOIN banded b
              ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
        )
        SELECT id_a, id_b,
               ROUND(({matches}) * 1.0 / {num_hashes}, 6) AS est_jaccard
        FROM cand
        JOIN sig sa ON cand.id_a = sa.doc_id
        JOIN sig sb ON cand.id_b = sb.doc_id
        WHERE ROUND(({matches}) * 1.0 / {num_hashes}, 6) >= {threshold}
    """


def minhash_probe_sql(
    probe_doc_id: int,
    table: str = "documents",
    text_expr: str = "text",
    k: int = DEFAULT_SHINGLE_K,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    threshold: float = 0.5,
) -> str:
    """DuckDB twin of indexing the corpus then probing with the text of
    ``probe_doc_id``: same md5 signature scheme, band match, agreement
    score — the index layout is invisible to the result."""
    rows = num_hashes // bands
    sh = _shingles_sql(text_expr, k).format(table=table)
    sig_cols = ",\n               ".join(
        f"MIN(md5('{h}:' || shingle)) AS h{h}" for h in range(num_hashes)
    )
    band_selects = "\n            UNION ALL\n".join(
        f"            SELECT doc_id, {b} AS band, "
        + " || ".join(f"h{b * rows + r}" for r in range(rows))
        + " AS val FROM sig"
        for b in range(bands)
    )
    matches = " + ".join(
        f"CASE WHEN s.h{h} = p.h{h} THEN 1 ELSE 0 END"
        for h in range(num_hashes)
    )
    return f"""
        WITH sh AS ({sh}),
        sig AS (
            SELECT doc_id,
               {sig_cols}
            FROM sh GROUP BY doc_id
        ),
        banded AS (
{band_selects}
        ),
        pbanded AS (
            SELECT band, val FROM banded WHERE doc_id = {probe_doc_id}
        ),
        cand AS (
            SELECT DISTINCT banded.doc_id
            FROM banded JOIN pbanded USING (band, val)
        )
        SELECT cand.doc_id,
               ROUND(({matches}) * 1.0 / {num_hashes}, 6) AS est_jaccard
        FROM cand
        JOIN sig s ON cand.doc_id = s.doc_id
        JOIN sig p ON p.doc_id = {probe_doc_id}
        WHERE ROUND(({matches}) * 1.0 / {num_hashes}, 6) >= {threshold}
    """


# ---------------------------------------------------------------------------
# Materialized MinHash-LSH index: dedup NEW data without rescanning
# ---------------------------------------------------------------------------
MINHASH_INDEX_BUCKETS = 16  # sub-buckets per band directory


def _band_rows(sig: DataFrame, num_hashes: int, bands: int, *cols) -> DataFrame:
    """One row per LSH band of each MinHash signature: ``cols`` + (band,
    val), where ``val`` concatenates the band's rows of the signature."""
    rows = num_hashes // bands
    bv = F.explode(F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.concat(*[F.col(f"h{b * rows + r}") for r in range(rows)]).alias("val"),
        )
        for b in range(bands)
    ])).alias("bv")
    out = sig.select(*cols, bv)
    return out.select(*out.columns[:-1], "bv.band", "bv.val")


def minhash_write_index(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = DEFAULT_SHINGLE_K,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    n_buckets: int = MINHASH_INDEX_BUCKETS,
) -> None:
    """Materialize the corpus's banded MinHash signatures as a
    partition-pruned lookup table: one row per (doc, band), laid out
    ``partitionBy(band, bucket)`` with ``bucket = xxhash64(band value)
    mod n_buckets``; the full signature rides along for verification.

    The batch `minhash_lsh_pairs` answers "which existing docs
    near-duplicate each other" with a corpus×corpus band join; this
    index answers the INCREMENTAL question — "does this NEW document
    duplicate anything already ingested" — by opening only the B
    (band, bucket) directories the probe hashes into, never rescanning
    the corpus. At 100 TB that is the difference between an O(corpus)
    batch job per arrival and an O(1)-directories point lookup (the
    same pruning story as ``ivf_write_index`` for vectors).
    """
    sig = minhash_signatures(df, id_col, text_col, k, num_hashes)
    sig_arr = F.array(*[F.col(f"h{h}") for h in range(num_hashes)])
    banded = _band_rows(
        sig, num_hashes, bands, F.col(id_col), sig_arr.alias("sig")
    ).withColumn("bucket", xxhash_bucket("val", n_buckets))
    write_band_index(banded, path, ["band", "bucket"])


def minhash_probe(
    spark,
    path: str,
    text: str,
    id_col: str = "doc_id",
    k: int = DEFAULT_SHINGLE_K,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    n_buckets: int = MINHASH_INDEX_BUCKETS,
    threshold: float = 0.5,
) -> DataFrame:
    """Probe the materialized index with ONE new text: docs sharing ≥1
    band with the probe, scored by minhash agreement, ``est_jaccard ≥
    threshold``.

    The probe signature is computed driver-side (``minhash_of_text`` is
    byte-identical to the distributed constructor); its B (band, bucket)
    coordinates become literal partition predicates, so the scan opens
    ≤ B·1 directories (`PartitionFilters` asserted in tests) and the
    band-value equality pushes to parquet on `val`. Verification reads
    the stored signature column — no join back to the corpus."""
    sig = minhash_of_text(text, k, num_hashes)
    if sig is None:
        raise ValueError("probe text has no k-shingle")
    rows = num_hashes // bands
    vals = ["".join(sig[b * rows : (b + 1) * rows]) for b in range(bands)]
    # the engine's own xxhash64 keeps write/probe placement bit-identical
    buckets = hash_buckets(spark, vals, T.StringType(), n_buckets)
    idx = spark.read.parquet(path)
    cond = None
    for b, (v, bk) in enumerate(zip(vals, buckets)):
        leaf = (
            (F.col("band") == b)
            & (F.col("bucket") == int(bk))
            & (F.col("val") == v)
        )
        cond = leaf if cond is None else (cond | leaf)
    probe_arr = F.array(*[F.lit(h) for h in sig])
    matches = F.size(
        F.filter(
            F.zip_with("sig", probe_arr, lambda x, y: x == y),
            lambda m: m,
        )
    )
    return (
        idx.filter(cond)
        .select(id_col, "sig")
        .distinct()  # a doc may collide in several bands
        .select(
            id_col,
            F.round(matches / F.lit(float(num_hashes)), 6).alias(
                "est_jaccard"
            ),
        )
        .filter(F.col("est_jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# SimHash (16-bit cross-engine variant)
# ---------------------------------------------------------------------------
def simhash(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Frequency-weighted 16-bit SimHash fingerprint per document.

    Bit b of a word's hash comes from nibble b//4 of its md5 hex; doc
    bit = sign of the summed ±1 votes; fingerprint = packed bits.
    16 bits is the cross-engine (oracle-checkable) variant; a 64-bit
    production variant is the same construction over 16 nibbles.

    A document's words all live in its own ``text`` cell, so the whole
    fingerprint computes inside ``mapInPandas`` — no word explode, no
    16-column vote shuffle (the previous pure-Catalyst formulation spent
    ~2 s in codegen + shuffle at sf0.1; this is a narrow map). Python's
    md5 hex ≡ Spark/DuckDB ``md5``, so the oracle twin
    (:func:`simhash_sql`, word-explode + vote SUMs in SQL) stays
    bit-identical.
    """
    import hashlib
    import re

    import pandas as pd

    id_type = df.schema[id_col].dataType.simpleString()

    def gen(batches):
        ws = re.compile(r"\s+", re.ASCII)  # ASCII \s: parity with Java/RE2 twins
        word_votes: dict[str, list[int]] = {}
        for pdf in batches:
            ids_out: list = []
            fp_out: list = []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                if t is None:
                    continue
                votes = [0] * SIMHASH_BITS
                for word in ws.split(str(t).lower()):
                    wv = word_votes.get(word)
                    if wv is None:
                        h = hashlib.md5(word.encode()).hexdigest()
                        nib = [int(h[j], 16) for j in range(4)]
                        wv = [
                            2 * ((nib[b // 4] >> (b % 4)) & 1) - 1
                            for b in range(SIMHASH_BITS)
                        ]
                        word_votes[word] = wv
                    for b in range(SIMHASH_BITS):
                        votes[b] += wv[b]
                fp = sum(1 << b for b in range(SIMHASH_BITS) if votes[b] > 0)
                ids_out.append(i)
                fp_out.append(fp)
            yield pd.DataFrame({"doc_id": ids_out, "simhash16": fp_out})

    return spread(df.select(id_col, text_col)).mapInPandas(
        gen, schema=f"doc_id {id_type}, simhash16 bigint"
    )


def simhash_neardup(
    df: DataFrame,
    radius: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Hamming-ball near-dup pairs: ``popcount(fp_a XOR fp_b) <= radius``.

    Block-banding keeps this equi-join shaped (no cartesian): split the
    fingerprint into ``radius + 1`` equal blocks — by pigeonhole, any
    pair within Hamming distance ``radius`` agrees EXACTLY on at least
    one block — so candidates are an equi-join on
    ``(block_idx, block_val)`` over an exploded ids+fingerprint table
    (8 bytes of payload per row; text and vectors never ride the
    shuffle). Verify is two codegen'd bit ops (XOR + popcount), run
    verify-first so ``distinct()`` only shuffles surviving pairs.

    100 TB: the construction is bit-width generic — production uses the
    64-bit fingerprint (same voting scheme over 16 nibbles), giving
    16-bit blocks at radius 3 (collision rate 2^-16 per block vs 2^-4
    here, candidate volume ~N²/65536 per band). The 16-bit variant here
    is the cross-engine oracle-checkable one (DuckDB twin below is
    bit-identical). Skewed block values (near-empty docs hash alike)
    split via AQE skew-join handling.

    No reference analog (the reference has no dedup); north-star
    operator per the build brief.
    """
    geometry = pigeonhole(radius, SIMHASH_BITS, "SIMHASH_BITS")
    blocks = block_rows(
        simhash(df, id_col=id_col, text_col=text_col), "simhash16", geometry
    )
    return (
        band_pairs(blocks, BLOCK_KEY, "doc_id", {"simhash16": "fp"})
        .withColumn("hamming", hamming("fp_a", "fp_b"))
        .filter(F.col("hamming") <= radius)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )


def simhash_neardup_sql(
    radius: int = 3, table: str = "documents", text_expr: str = "text"
) -> str:
    """DuckDB twin of :func:`simhash_neardup` (same banding, same verify).

    Same divisibility guard as the DataFrame path — without it a
    non-dividing radius would silently band only a prefix of the bits
    here while the DataFrame twin raises (inconsistent twins)."""
    n_blocks, width, mask = pigeonhole(radius, SIMHASH_BITS, "SIMHASH_BITS")
    return f"""
        WITH fp AS ({simhash_sql(table, text_expr)}),
        blocks AS (
            SELECT doc_id, simhash16, b.block_idx,
                   (simhash16 >> ({width} * b.block_idx)) & {mask} AS block_val
            FROM fp, (SELECT unnest(range({n_blocks})) AS block_idx) b
        ),
        verified AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(bit_count(xor(a.simhash16, b.simhash16)) AS INT)
                       AS hamming
            FROM blocks a
            JOIN blocks b
              ON a.block_idx = b.block_idx
             AND a.block_val = b.block_val
             AND a.doc_id < b.doc_id
        )
        SELECT DISTINCT id_a, id_b, hamming
        FROM verified
        WHERE hamming <= {radius}
    """


def simhash_sql(table: str = "documents", text_expr: str = "text") -> str:
    nib = [
        f"(instr('0123456789abcdef', substr(wh, {j + 1}, 1)) - 1)"
        for j in range(4)
    ]
    votes = ",\n               ".join(
        f"SUM(2 * (CAST(floor({nib[b // 4]} / {1 << (b % 4)}) AS INT) % 2) - 1)"
        f" AS v{b}"
        for b in range(SIMHASH_BITS)
    )
    fp = " + ".join(
        f"CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END"
        for b in range(SIMHASH_BITS)
    )
    return rf"""
        WITH w AS (
            SELECT doc_id, md5(word) AS wh
            FROM (SELECT doc_id,
                         unnest(string_split_regex(lower({text_expr}), '\s+'))
                             AS word
                  FROM {table})
        ),
        agg AS (
            SELECT doc_id,
               {votes}
            FROM w GROUP BY doc_id
        )
        SELECT doc_id, CAST({fp} AS BIGINT) AS simhash16
        FROM agg
    """


# ---------------------------------------------------------------------------
# Incremental dedup: new batch vs existing corpus
# ---------------------------------------------------------------------------
def incremental_dedup(
    corpus: DataFrame,
    batch: DataFrame,
    radius: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Surviving BATCH documents after dedup against an existing corpus
    — the steady-state ingest shape of a training-data pipeline (the
    corpus is already deduped; only the delta needs checking).

    A batch doc drops iff some document within simhash Hamming distance
    ``radius`` exists (a) anywhere in the corpus — corpus always wins,
    including same-id re-ingests — or (b) earlier in the batch
    (smaller id). Exact duplicates are Hamming 0, so this subsumes the
    exact pass. Survivors return with their fingerprint so the caller
    can append (doc, fp) to the corpus-side fingerprint store and keep
    the loop incremental (:mod:`vectra_py_spark.streaming.incremental_dedup`
    is that loop).

    100 TB design: same pigeonhole block-banding equi-join as
    :func:`simhash_neardup` (ids + 8-byte fingerprints ride the
    shuffle, never text). The corpus side needs only its FINGERPRINT
    table — at steady state that is a materialized, block-partitioned
    artifact (cf. :func:`minhash_write_index`), so each increment scans
    fingerprints, not corpus text (:func:`incremental_dedup_against_store`
    is that entry point). Candidate volume is |batch|-driven, not
    |corpus|²-driven.
    """
    store = simhash(corpus, id_col=id_col, text_col=text_col)
    return incremental_dedup_against_store(
        store, batch, radius=radius, id_col=id_col, text_col=text_col
    ).orderBy(id_col)


def incremental_dedup_against_store(
    store: DataFrame,
    batch: DataFrame,
    radius: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Like :func:`incremental_dedup` but the corpus side arrives as an
    already-materialized (id, simhash16) fingerprint store — the shape
    every batch of the streaming loop uses (no historical text scan)."""
    geometry = pigeonhole(radius, SIMHASH_BITS, "SIMHASH_BITS")
    batch_fp = simhash(batch, id_col=id_col, text_col=text_col)
    # batch_fp feeds both the banding union and the final anti-join
    # with different exchange shapes, so the Python simhash pass ran
    # twice; one checkpoint of the (id, fp) rows pins it to one
    # execution (batch-sized — the incremental contract).
    if not batch_fp.isStreaming:
        batch_fp = batch_fp.localCheckpoint()
    fp = store.select(
        F.col(id_col), F.col("simhash16"), F.lit(0).alias("is_new")
    ).unionByName(batch_fp.withColumn("is_new", F.lit(1)))
    # a new doc drops against any stored doc, or an earlier new one
    new_vs_old = (F.col("new_b") == 1) & (
        (F.col("new_a") == 0)
        | ((F.col("new_a") == 1) & (F.col("id_a") < F.col("id_b")))
    )
    dropped = (
        band_pairs(
            block_rows(fp, "simhash16", geometry), BLOCK_KEY, id_col,
            {"simhash16": "fp", "is_new": "new"}, rule=new_vs_old,
        )
        .withColumn("hamming", hamming("fp_a", "fp_b"))
        .filter(F.col("hamming") <= radius)
        .select(F.col("id_b").alias("did"))
        .distinct()
    )
    return (
        batch_fp.join(dropped, batch_fp[id_col] == dropped["did"], "left_anti")
        .select(id_col, "simhash16")
    )


def incremental_dedup_sql(
    new_pred: str,
    radius: int = 1,
    table: str = "documents",
    id_col: str = "doc_id",
    text_expr: str = "text",
) -> str:
    """DuckDB twin of :func:`incremental_dedup` where corpus/batch are
    the rows of ``table`` failing/passing ``new_pred``.

    Same divisibility guard as the DataFrame path — the twins must
    agree on which radii are representable."""
    n_blocks, width, mask = pigeonhole(radius, SIMHASH_BITS, "SIMHASH_BITS")
    return f"""
        WITH fp0 AS ({simhash_sql(table, text_expr)}),
        fp AS (
            SELECT fp0.{id_col}, fp0.simhash16,
                   CASE WHEN {new_pred} THEN 1 ELSE 0 END AS is_new
            FROM fp0 JOIN {table} t ON fp0.{id_col} = t.{id_col}
        ),
        blocks AS (
            SELECT {id_col}, simhash16, is_new, b.block_idx,
                   (simhash16 >> ({width} * b.block_idx)) & {mask} AS block_val
            FROM fp, (SELECT unnest(range({n_blocks})) AS block_idx) b
        ),
        dropped AS (
            SELECT DISTINCT b.{id_col} AS did
            FROM blocks a
            JOIN blocks b
              ON a.block_idx = b.block_idx
             AND a.block_val = b.block_val
            WHERE b.is_new = 1
              AND (a.is_new = 0
                   OR (a.is_new = 1 AND a.{id_col} < b.{id_col}))
              AND CAST(bit_count(xor(a.simhash16, b.simhash16)) AS INT)
                  <= {radius}
        )
        SELECT {id_col}, simhash16
        FROM fp LEFT JOIN dropped ON {id_col} = did
        WHERE is_new = 1 AND did IS NULL
        ORDER BY {id_col}
    """


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003 — the MOSS
# algorithm): position-aware SELECTIVE fingerprinting with a density
# guarantee, the overlap-detection complement to MinHash (which answers
# whole-document similarity, not "these two docs share a passage").
# ---------------------------------------------------------------------------
def winnow_fingerprints(
    df: DataFrame,
    k: int = 4,
    w: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowed fingerprint set per document: hash every k-token gram,
    slide a window of ``w`` consecutive hashes, keep the minimum of
    each window (ties → leftmost), distinct the selections. Guarantees:
    any shared run of ≥ w+k-1 tokens yields ≥1 shared fingerprint
    (no-miss), while storing only ~2/(w+1) of the gram stream —
    tunable recall/size, unlike unselective hash-window schemes.
    Documents with at least one gram (≥ k tokens) but fewer than ``w``
    grams keep their global minimum; documents shorter than ``k``
    tokens produce zero grams and therefore zero fingerprints.

    100 TB design: the gram stream is narrow (id, pos, 32-hex) and
    never shuffled — the sliding min runs under a window PARTITIONED BY
    document (one hash exchange on id, the same key every per-doc op
    shares), and the output is a ~2/(w+1) subsample of the stream.
    Fingerprints are the MATERIALIZED artifact at scale: write them
    partitioned by hash prefix and incremental overlap probes never
    rescan text (same store pattern as the MinHash index).
    """
    from pyspark.sql import Window as W

    base = spread(df.select(id_col, text_col)).select(
        F.col(id_col), F.split(F.lower(F.col(text_col)), r"\s+").alias("w")
    )
    idx = F.when(
        F.size("w") >= k, F.sequence(F.lit(1), F.size("w") - (k - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams = base.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                idx, lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("w"), i, k)))
            )
        ).alias("pos", "h"),
    )
    per_doc = W.partitionBy(id_col)
    sliding = W.partitionBy(id_col).orderBy("pos").rowsBetween(0, w - 1)
    return (
        grams.withColumn("n", F.count(F.lit(1)).over(per_doc))
        .withColumn("s", F.min(F.struct("h", "pos")).over(sliding))
        .filter(F.col("pos") <= F.greatest(F.col("n") - w, F.lit(0)))
        .select(
            F.col(id_col),
            F.col("s.pos").cast("long").alias("pos"),
            F.col("s.h").alias("h"),
        )
        .distinct()
        .orderBy(id_col, "pos")
    )


def winnow_fingerprints_sql(
    k: int = 4,
    w: int = 4,
    table: str = "documents",
    id_col: str = "doc_id",
    text_expr: str = "text",
) -> str:
    """DuckDB twin of :func:`winnow_fingerprints` (struct window-min =
    Spark's ``min(struct(h, pos))``: lexicographic, ties → leftmost)."""
    ws = rf"string_split_regex(lower({text_expr}), '\s+')"
    return f"""
        WITH grams AS (
            SELECT {id_col}, i - 1 AS pos,
                   md5(array_to_string(w[i:i+{k - 1}], ' ')) AS h
            FROM (SELECT {id_col}, {ws} AS w FROM {table}),
                 LATERAL unnest(
                     range(1, greatest(len(w) - {k - 1}, 0) + 1)
                 ) AS t(i)
        ),
        sel AS (
            SELECT {id_col}, s.p AS pos, s.h AS h
            FROM (
                SELECT {id_col}, pos,
                       count(*) OVER (PARTITION BY {id_col}) AS n,
                       min(struct_pack(h := h, p := pos)) OVER (
                           PARTITION BY {id_col} ORDER BY pos
                           ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING
                       ) AS s
                FROM grams
            )
            WHERE pos <= greatest(n - {w}, 0)
        )
        SELECT DISTINCT {id_col}, CAST(pos AS BIGINT) AS pos, h
        FROM sel
        ORDER BY {id_col}, pos
    """


def winnow_matches(
    df: DataFrame,
    k: int = 4,
    w: int = 4,
    min_shared: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int | None = None,
) -> DataFrame:
    """Document pairs sharing ≥ ``min_shared`` winnowed fingerprints:
    (id_a, id_b, n_shared) — passage-overlap candidates with the
    winnowing no-miss guarantee (any shared run of ≥ w+k-1 tokens
    surfaces), at fingerprint-stream (not gram-stream) join cost.

    100 TB design: the join key is the selected hash — the same
    banding-equi-join shape as MinHash LSH, carrying ids only. Hot
    fingerprints ARE shared boilerplate; ``max_df`` drops hashes
    appearing in more than that many documents BEFORE the self-join
    (boilerplate is dedup's job, not overlap detection's) — a hash in
    D docs emits D·(D−1)/2 pairs, so the cap bounds the join's
    output-quadratic term; AQE skew-split handles what remains.
    """
    fp = winnow_fingerprints(df, k, w, id_col, text_col).select(
        id_col, "h"
    ).distinct()
    if max_df is not None:
        hot = (
            fp.groupBy("h")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_df)
            .select("h")
        )
        fp = fp.join(F.broadcast(hot), "h", "left_anti")
    return (
        band_pairs(fp, ["h"], id_col)
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
        .orderBy("id_a", "id_b")
    )


def winnow_matches_sql(
    k: int = 4,
    w: int = 4,
    min_shared: int = 2,
    table: str = "documents",
    id_col: str = "doc_id",
    text_expr: str = "text",
) -> str:
    """DuckDB twin of :func:`winnow_matches`."""
    inner = winnow_fingerprints_sql(k, w, table, id_col, text_expr)
    return f"""
        WITH fsel AS ({inner}),
        fp AS (SELECT DISTINCT {id_col}, h FROM fsel)
        SELECT a.{id_col} AS id_a, b.{id_col} AS id_b,
               count(*) AS n_shared
        FROM fp a JOIN fp b ON a.h = b.h AND a.{id_col} < b.{id_col}
        GROUP BY 1, 2
        HAVING count(*) >= {min_shared}
        ORDER BY id_a, id_b
    """


WINNOW_INDEX_BUCKETS = 64


def winnow_of_text(text: str, k: int = 4, w: int = 4) -> list[tuple[int, str]]:
    """Driver-side winnowing of ONE text — byte-identical to
    :func:`winnow_fingerprints` (same ``\\s+`` split, lowercase,
    space-joined k-gram md5, leftmost-min window selection) so a probe
    fingerprint set matches the distributed constructor exactly."""
    import hashlib
    import re

    # flags=re.ASCII matches Java's ASCII-only \s used by the
    # distributed fingerprinter (and RE2 in the DuckDB twin) — Unicode
    # whitespace must NOT split here or probe fingerprints diverge.
    words = re.split(r"\s+", text.lower(), flags=re.ASCII)
    grams = [
        hashlib.md5(" ".join(words[i : i + k]).encode()).hexdigest()
        for i in range(max(len(words) - k + 1, 0))
    ]
    n = len(grams)
    if n == 0:
        return []
    sel: set[tuple[int, str]] = set()
    for start in range(max(n - w, 0) + 1):
        window = grams[start : start + w]
        h = min(window)
        sel.add((start + window.index(h), h))
    return sorted(sel)


def winnow_write_index(
    df: DataFrame,
    path: str,
    k: int = 4,
    w: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = WINNOW_INDEX_BUCKETS,
) -> None:
    """Materialize the corpus's winnowed fingerprints as a
    partition-pruned overlap index: ``partitionBy(bucket)`` with
    ``bucket = xxhash64(h) mod n_buckets``.

    The batch :func:`winnow_matches` answers "which existing docs share
    passages with each other" corpus×corpus; this index answers the
    INCREMENTAL question — "does this NEW document share a passage with
    anything ingested" — by opening only the directories the probe's
    own fingerprints hash into (same pruning story as
    ``minhash_write_index``, with winnowing's no-miss guarantee for
    runs ≥ w+k−1 tokens). Clustered one-task-per-directory at write
    (small-files discipline).
    """
    fp = winnow_fingerprints(df, k, w, id_col, text_col).withColumn(
        "bucket", xxhash_bucket("h", n_buckets)
    )
    write_band_index(fp, path, ["bucket"])


def winnow_probe(
    spark,
    path: str,
    text: str,
    k: int = 4,
    w: int = 4,
    min_shared: int = 1,
    id_col: str = "doc_id",
    n_buckets: int = WINNOW_INDEX_BUCKETS,
) -> DataFrame:
    """Probe the materialized overlap index with ONE new text: indexed
    docs sharing ≥ ``min_shared`` winnowed fingerprints with it —
    (doc_id, n_shared), ordered by id.

    The probe's fingerprints are computed driver-side
    (:func:`winnow_of_text`); their bucket coordinates become literal
    partition predicates, so the scan opens ≤ |probe fingerprints|
    directories out of ``n_buckets`` (PartitionFilters asserted in
    tests) — corpus-size-independent probe cost. Bucket ids come from
    the engine's own xxhash64 over a local relation
    (:func:`~vectra_py_spark.session.hash_buckets`: no Spark job).
    """
    hashes = sorted({h for _, h in winnow_of_text(text, k, w)})
    if not hashes:
        return local_frame(spark, [], f"{id_col} bigint, n_shared bigint")
    buckets = sorted(set(hash_buckets(spark, hashes, T.StringType(), n_buckets)))
    idx = spark.read.parquet(path).filter(
        F.col("bucket").isin(buckets) & F.col("h").isin(hashes)
    )
    return (
        idx.select(id_col, "h")
        .distinct()
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
        .orderBy(id_col)
    )


def winnow_contamination(
    corpus: DataFrame,
    eval_docs: DataFrame,
    k: int = 4,
    w: int = 4,
    min_shared: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-set contamination report WITH span localization: for every
    (corpus doc, eval doc) pair sharing ≥ ``min_shared`` winnowed
    fingerprints, the shared count and WHERE the overlap sits in the
    corpus doc — (corpus_id, eval_id, n_shared, first_pos, last_pos).
    The decontamination complement to :func:`winnow_matches`: n-gram
    decontamination (``splits.decontaminate``) says THAT a doc
    overlaps the eval set; this says WITH WHICH eval doc and across
    which token region, which is what a surgical span-cut (rather than
    a whole-doc drop) needs. Winnowing's no-miss guarantee: any shared
    run of ≥ w+k−1 tokens surfaces.

    100 TB design: both sides reduce to their ~2/(w+1)-selected
    fingerprint streams before the join (ids + positions only, text
    never shuffles); the eval side is benchmark-sized — the join
    broadcasts it. One (corpus_id, eval_id)-keyed aggregate after a
    broadcast join: a single corpus-sized shuffle of matched rows only.
    """
    cfp = winnow_fingerprints(corpus, k, w, id_col, text_col).select(
        F.col(id_col).alias("corpus_id"), "pos", "h"
    )
    efp = (
        winnow_fingerprints(eval_docs, k, w, id_col, text_col)
        .select(F.col(id_col).alias("eval_id"), "h")
        .distinct()
    )
    return (
        cfp.join(F.broadcast(efp), "h")
        .groupBy("corpus_id", "eval_id")
        .agg(
            F.countDistinct("h").alias("n_shared"),
            F.min("pos").alias("first_pos"),
            F.max("pos").alias("last_pos"),
        )
        .filter(F.col("n_shared") >= min_shared)
        .orderBy("corpus_id", "eval_id")
    )


def winnow_contamination_sql(
    eval_pred: str,
    k: int = 4,
    w: int = 4,
    min_shared: int = 1,
    table: str = "documents",
    id_col: str = "doc_id",
    text_expr: str = "text",
) -> str:
    """DuckDB twin of :func:`winnow_contamination` — ``eval_pred``
    selects the eval rows of ``table``; the corpus is its complement."""
    inner = winnow_fingerprints_sql(k, w, table, id_col, text_expr)
    return f"""
        WITH fsel AS ({inner}),
        cfp AS (
            SELECT {id_col} AS corpus_id, pos, h
            FROM fsel WHERE NOT ({eval_pred})
        ),
        efp AS (
            SELECT DISTINCT {id_col} AS eval_id, h
            FROM fsel WHERE {eval_pred}
        )
        SELECT corpus_id, eval_id,
               COUNT(DISTINCT h) AS n_shared,
               MIN(pos) AS first_pos,
               MAX(pos) AS last_pos
        FROM cfp JOIN efp USING (h)
        GROUP BY 1, 2
        HAVING COUNT(DISTINCT h) >= {min_shared}
        ORDER BY corpus_id, eval_id
    """


def winnow_span_cut(
    corpus: DataFrame,
    eval_docs: DataFrame,
    k: int = 4,
    w: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Surgical decontamination: REMOVE eval-overlapping passages from
    corpus documents instead of dropping whole documents — the cut
    step :func:`winnow_contamination` localizes spans for. Output:
    ``(id, text, n_cut)`` for every corpus doc; untouched docs pass
    through byte-identical with ``n_cut = 0``.

    Cut policy: a matched fingerprint at gram position p covers tokens
    [p, p+k−1]; winnowing selects only ~2/(w+1) grams but guarantees a
    selected gram in every w-window of a shared run, so each match is
    padded by w−1 grams on both sides — adjacent matches of one run
    fuse, and at most w−1 extra tokens are cut per run edge (the
    conservative direction for decontamination). Rewritten documents
    come back as the kept token stream space-joined (the same
    tokenizer normalization every winnow comparison uses).

    100 TB design: detection is the winnow broadcast join (ids +
    positions only — benchmark-sized eval side); the span set per
    contaminated doc broadcasts into the rebuild, and ONLY
    contaminated docs (typically a vanishing fraction) explode to
    tokens — one ordered-reassembly exchange over their tokens, while
    the clean remainder of the corpus is a pass-through projection
    that never shuffles.
    """
    pad = w - 1
    cfp = winnow_fingerprints(corpus, k, w, id_col, text_col).select(
        F.col(id_col).alias("_cid"), "pos", "h"
    )
    efp = (
        winnow_fingerprints(eval_docs, k, w, id_col, text_col)
        .select("h")
        .distinct()
    )
    spans = (
        cfp.join(F.broadcast(efp), "h")
        .select(
            "_cid",
            F.greatest(F.col("pos") - pad, F.lit(0)).alias("lo"),
            (F.col("pos") + (k - 1) + pad).alias("hi"),
        )
        .distinct()
        # spans feeds two separate broadcasts (hit ids + the span
        # anti-join) — without materialization each broadcast re-ran
        # the full corpus winnowing pass underneath. The checkpointed
        # frame is contaminated-span-sized (tiny by the decontamination
        # premise), and the winnow pass now runs once.
        .localCheckpoint()
    )
    hit_ids = spans.select("_cid").distinct()
    words = F.split(F.lower(F.col(text_col)), r"\s+")

    hit = corpus.join(
        F.broadcast(hit_ids), F.col(id_col) == F.col("_cid"), "leftsemi"
    )
    toks = hit.select(
        F.col(id_col), F.posexplode(words).alias("pos", "word")
    )
    kept = toks.alias("t").join(
        F.broadcast(spans).alias("s"),
        (F.col(f"t.{id_col}") == F.col("s._cid"))
        & (F.col("t.pos") >= F.col("s.lo"))
        & (F.col("t.pos") <= F.col("s.hi")),
        "left_anti",
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "word"))),
                lambda s: s["word"],
            ),
        ).alias("_text"),
        F.count(F.lit(1)).alias("_kept"),
    )
    cut_docs = (
        hit.select(F.col(id_col), F.size(words).alias("_orig"))
        .join(rebuilt, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("_text"), F.lit("")).alias(text_col),
            (F.col("_orig") - F.coalesce(F.col("_kept"), F.lit(0)))
            .cast("long")
            .alias("n_cut"),
        )
    )
    clean = corpus.join(
        F.broadcast(hit_ids), F.col(id_col) == F.col("_cid"), "left_anti"
    ).select(
        F.col(id_col),
        F.col(text_col),
        F.lit(0).cast("long").alias("n_cut"),
    )
    return clean.unionByName(cut_docs).orderBy(id_col)


def winnow_span_cut_sql(
    eval_pred: str,
    k: int = 4,
    w: int = 4,
    table: str = "documents",
    id_col: str = "doc_id",
    text_expr: str = "text",
    out_col: str = "text",
) -> str:
    """DuckDB twin of :func:`winnow_span_cut` — ``eval_pred`` selects
    the eval rows of ``table``; the corpus is its complement.
    ``out_col`` names the output text column (``text_expr`` may be an
    arbitrary expression, which cannot double as an alias)."""
    pad = w - 1
    inner = winnow_fingerprints_sql(k, w, table, id_col, text_expr)
    ws = rf"string_split_regex(lower({text_expr}), '\s+')"
    return f"""
        WITH fsel AS ({inner}),
        cfp AS (
            SELECT {id_col} AS cid, pos, h
            FROM fsel WHERE NOT ({eval_pred})
        ),
        efp AS (
            SELECT DISTINCT h FROM fsel WHERE {eval_pred}
        ),
        spans AS (
            SELECT DISTINCT cid,
                   GREATEST(pos - {pad}, 0) AS lo,
                   pos + {k - 1 + pad} AS hi
            FROM cfp JOIN efp USING (h)
        ),
        hit_ids AS (SELECT DISTINCT cid FROM spans),
        toks AS (
            SELECT {id_col} AS cid, i - 1 AS pos, wl[i] AS word
            FROM (
                SELECT {id_col}, {ws} AS wl FROM {table}
                WHERE NOT ({eval_pred})
                  AND {id_col} IN (SELECT cid FROM hit_ids)
            ),
            LATERAL unnest(range(1, len(wl) + 1)) AS t(i)
        ),
        kept AS (
            SELECT t.cid, t.pos, t.word FROM toks t
            WHERE NOT EXISTS (
                SELECT 1 FROM spans s
                WHERE s.cid = t.cid AND t.pos BETWEEN s.lo AND s.hi
            )
        ),
        rebuilt AS (
            SELECT cid, string_agg(word, ' ' ORDER BY pos) AS txt,
                   COUNT(*) AS kept_n
            FROM kept GROUP BY cid
        ),
        cut_docs AS (
            SELECT o.cid AS {id_col},
                   COALESCE(r.txt, '') AS {out_col},
                   CAST(o.orig_n - COALESCE(r.kept_n, 0) AS BIGINT)
                       AS n_cut
            FROM (
                SELECT {id_col} AS cid, len({ws}) AS orig_n
                FROM {table}
                WHERE NOT ({eval_pred})
                  AND {id_col} IN (SELECT cid FROM hit_ids)
            ) o
            LEFT JOIN rebuilt r USING (cid)
        )
        SELECT {id_col}, {text_expr} AS {out_col}, CAST(0 AS BIGINT) AS n_cut
        FROM {table}
        WHERE NOT ({eval_pred})
          AND {id_col} NOT IN (SELECT cid FROM hit_ids)
        UNION ALL
        SELECT * FROM cut_docs
        ORDER BY {id_col}
    """


def soft_dedup_weights(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dp: int = 6,
) -> DataFrame:
    """Soft dedup: per-document sampling weight ``1 / n_copies``
    instead of dropping duplicates — repeated content contributes one
    expected copy per epoch in aggregate, preserving the corpus
    distribution where hard dedup would reshape it (the
    duplication-aware sampling move from the data-scaling literature;
    composes with ``splits.quality_weighted_sample``'s hash-threshold
    materialization).

    Output: (id, n_copies, weight). One hash aggregate + a broadcast
    re-join of the (hash, count) table — the count table is
    distinct-text-sized; at 100 TB swap the broadcast for a shuffle
    join on text_hash (same plan AQE picks automatically past the
    threshold). For NEAR-dup-aware weights, feed cluster sizes from
    :func:`~vectra_py_spark.operators.cluster.neardup_clusters`
    through the same 1/size formula.
    """
    hashed = df.select(
        id_col, F.md5(F.col(text_col)).alias("text_hash")
    )
    counts = hashed.groupBy("text_hash").agg(
        F.count(F.lit(1)).alias("n_copies")
    )
    return (
        hashed.join(counts, "text_hash")
        .select(
            id_col,
            "n_copies",
            F.round(F.lit(1.0) / F.col("n_copies"), dp).alias("weight"),
        )
        .orderBy(id_col)
    )


def soft_dedup_weights_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_expr: str = "text",
    dp: int = 6,
) -> str:
    """DuckDB twin of :func:`soft_dedup_weights`."""
    return f"""
        WITH h AS (
            SELECT {id_col}, md5({text_expr}) AS text_hash FROM {table}
        ),
        c AS (
            SELECT text_hash, COUNT(*) AS n_copies FROM h GROUP BY 1
        )
        SELECT {id_col}, n_copies,
               ROUND(1.0 / n_copies, {dp}) AS weight
        FROM h JOIN c USING (text_hash)
        ORDER BY {id_col}
    """


def dup_rate_by_source(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    dp: int = 6,
) -> DataFrame:
    """Exact-duplicate pressure per source — the triage number that
    decides where dedup effort goes: (source, n_docs, n_distinct,
    dup_rate) with dup_rate = 1 − distinct/total.

    One groupBy over (source, md5(text)) partials — the shuffle carries
    hashes, not text; map-side combine collapses the hot duplicate
    hashes per partition.
    """
    return (
        df.groupBy(source_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct(F.md5(F.col(text_col))).alias("n_distinct"),
        )
        .select(
            source_col,
            "n_docs",
            "n_distinct",
            (
                F.round(
                    1.0
                    - F.col("n_distinct") / F.col("n_docs").cast("double"),
                    dp,
                )
                + F.lit(0.0)
            ).alias("dup_rate"),
        )
    )


def dup_rate_by_source_sql(
    table: str = "documents",
    source_col: str = "source",
    text_expr: str = "text",
    dp: int = 6,
) -> str:
    """DuckDB twin of :func:`dup_rate_by_source`."""
    return f"""
        SELECT {source_col},
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT md5({text_expr})) AS BIGINT)
                   AS n_distinct,
               ROUND(1.0 - COUNT(DISTINCT md5({text_expr}))
                     / (COUNT(*) * 1.0), {dp}) + 0.0 AS dup_rate
        FROM {table}
        GROUP BY {source_col}
        ORDER BY {source_col}
    """


def typo_pairs(
    df: DataFrame, term_col: str = "term", max_dist: int = 1
) -> DataFrame:
    """SymSpell-style fuzzy TERM join: pairs of vocabulary terms within
    Levenshtein distance ``max_dist`` (=1) — the typo/OCR-variant
    merge step of a vocabulary-normalization pass (token variants like
    "table"/"tabel" fragment token statistics and dedup keys).

    Candidate generation is the deletion-neighborhood trick: each term
    emits itself plus every single-character deletion; two terms at
    distance ≤1 ALWAYS share a variant (insert/delete: the shorter
    string IS a deletion of the longer; substitution: both sides
    deleting the differing position meet in the middle), so an
    equi-join on variant finds every true pair — verified with exact
    ``levenshtein`` to drop the false candidates (distance-2 pairs
    that share a deletion).

    100 TB design: the input is a VOCABULARY (Zipf-bounded — millions
    of rows at corpus scale, not corpus-sized); variants add ≤ len+1
    short strings per term; the join is a string equi-join with
    map-side-combinable dedup. Never all-pairs, no cartesian.

    The single-deletion neighborhood is complete ONLY for distance 1;
    ``max_dist != 1`` would silently return an incomplete pair set
    (just the distance-k pairs that happen to share a one-char
    deletion), so anything else refuses loudly.
    """
    if max_dist != 1:
        raise ValueError(
            "typo_pairs: the single-deletion candidate neighborhood is "
            f"complete only for max_dist=1 (got {max_dist}); deeper "
            "neighborhoods would need deletion depth max_dist"
        )
    t = df.select(F.col(term_col).alias("t"))
    var = t.select(
        "t",
        F.expr(
            "explode(array_union(array(t), transform("
            "sequence(1, length(t)), "
            "i -> concat(substr(t, 1, i-1), substr(t, i+1)))))"
        ).alias("v"),
    )
    cand = (
        band_pairs(var, ["v"], "t", id_stem="term")
        .select("term_a", "term_b")
        .distinct()
    )
    return (
        cand.filter(F.levenshtein("term_a", "term_b") <= max_dist)
        .orderBy("term_a", "term_b")
    )


def typo_pairs_sql(terms_rel: str, max_dist: int = 1) -> str:
    """DuckDB twin of :func:`typo_pairs`. ``terms_rel`` is a
    parenthesized relation/CTE-able subquery yielding a ``t`` column."""
    if max_dist != 1:
        raise ValueError(
            "typo_pairs_sql: single-deletion neighborhood is complete "
            f"only for max_dist=1 (got {max_dist})"
        )
    return f"""
        WITH terms AS (SELECT t FROM {terms_rel}),
        var AS (
            SELECT t,
                   unnest(list_append(list_transform(
                       range(1, length(t) + 1),
                       i -> substr(t, 1, i - 1) || substr(t, i + 1)
                   ), t)) AS v
            FROM terms
        ),
        cand AS (
            SELECT DISTINCT a.t AS term_a, b.t AS term_b
            FROM var a JOIN var b USING (v)
            WHERE a.t < b.t
        )
        SELECT term_a, term_b FROM cand
        WHERE levenshtein(term_a, term_b) <= {max_dist}
        ORDER BY term_a, term_b
    """


def source_overlap(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    k: int = DEFAULT_SHINGLE_K,
    num_hashes: int = DEFAULT_NUM_HASHES,
    dp: int = 6,
) -> DataFrame:
    """DATASET-level content overlap: a per-SOURCE MinHash signature
    (component-wise min over every doc's signature — identical to the
    min over the source's whole shingle set) and the pairwise estimated
    Jaccard between sources (fraction of matching components).

    The corpus-curation signal above document dedup: two sources with
    high overlap are mirrors/re-crawls of each other, and a naive mix
    double-weights their shared content even after per-document dedup
    keeps one copy of each page.

    100 TB design: ONE corpus scan — the per-row signature pass
    (:func:`minhash_signatures`) is fed ``source`` AS the id column,
    so no doc_id→source join ever materializes; the per-source re-min
    is an H-column groupBy over |sources| groups with map-side
    combine; the pairwise compare is |sources|² tiny rows. Nothing
    corpus-sized shuffles.
    """
    sig = minhash_signatures(
        df.select(
            F.col(source_col).alias("doc_id"),
            F.col(text_col).alias("text"),
        ),
        k=k,
        num_hashes=num_hashes,
    )
    ssig = (
        sig.groupBy(F.col("doc_id").alias(source_col))
        .agg(*[F.min(f"h{h}").alias(f"h{h}") for h in range(num_hashes)])
    )
    a = ssig.select(
        F.col(source_col).alias("src_a"),
        *[F.col(f"h{h}").alias(f"a{h}") for h in range(num_hashes)],
    )
    b = ssig.select(
        F.col(source_col).alias("src_b"),
        *[F.col(f"h{h}").alias(f"b{h}") for h in range(num_hashes)],
    )
    matches = sum(
        F.when(F.col(f"a{h}") == F.col(f"b{h}"), 1).otherwise(0)
        for h in range(num_hashes)
    )
    return (
        a.join(b, F.col("src_a") < F.col("src_b"))
        .select(
            "src_a",
            "src_b",
            F.round(matches / F.lit(num_hashes), dp).alias("est_jaccard"),
        )
        .orderBy("src_a", "src_b")
    )


def source_overlap_sql(
    table: str = "documents",
    source_col: str = "source",
    text_expr: str = "text",
    k: int = DEFAULT_SHINGLE_K,
    num_hashes: int = DEFAULT_NUM_HASHES,
    dp: int = 6,
) -> str:
    """DuckDB twin of :func:`source_overlap` (min straight over the
    source's shingle set — equal to the min over per-doc mins)."""
    sh = _shingles_sql(text_expr, k).format(table=table)
    sig_cols = ",\n               ".join(
        f"MIN(md5('{h}:' || shingle)) AS h{h}" for h in range(num_hashes)
    )
    matches = " + ".join(
        f"CASE WHEN a.h{h} = b.h{h} THEN 1 ELSE 0 END"
        for h in range(num_hashes)
    )
    return f"""
        WITH sh AS ({sh}),
        ssig AS (
            SELECT d.{source_col} AS source,
               {sig_cols}
            FROM sh JOIN {table} d USING (doc_id)
            GROUP BY d.{source_col}
        )
        SELECT a.source AS src_a, b.source AS src_b,
               ROUND(({matches}) * 1.0 / {num_hashes}, {dp}) AS est_jaccard
        FROM ssig a JOIN ssig b ON a.source < b.source
        ORDER BY src_a, src_b
    """
