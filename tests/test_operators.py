"""Dedup / similarity / text-analysis operator semantics on planted data."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE, SF_SMOKE
from vectra_py_spark.operators import dedup as dd
from vectra_py_spark.operators import similarity as sim
from vectra_py_spark.operators import text_analysis as ta

pytestmark = pytest.mark.slow  # excluded from the smoke tier

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2, "the quick brown fox jumps over the lazy dog near the river bend"),  # near-dup of 1
    (3, "completely different content about spark clusters and shuffles"),
    (4, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 1
    (5, "der hund und die katze und das haus und der baum ist hier"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_exact_dedup(docs):
    out = {r.text_hash: r for r in dd.exact_dedup(docs).collect()}
    assert len(out) == 4  # 5 docs, one exact dup pair
    dup = [r for r in out.values() if r.n_copies == 2]
    assert len(dup) == 1 and dup[0].keep_id == 1


def test_ngram_jaccard_finds_neardup(docs):
    pairs = {(r.id_a, r.id_b): r.jaccard for r in
             dd.ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert (1, 4) in pairs and pairs[(1, 4)] == 1.0  # exact dup
    assert (1, 2) in pairs and 0.5 <= pairs[(1, 2)] < 1.0  # near-dup
    assert not any(3 in p for p in pairs)  # distinct doc untouched


def test_minhash_lsh_matches_planted(docs):
    pairs = {(r.id_a, r.id_b) for r in
             dd.minhash_lsh_pairs(docs, threshold=0.5).collect()}
    assert (1, 4) in pairs
    assert not any(3 in p or 5 in p for p in pairs)


def test_minhash_signature_shape(docs):
    sig = dd.minhash_signatures(docs).collect()
    assert len(sig) == 5
    for r in sig:
        for h in range(dd.DEFAULT_NUM_HASHES):
            assert len(r[f"h{h}"]) == 32  # md5 hex


def test_simhash_identical_for_exact_dups(docs):
    fp = {r.doc_id: r.simhash16 for r in dd.simhash(docs).collect()}
    assert fp[1] == fp[4]
    assert 0 <= fp[1] < (1 << dd.SIMHASH_BITS)
    # near-dup fingerprints are close in hamming distance
    ham = bin(fp[1] ^ fp[2]).count("1")
    assert ham <= 4
    assert bin(fp[1] ^ fp[5]).count("1") > ham


def test_simhash_neardup_hamming_ball(docs):
    """Banding must recover every pair within the radius (pigeonhole
    guarantee — banding is lossless for Hamming balls, unlike MinHash),
    and exclude everything outside it."""
    out = {(r.id_a, r.id_b): r.hamming for r in
           dd.simhash_neardup(docs, radius=3).collect()}
    fp = {r.doc_id: r.simhash16 for r in dd.simhash(docs).collect()}
    expect = {
        (a, b): bin(fp[a] ^ fp[b]).count("1")
        for a in fp for b in fp if a < b
        if bin(fp[a] ^ fp[b]).count("1") <= 3
    }
    assert out == expect
    assert (1, 4) in out and out[(1, 4)] == 0  # exact dup → distance 0


def test_text_analysis_columns(docs):
    out = {r.doc_id: r for r in ta.analyze_text(docs).collect()}
    r = out[1]
    assert r.n_words == 13
    assert r.n_chars == len(DOCS[0][1])
    assert 0.0 <= r.alpha_ratio <= 1.0
    assert r.stopword_ratio > 0  # 'the' appears
    assert 0.0 <= r.quality_score <= 1.0


def test_language_id_votes(docs, spark):
    out = {r.doc_id: r.pred_lang for r in ta.language_id(docs).collect()}
    assert out[1] == "en"
    assert out[5] == "de"
    zh = spark.createDataFrame([(9, "这是中文文本 with words")], ["doc_id", "text"])
    assert ta.language_id(zh).collect()[0].pred_lang == "zh"


def test_lang_confusion_shares(spark):
    """Confusion cells count (label, prediction) pairs; share is the
    cell's fraction of its LABEL row (each label's shares sum to 1)."""
    df = spark.createDataFrame(
        [
            (1, "the a of and is", "en"),
            (2, "der und die das ist", "de"),
            (3, "xqz qwv zzz", "en"),
        ],
        ["doc_id", "text", "lang"],
    )
    rows = {
        (r.lang, r.pred_lang): (r.n, r.share)
        for r in ta.lang_confusion(df).collect()
    }
    assert rows[("en", "en")] == (1, 0.5)
    assert rows[("en", "und")] == (1, 0.5)
    assert rows[("de", "de")] == (1, 1.0)
    assert len(rows) == 3


def test_fingerprint_whitespace_invariant(spark):
    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "hello world"), (3, "hello  world ")],
        ["doc_id", "text"],
    )
    fps = [r.fingerprint for r in ta.fingerprint(df).orderBy("doc_id").collect()]
    assert fps[0] == fps[1] == fps[2]


VECS = [
    (1, [1.0, 0.0, 0.0, 0.0]),
    (2, [0.99, 0.1, 0.0, 0.0]),   # near-dup of 1
    (3, [0.0, 1.0, 0.0, 0.0]),
    (4, [-1.0, 0.0, 0.0, 0.0]),   # opposite of 1
]


@pytest.fixture(scope="module")
def vecs(spark):
    return spark.createDataFrame(VECS, ["vec_id", "embedding"])


def test_cosine_similarity_join(vecs):
    pairs = {(r.id_a, r.id_b): r.cosine for r in
             sim.cosine_similarity_join(vecs, threshold=0.9).collect()}
    assert set(pairs) == {(1, 2)}
    assert pairs[(1, 2)] == pytest.approx(0.995, abs=1e-3)


def test_cosine_topk(vecs):
    out = sim.cosine_topk(vecs, [1.0, 0.0, 0.0, 0.0], k=2).collect()
    assert [r.vec_id for r in out] == [1, 2]
    assert out[0].score == 1.0


def test_lsh_join_recall_vs_exact(vecs):
    exact = {(r.id_a, r.id_b) for r in
             sim.cosine_similarity_join(vecs, threshold=0.9).collect()}
    approx = {(r.id_a, r.id_b) for r in
              sim.lsh_similarity_join(vecs, threshold=0.9, dim=4).collect()}
    # near-identical vectors land in the same bucket: full recall here
    assert approx == exact


def test_lsh_strict_banding_finds_planted_neardups(spark):
    """Production-regime banding (τ=0.85, b=16, L=8 — the
    `lsh_neardup_strict` registry entry's parameters): every planted
    near-dup (cos ≈ 0.995) must collide in ≥1 table and survive the
    verify, while random pairs (cos ≈ 0) are pruned by the banding.
    Deterministic: fixed data seed, fixed plane seed."""
    import numpy as np

    rng = np.random.default_rng(77)
    base = rng.standard_normal((60, 64))
    pert = base + 0.1 * np.roll(base, -1, axis=1)
    rows = [(i, [float(x) for x in base[i]]) for i in range(60)]
    rows += [(1000 + i, [float(x) for x in pert[i]]) for i in range(60)]
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    )
    out = sim.lsh_similarity_join(
        df, threshold=0.85, bits_per_table=16, n_tables=8, seed=1234
    ).collect()
    pairs = {(r.id_a, r.id_b) for r in out}
    assert {(i, 1000 + i) for i in range(60)} <= pairs
    # and the output is the planted pairs, not a quadratic blow-up
    assert len(pairs) < 120


def test_hyperplanes_deterministic():
    a = sim.seeded_hyperplanes(8, 4, seed=99)
    b = sim.seeded_hyperplanes(8, 4, seed=99)
    assert a == b
    assert sim.seeded_hyperplanes(8, 4, seed=100) != a


def test_lsh_topk_matches_exact_on_planted(vecs):
    out = sim.lsh_topk(
        vecs, [1.0, 0.0, 0.0, 0.0], k=2, extra_cols=()
    ).collect()
    # the two nearest vectors collide with the query in ≥1 table
    assert [r.vec_id for r in out] == [1, 2]
    assert out[0].score == 1.0


def test_query_buckets_deterministic():
    q = [0.5, -0.25, 0.125, 1.0]
    a = sim.query_buckets(q, 3, 12, 1234, 4)
    assert a == sim.query_buckets(q, 3, 12, 1234, 4)
    assert len(a) == 12
    for t, key in enumerate(a):
        assert t * 8 <= key < (t + 1) * 8  # packed tbl*2^b + bucket


def test_token_budget_batch_ids(spark):
    from vectra_py_spark.embeddings import (
        _token_budget_batches,
        token_budget_batch_ids,
    )

    rows = [
        ("s1", 1, "one two three"),            # 3 tokens
        ("s1", 2, "four five"),                # 2
        ("s1", 3, "six seven eight nine"),     # 4
        ("s1", 4, "ten"),                      # 1
        ("s2", 5, " ".join(["w"] * 10)),       # oversized alone
        ("s2", 6, "a b"),
    ]
    df = spark.createDataFrame(rows, ["source", "doc_id", "text"])
    out = {
        r.doc_id: (r.n_tokens, r.batch_id)
        for r in token_budget_batch_ids(df, max_tokens=5).collect()
    }
    # greedy ≤5: [3,2] | [4,1] per group s1; s2: [10] | [2]
    assert out[1] == (3, 0) and out[2] == (2, 0)
    assert out[3] == (4, 1) and out[4] == (1, 1)
    assert out[5] == (10, 0) and out[6] == (2, 1)
    # parity with the per-batch generator used by embed_chunks
    counts = [3, 2, 4, 1]
    batches = list(_token_budget_batches([""] * 4, counts, 5))
    assert batches == [[0, 1], [2, 3]]


def test_ivf_topk_planted(spark):
    import numpy as np

    cents = sim.seeded_centroids(4, 4, seed=4321)
    # plant vectors exactly on two centroids plus noise elsewhere
    rows = [
        (1, list(cents[0])),
        (2, [x * 0.9 for x in cents[0]]),
        (3, list(cents[1])),
        (4, [-x for x in cents[0]]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = sim.ivf_topk(
        df, cents[0], k=3, n_cells=4, nprobe=1, seed=4321, extra_cols=()
    ).collect()
    ids = [r.vec_id for r in out]
    assert ids[0] == 1 and 2 in ids          # same-cell neighbors found
    assert 4 not in ids                      # opposite vector pruned away
    assert out[0].score == 1.0


def test_seeded_centroids_unit_norm():
    for c in sim.seeded_centroids(16, 5):
        assert abs(sum(x * x for x in c) - 1.0) < 1e-12


@pytest.mark.parametrize("seed", [7, 11, 13])
@pytest.mark.parametrize("sf_dir", [SF_SMOKE, SF_ORACLE], ids=["sf0.001", "sf0.01"])
def test_ivf_indexed_partition_pruning(spark, tmp_path, sf_dir, seed):
    """ivf_write_index + ivf_topk_indexed: results equal the inline
    ivf_topk, and the scan plan prunes to the probed cell partitions."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    from vectra_py_spark.plans.entry_queries import seeded_query_vector

    q = seeded_query_vector(64, seed)
    path = str(tmp_path / "ivf")
    sim.ivf_write_index(emb, path, n_cells=8)
    indexed = sim.ivf_topk_indexed(spark, path, q, k=10, n_cells=8, nprobe=2)
    inline = sim.ivf_topk(emb, q, k=10, n_cells=8, nprobe=2)
    assert [
        (r.vec_id, r.score) for r in indexed.collect()
    ] == [(r.vec_id, r.score) for r in inline.collect()]
    plan = indexed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan


def test_kmeans_ivf_recall_beats_or_matches_seeded(spark):
    """MLlib-trained centroids: ivf_topk with kmeans_centroids returns
    valid exact-scored results and ≥ the recall of seeded centroids at
    the same probe budget (trained cells fit the data by construction)."""
    from vectra_py_spark.plans.entry_queries import seeded_query_vector

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = seeded_query_vector(64, seed=7)
    exact = {r.vec_id for r in sim.cosine_topk(emb, q, k=10).collect()}

    def recall(centroids):
        got = {
            r.vec_id
            for r in sim.ivf_topk(
                emb, q, k=10, n_cells=8, nprobe=4, centroids=centroids
            ).collect()
        }
        return len(got & exact) / len(exact)

    trained = sim.kmeans_centroids(emb, n_cells=8, seed=4321)
    assert len(trained) == 8
    assert all(abs(sum(x * x for x in c) - 1.0) < 1e-9 for c in trained)
    r_trained = recall(trained)
    r_seeded = recall(sim.seeded_centroids(64, 8, 4321))
    assert r_trained >= 0.5
    assert r_trained >= r_seeded - 0.2  # never materially worse


def test_lsh_join_verify_fallback_matches_broadcast(spark):
    """verify="join" (the beyond-broadcast-scale path: two hash joins +
    pair-cosine pandas_udf) must return exactly the broadcast-verify
    results — same candidates, same exact-cosine filter."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    kw = dict(threshold=0.4, bits_per_table=3, n_tables=12, seed=1234)
    a = sorted(
        map(tuple, sim.lsh_similarity_join(emb, verify="broadcast", **kw)
            .collect())
    )
    b = sorted(
        map(tuple, sim.lsh_similarity_join(emb, verify="join", **kw)
            .collect())
    )
    assert a == b and len(a) > 0

class TestSizeAwareAutoSelection:
    """The "auto" defaults must resolve to the driver-collect fast paths
    only under the broadcast budget; past it (simulated by shrinking the
    budget conf — a genuinely over-budget corpus doesn't fit CI) the
    fully distributed paths take over, with identical results."""

    def _with_budget(self, spark, n_bytes):
        spark.conf.set(sim.BROADCAST_BYTES_CONF, str(n_bytes))

    def _reset(self, spark):
        spark.conf.unset(sim.BROADCAST_BYTES_CONF)

    def test_resolve_switches_on_budget(self, spark, vecs):
        try:
            self._with_budget(spark, 1)  # nothing fits
            assert sim.resolve_similarity_strategy(
                vecs, "auto", "embedding", "matmul", "hof") == "hof"
            assert sim.resolve_similarity_strategy(
                vecs, "auto", "embedding", "broadcast", "join") == "join"
            self._with_budget(spark, 1 << 30)  # everything fits
            assert sim.resolve_similarity_strategy(
                vecs, "auto", "embedding", "matmul", "hof") == "matmul"
        finally:
            self._reset(spark)

    def test_explicit_strategy_skips_probe(self, vecs):
        # non-auto passes through untouched (no probe job, no override)
        assert sim.resolve_similarity_strategy(
            vecs, "hof", "embedding", "matmul", "hof") == "hof"
        assert sim.resolve_similarity_strategy(
            vecs, "matmul", "embedding", "matmul", "hof") == "matmul"

    def test_auto_over_budget_avoids_driver_collect(self, spark, vecs, monkeypatch):
        """With the budget forced under the data size, the auto plans
        must never collect a vector set: cosine_similarity_join refuses
        outright (quadratic past broadcast scale), lsh_similarity_join
        falls through to its banded join path; only the 1-row size-probe
        aggregation may pass through collect."""
        import pytest
        from pyspark.sql import DataFrame

        probe_rows = []
        orig = DataFrame.collect

        def guarded(df):
            rows = orig(df)
            # the probe collects exactly one (n, d) row; anything larger
            # is a vector-set collect leaking back into the default path
            assert len(rows) <= 1, "driver-side collect of a vector set"
            probe_rows.append(len(rows))
            return rows

        try:
            self._with_budget(spark, 1)
            monkeypatch.setattr(DataFrame, "collect", guarded)
            with pytest.raises(ValueError, match="lsh_similarity_join"):
                sim.cosine_similarity_join(vecs, threshold=0.9)
            plan_b = sim.lsh_similarity_join(vecs, threshold=0.9, dim=4)
            monkeypatch.undo()
            pairs_b = {(r.id_a, r.id_b) for r in plan_b.collect()}
        finally:
            monkeypatch.undo()
            self._reset(spark)
        assert pairs_b == {(1, 2)}

    def test_auto_never_plans_quadratic_join(self, spark, vecs):
        """The default (auto) path past the broadcast budget must raise,
        not quietly plan an N^2 cross/theta join — the 100 TB
        scale-killer. Explicit strategy='hof' remains the opt-in."""
        import pytest

        try:
            self._with_budget(spark, 1)
            with pytest.raises(ValueError, match="strategy='hof'"):
                sim.cosine_similarity_join(vecs, threshold=0.9)
        finally:
            self._reset(spark)

    def test_auto_matches_forced_paths(self, spark, vecs):
        """explicit hof (the oracle-identical distributed path) == auto
        under a huge budget (matmul) == the planted truth."""
        try:
            self._with_budget(spark, 1 << 30)
            auto_small = sorted(map(
                tuple,
                sim.cosine_similarity_join(vecs, threshold=0.9).collect(),
            ))
            forced_hof = sorted(map(
                tuple,
                sim.cosine_similarity_join(
                    vecs, threshold=0.9, strategy="hof"
                ).collect(),
            ))
            assert auto_small == forced_hof != []
        finally:
            self._reset(spark)


def test_repetition_signals_flags_planted_spam(spark):
    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),
            # 20 distinct words: top bigram share 1/19 < 0.06 cut
            (2, " ".join(f"w{i}" for i in range(20))),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in ta.repetition_signals(df).collect()}
    assert out[1].dup_word_frac == 0.75          # 4 words, 1 distinct
    assert out[1].top_bigram_frac == 1.0          # all bigrams identical
    assert out[1].dup_bigram_frac == pytest.approx(2 / 3, abs=1e-6)
    assert out[1].is_repetitive == 1
    assert out[2].dup_word_frac == 0.0
    assert out[2].is_repetitive == 0


def test_pii_scrub_planted(spark):
    df = spark.createDataFrame(
        [
            (1, "contact bob@example.com or 555-123-4567 today"),
            (2, "no pii here at all"),
            (3, "two mails a@b.io c@d.org one phone 111.222.3333"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in ta.pii_scrub(df).collect()}
    assert (out[1].n_emails, out[1].n_phones) == (1, 1)
    assert (out[2].n_emails, out[2].n_phones) == (0, 0)
    assert (out[3].n_emails, out[3].n_phones) == (2, 1)
    # scrubbed fingerprint equals the hash of the redacted text
    import hashlib
    expect = hashlib.md5(
        b"contact [EMAIL] or [PHONE] today"
    ).hexdigest()
    assert out[1].scrubbed_fp == expect


def test_bm25_ranks_relevant_docs_first(spark):
    from vectra_py_spark.operators import ranking as rk

    df = spark.createDataFrame(
        [
            (1, "spark shuffle spark join"),        # both rare terms
            (2, "spark table column row filter"),   # one term once
            (3, "table column row filter group"),   # no terms
            (4, "the a of and to in is it the a"),  # no terms, long
        ],
        ["doc_id", "text"],
    )
    out = [(r.doc_id, r.bm25) for r in
           rk.bm25_topk(df, ["spark", "shuffle"], k=4).collect()]
    ids = [d for d, _ in out]
    assert ids[0] == 1            # highest tf on both terms
    assert ids[1] == 2            # one term beats none
    assert out[2][1] == out[3][1] == 0.0   # no-term docs score zero


def test_bm25_probe_prunes_partitions_and_matches_full_scan(spark, tmp_path):
    from vectra_py_spark.operators import ranking as rk

    df = spark.createDataFrame(
        [
            (1, "spark shuffle spark join"),
            (2, "spark table column row filter"),
            (3, "table column row filter group"),
            (4, "shuffle exchange partition skew shuffle"),
        ],
        ["doc_id", "text"],
    )
    path = str(tmp_path / "bm25_idx")
    rk.bm25_write_index(df, path)

    probe = rk.bm25_probe(spark, path, ["spark", "shuffle"], k=3)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    import re

    m = re.search(r"PartitionFilters: \[([^\]]+)\]", plan)
    assert m and "bucket" in m.group(1)  # probe opens only its buckets

    got = [(r.doc_id, r.bm25) for r in probe.collect()]
    # docs with >= 1 query term, ranked identically to the full scan
    want = [
        (r.doc_id, r.bm25)
        for r in rk.bm25_topk(df, ["spark", "shuffle"], k=3).collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, a), (_, b) in zip(got, want):
        assert abs(a - b) < 1e-6


def test_bm25_append_equals_fresh_build(spark, tmp_path):
    from vectra_py_spark.operators import ranking as rk

    rows = [
        (1, "spark shuffle spark join"),
        (2, "spark table column row filter"),
        (3, "table column row filter group"),
        (4, "shuffle exchange partition skew shuffle"),
    ]
    cols = ["doc_id", "text"]
    first, second = rows[:2], rows[2:]

    inc_path = str(tmp_path / "inc_idx")
    rk.bm25_write_index(spark.createDataFrame(first, cols), inc_path)
    rk.bm25_append_index(spark.createDataFrame(second, cols), inc_path)

    full_path = str(tmp_path / "full_idx")
    rk.bm25_write_index(spark.createDataFrame(rows, cols), full_path)

    # summed stats deltas are bit-identical to the from-scratch build
    def _stats(p):
        rows = spark.read.parquet(f"{p}/_stats").collect()
        return (sum(r.n_docs for r in rows), sum(r.sum_dl for r in rows))

    assert _stats(inc_path) == _stats(full_path)
    # probe scores never drift between incremental and bootstrap paths
    terms = ["spark", "shuffle"]
    got = [(r.doc_id, r.bm25)
           for r in rk.bm25_probe(spark, inc_path, terms, k=4).collect()]
    want = [(r.doc_id, r.bm25)
            for r in rk.bm25_probe(spark, full_path, terms, k=4).collect()]
    assert got == want

    # replaying the same batch id (crash-before-commit replay) must
    # replace its own partitions, not double-count postings or tokens
    rk.bm25_append_index(
        spark.createDataFrame(second, cols), inc_path, batch_id=1
    )
    assert _stats(inc_path) == _stats(full_path)
    again = [(r.doc_id, r.bm25)
             for r in rk.bm25_probe(spark, inc_path, terms, k=4).collect()]
    assert again == want


def test_minhash_index_probe_finds_planted_dups(docs, tmp_path):
    path = str(tmp_path / "mh_idx")
    dd.minhash_write_index(docs, path)
    # probe with doc 1's text: exact dup (4) scores 1.0, self included
    probe_text = DOCS[0][1]
    got = {
        r["doc_id"]: r["est_jaccard"]
        for r in dd.minhash_probe(docs.sparkSession, path, probe_text).collect()
    }
    assert got[1] == 1.0 and got[4] == 1.0
    assert 3 not in got and 5 not in got
    # probe consistency with the batch pairs operator: doc 2 appears iff
    # (1, 2) survives the same threshold there
    batch = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in dd.minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    assert ((1, 2) in batch) == (2 in got)
    if 2 in got:
        assert got[2] == batch[(1, 2)]


def test_minhash_probe_prunes_partitions(docs, tmp_path):
    path = str(tmp_path / "mh_idx2")
    dd.minhash_write_index(docs, path)
    df = dd.minhash_probe(docs.sparkSession, path, DOCS[0][1])
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re

    # FileScan's field rendering truncates long predicates with "...",
    # so match the prefix: non-empty PartitionFilters naming both
    # partition columns
    m = re.search(r"PartitionFilters: \[\(+(.{0,200})", plan)
    assert m, plan
    assert "band" in m.group(1) and "bucket" in m.group(1), plan


def test_minhash_of_text_matches_distributed_signatures(docs):
    sigs = {
        r["doc_id"]: [r[f"h{h}"] for h in range(dd.DEFAULT_NUM_HASHES)]
        for r in dd.minhash_signatures(docs).collect()
    }
    for doc_id, text in DOCS:
        assert dd.minhash_of_text(text) == sigs[doc_id]


def test_semantic_dedup_prunes_planted_neardup(vecs):
    # one centroid per quadrant-ish: all 4 vectors share dim=4 cells from
    # seeded centroids; with τ=0.9 only (1,2) are neighbors → 2 dropped
    out = sim.semantic_dedup(
        vecs, threshold=0.9, n_cells=2, dim=4, extra_cols=()
    ).collect()
    kept = {r.vec_id for r in out}
    assert 1 in kept and 2 not in kept          # min-id survivor rule
    assert {3, 4} <= kept                        # non-dups survive
    # survivors keep their cell assignment
    assert all(r.cell is not None for r in out)


def test_semantic_dedup_same_cell_only(spark):
    # a near-dup pair forced into DIFFERENT cells must both survive;
    # hand centroids pin the assignment (dot-product argmax, so a
    # non-unit centroid can capture one vector deterministically)
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.97, 0.1])], ["vec_id", "embedding"]
    )
    same = sim.semantic_dedup(
        df, threshold=0.5, centroids=[[1.0, 0.0], [0.0, 1.0]],
        extra_cols=(),
    ).collect()
    assert {r.vec_id for r in same} == {1}      # same cell ⇒ 2 pruned
    split = sim.semantic_dedup(
        df, threshold=0.5, centroids=[[1.0, 0.0], [0.0, 20.0]],
        extra_cols=(),
    ).collect()
    # v2: dot [0,20] = 2.0 > 0.97 ⇒ cell 1, away from v1 ⇒ no prune
    assert {r.vec_id for r in split} == {1, 2}


def test_cell_assignment_expr_is_shuffle_free(vecs):
    cents = sim.seeded_centroids(4, 4)
    plan = (
        vecs.withColumn("cell", sim.cell_assignment_expr(cents))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan


def test_unigram_lm_flags_gibberish(spark):
    from vectra_py_spark.operators.text_analysis import unigram_lm_score

    common = "the cat sat on the mat and the dog sat on the log"
    rows = [(i, common) for i in range(1, 9)]
    rows.append((9, "zxqv jkwpf qmzt vvrx plonk"))  # out-of-distribution
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r.xent for r in unigram_lm_score(df).collect()}
    assert len(out) == 9
    # the gibberish doc diverges hardest from the corpus LM
    assert out[9] == max(out.values())
    assert out[1] == pytest.approx(out[8])  # identical docs tie


def test_unigram_lm_model_reenters_broadcast(spark):
    from vectra_py_spark.operators.text_analysis import unigram_lm_score

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b d")], ["doc_id", "text"]
    )
    plan = (
        unigram_lm_score(df)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # vocab freqs and the 1-row total must come back as broadcasts —
    # the corpus-sized token stream is never shuffled on token
    assert plan.count("BroadcastExchange") >= 2, plan


def test_incremental_dedup_corpus_wins(spark):
    corpus = spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon zeta")],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),   # exact dup of corpus
            (2, "totally different words entirely here"),  # fresh
            (3, "totally different words entirely here"),  # dup of 2 in-batch
        ],
        ["doc_id", "text"],
    )
    out = dd.incremental_dedup(corpus, batch, radius=0).collect()
    kept = {r.doc_id for r in out}
    # 1 loses to corpus even though its id is smaller than the corpus id;
    # 2 survives; 3 loses to the earlier in-batch doc 2
    assert kept == {2}
    # survivors carry their fingerprint for corpus-side appending
    assert all(r.simhash16 is not None for r in out)


def test_corpus_stats_counts_dups_and_langs(spark):
    rows = [
        (1, "same text", "en", "web"),
        (2, "same text", "en", "web"),      # exact dup within source
        (3, "other text here", "de", "web"),
        (4, "unique per source", "en", "books"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source"])
    out = {r.source: r for r in ta.corpus_stats(df).collect()}
    assert out["web"].n_docs == 3
    assert out["web"].n_dups == 1
    assert out["web"].n_langs == 2
    assert out["books"].n_docs == 1 and out["books"].n_dups == 0
    assert out["web"].total_chars == len("same text") * 2 + len("other text here")


def test_semantic_dedup_strategies_agree(vecs):
    kw = dict(threshold=0.9, n_cells=2, dim=4, extra_cols=())
    a = sorted(map(tuple, sim.semantic_dedup(vecs, **kw).collect()))
    b = sorted(
        map(tuple, sim.semantic_dedup(vecs, strategy="join", **kw).collect())
    )
    assert a == b and len(a) == 3


def test_bpe_pair_counts_weighted_by_word_freq(spark):
    # "ab" ×3 docs + "abc" ×1 → pair (a,b) weight 4, (b,c) weight 1;
    # single-char and empty words contribute nothing
    rows = [(1, "ab ab x"), (2, "ab abc"), (3, "")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {(r.l, r.r): r.n for r in ta.bpe_pair_counts(df, k=10).collect()}
    assert out[("a", "b")] == 4
    assert out[("b", "c")] == 1
    assert ("x", "x") not in out


def test_cross_source_dups_pairs(spark):
    rows = [
        (1, "shared", "web"),
        (2, "shared", "books"),
        (3, "shared", "wiki"),
        (4, "web only", "web"),
        (5, "shared", "web"),  # same text+source again: DISTINCT collapses
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = {(r.src_a, r.src_b): r.shared_texts
           for r in ta.cross_source_dups(df).collect()}
    assert out == {("books", "web"): 1, ("books", "wiki"): 1,
                   ("web", "wiki"): 1}


def test_length_bucketed_batches_padding(spark):
    from vectra_py_spark.operators.packing import length_bucketed_batches

    # width 4, batch 2: docs of 2,3 tokens → bucket 1; 5 tokens → bucket 2
    rows = [(1, "a b"), (2, "a b c"), (3, "a b c d e")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {(r.bucket, r.batch_id): r
           for r in length_bucketed_batches(df, 4, 2).collect()}
    b1 = out[(1, 0)]
    assert b1.n_docs == 2 and b1.max_tokens == 3 and b1.total_tokens == 5
    assert b1.pad_frac == pytest.approx(1 - 5 / 6, abs=1e-6)
    assert out[(2, 0)].pad_frac == 0.0


def test_semantic_dedup_kmeans_cells_catch_at_least_seeded(spark):
    """Production path: kmeans-trained cells must detect at least as
    many true near-dup pairs (cosine >= tau same-cell) as seeded cells
    — trained centroids fit the data, so dup pairs co-locate."""
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    tau = 0.4
    true_pairs = {
        (r.id_a, r.id_b)
        for r in sim.cosine_similarity_join(emb, threshold=tau).collect()
    }
    assert true_pairs, "fixture must contain near-dup pairs"

    def caught(centroids):
        cells = {
            r.vec_id: r.cell
            for r in emb.select(
                "vec_id",
                sim.cell_assignment_expr(centroids).alias("cell"),
            ).collect()
        }
        return sum(1 for a, b in true_pairs if cells[a] == cells[b])

    seeded = caught(sim.seeded_centroids(64, 8, 4321))
    trained = caught(sim.kmeans_centroids(emb, n_cells=8, seed=4321))
    assert trained >= seeded
    # and the pruned survivor count reflects the extra catches
    n_seeded = sim.semantic_dedup(emb, threshold=tau, dim=64).count()
    n_trained = sim.semantic_dedup(
        emb,
        threshold=tau,
        centroids=sim.kmeans_centroids(emb, n_cells=8, seed=4321),
    ).count()
    assert n_trained <= n_seeded


def test_bigram_lm_flags_word_salad(spark):
    from vectra_py_spark.operators.text_analysis import bigram_lm_score

    # docs 1-8: normal transitions; doc 9 uses the SAME vocabulary in
    # scrambled order (unigram-normal, bigram-broken word salad)
    common = "the cat sat on the mat and the dog sat on the log"
    rows = [(i, common) for i in range(1, 9)]
    rows.append((9, "mat the on dog cat log the sat and on the sat the"))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r.xent2 for r in bigram_lm_score(df).collect()}
    assert out[9] == max(out.values())
    assert out[1] == pytest.approx(out[8])
    # single-token docs are omitted
    df2 = spark.createDataFrame([(1, "one"), (2, "two words")], ["doc_id", "text"])
    got = {r.doc_id for r in bigram_lm_score(df2).collect()}
    assert got == {2}


def test_dup_shingle_ratio_planted(spark):
    base = "alpha beta gamma delta epsilon zeta"
    rows = [
        (1, base),                       # fully shared with 2
        (2, base),
        (3, "totally different words entirely here now"),
        (4, base + " but with a fresh unique tail section attached"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r.dup_ratio for r in ta.dup_shingle_ratio(df).collect()}
    assert out[1] == 1.0 and out[2] == 1.0
    assert out[3] == 0.0
    assert 0.0 < out[4] < 1.0        # partial mosaic


def test_source_token_drift_flags_shifted_source(spark):
    normal = "the cat sat on the mat and the dog sat on the log"
    rows = [(i, normal, f"src{i % 2}") for i in range(8)]
    rows += [(100 + i, "zorp quux blarg fizz wonk", "drifted")
             for i in range(4)]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = {r.source: r.kl_bits for r in ta.source_token_drift(df).collect()}
    assert out["drifted"] == max(out.values())
    assert out["drifted"] > out["src0"] and out["drifted"] > out["src1"]
    assert all(v >= 0 for v in out.values())  # KL non-negativity


def test_simhash_sql_twins_share_divisibility_guard():
    """The SQL generators must reject the same radii the DataFrame
    paths reject — otherwise radius=2 silently bands 15 of 16 bits in
    the oracle while the DataFrame side raises (inconsistent twins)."""
    import pytest

    from vectra_py_spark.operators import dedup as dd

    for bad_radius in (2, 4):  # radius+1 must divide 16
        with pytest.raises(ValueError, match="divide"):
            dd.simhash_neardup_sql(radius=bad_radius)
        with pytest.raises(ValueError, match="divide"):
            dd.incremental_dedup_sql("doc_id > 100", radius=bad_radius)


def test_duplicate_ngram_spans_planted(spark):
    # doc 1 and 2 share an 8-token run embedded in distinct contexts;
    # doc 3 is unique; doc 4 is too short to emit any window
    run = "one two three four five six seven eight"
    rows = [
        (1, "prefix words here " + run + " and a unique tail for one"),
        (2, "other opening text " + run + " closing differently here two"),
        (3, "completely unrelated content with no shared spans at all "
            "padding padding more padding tokens"),
        (4, "short doc"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r.doc_id: r
        for r in ta.duplicate_ngram_spans(df, window=8).collect()
    }
    assert 4 not in out  # below window size -> no windows
    assert out[3].dup_windows == 0 and out[3].max_dup_span_tokens == 0
    # exactly one shared 8-token window between docs 1 and 2
    assert out[1].dup_windows == 1 and out[2].dup_windows == 1
    assert out[1].max_dup_span_tokens == 8
    assert 0 < out[1].dup_ratio < 1


def test_duplicate_ngram_spans_run_length(spark):
    # identical docs: every window duplicated, span covers the full doc
    text = "a b c d e f g h i j k l"  # 12 tokens, window 4 -> 9 windows
    df = spark.createDataFrame([(1, text), (2, text)], ["doc_id", "text"])
    out = ta.duplicate_ngram_spans(df, window=4).collect()
    for r in out:
        assert r.n_windows == 9
        assert r.dup_windows == 9
        assert r.dup_ratio == 1.0
        assert r.max_dup_span_tokens == 9 + 4 - 1  # == 12, whole doc


def test_nb_quality_score_separates_seed(spark):
    seedish = (
        "the project is a story about the people and the places that "
        "have been seen because there was much to learn from all of it"
    )
    junky = "zzz qqq kjh 000 111 !!! ### zzz qqq kjh 000 111"
    rows = [(i, seedish) for i in range(1, 7)] + [
        (i, junky) for i in range(7, 10)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in ta.nb_quality_score(df).collect()}
    assert len(out) == 9
    # seed-side docs score strictly higher than junk docs
    assert min(out[i].nb_logodds for i in range(1, 7)) > max(
        out[i].nb_logodds for i in range(7, 10)
    )
    assert out[1].seed_label == 1 and out[8].seed_label == 0
    assert out[1].nb_logodds == pytest.approx(out[2].nb_logodds)


def test_nb_quality_model_reenters_broadcast(spark):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b d")], ["doc_id", "text"]
    )
    plan = (
        ta.nb_quality_score(df)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # token model + 1-row priors re-enter via broadcast; the corpus
    # token stream is never shuffled on token
    assert plan.count("BroadcastExchange") >= 2, plan


def test_lloyd_kmeans_assignment_invariants(spark):
    from vectra_py_spark.operators.cluster import lloyd_kmeans

    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = lloyd_kmeans(df, k=4, iters=2).collect()
    n = df.count()
    assert len(out) == n  # every vector assigned exactly once
    assert {r.cluster for r in out} <= set(range(4))


def test_lloyd_kmeans_iter1_is_nearest_seed(spark):
    from vectra_py_spark.operators.cluster import lloyd_kmeans

    # iters=1 = assign to nearest of the k smallest-id vectors; the
    # seed rows themselves must land in their own cluster (distance 0)
    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = {
        r.vec_id: r.cluster
        for r in lloyd_kmeans(df, k=4, iters=1).collect()
    }
    seeds = sorted(out)[:4]
    assert [out[s] for s in seeds] == [0, 1, 2, 3]


def test_lloyd_kmeans_assignment_is_shuffle_free(spark):
    from vectra_py_spark.operators.cluster import _assign_expr

    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = {0: [0.0] * 64, 1: [1.0] * 64}
    plan = (
        df.withColumn("cluster", _assign_expr(cents, "embedding"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan, plan


def test_tokenize_ids_oov_bucket(spark):
    from vectra_py_spark.operators.text_analysis import (
        build_vocab,
        tokenize_to_ids,
    )

    df = spark.createDataFrame(
        [(1, "a a a b b c"), (2, "a rare")], ["doc_id", "text"]
    )
    vocab = build_vocab(df, vocab_size=2)  # keeps a(4), b(2)
    rows = tokenize_to_ids(df, vocab, 2).collect()
    ids = {(r.doc_id, r.pos): r.token_id for r in rows}
    assert ids[(1, 0)] == 0 and ids[(1, 3)] == 1
    assert ids[(1, 5)] == 2 and ids[(2, 1)] == 2  # OOV -> vocab_size


def test_tokenize_ids_vocab_rank_ties_by_word(spark):
    from vectra_py_spark.operators.text_analysis import build_vocab

    df = spark.createDataFrame([(1, "b a b a")], ["doc_id", "text"])
    v = {
        r.word: r.token_id
        for r in build_vocab(df, vocab_size=2).collect()
    }
    assert v == {"a": 0, "b": 1}  # equal counts -> lexicographic


def test_tfidf_top_terms_shape(spark):
    from vectra_py_spark.operators.text_analysis import tfidf_top_terms

    df = spark.createDataFrame(
        [
            (1, "s1", "apple apple shared"),
            (2, "s2", "banana shared shared"),
        ],
        ["doc_id", "source", "text"],
    )
    rows = tfidf_top_terms(df, top_n=2).collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r.source, {})[r.word] = r.tfidf
    # group-exclusive terms score ln(2); the everywhere-term scores 0
    assert by_src["s1"]["apple"] > 0 and by_src["s2"]["banana"] > 0
    assert by_src["s1"]["shared"] == 0.0


def test_pmi_collocations_finds_planted_phrase(spark):
    from vectra_py_spark.operators.text_analysis import pmi_collocations

    rows = [(i, "foo bar baz qux") for i in range(5)]
    rows += [(100 + i, " ".join(["alpha"] * 6)) for i in range(3)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = pmi_collocations(df, min_count=5, top_n=10).collect()
    pairs = {(r.w1, r.w2): r.pmi for r in out}
    # the planted exclusive bigrams outrank the self-pair of the
    # repeated filler word (whose unigram mass kills its PMI)
    assert ("foo", "bar") in pairs
    assert pairs[("foo", "bar")] > pairs[("alpha", "alpha")]


def test_seq_len_histogram_coverage_monotone(spark):
    from vectra_py_spark.operators.text_analysis import seq_len_histogram

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = seq_len_histogram(df).collect()
    assert out == sorted(out, key=lambda r: r.max_len)
    cov = [r.token_coverage for r in out]
    assert cov == sorted(cov) and abs(cov[-1] - 1.0) < 1e-9
    assert abs(out[-1].doc_coverage - 1.0) < 1e-9
    # buckets are powers of two
    assert all(r.max_len & (r.max_len - 1) == 0 for r in out)


def test_winnow_no_miss_guarantee(spark):
    """Any shared token run of >= w+k-1 tokens must surface at least
    one shared fingerprint (the winnowing paper's core guarantee)."""
    from vectra_py_spark.operators.dedup import winnow_matches

    shared = "alpha beta gamma delta epsilon zeta eta"  # 7 = w+k-1
    df = spark.createDataFrame(
        [
            (1, f"one two three {shared} four five six"),
            (2, f"{shared} unrelated tail words here now"),
            (3, "totally different content with no common runs at all"),
        ],
        ["doc_id", "text"],
    )
    pairs = {
        (r.id_a, r.id_b)
        for r in winnow_matches(df, k=4, w=4, min_shared=1).collect()
    }
    assert (1, 2) in pairs
    assert not any(3 in p for p in pairs)


def test_winnow_density_and_short_docs(spark):
    from vectra_py_spark.operators.dedup import winnow_fingerprints

    long_doc = " ".join(f"w{i}" for i in range(200))
    df = spark.createDataFrame(
        [(1, long_doc), (2, "tiny doc here"), (3, "ab")],
        ["doc_id", "text"],
    )
    rows = winnow_fingerprints(df, k=4, w=4).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    # selection is a strict subsample of the 197-gram stream, but at
    # least 1 per w-window worth of grams
    assert 197 // 4 <= len(by_doc[1]) < 197
    # doc 2 has 3 tokens -> 0 grams at k=4: no fingerprints; doc 3 same
    assert 2 not in by_doc and 3 not in by_doc


def test_winnow_probe_unicode_whitespace_parity(spark):
    """Driver-side winnow_of_text must tokenize byte-identically to the
    distributed fingerprinter. Java's \\s is ASCII-only, so U+00A0 (and
    other Unicode whitespace) must NOT split on the Python side either
    — a divergence here makes probes silently miss genuine overlaps."""
    from vectra_py_spark.operators.dedup import (
        winnow_fingerprints,
        winnow_of_text,
    )

    text = "alpha beta gamma delta epsilon zeta eta theta iota"
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    dist = {(r.pos, r.h) for r in winnow_fingerprints(df, k=4, w=4).collect()}
    local = set(winnow_of_text(text, k=4, w=4))
    assert dist == local and dist


def test_minhash_probe_unicode_whitespace_parity(spark):
    """Same ASCII-\\s parity for the MinHash probe path: the Python
    signature of one text must equal the distributed signature row."""
    from vectra_py_spark.operators.dedup import (
        minhash_of_text,
        minhash_signatures,
    )

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    row = minhash_signatures(df, num_hashes=16).collect()[0]
    sig = [row[f"h{i}"] for i in range(16)]
    assert sig == minhash_of_text(text, num_hashes=16)


def test_winnow_fingerprints_positions_valid(spark):
    from vectra_py_spark.operators.dedup import winnow_fingerprints

    df = spark.createDataFrame(
        [(1, " ".join(f"t{i % 5}" for i in range(30)))], ["doc_id", "text"]
    )
    rows = winnow_fingerprints(df, k=3, w=5).collect()
    assert all(0 <= r.pos <= 30 - 3 for r in rows)
    # distinct selections only
    assert len(rows) == len({(r.doc_id, r.pos, r.h) for r in rows})


def test_cosine_topk_batch_boundary_tie_keeps_smaller_id(spark):
    """A rounded-score tie exactly at the k boundary must keep the
    smaller id (the oracle's ORDER BY score DESC, id ASC) even when the
    tie sits inside one partition's partial top-k."""
    rows = [
        (10, [1.0, 0.0]),
        (3, [1.0, 0.0]),     # exact tie with id 10
        (7, [0.99, 0.14]),   # also high, distinct score
        (50, [0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]).coalesce(1)
    out = sim.cosine_topk_batch(df, [[1.0, 0.0]], k=2).collect()
    assert [r.vec_id for r in out] == [3, 10]


def test_lloyd_kmeans_rejects_nonpositive_iters(spark):
    from vectra_py_spark.operators.cluster import (
        lloyd_kmeans,
        lloyd_kmeans_sql,
    )

    df = spark.createDataFrame([(1, [0.0, 1.0])], ["vec_id", "embedding"])
    with pytest.raises(ValueError, match="iters"):
        lloyd_kmeans(df, k=1, iters=0)
    with pytest.raises(ValueError, match="iters"):
        lloyd_kmeans_sql(k=1, iters=0)


def test_winnow_matches_max_df_drops_boilerplate(spark):
    from vectra_py_spark.operators.dedup import winnow_matches

    boiler = "subscribe to our newsletter for more updates today"
    rows = [(i, f"unique{i} words{i} here{i} now{i} {boiler}") for i in range(6)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    # every pair shares only the boilerplate run
    uncapped = winnow_matches(df, k=4, w=4, min_shared=1).count()
    capped = winnow_matches(df, k=4, w=4, min_shared=1, max_df=3).count()
    assert uncapped == 15  # 6 choose 2 — boilerplate cross product
    assert capped == 0     # df=6 hashes dropped before the join


def test_winnow_probe_prunes_partitions_and_matches(spark, tmp_path):
    from vectra_py_spark.operators.dedup import (
        winnow_fingerprints,
        winnow_of_text,
        winnow_probe,
        winnow_write_index,
    )

    shared = "alpha beta gamma delta epsilon zeta eta"
    df = spark.createDataFrame(
        [
            (1, f"one two three {shared} four five six"),
            (2, "totally different content with no common runs at all"),
        ],
        ["doc_id", "text"],
    )
    path = str(tmp_path / "widx")
    winnow_write_index(df, path)

    probe = winnow_probe(spark, path, f"{shared} brand new tail here")
    plan = probe._jdf.queryExecution().executedPlan().toString()
    import re

    m = re.search(r"PartitionFilters: \[([^\]]+)\]", plan)
    assert m and "bucket" in m.group(1)  # probe opens only its buckets
    hits = {r.doc_id: r.n_shared for r in probe.collect()}
    assert 1 in hits and 2 not in hits  # no-miss on the shared run

    # driver-side winnowing is byte-identical to the distributed one
    text1 = f"one two three {shared} four five six"
    dist = {
        (r.pos, r.h)
        for r in winnow_fingerprints(
            df.filter("doc_id = 1")
        ).collect()
    }
    assert set(winnow_of_text(text1)) == dist


def test_winnow_contamination_localizes_span(spark):
    from vectra_py_spark.operators.dedup import winnow_contamination

    shared = "alpha beta gamma delta epsilon zeta eta theta"
    corpus = spark.createDataFrame(
        [
            (1, f"p1 p2 p3 p4 p5 {shared} s1 s2 s3"),
            (2, "nothing in common with any benchmark at all here"),
        ],
        ["doc_id", "text"],
    )
    ev = spark.createDataFrame(
        [(100, f"{shared} completely different framing")],
        ["doc_id", "text"],
    )
    out = {
        (r.corpus_id, r.eval_id): r
        for r in winnow_contamination(corpus, ev, min_shared=1).collect()
    }
    assert set(out) == {(1, 100)}
    r = out[(1, 100)]
    # the shared run starts at token 5 of doc 1 -> matched fingerprint
    # positions sit inside [5, 5 + len(shared_tokens) - k]
    assert 5 <= r.first_pos <= r.last_pos <= 5 + 8 - 4
    assert r.n_shared >= 1


def test_winnow_every_window_is_covered(spark):
    """The winnowing density/coverage guarantee, checked exhaustively:
    for EVERY run of w consecutive grams, at least one selected
    fingerprint falls inside it (this is what makes the no-miss
    property compositional — any shared w+k-1-token run contains a full
    window, hence a shared selection)."""
    from vectra_py_spark.operators.dedup import winnow_of_text

    import hashlib
    import random

    rng = random.Random(1234)
    k, w = 4, 5
    for trial in range(25):
        n_words = rng.randint(w + k - 1, 60)
        vocab_size = rng.choice([3, 8, 40])
        words = [f"t{rng.randrange(vocab_size)}" for _ in range(n_words)]
        text = " ".join(words)
        sel_pos = {p for p, _ in winnow_of_text(text, k=k, w=w)}
        n_grams = n_words - k + 1
        for start in range(n_grams - w + 1):
            assert any(
                start <= p < start + w for p in sel_pos
            ), (trial, start, sorted(sel_pos))
        # selections are genuine grams of the text
        grams = {
            hashlib.md5(" ".join(words[i:i + k]).encode()).hexdigest()
            for i in range(n_grams)
        }
        assert {h for _, h in winnow_of_text(text, k=k, w=w)} <= grams


def test_soft_dedup_weights_sum_to_distinct_texts(docs):
    from vectra_py_spark.operators.dedup import soft_dedup_weights

    rows = soft_dedup_weights(docs).collect()
    assert len(rows) == 5
    by_id = {r.doc_id: r for r in rows}
    assert by_id[1].n_copies == 2 and by_id[4].n_copies == 2  # exact pair
    assert by_id[3].n_copies == 1 and by_id[3].weight == 1.0
    # expected copies per epoch == number of distinct texts
    assert abs(sum(r.weight for r in rows) - 4.0) < 1e-6


def test_tokenizer_fertility_rollup(spark):
    df = spark.createDataFrame(
        [
            (1, "hello world", "a"),          # 2 words, simple tokens
            (2, "x=1;y=2;", "b"),             # punct-dense: hot fertility
        ],
        ["doc_id", "text", "source"],
    )
    got = {r.source: r for r in ta.tokenizer_fertility(df).collect()}
    assert got["a"].n_docs == 1 and got["b"].n_docs == 1
    # punct-dense source needs more pretokens per word than plain prose
    assert got["b"].tokens_per_word > got["a"].tokens_per_word
    # prose packs more chars into each pretoken than symbol soup
    assert got["a"].chars_per_token > got["b"].chars_per_token


def test_winnow_span_cut_removes_planted_passage(spark):
    eval_passage = "alpha beta gamma delta epsilon zeta eta theta"
    corpus = spark.createDataFrame(
        [
            (1, f"lead one two three four five {eval_passage} "
                "tail six seven eight nine ten"),
            (2, "completely unrelated text with  odd   spacing preserved"),
        ],
        ["doc_id", "text"],
    )
    evals = spark.createDataFrame(
        [(100, f"intro words {eval_passage} outro words")],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in
           dd.winnow_span_cut(corpus, evals).collect()}

    # contaminated doc: every eval-passage token is gone
    cut_words = set(out[1].text.split(" "))
    assert cut_words.isdisjoint(set(eval_passage.split()))
    # the cut is bounded: passage (8 tokens) + at most w-1 = 3 pad
    # tokens per run edge (observed: 10 = 8 + 1 + 1 here)
    assert 8 <= out[1].n_cut <= 8 + 2 * 3
    assert "lead" in out[1].text and "ten" in out[1].text  # context survives
    # untouched doc passes through byte-identical, n_cut = 0
    assert out[2].text == "completely unrelated text with  odd   spacing preserved"
    assert out[2].n_cut == 0


def test_bm25_probe_batch_matches_single_probes(spark, tmp_path):
    from vectra_py_spark.operators import ranking as rk

    df = spark.createDataFrame(
        [
            (1, "spark shuffle spark join"),
            (2, "spark table column row filter"),
            (3, "table column row filter group"),
            (4, "shuffle exchange partition skew shuffle"),
        ],
        ["doc_id", "text"],
    )
    path = str(tmp_path / "bm25_batch_idx")
    rk.bm25_write_index(df, path)
    queries = {"qa": ("spark", "shuffle"), "qb": ("table", "filter")}
    batch = rk.bm25_probe_batch(spark, path, queries, k=3)
    import itertools

    got = {
        qid: [(r.doc_id, r.bm25) for r in rows]
        for qid, rows in itertools.groupby(
            batch.collect(), key=lambda r: r.query_id
        )
    }
    for qid, terms in queries.items():
        single = [(r.doc_id, r.bm25)
                  for r in rk.bm25_probe(spark, path, list(terms), k=3)
                  .collect()]
        assert got[qid] == single  # batch == per-query single probes


def test_compact_bm25_index_preserves_probes_and_replay(spark, tmp_path):
    from vectra_py_spark.operators import ranking as rk
    from vectra_py_spark.sources.maintenance import parquet_file_stats

    cols = ["doc_id", "text"]
    b0 = [(1, "spark shuffle spark join"), (2, "spark table column")]
    b1 = [(3, "table column row filter group")]
    b2 = [(4, "shuffle exchange partition skew shuffle")]
    path = str(tmp_path / "cidx")
    rk.bm25_write_index(spark.createDataFrame(b0, cols), path)
    rk.bm25_append_index(spark.createDataFrame(b1, cols), path, batch_id=1)
    rk.bm25_append_index(spark.createDataFrame(b2, cols), path, batch_id=2)

    terms = ["spark", "shuffle", "table"]
    before = [(r.doc_id, r.bm25)
              for r in rk.bm25_probe(spark, path, terms, k=4).collect()]
    n_before, _ = parquet_file_stats(path)

    out = rk.compact_bm25_index(spark, path)
    assert out["batches_folded"] == 2
    assert out["files_after"] < n_before

    after = [(r.doc_id, r.bm25)
             for r in rk.bm25_probe(spark, path, terms, k=4).collect()]
    assert after == before

    # the LATEST batch can still be replayed idempotently post-compaction
    rk.bm25_append_index(spark.createDataFrame(b2, cols), path, batch_id=2)
    replay = [(r.doc_id, r.bm25)
              for r in rk.bm25_probe(spark, path, terms, k=4).collect()]
    assert replay == before
    # and the next auto-assigned batch id still advances past max
    rk.bm25_append_index(
        spark.createDataFrame([(5, "spark anew")], cols), path
    )
    ids = {r.doc_id for r in rk.bm25_probe(spark, path, ["spark"], k=5)
           .collect()}
    assert 5 in ids


def test_ivf_append_equals_fresh_build(spark, tmp_path):
    import numpy as np

    rng = np.random.default_rng(11)
    rows = [(i, [float(x) for x in rng.standard_normal(8)])
            for i in range(40)]
    cols = "vec_id bigint, embedding array<double>"
    inc = str(tmp_path / "ivf_inc")
    sim.ivf_write_index(
        spark.createDataFrame(rows[:25], cols), inc, dim=8
    )
    sim.ivf_append_index(
        spark.createDataFrame(rows[25:], cols), inc, dim=8
    )
    full = str(tmp_path / "ivf_full")
    sim.ivf_write_index(spark.createDataFrame(rows, cols), full, dim=8)

    q = [float(x) for x in rng.standard_normal(8)]
    got = [(r.vec_id, r.score) for r in
           sim.ivf_topk_indexed(spark, inc, q, k=5, extra_cols=()).collect()]
    want = [(r.vec_id, r.score) for r in
            sim.ivf_topk_indexed(spark, full, q, k=5, extra_cols=()).collect()]
    assert got == want


def test_typo_pairs_deletion_neighborhood(spark):
    """Candidates via deletion-1 variants cover ALL Levenshtein-≤1
    relations (deletion, insertion, substitution); distance-2 pairs —
    including transpositions — are verified away."""
    terms = spark.createDataFrame(
        [("table",), ("tble",), ("tabke",), ("cable",), ("chair",),
         ("tables",), ("tabel",)],
        ["term"],
    )
    pairs = {
        (r.term_a, r.term_b) for r in dd.typo_pairs(terms).collect()
    }
    assert ("table", "tble") in pairs     # deletion
    assert ("tabke", "table") in pairs    # substitution (k↔l)
    assert ("table", "tables") in pairs   # insertion
    assert ("cable", "table") in pairs    # substitution (c↔t)
    assert not any("chair" in p for p in pairs)
    # transposition is Levenshtein distance 2 — excluded by contract
    assert ("tabel", "table") not in pairs


def test_source_overlap_mirrors_and_disjoint(spark):
    """Mirrored sources estimate Jaccard 1.0 (identical shingle sets →
    identical signatures); disjoint-content sources estimate 0.0."""
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta", "a"),
            (2, "alpha beta gamma delta epsilon zeta", "b"),  # mirror
            (3, "one two three four five six seven", "c"),
        ],
        ["doc_id", "text", "source"],
    )
    out = {
        (r.src_a, r.src_b): r.est_jaccard
        for r in dd.source_overlap(docs).collect()
    }
    assert out[("a", "b")] == 1.0
    assert out[("a", "c")] == 0.0 and out[("b", "c")] == 0.0


def test_ivf_cell_balance_surfaces_empty_cells(spark):
    """The health card must show DEAD cells as n=0 rows (the strongest
    retrain signal) — with 3 vectors and 8 centroids at least 5 cells
    are empty, yet all 8 rows appear and fractions account for every
    vector."""
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0, 0.0]),
        (3, [0.0, 0.0, 0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    out = sim.ivf_cell_balance(df, n_cells=8, dim=4).collect()
    assert [r.cell for r in out] == list(range(8))
    assert sum(r.n for r in out) == 3
    empties = [r for r in out if r.n == 0]
    assert len(empties) >= 5
    for r in empties:
        assert r.frac == 0.0 and r.load_factor == 0.0
