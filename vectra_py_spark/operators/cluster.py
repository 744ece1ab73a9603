"""Near-duplicate clustering: connected components over near-dup pairs
plus survivor selection (the step after pair generation in a dedup
pipeline — pairs alone don't say which documents to drop).

- :func:`connected_components` — min-label propagation over an edge
  list as a DataFrame loop: each round, every node takes the minimum
  label among itself and its neighbours; converges when no label
  changes. Each round is one shuffle (groupBy node); rounds =
  graph diameter. Near-dup graphs are overwhelmingly tiny cliques and
  chains (diameter ≤ ~3), so 2–4 rounds close virtually any corpus; a
  hard ``max_iter`` guards adversarial chains. At 1000-executor scale
  the same loop runs with checkpointing every few rounds to truncate
  lineage; the alternating large-star/small-star variant (Kiveris et
  al., "Connected Components in MapReduce") drops rounds to
  O(log diameter) with identical per-round plan shape — same shuffle
  key, same partial-agg min.
- :func:`neardup_clusters` — end-to-end: MinHash-LSH near-dup pairs →
  components → per-cluster survivor pick. Survivor = the longest
  document (ties → smallest id): deterministic, and expressible in
  both engines as an argmax struct-max aggregation.

The DuckDB twin computes components with a recursive CTE (transitive
closure → min reachable id). Closure enumeration is exponential-ish on
dense graphs — fine for an oracle at fixture scale, never the
production path; the Spark loop is the scale path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vectra_py_spark.session import spread
from vectra_py_spark.operators.dedup import (
    DEFAULT_BANDS,
    DEFAULT_NUM_HASHES,
    DEFAULT_SHINGLE_K,
    minhash_lsh_pairs,
    minhash_lsh_pairs_sql,
)

__all__ = [
    "connected_components",
    "neardup_clusters",
    "neardup_clusters_sql",
    "leakage_safe_split",
    "leakage_safe_split_sql",
    "lloyd_kmeans",
    "lloyd_kmeans_sql",
    "neardup_weights",
    "neardup_weights_sql",
]


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 10,
) -> DataFrame:
    """(node, component) for every node in ``edges``; component = min
    node id reachable. Pure DataFrame min-label propagation."""
    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
        .cache()
    )
    # round 0 fused into init: comp = min(self, direct neighbours) is one
    # aggregation over the edge list — no join. Cliques and pairs (the
    # overwhelming near-dup shape) are already converged here, so the
    # loop's first iteration just confirms and exits.
    labels = (
        sym.groupBy(F.col("u").alias("node"))
        .agg(F.least(F.first("u"), F.min("v")).alias("comp"))
        .cache()
    )
    cached = labels  # the currently-cached frame (for precise unpersist)
    comp_dt = labels.schema["comp"].dataType
    for _ in range(max_iter):
        # neighbour labels: node u sees label of each neighbour v. The
        # node's OLD label rides through the same aggregation (tagged
        # via a null-padded column), so the convergence check is a
        # filter on the aggregate instead of the old join-back against
        # the previous labels — one fewer join per round, same values
        # (measured 2.5–3.3 s → 1.8–2.1 s on neardup_weights at sf0.1).
        neigh = (
            sym.join(labels, sym["v"] == labels["node"])
            .select(
                F.col("u").alias("node"), "comp",
                F.lit(None).cast(comp_dt).alias("oldc"),
            )
        )
        new_full = (
            labels.select("node", "comp", F.col("comp").alias("oldc"))
            .union(neigh)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"), F.max("oldc").alias("oldc"))
            .cache()
        )
        changed = (
            new_full.filter(F.col("comp") != F.col("oldc")).limit(1).count()
        )
        cached.unpersist()
        cached = new_full
        labels = new_full.select("node", "comp")
        if changed == 0:
            break
    sym.unpersist()
    return labels


def neardup_clusters(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = DEFAULT_SHINGLE_K,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    threshold: float = 0.5,
) -> DataFrame:
    """(cluster_id, size, survivor_id) per near-dup cluster.

    cluster_id = min doc id in the component; survivor = longest text
    (ties → smallest id) via a single struct-max aggregation — no
    window, one shuffle on cluster_id.
    """
    pairs = minhash_lsh_pairs(
        docs, id_col, text_col, k, num_hashes, bands, threshold
    )
    comp = connected_components(pairs)
    sized = comp.join(
        docs.select(
            F.col(id_col).alias("node"), F.length(text_col).alias("n_len")
        ),
        "node",
    )
    best = F.max(
        F.struct(F.col("n_len"), (-F.col("node")).alias("neg_id"))
    )
    return (
        sized.groupBy(F.col("comp").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).alias("size"),
            (-best.getField("neg_id")).cast("long").alias("survivor_id"),
        )
        .select("cluster_id", "size", "survivor_id")
    )


def neardup_clusters_sql(
    table: str = "documents",
    text_expr: str = "text",
    k: int = DEFAULT_SHINGLE_K,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    threshold: float = 0.5,
) -> str:
    pairs = minhash_lsh_pairs_sql(
        table, text_expr, k, num_hashes, bands, threshold
    )
    return f"""
        WITH RECURSIVE pairs AS ({pairs}),
        edges AS (
            SELECT id_a AS u, id_b AS v FROM pairs
            UNION
            SELECT id_b AS u, id_a AS v FROM pairs
        ),
        reach AS (
            SELECT u AS node, v AS r FROM edges
            UNION
            SELECT reach.node, edges.v
            FROM reach JOIN edges ON reach.r = edges.u
        ),
        comp AS (
            SELECT node, LEAST(node, MIN(r)) AS comp
            FROM reach GROUP BY node
        ),
        sized AS (
            SELECT comp.node, comp.comp, length({text_expr}) AS n_len
            FROM comp JOIN {table} d ON comp.node = d.doc_id
        )
        SELECT comp AS cluster_id,
               COUNT(*) AS size,
               CAST(MIN(struct_pack(a := -n_len, b := node)).b
                    AS BIGINT) AS survivor_id
        FROM sized
        GROUP BY comp
    """


def leakage_safe_split(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    train_cut: int | None = None,
    val_cut: int | None = None,
) -> DataFrame:
    """Train/val/test split where a near-dup CLUSTER is the atomic
    unit: every doc hashes on its connected-component representative,
    so near-duplicates can never straddle train and eval — the
    dedup-aware fix for the classic eval-leakage failure (a paraphrase
    of a training doc landing in the test set).

    Output: (doc_id, cluster_id, bucket, split); singletons are their
    own cluster. Deterministic — same hash-bucket machinery as
    :func:`~vectra_py_spark.operators.splits.assign_splits`, keyed on
    ``cluster_id`` instead of ``doc_id``.

    100 TB design: costs exactly the near-dup clustering (banded
    equi-joins + label propagation over ids) plus one narrow
    projection; the split itself adds no exchange. In steady state the
    cluster labels are a materialized byproduct of the dedup pass —
    reuse them and this IS a projection.
    """
    from vectra_py_spark.operators.splits import (
        DEFAULT_TRAIN_CUT,
        DEFAULT_VAL_CUT,
        hash_bucket,
    )

    tc = DEFAULT_TRAIN_CUT if train_cut is None else train_cut
    vc = DEFAULT_VAL_CUT if val_cut is None else val_cut
    pairs = minhash_lsh_pairs(docs, id_col, text_col, threshold=threshold)
    comp = connected_components(pairs)
    labeled = docs.select(id_col).join(
        comp, docs[id_col] == comp["node"], "left"
    ).select(
        id_col, F.coalesce(F.col("comp"), F.col(id_col)).alias("cluster_id")
    )
    b = hash_bucket(F.col("cluster_id"))
    split = (
        F.when(F.col("bucket") < tc, "train")
        .when(F.col("bucket") < vc, "val")
        .otherwise("test")
    )
    return (
        labeled.withColumn("bucket", b)
        .withColumn("split", split)
        .orderBy(id_col)
    )


def leakage_safe_split_sql(
    table: str = "documents",
    text_expr: str = "text",
    threshold: float = 0.5,
    train_cut: int | None = None,
    val_cut: int | None = None,
) -> str:
    from vectra_py_spark.operators.splits import (
        DEFAULT_TRAIN_CUT,
        DEFAULT_VAL_CUT,
        hash_bucket_sql,
    )

    tc = DEFAULT_TRAIN_CUT if train_cut is None else train_cut
    vc = DEFAULT_VAL_CUT if val_cut is None else val_cut
    pairs = minhash_lsh_pairs_sql(table, text_expr, threshold=threshold)
    b = hash_bucket_sql("cluster_id")
    return f"""
        WITH RECURSIVE pairs AS ({pairs}),
        edges AS (
            SELECT id_a AS u, id_b AS v FROM pairs
            UNION
            SELECT id_b AS u, id_a AS v FROM pairs
        ),
        reach AS (
            SELECT u AS node, v AS r FROM edges
            UNION
            SELECT reach.node, edges.v
            FROM reach JOIN edges ON reach.r = edges.u
        ),
        comp AS (
            SELECT node, LEAST(node, MIN(r)) AS comp
            FROM reach GROUP BY node
        ),
        labeled AS (
            SELECT d.doc_id,
                   COALESCE(comp.comp, d.doc_id) AS cluster_id
            FROM {table} d LEFT JOIN comp ON d.doc_id = comp.node
        )
        SELECT doc_id, cluster_id, {b} AS bucket,
               CASE WHEN {b} < {tc} THEN 'train'
                    WHEN {b} < {vc} THEN 'val'
                    ELSE 'test' END AS split
        FROM labeled
        ORDER BY doc_id
    """


# ---------------------------------------------------------------------------
# Deterministic Lloyd k-means (oracle-able counterpart to the MLlib path)
# ---------------------------------------------------------------------------
def _assign_expr(centroids: dict[int, list[float]], vector_col: str):
    """Nearest-centroid id as a pure projection: ``array_min`` over
    ``struct(d², cid)`` = argmin distance, ties → smaller cluster —
    whole-stage-codegen only, nothing leaves the row (same shape as
    ``similarity.cell_assignment_expr``)."""
    from vectra_py_spark.functions.vector import to_double_array, vector_literal

    v = to_double_array(vector_col)
    cands = []
    for cid in sorted(centroids):
        c = vector_literal(centroids[cid])
        d2 = F.aggregate(
            F.zip_with(v, c, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        cands.append(F.struct(d2.alias("d"), F.lit(cid).alias("cid")))
    return F.array_min(F.array(*cands)).getField("cid").cast("int")


def lloyd_kmeans(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    dp: int = 6,
) -> DataFrame:
    """Deterministic Lloyd k-means assignments: (id, cluster) after a
    FIXED number of iterations from a FIXED init (the vectors of the k
    smallest ids, cluster = rank of id; ``iters`` assignments with a
    centroid update between consecutive ones). Unlike
    :func:`vectra_py_spark.operators.similarity.kmeans_centroids`
    (MLlib: parallel init + float accumulation, not reproducible in
    SQL), every step here is order-free and SQL-expressible, so the
    whole iteration — not just the final assignment — is oracle-checked.

    Per iteration: assignment is a SHUFFLE-FREE projection (centroids
    ride as constant-folded literals, argmin via ``array_min`` over
    ``struct(d², cid)``); the centroid update is ONE posexplode →
    groupBy(cluster, pos) shuffle whose map-side partials reduce to
    ≤ k·dim rows, collected to the driver as k·dim doubles — the same
    collect-broadcast-per-iteration loop MLlib's Lloyd runs at any
    cluster size. Empty clusters drop out (both engines).

    Cross-engine determinism: float32 inputs are cast to
    DECIMAL(28,10) before the centroid mean (exact, order-free sum —
    same trick as ``similarity.group_centroids``), and the mean is
    rounded to ``dp`` so both engines iterate from bit-identical
    centroids. Distance sums are double (fold vs unordered SUM may
    differ in the last ulp; an assignment flips only on a genuine
    near-tie — see the near-tie caveat on ``ivf_topk``).
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    dec = "decimal(28,10)"
    # a one-file table arrives as ONE partition, serializing every
    # per-iteration projection (8 interpreted HOF distance folds per
    # row) and the posexplode update onto a single task; spread() is a
    # no-op at real scale (guide §2 — scale-adaptive partitioning)
    df = spread(df)
    seeds = (
        df.select(id_col, vector_col)
        .orderBy(id_col)
        .limit(k)
        .collect()
    )
    centroids = {
        cid: [float(x) for x in row[vector_col]]
        for cid, row in enumerate(seeds)
    }
    assigned = df.withColumn("cluster", _assign_expr(centroids, vector_col))
    for _ in range(iters - 1):
        rows = (
            assigned.select(
                "cluster", F.posexplode(vector_col).alias("pos", "x")
            )
            .groupBy("cluster", "pos")
            .agg(
                F.round(
                    F.sum(F.col("x").cast(dec)).cast("double")
                    / F.count(F.lit(1)),
                    dp,
                ).alias("c")
            )
            .collect()
        )
        nxt: dict[int, dict[int, float]] = {}
        for r in rows:
            nxt.setdefault(r["cluster"], {})[r["pos"]] = r["c"]
        centroids = {
            cid: [dims[p] for p in sorted(dims)]
            for cid, dims in sorted(nxt.items())
        }
        assigned = df.withColumn(
            "cluster", _assign_expr(centroids, vector_col)
        )
    return assigned.select(id_col, "cluster").orderBy(id_col)


def lloyd_kmeans_sql(
    k: int = 8,
    iters: int = 2,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    dp: int = 6,
) -> str:
    """DuckDB twin of :func:`lloyd_kmeans`: the full iteration as a CTE
    chain (flat (id, pos, x) explode; per-iteration assign = window
    argmin over summed squared diffs, update = exact DECIMAL mean
    rounded to ``dp``). Generated per iteration count."""
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    ctes = [
        f"""e AS (
            SELECT {id_col},
                   unnest(generate_series(0, len({vector_col}) - 1)) AS pos,
                   unnest({vector_col}::DOUBLE[]) AS x
            FROM {table}
        )""",
        f"""ids AS (
            SELECT {id_col}, row_number() OVER (ORDER BY {id_col}) - 1 AS cluster
            FROM (SELECT {id_col} FROM {table} ORDER BY {id_col} LIMIT {k})
        )""",
        f"""c0 AS (
            SELECT ids.cluster, e.pos, e.x AS c
            FROM ids JOIN e USING ({id_col})
        )""",
    ]
    for i in range(1, iters + 1):
        prev = f"c{i - 1}"
        ctes.append(
            f"""a{i} AS (
            SELECT {id_col}, cluster FROM (
                SELECT {id_col}, cluster,
                       row_number() OVER (
                           PARTITION BY {id_col} ORDER BY d, cluster
                       ) AS rn
                FROM (
                    SELECT e.{id_col}, c.cluster,
                           SUM((e.x - c.c) * (e.x - c.c)) AS d
                    FROM e JOIN {prev} c ON e.pos = c.pos
                    GROUP BY e.{id_col}, c.cluster
                )
            ) WHERE rn = 1
        )"""
        )
        if i < iters:
            ctes.append(
                f"""c{i} AS (
                SELECT a.cluster, e.pos,
                       ROUND(CAST(SUM(CAST(e.x AS DECIMAL(28,10))) AS DOUBLE)
                             / COUNT(*), {dp}) AS c
                FROM a{i} a JOIN e USING ({id_col})
                GROUP BY a.cluster, e.pos
            )"""
            )
    joined = ",\n        ".join(ctes)
    return f"""
        WITH {joined}
        SELECT {id_col}, CAST(cluster AS INT) AS cluster
        FROM a{iters}
        ORDER BY {id_col}
    """


def neardup_weights(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    dp: int = 6,
) -> DataFrame:
    """Near-dup-aware soft-dedup weights: weight = 1/|cluster| with the
    connected near-dup component as the unit — the cluster-level
    generalization of ``dedup.soft_dedup_weights`` (which only sees
    EXACT copies). A paraphrase family of 5 contributes one expected
    member per epoch; singletons keep weight 1.

    Output: (id, cluster_id, cluster_size, weight). Costs exactly the
    near-dup clustering plus one count aggregate and a join-back — and
    at steady state reuses materialized cluster labels, the same
    argument as :func:`leakage_safe_split`. The sizes side is NOT
    broadcast-hinted: most docs are singleton clusters, so it is
    ~corpus-sized — AQE picks the join strategy (same reasoning as
    ``dedup.soft_dedup_weights``).
    """
    pairs = minhash_lsh_pairs(docs, id_col, text_col, threshold=threshold)
    comp = connected_components(pairs)
    labeled = docs.select(id_col).join(
        comp, docs[id_col] == comp["node"], "left"
    ).select(
        id_col, F.coalesce(F.col("comp"), F.col(id_col)).alias("cluster_id")
    )
    sizes = labeled.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        labeled.join(sizes, "cluster_id")
        .select(
            id_col,
            "cluster_id",
            "cluster_size",
            F.round(F.lit(1.0) / F.col("cluster_size"), dp).alias(
                "weight"
            ),
        )
        .orderBy(id_col)
    )


def neardup_weights_sql(
    table: str = "documents",
    text_expr: str = "text",
    threshold: float = 0.5,
    dp: int = 6,
) -> str:
    """DuckDB twin of :func:`neardup_weights` (recursive-closure
    components, like the other cluster twins — oracle-scale only)."""
    pairs = minhash_lsh_pairs_sql(table, text_expr, threshold=threshold)
    return f"""
        WITH RECURSIVE pairs AS ({pairs}),
        edges AS (
            SELECT id_a AS u, id_b AS v FROM pairs
            UNION
            SELECT id_b AS u, id_a AS v FROM pairs
        ),
        reach AS (
            SELECT u AS node, v AS r FROM edges
            UNION
            SELECT reach.node, edges.v
            FROM reach JOIN edges ON reach.r = edges.u
        ),
        comp AS (
            SELECT node, LEAST(node, MIN(r)) AS comp
            FROM reach GROUP BY node
        ),
        labeled AS (
            SELECT d.doc_id,
                   COALESCE(comp.comp, d.doc_id) AS cluster_id
            FROM {table} d LEFT JOIN comp ON d.doc_id = comp.node
        ),
        sizes AS (
            SELECT cluster_id, COUNT(*) AS cluster_size
            FROM labeled GROUP BY 1
        )
        SELECT doc_id, cluster_id, cluster_size,
               ROUND(1.0 / cluster_size, {dp}) AS weight
        FROM labeled JOIN sizes USING (cluster_id)
        ORDER BY doc_id
    """
