"""Host-level web link graph: outlink extraction, edge aggregation,
and PageRank — the crawl-prioritization layer of a training-data
pipeline (reference tie-in: the web fetcher surface,
`document_fetcher.py` — the reference fetches pages one URI at a
time; at corpus scale the pipeline must DECIDE which URIs are worth
fetching, which is what a link graph is for).

Design notes (100 TB disposition):

- **Outlink extraction is pure Catalyst** — ``regexp_extract_all``
  over the raw HTML pulls every ``href``, then an explode + a CASE
  ladder classifies each link (absolute / protocol-relative /
  root-relative / other-scheme) and resolves the DESTINATION HOST
  without ever leaving whole-stage codegen. For the host graph you
  never need full RFC 3986 reference resolution: a relative link by
  definition stays on the source host. (Full-URL outlinks for a crawl
  frontier, which DO need ``urljoin`` semantics, are
  :func:`outlinks_df` — an Arrow-batched pandas path.)
- **The graph is tiny relative to the corpus.** 100 TB of pages is
  ~10^10 documents but only ~10^7-10^8 hosts; the edge list after
  ``groupBy(src,dst)`` is orders of magnitude smaller than the input.
  All the heavy lifting (href explode, host resolution) is a narrow
  projection; the only wide ops are the edge aggregation and the
  per-iteration contribution shuffle, both on the SMALL host graph.
- **PageRank is the textbook power iteration** (Page et al. 1999,
  "The PageRank Citation Ranking") expressed as DataFrame joins:
  rank/out-weight contributions shuffled to their destinations, a
  damping mix-in, dangling-node mass redistributed uniformly.
  Dangling mass is computed IN-PLAN from the contribution total (a
  one-row aggregate broadcast back), so an iteration adds no driver
  action; ``localCheckpoint`` every few iterations truncates the
  otherwise exponentially deepening lineage (on a real cluster
  prefer ``spark.sparkContext.setCheckpointDir`` + ``checkpoint``
  for fault tolerance; local mode has no reliable store).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vectra_py_spark.functions.urls import host_of

__all__ = [
    "host_edges",
    "host_graph",
    "host_pagerank",
    "host_degrees",
    "outlinks_df",
    "crawl_frontier",
    "warc_host_graph",
    "host_hits",
    "host_components",
    "schedule_fetches",
]

# one capture group: the href value, either quote style
_HREF_PATTERN = r"""(?i)<a\s[^>]*href\s*=\s*["']([^"']+)["']"""

# schemes that never produce a fetchable http(s) destination
_NON_HTTP_SCHEME = r"(?i)^(javascript|mailto|tel|data|ftp|file|about):"


def _dst_host(href: Column, src_host: Column) -> Column:
    """href string → destination HOST under the crawl-graph rules:
    absolute http(s) → its own host; protocol-relative ``//h/p`` →
    ``h``; any other explicit scheme → NULL (not a web destination);
    everything else (root-relative, relative, bare fragment/query) →
    the source host."""
    clean = F.split(F.trim(href), "#").getItem(0)
    return (
        F.when(clean.rlike(_NON_HTTP_SCHEME), F.lit(None))
        .when(clean.rlike(r"^(?i)https?://"), host_of(clean))
        .when(
            clean.startswith("//"),
            host_of(F.concat(F.lit("http:"), clean)),
        )
        # any other explicit scheme (urn:, chrome:, ...) → NULL
        .when(clean.rlike(r"^[A-Za-z][A-Za-z0-9+.-]*:"), F.lit(None))
        .otherwise(src_host)
    )


def host_edges(
    df: DataFrame,
    url_col: str = "url",
    html_col: str = "text",
    drop_self: bool = True,
) -> DataFrame:
    """(page url, raw html) rows → one (src, dst) host pair per
    outlink. Pure Catalyst: regexp_extract_all → explode → CASE
    ladder; no Python, no shuffle (the explode is a narrow op).
    ``drop_self`` removes same-host edges (the usual choice for
    ranking: intra-site navigation says nothing about authority)."""
    src = host_of(F.col(url_col))
    hrefs = F.regexp_extract_all(
        F.col(html_col), F.lit(_HREF_PATTERN), F.lit(1)
    )
    edges = (
        df.select(
            src.alias("src"),
            F.explode(hrefs).alias("href"),
        )
        .filter(F.col("src").isNotNull())
        .select("src", _dst_host(F.col("href"), F.col("src")).alias("dst"))
        .filter(F.col("dst").isNotNull() & (F.col("dst") != ""))
    )
    if drop_self:
        edges = edges.filter(F.col("src") != F.col("dst"))
    return edges


def host_graph(
    df: DataFrame, url_col: str = "url", html_col: str = "text"
) -> DataFrame:
    """Pages → weighted host edge list (src, dst, n_links). One hash
    aggregate over the exploded hrefs; output is host-graph-sized
    (tiny vs the corpus)."""
    return (
        host_edges(df, url_col=url_col, html_col=html_col)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n_links"))
    )


def host_degrees(edges: DataFrame) -> DataFrame:
    """Weighted edge list → per-host (host, out_degree, in_degree,
    out_links, in_links): degree = distinct neighbor count, links =
    edge-weight sum. Full outer join of the two aggregates so
    source-only and sink-only hosts both appear."""
    w = F.coalesce(F.col("n_links"), F.lit(1)).alias("w")
    out = edges.select("src", "dst", w).groupBy("src").agg(
        F.countDistinct("dst").alias("out_degree"),
        F.sum("w").alias("out_links"),
    )
    inn = edges.select("src", "dst", w).groupBy("dst").agg(
        F.countDistinct("src").alias("in_degree"),
        F.sum("w").alias("in_links"),
    )
    return (
        out.withColumnRenamed("src", "host")
        .join(inn.withColumnRenamed("dst", "host"), "host", "full_outer")
        .select(
            "host",
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
            F.coalesce("out_links", F.lit(0)).alias("out_links"),
            F.coalesce("in_links", F.lit(0)).alias("in_links"),
        )
    )


def host_pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iterations: int = 10,
    weighted: bool = True,
    # per-iteration truncation at the double-consumed contribution
    # frame (see loop comment); interval 1 measured >2x faster than
    # the old interval-3 rank checkpoints at sf0.1, identical values
    checkpoint_interval: int = 1,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """Edge list (src, dst[, n_links]) → (host, rank), the power
    iteration with teleport and dangling-mass redistribution:

        rank'(v) = (1-d)·t(v) + d * (Σ_{u→v} rank(u)·w(u→v)/out_w(u)
                                      + dangling_mass·t(v))

    With ``seeds=None`` the teleport vector t is uniform (1/N — the
    classic ranking). With ``seeds`` (a one-column frame of hosts) t
    is 1/|S| on the seed set and 0 elsewhere — PERSONALIZED PageRank
    (Haveliwala 2002, topic-sensitive PageRank), the trust-propagation
    curation move: rank becomes "random-surfer distance from trusted
    domains", so link-farmed hosts with no path from the seed set
    score ~0 no matter how densely they interlink. Ranks start at t
    and sum to 1 every iteration either way (dangling mass recovered
    in-plan as ``1 - Σ contributions`` via a one-row broadcast
    aggregate — no per-iteration driver action).

    ``weighted=True`` splits a host's rank across its outlinks
    proportionally to ``n_links`` (multigraph PageRank); ``False``
    splits uniformly per distinct neighbor.

    Iterations are a fixed count, not a convergence test: fixed N is
    deterministic, plan-fingerprintable, and SQL-twinnable (an
    unrolled CTE chain computes the identical value), and 10-20
    iterations is standard for crawl prioritization (Page et al.
    1999 report useful rankings long before full convergence).
    """
    if not 0.0 < damping < 1.0:
        raise ValueError(f"damping must be in (0,1), got {damping}")
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    w = (
        F.col("n_links").cast("double")
        if weighted and "n_links" in edges.columns
        else F.lit(1.0)
    )
    e = edges.select("src", "dst", w.alias("w"))
    # persist-once discipline: `base` (the distinct host set) is cached
    # only until the derived teleport frame is materialized, then
    # released — an intermediate left persisted here accumulates a
    # host-sized cached frame per call in the shared JVM
    base = (
        e.select(F.col("src").alias("host"))
        .union(e.select(F.col("dst").alias("host")))
        .distinct()
        .persist()
    )
    if seeds is not None:
        seed_hosts = seeds.select(
            F.col(seeds.columns[0]).alias("host")
        ).distinct()
        joined = base.join(
            seed_hosts.withColumn("__seed", F.lit(1)), "host", "left"
        ).persist()
        n_seeds = joined.filter(F.col("__seed").isNotNull()).count()
        if n_seeds == 0:
            joined.unpersist()
            base.unpersist()
            raise ValueError(
                "host_pagerank: no seed host appears in the graph"
            )
        nodes = joined.select(
            "host",
            F.when(F.col("__seed").isNotNull(), F.lit(1.0 / n_seeds))
            .otherwise(F.lit(0.0))
            .alias("t"),
        ).persist()
        nodes.count()  # materialize before releasing the parents
        joined.unpersist()
        base.unpersist()
    else:
        n = base.count()
        if n == 0:
            out = base.select("host", F.lit(0.0).alias("rank"))
            base.unpersist()  # empty frame, right schema
            return out
        nodes = base.select("host", F.lit(1.0 / n).alias("t")).persist()
        nodes.count()  # materialize before releasing the parent
        base.unpersist()
    out_w = e.groupBy("src").agg(F.sum("w").alias("out_w"))
    # transition probabilities, one edge row each — persisted once,
    # reused every iteration
    trans = (
        e.join(out_w, "src")
        .select("src", "dst", (F.col("w") / F.col("out_w")).alias("p"))
        .persist()
    )
    ranks = nodes.select("host", F.col("t").alias("rank"))
    for i in range(iterations):
        contribs = (
            trans.join(ranks, trans["src"] == ranks["host"])
            .groupBy("dst")
            .agg(F.sum(F.col("p") * F.col("rank")).alias("contrib"))
        )
        # Truncate lineage at the DOUBLE-CONSUMED frame: ``contribs``
        # feeds both the dangling-mass aggregate and the rank join, so
        # an un-materialized iteration evaluates its whole subtree
        # twice — compounding ×2 per iteration inside a checkpoint
        # window. Checkpointing contribs (host-sized, cheap at any
        # scale) instead of ranks makes every iteration execute its
        # chain exactly once: measured 4.8–6.9 s → 2.2–2.4 s for the
        # 6-iteration sf0.1 registry query, values identical (guide
        # §1.2 "remove unnecessary passes" applied to the loop body).
        if checkpoint_interval and (i + 1) % checkpoint_interval == 0:
            contribs = contribs.localCheckpoint()
        # dangling mass = total rank (1.0) minus what flowed through
        # edges; one-row aggregate, broadcast back into the plan
        flowed = contribs.agg(F.sum("contrib").alias("flowed"))
        ranks = (
            nodes.join(contribs, nodes["host"] == contribs["dst"], "left")
            .crossJoin(F.broadcast(flowed))
            .select(
                nodes["host"],
                (
                    F.lit(1.0 - damping) * nodes["t"]
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("contrib"), F.lit(0.0))
                        + (F.lit(1.0) - F.coalesce("flowed", F.lit(0.0)))
                        * nodes["t"]
                    )
                ).alias("rank"),
            )
        )
    # materialize the result, then RELEASE the working set: persisted
    # frames left behind by every call accumulate in the shared JVM
    # (a full test session OOMed a 1g driver heap exactly this way)
    ranks = ranks.localCheckpoint()
    trans.unpersist()
    nodes.unpersist()
    return ranks


def host_hits(
    edges: DataFrame,
    iterations: int = 10,
    weighted: bool = True,
    # per-ITERATION truncation, tighter than host_pagerank's 3: each
    # HITS iteration's L1 totals are consumed twice (raw aggregate +
    # normalize), so un-truncated lineage recomputes the subtree ~4x
    # per extra iteration (~64x at interval 3 — measured as a
    # ~1,300-stage job on a 40-host toy graph). One checkpoint per
    # iteration (the h_raw aggregate; the a-phase lives inside the
    # same job and reuses its own exchange). The checkpoint itself is
    # host-sized and cheap at any scale; values are identical at any
    # interval.
    checkpoint_interval: int = 1,
) -> DataFrame:
    """Edge list → (host, hub, authority): Kleinberg's HITS (1999,
    "Authoritative Sources in a Hyperlinked Environment") — the
    complement to PageRank for crawl seeding: AUTHORITIES are the
    pages worth fetching, HUBS are the directories/aggregators worth
    re-crawling for frontier discovery. Fixed-count mutual iteration,

        a(v) ← Σ_{u→v} h(u)·w ;  h(u) ← Σ_{u→v} a(v)·w

    each L1-normalized per step (sums to 1 — normalization is a
    one-row broadcast aggregate, no driver action). Hosts with no
    inlinks have authority 0, no outlinks hub 0; both scores reported
    for every host. Same scale shape as :func:`host_pagerank`: the
    iteration shuffles only the host-sized edge list."""
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    w = (
        F.col("n_links").cast("double")
        if weighted and "n_links" in edges.columns
        else F.lit(1.0)
    )
    e = edges.select("src", "dst", w.alias("w")).persist()
    nodes = (
        e.select(F.col("src").alias("host"))
        .union(e.select(F.col("dst").alias("host")))
        .distinct()
        .persist()
    )
    n = nodes.count()
    if n == 0:
        return nodes.select(
            "host", F.lit(0.0).alias("hub"), F.lit(0.0).alias("authority")
        )
    hubs = nodes.select("host", F.lit(1.0 / n).alias("h"))
    auths = None
    for i in range(iterations):
        # The LAST iteration always truncates (independent of the
        # interval phase): the final a_raw/h_raw feed both the loop and
        # the output join, and with an off-phase interval (e.g. 3 over
        # 10 iterations) the output's localCheckpoint job would re-run
        # the whole un-truncated tail.
        last = i == iterations - 1
        do_ckpt = bool(
            checkpoint_interval
            and ((i + 1) % checkpoint_interval == 0 or last)
        )
        a_raw = (
            e.join(hubs, e["src"] == hubs["host"])
            .groupBy("dst")
            .agg(F.sum(F.col("w") * F.col("h")).alias("a"))
        )
        # The loop carries only the RAW-aggregate rows: hosts absent
        # from a_raw/h_raw have score exactly +0.0, and a +0.0 addend
        # can never change an IEEE sum of non-negative terms, so the
        # zero rows the old per-step `nodes` left-join re-attached were
        # mathematically inert inside the loop — they exist only for
        # the final report, attached ONCE after the loop. Normalizing
        # as a projection over the raw aggregate (score / broadcast L1
        # total) also lets the L1-total branch and the normalize branch
        # share one physical scan of the same shuffle (identical
        # subtrees in ONE job reuse the exchange), so each iteration is
        # ONE checkpoint job carrying ONE host-sized join per phase —
        # half the checkpoint jobs and half the joins of the old
        # two-checkpoint shape (measured on the
        # 10-iteration sf0.1 registry query: 96 → 80 driver jobs
        # counting AQE stage materializations; values agree to the
        # last 1–2 ulps — a summation-order effect — and the 6-dp
        # registry output is oracle-identical at every SF).
        if do_ckpt and last:
            # the final auths feeds BOTH the last h_raw and the output
            # join; truncate so the output job doesn't re-run the chain
            a_raw = a_raw.localCheckpoint()
        a_tot = a_raw.agg(F.sum("a").alias("t"))
        auths = a_raw.crossJoin(F.broadcast(a_tot)).select(
            F.col("dst").alias("host"),
            (F.col("a") / F.coalesce(F.col("t"), F.lit(1.0))).alias("a"),
        )
        h_raw = (
            e.join(auths, e["dst"] == auths["host"])
            .groupBy("src")
            .agg(F.sum(F.col("w") * F.col("a")).alias("hh"))
        )
        if do_ckpt:
            h_raw = h_raw.localCheckpoint()
        h_tot = h_raw.agg(F.sum("hh").alias("t"))
        hubs = h_raw.crossJoin(F.broadcast(h_tot)).select(
            F.col("src").alias("host"),
            (F.col("hh") / F.coalesce(F.col("t"), F.lit(1.0))).alias("h"),
        )
    out = (
        nodes.join(hubs, "host", "left")
        .join(auths.withColumnRenamed("a", "authority"), "host", "left")
        .select(
            "host",
            F.coalesce(F.col("h"), F.lit(0.0)).alias("hub"),
            F.coalesce(F.col("authority"), F.lit(0.0)).alias("authority"),
        )
    )
    # materialize, then release the working set (see host_pagerank)
    out = out.localCheckpoint()
    e.unpersist()
    nodes.unpersist()
    return out


def host_components(edges: DataFrame, max_iter: int = 10) -> DataFrame:
    """Host edge list → (host, component): connected components over
    the UNDIRECTED host graph (`cluster.py::connected_components`'s
    min-label propagation — the same machinery that clusters near-dup
    documents). The site-family detector: mirrors, CDN aliases, and
    link-wheel clusters land in one component; per-component quotas
    then bound any single operator's share of a corpus the way
    per-host caps bound one host."""
    from vectra_py_spark.operators.cluster import connected_components

    return connected_components(
        edges, src="src", dst="dst", max_iter=max_iter
    ).select(F.col("node").alias("host"), F.col("comp").alias("component"))


def warc_host_graph(records: DataFrame) -> DataFrame:
    """WARC record rows (``read_warc``'s WARC_SCHEMA) → the weighted
    host edge list, directly: HTML response records are selected and
    decoded IN CATALYST via ``make_valid_utf8(cast(payload as
    string))`` — the binary→string cast copies bytes unvalidated and
    ``make_valid_utf8`` substitutes U+FFFD for malformed sequences
    (Python ``errors='replace'`` semantics), so one mis-labeled page
    quarantines to mojibake instead of failing the job. (Plain
    ``decode(payload,'UTF-8')`` raises MALFORMED_CHARACTER_CODING on
    Spark 4 — crawl charsets lie, so that path is a job-killer.)
    This is the WAT-style derivation: link structure extracted from
    an archive without the payloads ever entering a shuffle."""
    html = records.filter(
        (F.col("warc_type") == "response")
        & F.col("error").isNull()
        & F.col("url").isNotNull()
        & F.col("content_type").startswith("text/html")
    ).select(
        "url",
        F.make_valid_utf8(F.col("payload").cast("string")).alias("text"),
    )
    return host_graph(html)


def crawl_frontier(
    pages: DataFrame,
    crawled: DataFrame,
    robots: DataFrame | None = None,
    ranks: DataFrame | None = None,
    url_col: str = "url",
    html_col: str = "text",
    agent: str = "*",
    per_host_limit: int | None = None,
) -> DataFrame:
    """Fetched pages → the prioritized NEXT wave: the acquisition-loop
    composition the individual pieces exist for.

    1. :func:`outlinks_df` — full-URL outlinks (urljoin semantics)
    2. canonical-URL dedup (``functions/urls.py``): one candidate per
       canonical form, keeping the bytewise-min spelling and counting
       referring pages (``n_refs`` — a free popularity prior)
    3. anti-join against the already-crawled set ON CANONICAL FORM
       (spelling variants of a crawled page don't re-enter)
    4. optional robots filter (:func:`robots.filter_robots_df` —
       per-host broadcast join, adds ``crawl_delay``)
    5. optional priority join against :func:`host_pagerank` output
       (host-graph-sized, broadcastable), ``rank`` defaulting to 0
       for unknown hosts; sort key = (rank, n_refs) descending
    6. optional ``per_host_limit`` — a row_number window per host, the
       politeness cap that also bounds any single host's share of the
       next wave (skew control: one mega-site cannot monopolize it)

    Scale shape: the only wide ops are the canonical-dedup aggregate,
    the anti-join (both on the frontier, which is outlink-sized, far
    smaller than the page corpus) and the optional per-host window;
    robots and rank joins broadcast."""
    from vectra_py_spark.functions.urls import canonical_url, host_of

    cand = (
        outlinks_df(pages, url_col=url_col, html_col=html_col)
        .withColumn("canonical_url", canonical_url("outlink"))
        .filter(F.col("canonical_url").isNotNull())
        .groupBy("canonical_url")
        .agg(
            F.min("outlink").alias("url"),
            F.countDistinct("src_url").alias("n_refs"),
        )
    )
    seen = crawled.select(
        canonical_url(url_col).alias("canonical_url")
    ).filter(F.col("canonical_url").isNotNull()).distinct()
    frontier = cand.join(seen, "canonical_url", "left_anti")
    if robots is not None:
        from vectra_py_spark.operators.robots import filter_robots_df

        frontier = filter_robots_df(frontier, robots, agent=agent)
    frontier = frontier.withColumn("host", host_of(F.col("url")))
    if ranks is not None:
        frontier = frontier.join(
            F.broadcast(ranks), "host", "left"
        ).withColumn("rank", F.coalesce("rank", F.lit(0.0)))
    else:
        frontier = frontier.withColumn("rank", F.lit(0.0))
    if per_host_limit is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("host").orderBy(
            F.desc("n_refs"), F.asc("url")
        )
        frontier = (
            frontier.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= per_host_limit)
            .drop("__rn")
        )
    return frontier.orderBy(
        F.desc("rank"), F.desc("n_refs"), F.asc("url")
    )


def outlinks_df(
    df: DataFrame, url_col: str = "url", html_col: str = "text"
) -> DataFrame:
    """(page url, raw html) → one row per FULL outlink URL
    (src_url, outlink), with proper RFC 3986 reference resolution
    (``urljoin``: dot segments, relative paths, protocol-relative) —
    the crawl-frontier feed, where the exact URL matters. Arrow-batched
    pandas path (urljoin is not expressible in Catalyst); narrow, no
    shuffle — downstream canonicalization/dedup provides the wide op."""
    import re
    from urllib.parse import urljoin

    import pandas as pd

    href_re = re.compile(_HREF_PATTERN)
    scheme_re = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*:")
    skip_re = re.compile(_NON_HTTP_SCHEME)

    def run(batches):
        for pdf in batches:
            srcs: list[str] = []
            links: list[str] = []
            for url, html in zip(pdf[url_col], pdf[html_col]):
                if html is None:
                    continue
                for href in href_re.findall(str(html)):
                    href = href.split("#", 1)[0].strip()
                    if not href or skip_re.match(href):
                        continue
                    if scheme_re.match(href) and not href.lower().startswith(
                        ("http:", "https:")
                    ):
                        continue
                    srcs.append(str(url))
                    links.append(urljoin(str(url), href))
            yield pd.DataFrame({"src_url": srcs, "outlink": links})

    return df.select(url_col, html_col).mapInPandas(
        run, schema="src_url STRING, outlink STRING"
    )


def schedule_fetches(
    frontier: DataFrame,
    default_delay: float = 1.0,
    n_workers: int | None = None,
    url_col: str = "url",
    host_col: str = "host",
) -> DataFrame:
    """Prioritized frontier → POLITE fetch slots: per host, URLs are
    serialized in priority order (rank desc, n_refs desc, url asc —
    the :func:`crawl_frontier` sort) and the k-th URL of a host is
    scheduled at ``(k-1) * delay`` seconds, with ``delay`` the host's
    robots ``crawl_delay`` (when the frontier carries one) else
    ``default_delay``. With ``n_workers``, each host pins to ONE
    worker (``xxhash64(host) mod n_workers``) so politeness holds
    even when fetchers are distributed — a host's slots never race
    across workers.

    Output: frontier columns + (slot, fetch_at_s, worker?). One
    window per host + a codegen'd projection — frontier-sized, no
    payloads, no driver action; the wave's makespan is just
    ``max(fetch_at_s)`` per worker. Cho & Garcia-Molina 2003 politely
    bound per-host rate exactly this way (fixed inter-access delay)."""
    cols = frontier.columns
    delay = (
        F.coalesce(F.col("crawl_delay"), F.lit(float(default_delay)))
        if "crawl_delay" in cols
        else F.lit(float(default_delay))
    )
    order = [F.desc("rank")] if "rank" in cols else []
    if "n_refs" in cols:
        order.append(F.desc("n_refs"))
    order.append(F.asc(url_col))
    from pyspark.sql import Window

    w = Window.partitionBy(host_col).orderBy(*order)
    out = (
        frontier.withColumn("slot", F.row_number().over(w).cast("int"))
        .withColumn(
            "fetch_at_s",
            ((F.col("slot") - F.lit(1)) * delay).cast("double"),
        )
    )
    if n_workers is not None:
        if n_workers < 1:
            raise ValueError(f"n_workers must be >= 1, got {n_workers}")
        out = out.withColumn(
            "worker",
            F.pmod(F.xxhash64(F.col(host_col)), F.lit(n_workers))
            .cast("int"),
        )
    return out
