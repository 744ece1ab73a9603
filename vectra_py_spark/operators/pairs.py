"""Image-text pair mining from crawled HTML — the LAION recipe
(Schuhmann et al. 2021, "LAION-400M: Open Dataset of CLIP-Filtered
400 Million Image-Text Pairs"): every ``<img>`` tag whose ``alt``
text survives a quality gate becomes a candidate (image_url, caption)
training pair. This is how the public web-scale image-text corpora
(LAION, and the same construction in WebLI / DataComp) are built from
Common Crawl, and it is the multimodal sibling of this repo's
bitext mining: acquisition produces CANDIDATE pairs cheaply; dedup
and similarity filtering (phash_neardup_pairs, embedding cosine)
provide the wide ops downstream. Reference tie-in: the reference's
fetch→extract path (document_fetcher.py) keeps only page text; this
operator keeps the image-caption structure that path discards.

Implementation is PURE CATALYST: ``regexp_extract_all`` collects the
``<img ...>`` tags (one codegen'd pass over the page), ``posexplode``
makes one row per tag, and per-tag attribute extraction, entity
unescape, URL resolution, and the alt-quality gate are all column
expressions — caption mining for 10^10 pages is one narrow generator
pass, no Python, no shuffle. The only wide op is the OPTIONAL
corpus-level dedup (:func:`dedup_image_text_pairs`), a hash
aggregation on (image_url, caption).

URL resolution covers the four forms that dominate real markup
(absolute http/https, protocol-relative ``//host/p``, root-relative
``/p``, and directory-relative ``p``); ``..`` dot segments are kept
literally (documented simplification — ``outlinks_df`` in
linkgraph.py is the urljoin-exact path when a frontier needs it).
``data:`` / ``javascript:`` and other non-http schemes are dropped.

The alt-quality gate is the published one: alt present, length within
[min_alt_chars, max_alt_chars] after trimming, and (optionally) not a
bare image filename — the "IMG_1234.jpg" alts that caption nothing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "image_text_pairs_df",
    "dedup_image_text_pairs",
    "fetch_images_df",
    "mine_image_corpus",
]

_IMG_TAG = r"(?is)<img\b[^>]*>"
# attribute value, one pattern per quote style so a mismatched quote
# cannot span attributes; (?<![\w-]) keeps `data-src` from matching
_SRC_DQ = r"""(?is)(?<![\w-])src\s*=\s*"([^"]*)\""""
_SRC_SQ = r"(?is)(?<![\w-])src\s*=\s*'([^']*)'"
_ALT_DQ = r"""(?is)(?<![\w-])alt\s*=\s*"([^"]*)\""""
_ALT_SQ = r"(?is)(?<![\w-])alt\s*=\s*'([^']*)'"
_FILENAMEY = r"(?i)^[\w ./-]*\.(jpe?g|png|gif|webp|bmp|svg|tiff?)$"


def _unescape5(c: Column) -> Column:
    for ent, ch in (
        ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
        ("&#39;", "'"), ("&amp;", "&"),  # amp LAST (double-escapes)
    ):
        c = F.replace(c, F.lit(ent), F.lit(ch))
    return c


def _attr(tag: Column, dq: str, sq: str) -> Column:
    got = F.coalesce(
        F.nullif(F.regexp_extract(tag, dq, 1), F.lit("")),
        F.nullif(F.regexp_extract(tag, sq, 1), F.lit("")),
    )
    return got


def _resolve_src(src: Column, page_url: Column) -> Column:
    """Absolute URL for ``src`` against ``page_url`` — Catalyst CASE
    over the four common reference forms; non-http(s) schemes → NULL."""
    page = F.regexp_replace(page_url, r"[?#].*$", "")
    origin = F.regexp_extract(page, r"^([A-Za-z][\w+.-]*://[^/?#]+)", 1)
    scheme = F.regexp_extract(page, r"^([A-Za-z][\w+.-]*):", 1)
    path_dir = F.regexp_extract(page, r"^[A-Za-z][\w+.-]*://[^/?#]+(.*/)", 1)
    base = F.concat(
        origin,
        F.when(path_dir == "", F.lit("/")).otherwise(path_dir),
    )
    has_scheme = src.rlike(r"^[A-Za-z][A-Za-z0-9+.-]*:")
    is_http = src.rlike(r"(?i)^https?://")
    return (
        F.when(src.startswith("//"), F.concat(scheme, F.lit(":"), src))
        .when(is_http, src)
        .when(has_scheme, F.lit(None))  # data:, javascript:, mailto:
        .when(src.startswith("/"), F.concat(origin, src))
        .otherwise(F.concat(base, src))
    )


def image_text_pairs_df(
    df: DataFrame,
    html_col: str = "text",
    url_col: str = "url",
    min_alt_chars: int = 5,
    max_alt_chars: int = 1000,
    drop_filenamey: bool = True,
) -> DataFrame:
    """(page url, html) rows → one row per surviving ``<img>`` tag:
    (page_url, img_idx, image_url, caption, caption_words).

    ``img_idx`` is the tag's position among ALL img tags on the page
    (including ones the gate later drops) so a pair is traceable back
    to its markup. ``caption`` is the entity-unescaped, trimmed alt
    text; ``caption_words`` its whitespace token count — the cheap
    quality signal downstream mixers weight by.

    One narrow codegen'd projection + generator; nothing shuffles.
    """
    h = F.col(html_col)
    tags = F.regexp_extract_all(h, F.lit(_IMG_TAG), 0)
    exploded = df.select(
        F.col(url_col).alias("page_url"),
        F.posexplode(tags).alias("img_idx", "tag"),
    )
    src = _attr(F.col("tag"), _SRC_DQ, _SRC_SQ)
    alt = F.trim(_unescape5(
        F.coalesce(
            F.nullif(F.regexp_extract(F.col("tag"), _ALT_DQ, 1), F.lit("")),
            F.nullif(F.regexp_extract(F.col("tag"), _ALT_SQ, 1), F.lit("")),
        )
    ))
    out = exploded.select(
        "page_url",
        "img_idx",
        _resolve_src(src, F.col("page_url")).alias("image_url"),
        alt.alias("caption"),
    ).where(
        F.col("image_url").isNotNull()
        & F.col("caption").isNotNull()
        & (F.length("caption") >= min_alt_chars)
        & (F.length("caption") <= max_alt_chars)
    )
    if drop_filenamey:
        out = out.where(~F.col("caption").rlike(_FILENAMEY))
    return out.select(
        "page_url", "img_idx", "image_url", "caption",
        F.size(F.split(F.col("caption"), r"\s+")).alias("caption_words"),
    )


def dedup_image_text_pairs(pairs: DataFrame) -> DataFrame:
    """Corpus-level exact pair dedup — the step LAION runs before any
    image fetch: the same (image_url, caption) pair appears on many
    pages (headers, product grids, mirrors), and fetching the image
    once is the entire point. One hash aggregation on the pair key;
    keeps the lexicographically-first page as provenance.

    Near-dup of the IMAGES behind the URLs is downstream
    (phash_neardup_pairs after fetch); near-dup of captions is
    minhash/simhash on the caption column.
    """
    return pairs.groupBy("image_url", "caption").agg(
        F.count(F.lit(1)).alias("n_pages"),
        F.min("page_url").alias("first_page"),
        F.max("caption_words").alias("caption_words"),
    )


# ---------------------------------------------------------------------------
# The closed acquisition loop: mine → dedup → schedule → fetch → image
# near-dup. Each stage existed separately (this module, linkgraph.py's
# schedule_fetches, imagehash.py's pHash family); this composition is
# the shape the LAION pipeline actually runs — img2dataset's
# fetch-and-dedup applied to the mined pair table.
# ---------------------------------------------------------------------------

_IMAGE_CONTENT_TYPES = (
    "image/jpeg", "image/png", "image/gif", "image/bmp", "image/webp",
    "image/x-portable-pixmap", "application/octet-stream",
)


def _http_image_transport(timeout: float):
    """Default transport: HTTP GET returning (payload_bytes,
    content_type), gated to image content types. Import-gated on
    `requests`; tests inject a deterministic transport instead."""

    def fetch(url: str) -> tuple[bytes, str]:
        import requests

        from vectra_py_spark.sources.fetchers import BROWSER_HEADERS

        resp = requests.get(url, headers=BROWSER_HEADERS, timeout=timeout)
        resp.raise_for_status()
        ctype = (
            (resp.headers.get("Content-Type") or "")
            .split(";")[0].strip().lower()
        )
        if ctype and ctype not in _IMAGE_CONTENT_TYPES:
            raise ValueError(f"disallowed content type {ctype!r} for {url}")
        return resp.content, ctype

    return fetch


def fetch_images_df(
    schedule: DataFrame,
    transport=None,
    url_col: str = "image_url",
    timeout: float = 30.0,
    n_workers: int | None = None,
    pace: bool = True,
) -> DataFrame:
    """Scheduled fetch slots → image payloads: input columns +
    (payload BINARY, content_type STRING, fetch_error STRING), one row
    per input row, failures quarantined per-row (the fetch survives a
    dead URL; the error column is filterable downstream).

    ``schedule`` is :func:`linkgraph.schedule_fetches` output — when
    it carries a ``worker`` column the fetch repartitions on it (each
    host's slots land on ONE task, so per-host politeness holds even
    distributed) and executes slots in ``fetch_at_s`` order inside the
    task, SLEEPING to honor each slot's offset against a per-task
    clock (``pace=True``, the default) — the inter-access delays
    `schedule_fetches` encoded are actually enforced, not just sorted
    by (sorting alone fired requests back-to-back).
    ``pace=False`` turns the schedule back into a pure ordering for
    hermetic replays. Without a worker column the input partitioning
    is used as-is (caller owns the request rate). ``transport`` is any
    ``url -> (bytes, content_type)`` callable; default is polite HTTP
    (import-gated on `requests` — tests and hermetic runs inject a
    local resolver).

    ``n_workers`` sets the exact partition count (pass it through from
    the schedule); omitted, the fetch hash-partitions on ``worker``
    into the session's shuffle partitions — per-host politeness holds
    under ANY worker-hash partitioning (a host never splits), the
    count only tunes parallelism, and deriving it exactly would cost
    an extra pass over the whole upstream plan.

    Scale shape: payloads are BORN here (nothing large shuffles in);
    the single repartition moves URL strings only."""
    import time

    from vectra_py_spark.session import map_rows
    from vectra_py_spark.sources.fetchers import _fetch_error_row

    fetch = transport if transport is not None \
        else _http_image_transport(timeout)
    src = schedule
    if "worker" in src.columns:
        src = (
            src.repartition(int(n_workers), "worker")
            if n_workers is not None
            else src.repartition("worker")
        )
        if "fetch_at_s" in src.columns:
            src = src.sortWithinPartitions("fetch_at_s")

    cols = src.columns
    ui = cols.index(url_col)
    si = cols.index("fetch_at_s") if pace and "fetch_at_s" in cols else None

    def make_row():
        # pacing clock per task: slot offsets are honored against the
        # FIRST slot the task sees, so consecutive same-host requests
        # keep their scheduled gap
        t0 = s0 = None

        def row(*values):
            nonlocal t0, s0
            if si is not None:
                slot = values[si]
                slot = float("nan") if slot is None else float(slot)
                if t0 is None:
                    t0, s0 = time.monotonic(), slot
                else:
                    wait = (slot - s0) - (time.monotonic() - t0)
                    if wait > 0:
                        time.sleep(wait)
            data, ctype = fetch(str(values[ui]))
            return [(*values, data, ctype, None)]

        return row

    return map_rows(
        src, cols, make_row,
        f"{src.schema.toDDL()}, payload BINARY, content_type STRING, "
        "fetch_error STRING",
        on_error=_fetch_error_row,  # quarantine, don't crash
        catch=(Exception,), per_task=True,
    )


def mine_image_corpus(
    pages: DataFrame,
    transport=None,
    html_col: str = "text",
    url_col: str = "url",
    n_workers: int = 8,
    default_delay: float = 1.0,
    radius: int = 7,
    timeout: float = 30.0,
    min_alt_chars: int = 5,
    max_alt_chars: int = 1000,
    pace: bool = True,
) -> dict[str, DataFrame]:
    """The LAION acquisition loop, composed end-to-end: (page url,
    html) rows → a fetched, perceptually-deduplicated image-text
    corpus. Returns a dict of every stage. Calling this function
    RUNS the pipeline once through the near-dup components step (label
    propagation is a driver-paced loop, so it cannot stay lazy); the
    fetch executes exactly once — its result is lineage-cut via a
    local checkpoint, and every downstream stage plans against that
    materialized table. Stages:

    - ``pairs``        — :func:`image_text_pairs_df` (pure Catalyst)
    - ``unique_pairs`` — :func:`dedup_image_text_pairs` (pre-fetch
      pair dedup: the same (image_url, caption) on many pages fetches
      ONCE — the bytes-touched bound this loop exists for)
    - ``urls``         — distinct image URLs + host (one fetch per
      URL even when it captions differently across pages)
    - ``schedule``     — :func:`linkgraph.schedule_fetches`: per-host
      serialized polite slots, each host pinned to one worker
    - ``fetched``      — :func:`fetch_images_df` over the schedule
    - ``hashes``       — ``media_phash_df`` over fetched payloads
      (per-row quarantine; junk URLs become error rows, not crashes)
    - ``neardup_pairs``— ``phash_neardup_pairs`` banded Hamming join
    - ``canonical``    — (image_url, canonical_url): every hashed URL
      mapped to its near-dup component representative (min URL;
      min-label propagation), identity for non-duplicates
    - ``corpus``       — unique_pairs ⋈ fetched payload ⋈ canonical,
      KEEPING only canonical images: one payload per perceptual
      image, captions of dropped duplicates re-attached to the
      representative via the canonical map (LAION keeps the caption
      even when the pixel dedup drops the copy's bytes)

    Scale shape: stages 1-2 are the only corpus-of-pages-sized ops
    (one generator pass + one pair-key aggregate); everything after
    runs on the URL/pair table. Payload bytes are born in the fetch
    tasks, hashed in ONE narrow Arrow pass, and never shuffle — the
    joins move 64-bit fingerprints and URL strings."""
    from vectra_py_spark.functions.urls import host_of
    from vectra_py_spark.operators.cluster import connected_components
    from vectra_py_spark.operators.imagehash import (
        media_phash_df,
        phash_neardup_pairs,
    )
    from vectra_py_spark.operators.linkgraph import schedule_fetches

    pairs = image_text_pairs_df(
        pages, html_col=html_col, url_col=url_col,
        min_alt_chars=min_alt_chars, max_alt_chars=max_alt_chars,
    )
    unique_pairs = dedup_image_text_pairs(pairs)
    urls = (
        unique_pairs.groupBy("image_url")
        .agg(
            F.sum("n_pages").alias("n_refs"),
            F.count(F.lit(1)).alias("n_captions"),
        )
        .withColumn("host", host_of(F.col("image_url")))
    )
    schedule = schedule_fetches(
        urls, default_delay=default_delay, n_workers=n_workers,
        url_col="image_url", host_col="host",
    )
    fetched = fetch_images_df(
        schedule, transport=transport, url_col="image_url",
        timeout=timeout, n_workers=n_workers, pace=pace,
    )
    # Lineage cut at the side-effect boundary (lazy localCheckpoint):
    # (a) a fetch must run EXACTLY ONCE however many downstream actions
    # consume it — politeness and cost, the img2dataset contract; (b)
    # every consumer below (hash, near-dup self-join, the components
    # loop's caches) plans against a shallow LogicalRDD instead of
    # multiplying the full mine→schedule→fetch tree into its self-joins
    # — un-truncated, the components cache's plan string alone grows to
    # heap-exhausting size at corpus scale.
    fetched = fetched.localCheckpoint(eager=False)
    ok = fetched.where(F.col("fetch_error").isNull())
    hashes = media_phash_df(
        ok.select(
            F.col("image_url").alias("media_id"),
            F.col("payload").alias("data"),
        )
    )
    good = hashes.where(F.col("error").isNull())
    neardup_pairs = phash_neardup_pairs(good, radius=radius)
    comp = connected_components(neardup_pairs, "id_a", "id_b")
    canonical = (
        good.select(F.col("media_id").alias("image_url"))
        .join(
            comp.select(
                F.col("node").alias("image_url"),
                F.col("comp").alias("canonical_url"),
            ),
            "image_url",
            "left",
        )
        .withColumn(
            "canonical_url",
            F.coalesce("canonical_url", F.col("image_url")),
        )
    )
    corpus = (
        unique_pairs.join(canonical, "image_url")
        .select(
            F.col("canonical_url").alias("image_url"),
            "caption", "caption_words", "n_pages", "first_page",
        )
        # one caption row per canonical image (copies' captions fold
        # into the representative; exact caption dups collapse)
        .groupBy("image_url", "caption")
        .agg(
            F.max("caption_words").alias("caption_words"),
            F.sum("n_pages").alias("n_pages"),
            F.min("first_page").alias("first_page"),
        )
        .join(
            ok.select(
                F.col("image_url"), "payload", "content_type"
            ),
            "image_url",
        )
    )
    return {
        "pairs": pairs,
        "unique_pairs": unique_pairs,
        "urls": urls,
        "schedule": schedule,
        "fetched": fetched,
        "hashes": hashes,
        "neardup_pairs": neardup_pairs,
        "canonical": canonical,
        "corpus": corpus,
    }
