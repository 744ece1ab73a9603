"""CLI (SURVEY.md §2.8 D9) — thin argparse wrapper over the engine.

Verbs mirror the reference's CLI (``vectra-cli.py:11-156``, fixed per
§2.9.11: the reference never awaited its coroutine and called
constructors that don't exist): create / delete / add / remove / stats /
query, with ``--uri --list --chunk-size --document-count --chunk-count
--section-count --tokens --format``.

Usage::

    python -m vectra_py_spark.cli create --index /tmp/idx
    python -m vectra_py_spark.cli add --index /tmp/idx --uri ./docs/a.md
    python -m vectra_py_spark.cli query --index /tmp/idx "what is ..."
"""

from __future__ import annotations

import argparse
import json
import sys

from vectra_py_spark.document_index import SparkDocumentIndex
from vectra_py_spark.session import get_spark
from vectra_py_spark.sources.fetchers import FileFetcher, WebFetcher


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="vectra-py-spark", description=__doc__)
    p.add_argument(
        "--index",
        help="index base path (required for every verb except "
        "dedup-media, which is a pure folder scan)",
    )
    p.add_argument("--chunk-size", type=int, default=512)
    p.add_argument("--vector-dim", type=int, default=64)
    p.add_argument(
        "--keys",
        help="JSON key file for a REST embeddings provider (S14; "
        '{"api_key": ..., "model"?: ..., "endpoint"?: ...}). '
        "Without it the deterministic hermetic embedder is used.",
    )
    sub = p.add_subparsers(dest="verb", required=True)

    sub.add_parser("create", help="create a new (empty) document index")
    dm = sub.add_parser(
        "dedup-media",
        help="scan a folder of media, report image near-dup pairs "
        "(perceptual hash) and audio copies (constellation match)",
    )
    dm.add_argument("--path", required=True, help="media folder")
    dm.add_argument("--radius", type=int, default=7,
                    help="image Hamming radius (radius+1 must divide 64)")
    dm.add_argument("--min-matches", type=int, default=40,
                    help="aligned-hash threshold for audio copies")
    dm.add_argument("--min-aligned", type=int, default=3,
                    help="aligned-frame threshold for video copies")
    mp = sub.add_parser(
        "mine-pairs",
        help="scan a folder of HTML pages, mine (image_url, caption) "
        "training pairs from img alt text (the LAION recipe) and "
        "report/write the deduplicated pair table",
    )
    mp.add_argument("--path", required=True, help="HTML folder")
    mp.add_argument("--out", help="parquet path for the deduped pairs")
    mp.add_argument("--min-alt-chars", type=int, default=5)
    mp.add_argument("--max-alt-chars", type=int, default=1000)
    mi = sub.add_parser(
        "mine-images",
        help="the full LAION loop: mine pairs from an HTML folder, "
        "dedup, schedule polite fetches, fetch the images, pHash-dedup "
        "them, and report/write the canonical image-text corpus",
    )
    mi.add_argument("--path", required=True, help="HTML folder")
    mi.add_argument(
        "--image-root",
        help="hermetic transport: resolve each image URL's basename "
        "in this folder instead of HTTP (the no-network mode; "
        "omit to fetch over HTTP)",
    )
    mi.add_argument("--out", help="parquet path for the corpus")
    mi.add_argument("--workers", type=int, default=8)
    mi.add_argument("--delay", type=float, default=1.0,
                    help="per-host politeness delay (seconds)")
    mi.add_argument("--radius", type=int, default=7,
                    help="pHash Hamming radius (radius+1 must divide 64)")
    mi.add_argument("--min-alt-chars", type=int, default=5)
    mi.add_argument("--max-alt-chars", type=int, default=1000)
    sub.add_parser("delete", help="delete the index contents")
    sub.add_parser("stats", help="print catalog stats")

    add = sub.add_parser("add", help="fetch + ingest documents")
    add.add_argument("--uri", action="append", default=[], help="file path or URL")
    add.add_argument("--list", dest="uri_list", help="file with one URI per line")

    ing = sub.add_parser(
        "ingest-folder",
        help="bulk-ingest a directory of mixed documents (pdf / docx / "
        "pptx / xlsx / odt / epub / rtf / doc / ppt / xls / html / txt, "
        "dispatched on magic bytes) straight into the index — the "
        "distributed twin of repeated `add` calls",
    )
    ing.add_argument("path", help="directory or glob of document files")
    ing.add_argument("--min-chars", type=int, default=1)

    inga = sub.add_parser(
        "ingest-archives",
        help="bulk-ingest TAR/ZIP bundles of mixed documents (the "
        "packed shape for millions of small files: one listing over "
        "archives, members dispatched on magic bytes like "
        "ingest-folder)",
    )
    inga.add_argument("path", help="directory or glob of TAR/ZIP bundles")
    inga.add_argument("--min-chars", type=int, default=1)

    rem = sub.add_parser("remove", help="delete a document by uri")
    rem.add_argument("--uri", required=True)

    cc = sub.add_parser(
        "chat-curate",
        help="parse a JSONL conversation dump (one {conv_id, messages} "
        "object per line), validate the SFT structural contract, dedup "
        "on the assistant transcript, report counts; --out writes the "
        "valid canonical turn rows as parquet",
    )
    cc.add_argument("--path", required=True, help="JSONL file or folder")
    cc.add_argument("--out", help="parquet path for surviving turns")

    bt = sub.add_parser(
        "bt-rank",
        help="fit Bradley-Terry strengths (Hunter 2004 MM) over a "
        "parquet of pairwise comparisons and print the leaderboard",
    )
    bt.add_argument("--path", required=True, help="comparisons parquet")
    bt.add_argument("--winner-col", default="winner")
    bt.add_argument("--loser-col", default="loser")
    bt.add_argument("--iterations", type=int, default=8)
    bt.add_argument("--top", type=int, default=20)
    bt.add_argument("--out", help="parquet path for the full table")

    eg = sub.add_parser(
        "eval-gen",
        help="corpus BLEU + ROUGE-1/2 over a parquet of (candidate, "
        "reference) text pairs",
    )
    eg.add_argument("--path", required=True, help="pairs parquet")
    eg.add_argument("--candidate-col", default="candidate")
    eg.add_argument("--reference-col", default="reference")
    eg.add_argument("--id-col", default="pair_id")

    opt = sub.add_parser(
        "optimize",
        help="compact small files accreted by per-commit DML "
        "(bucket-by-bucket; layout and meta side-file preserved)",
    )
    opt.add_argument("--target-mb", type=int, default=128)

    exp = sub.add_parser(
        "export",
        help="export the document table into hash-balanced training "
        "shards (deterministic pseudo-shuffle + manifest.json)",
    )
    exp.add_argument("out_path")
    exp.add_argument("--shards", type=int, default=8)
    exp.add_argument("--salt", default="export:v1")

    q = sub.add_parser("query", help="query the index")
    q.add_argument("text")
    q.add_argument("--document-count", type=int, default=10)
    q.add_argument("--chunk-count", type=int, default=50)
    q.add_argument("--section-count", type=int, default=1)
    q.add_argument("--tokens", type=int, default=2000)
    q.add_argument(
        "--format", choices=["sections", "stats", "chunks"], default="sections"
    )
    return p


def _expand_uris(args: argparse.Namespace) -> list[str]:
    """S15: one-URI-or-list-file expansion — plain lines, or the
    reference pipeline's ``{"filings": [{..., "url": ...}]}`` JSON shape
    (``vectra-pipeline.py:47-57``)."""
    uris = list(args.uri)
    if args.uri_list:
        with open(args.uri_list, encoding="utf-8") as fh:
            body = fh.read()
        if args.uri_list.endswith(".json"):
            payload = json.loads(body)
            uris.extend(
                f["url"] for f in payload.get("filings", []) if f.get("url")
            )
        else:
            uris.extend(ln.strip() for ln in body.splitlines() if ln.strip())
    return uris


def _embedder_factory(args: argparse.Namespace):
    """S14: --keys JSON file → REST provider; absent → deterministic."""
    if not args.keys:
        return None
    with open(args.keys, encoding="utf-8") as fh:
        keys = json.load(fh)

    from vectra_py_spark.embeddings import OpenAIEmbedder

    def factory():
        return OpenAIEmbedder(
            api_key=keys["api_key"],
            model=keys.get("model", "text-embedding-ada-002"),
            endpoint=keys.get("endpoint", "https://api.openai.com/v1/embeddings"),
        )

    return factory


def main(argv: list[str] | None = None) -> int:
    from pyspark.sql import SparkSession

    args = _build_parser().parse_args(argv)
    # dedup-media / mine-pairs / mine-images never touch the document
    # index — don't force a meaningless --index path for a pure folder
    # scan; every other verb still requires it, validated
    # up front.
    if args.verb not in (
        "dedup-media", "mine-pairs", "mine-images",
        "chat-curate", "bt-rank", "eval-gen",
    ) and not args.index:
        print(
            f"error: --index is required for verb {args.verb!r}",
            file=sys.stderr,
        )
        return 2
    preexisting = SparkSession.getActiveSession() is not None
    spark = get_spark("vectra-py-spark-cli")
    spark.sparkContext.setLogLevel("ERROR")
    idx = None
    if args.index:
        idx = SparkDocumentIndex(
            spark,
            args.index,
            embedder_factory=_embedder_factory(args),
            vector_dim=args.vector_dim,
            chunk_size=args.chunk_size,
        )

    if args.verb == "create":
        idx.create(overwrite=False)
        print(json.dumps({"created": args.index}))
    elif args.verb == "delete":
        idx.create(overwrite=True)
        print(json.dumps({"deleted": args.index}))
    elif args.verb == "stats":
        print(json.dumps(idx.get_catalog_stats()))
    elif args.verb == "add":
        uris = _expand_uris(args)
        if not uris:
            print("error: add requires --uri or --list", file=sys.stderr)
            return 2
        file_fetcher, web_fetcher = FileFetcher(), WebFetcher()
        docs = []
        for uri in uris:
            if uri.startswith(("http://", "https://")):
                u, text, doc_type = web_fetcher.fetch(uri)
                docs.append({"uri": u, "text": text, "doc_type": doc_type})
            else:
                for u, text, doc_type in file_fetcher.fetch(uri):
                    docs.append({"uri": u, "text": text, "doc_type": doc_type})
        ids = idx.upsert_documents(docs)
        print(json.dumps({"added": len(ids)}))
    elif args.verb == "ingest-folder":
        from pyspark.sql import functions as F

        from vectra_py_spark.sources.documents import read_documents

        # persist: the counts action and the upsert both consume the
        # frame — without it the binaryFile scan + extraction (incl.
        # any PDF decryption) runs TWICE per file
        docs_df = read_documents(
            spark, args.path, min_chars=args.min_chars
        ).persist()
        try:
            counts = {
                r["doc_type"]: r["n"]
                for r in docs_df.groupBy("doc_type")
                .agg(F.count("*").alias("n")).collect()
            }
            idx.upsert_documents_df(docs_df)
        finally:
            docs_df.unpersist()
        print(json.dumps({
            "ingested": int(sum(counts.values())),
            "by_type": counts,
        }, sort_keys=True))
    elif args.verb == "ingest-archives":
        from pyspark.sql import functions as F

        from vectra_py_spark.sources.documents import read_archive_documents

        docs_df = read_archive_documents(
            spark, args.path, min_chars=args.min_chars
        ).persist()
        try:
            counts = {
                r["doc_type"]: r["n"]
                for r in docs_df.groupBy("doc_type")
                .agg(F.count("*").alias("n")).collect()
            }
            idx.upsert_documents_df(docs_df)
        finally:
            docs_df.unpersist()
        print(json.dumps({
            "ingested": int(sum(counts.values())),
            "by_type": counts,
        }, sort_keys=True))
    elif args.verb == "dedup-media":
        from pyspark.sql import functions as F

        from vectra_py_spark.operators.audiofp import (
            audio_fingerprint_df, audio_match_pairs,
        )
        from vectra_py_spark.operators.imagehash import (
            media_phash_df, phash_neardup_pairs,
        )
        from vectra_py_spark.session import spread

        media = spread(
            spark.read.format("binaryFile")
            .option("recursiveFileLookup", "true")
            .load(args.path)
            .select(F.col("path").alias("media_id"),
                    F.col("content").alias("data"))
        ).persist()
        try:
            hashes = media_phash_df(media).persist()
            img_pairs = phash_neardup_pairs(
                hashes, radius=args.radius
            ).count()
            n_images = hashes.filter("error IS NULL").count()
            hashes.unpersist()
            fp = audio_fingerprint_df(media).persist()
            audio_pairs = audio_match_pairs(
                fp, min_matches=args.min_matches
            ).count()
            n_audio = (
                fp.filter("error IS NULL")
                .select("media_id").distinct().count()
            )
            fp.unpersist()
            # video lane: trims/re-encodes that a single first-frame
            # pHash (the image lane's view of a video) cannot catch —
            # per-frame hashes + temporal offset alignment
            from vectra_py_spark.operators.videohash import (
                video_match_pairs, video_phash_df,
            )

            vh = video_phash_df(media).persist()
            video_pairs = video_match_pairs(
                vh, radius=args.radius, min_aligned=args.min_aligned
            ).count()
            n_videos = (
                vh.filter("error IS NULL")
                .select("media_id").distinct().count()
            )
            vh.unpersist()
        finally:
            media.unpersist()
        print(json.dumps({
            "images_hashed": int(n_images),
            "image_neardup_pairs": int(img_pairs),
            "audio_fingerprinted": int(n_audio),
            "audio_copy_pairs": int(audio_pairs),
            "videos_fingerprinted": int(n_videos),
            "video_copy_pairs": int(video_pairs),
        }, sort_keys=True))
    elif args.verb == "mine-pairs":
        from pyspark.sql import functions as F

        from vectra_py_spark.operators.pairs import (
            dedup_image_text_pairs, image_text_pairs_df,
        )
        from vectra_py_spark.session import spread

        pages = spread(
            spark.read.format("binaryFile")
            .option("recursiveFileLookup", "true")
            .load(args.path)
            .select(
                # binaryFile reports file:/x single-slash URIs; give
                # them a host so the resolver's origin/base forms work
                F.regexp_replace(
                    F.col("path"), "^file:/+", "file://localhost/"
                ).alias("url"),
                F.make_valid_utf8(
                    F.col("content").cast("string")
                ).alias("text"),
            )
        )
        pairs = image_text_pairs_df(
            pages,
            min_alt_chars=args.min_alt_chars,
            max_alt_chars=args.max_alt_chars,
        )
        deduped = dedup_image_text_pairs(pairs).persist()
        try:
            n_unique = deduped.count()
            n_pairs = (
                deduped.select(F.sum("n_pages")).collect()[0][0] or 0
            )
            if args.out:
                deduped.write.mode("overwrite").parquet(args.out)
        finally:
            deduped.unpersist()
        print(json.dumps({
            "pairs_mined": int(n_pairs),
            "pairs_unique": int(n_unique),
            "out": args.out,
        }, sort_keys=True))
    elif args.verb == "mine-images":
        from pyspark.sql import functions as F

        from vectra_py_spark.operators.pairs import mine_image_corpus
        from vectra_py_spark.session import spread

        transport = None
        if args.image_root:
            root = args.image_root

            def transport(url: str):  # noqa: F811 — hermetic resolver
                import os.path
                import re as _re

                name = url.rsplit("/", 1)[-1]
                if not _re.fullmatch(r"[\w.-]+", name):
                    raise ValueError(f"unresolvable basename in {url}")
                p = os.path.join(root, name)
                with open(p, "rb") as fh:
                    return fh.read(), "application/octet-stream"

        pages = spread(
            spark.read.format("binaryFile")
            .option("recursiveFileLookup", "true")
            .load(args.path)
            .select(
                F.regexp_replace(
                    F.col("path"), "^file:/+", "file://localhost/"
                ).alias("url"),
                F.make_valid_utf8(
                    F.col("content").cast("string")
                ).alias("text"),
            )
        )
        stages = mine_image_corpus(
            pages, transport=transport, n_workers=args.workers,
            default_delay=args.delay, radius=args.radius,
            min_alt_chars=args.min_alt_chars,
            max_alt_chars=args.max_alt_chars,
        )
        fetched = stages["fetched"].persist()
        corpus = stages["corpus"].persist()
        try:
            n_urls = fetched.count()
            n_errors = fetched.filter("fetch_error IS NOT NULL").count()
            bytes_fetched = (
                fetched.select(
                    F.sum(F.octet_length("payload"))
                ).collect()[0][0] or 0
            )
            n_corpus = corpus.count()
            n_canonical_images = (
                corpus.select("image_url").distinct().count()
            )
            if args.out:
                corpus.write.mode("overwrite").parquet(args.out)
        finally:
            fetched.unpersist()
            corpus.unpersist()
        print(json.dumps({
            "urls_fetched": int(n_urls),
            "fetch_errors": int(n_errors),
            "bytes_fetched": int(bytes_fetched),
            "corpus_rows": int(n_corpus),
            "canonical_images": int(n_canonical_images),
            "out": args.out,
        }, sort_keys=True))
    elif args.verb == "chat-curate":
        from pyspark.sql import functions as F

        from vectra_py_spark.operators.chat import (
            dedup_conversations,
            parse_conversations,
            validate_conversations,
        )

        from vectra_py_spark.operators.chat import jsonl_conversations

        lines = (
            spark.read.format("text")
            .option("recursiveFileLookup", "true")
            .load(args.path)
        )
        convs = jsonl_conversations(lines)
        turns = parse_conversations(convs).persist()
        try:
            v = validate_conversations(turns)
            # dedup among VALID conversations only: an invalid min-id
            # copy must not become the canonical and erase its valid
            # twin from the output
            valid_ids = v.where("valid").select("conv_id")
            d = dedup_conversations(turns.join(valid_ids, "conv_id"))
            verdicts = v.join(
                d.select("conv_id", "is_canonical"), "conv_id", "left"
            ).fillna({"is_canonical": False})
            agg = verdicts.agg(
                F.count(F.lit(1)).alias("n_convs"),
                F.sum(F.col("valid").cast("int")).alias("n_valid"),
                F.sum(F.col("has_error").cast("int")).alias("n_errors"),
                F.sum(
                    (F.col("valid") & ~F.col("is_canonical")).cast("int")
                ).alias("n_valid_dup_dropped"),
            ).first()
            if args.out:
                keep = verdicts.where(
                    F.col("valid") & F.col("is_canonical")
                ).select("conv_id")
                turns.join(keep, "conv_id").write.mode(
                    "overwrite"
                ).parquet(args.out)
        finally:
            turns.unpersist()
        print(json.dumps({
            "conversations": int(agg.n_convs),
            "valid": int(agg.n_valid or 0),
            "errors": int(agg.n_errors or 0),
            "valid_dup_dropped": int(agg.n_valid_dup_dropped or 0),
            "out": args.out,
        }, sort_keys=True))
    elif args.verb == "bt-rank":
        from pyspark.sql import functions as F

        from vectra_py_spark.operators.preference import bradley_terry_fit

        comps = spark.read.parquet(args.path)
        fit = bradley_terry_fit(
            comps,
            winner_col=args.winner_col,
            loser_col=args.loser_col,
            iterations=args.iterations,
        ).orderBy(
            F.col("strength").desc(), F.col("item").asc()
        ).persist()
        try:
            board = [
                {"item": str(r.item), "strength": r.strength,
                 "wins": r.wins, "games": r.n_games}
                for r in fit.take(args.top)
            ]
            if args.out:
                fit.write.mode("overwrite").parquet(args.out)
        finally:
            fit.unpersist()
        print(json.dumps(
            {"leaderboard": board, "out": args.out}, sort_keys=True
        ))
    elif args.verb == "eval-gen":
        from pyspark.sql import functions as F

        from vectra_py_spark.operators.geneval import (
            bleu_corpus,
            rouge_n_pairs,
        )

        pairs = spark.read.parquet(args.path)
        kw = dict(
            id_col=args.id_col,
            cand_col=args.candidate_col,
            ref_col=args.reference_col,
        )
        b = bleu_corpus(pairs, **kw).first()
        r1 = rouge_n_pairs(pairs, n=1, **kw).agg(
            F.avg("f1").alias("f")
        ).first().f
        r2 = rouge_n_pairs(pairs, n=2, **kw).agg(
            F.avg("f1").alias("f")
        ).first().f
        print(json.dumps({
            "n_pairs": int(b.n_pairs),
            "bleu": b.bleu,
            "p1": b.p1, "p2": b.p2, "p3": b.p3, "p4": b.p4,
            "brevity_penalty": b.brevity_penalty,
            "rouge1_f_mean": round(float(r1 or 0.0), 6),
            "rouge2_f_mean": round(float(r2 or 0.0), 6),
        }, sort_keys=True))
    elif args.verb == "remove":
        idx.delete_document(args.uri)
        print(json.dumps({"removed": args.uri}))
    elif args.verb == "optimize":
        from vectra_py_spark.sources.maintenance import compact_index

        report = compact_index(
            spark,
            f"{args.index}/items",
            target_bytes=args.target_mb * 1024 * 1024,
        )
        idx.index._invalidate()  # drop the cached pre-compaction scan
        print(json.dumps(report))
    elif args.verb == "export":
        from vectra_py_spark.operators.export import export_shards

        manifest = export_shards(
            idx.documents(),
            args.out_path,
            n_shards=args.shards,
            id_col="document_id",
            salt=args.salt,
        )
        print(json.dumps(manifest))
    elif args.verb == "query":
        if args.format == "stats":
            print(json.dumps(idx.get_catalog_stats()))
        elif args.format == "chunks":
            rows = idx.query_documents(
                args.text, args.document_count, args.chunk_count
            ).collect()
            for r in rows:
                print(
                    json.dumps(
                        {
                            "uri": r.uri,
                            "doc_score": round(r.doc_score, 6),
                            "chunks": [
                                {
                                    "start_pos": int(c.start_pos),
                                    "end_pos": int(c.end_pos),
                                    "score": round(c.score, 6),
                                }
                                for c in r.chunks
                            ],
                        }
                    )
                )
        else:
            for _doc_id, uri, score, sections in idx.render_document_sections(
                args.text,
                max_documents=args.document_count,
                max_chunks=args.chunk_count,
                max_tokens=args.tokens,
                max_sections=args.section_count,
            ):
                for sec in sections:
                    print(
                        json.dumps(
                            {
                                "uri": uri,
                                "doc_score": round(score, 6),
                                "section_score": round(sec.score, 6),
                                "token_count": sec.token_count,
                                "text": sec.text,
                            }
                        )
                    )
    if not preexisting:
        # only stop a session this invocation created (tests share one)
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
