"""``session.map_rows``, the one typed builder behind every per-payload
decoder: its row/error/type contract, every INT/BIGINT-emitting
operator checked against its own row-by-row results, and a guard that
no operator hand-builds a frame column by column again."""

from __future__ import annotations

import io
import re
import zipfile
from pathlib import Path

import numpy as np
import pytest

from vectra_py_spark.session import map_rows

BIG = 2**62 + 1  # a BIGINT float64 cannot hold
BATCH_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"


@pytest.fixture
def batch_size(spark):
    """Set the Arrow batch size for one test, restoring it after."""
    old = spark.conf.get(BATCH_CONF, None)
    yield lambda n: spark.conf.set(BATCH_CONF, str(n))
    if old is None:
        spark.conf.unset(BATCH_CONF)
    else:
        spark.conf.set(BATCH_CONF, old)


@pytest.mark.parametrize("n", [1, 10000])
def test_map_rows_contract(spark, batch_size, n):
    def _rows(payload):
        if payload == "bad":
            raise ValueError("corrupt payload")
        yield (BIG, None)
        if payload == "late":
            raise ValueError("failed after one row")
        yield (int(payload), None)

    def _error_row(values, exc):
        return (None, str(exc))

    batch_size(n)
    df = spark.createDataFrame(
        [("7",), ("bad",), ("late",), ("9",)], "p string"
    ).coalesce(1)
    got = map_rows(
        df, ["p"], _rows, "v BIGINT, error STRING", on_error=_error_row
    ).collect()
    # BIG beside error rows stays exact; the payload that failed after
    # producing a row contributes only its error row
    assert [tuple(r) for r in got] == [
        (BIG, None), (7, None), (None, "corrupt payload"),
        (None, "failed after one row"), (BIG, None), (9, None),
    ]
    # an empty input yields an empty, typed frame
    empty = map_rows(df.limit(0), ["p"], _rows, "v BIGINT, error STRING")
    assert empty.collect() == []
    assert empty.schema.simpleString() == "struct<v:bigint,error:string>"
    # on_error=None (the 'fail' mode) propagates the ValueError
    with pytest.raises(Exception, match="corrupt payload"):
        map_rows(df, ["p"], _rows, "v BIGINT, error STRING").collect()


def test_map_rows_skips_and_keeps_per_task_state(spark):
    df = spark.createDataFrame(
        [(str(i),) for i in range(6)] + [("bad",)], "p string"
    ).coalesce(1)

    def make_row():
        seen = []  # one list per task

        def row(p):
            seen.append(p)
            return [(p, len(seen))] if int(p) % 2 else []

        return row

    got = map_rows(
        df, ["p"], make_row, "p STRING, n INT",
        on_error=lambda v, exc: None, per_task=True,
    ).collect()
    assert [tuple(r) for r in got] == [("1", 2), ("3", 4), ("5", 6)]


# -- every INT/BIGINT-emitting operator, corrupt payload among good ones --

def _media_cases():
    from vectra_py_spark.operators import multimodal as mm
    from vectra_py_spark.operators.audio import encode_audio_payload
    from vectra_py_spark.operators.avi import synth_avi

    img = mm.decode_ppm(mm.synth_ppm(24, 16))
    t = np.arange(16000) / 8000
    tone = np.sin(2 * np.pi * (300 + 900 * t) * t) * 0.5
    pcm = (tone * 32767).astype(np.int64)[:, None]
    return {
        "image": [mm.encode_png(img), mm.encode_bmp(img)],
        "video": [synth_avi(3, 24, 16), mm.synth_gif(2, 24, 16)],
        "audio": [encode_audio_payload(pcm, 8000, "wav"), mm.synth_wav()],
    }


def _media_df(spark, kind):
    good = _media_cases()[kind]
    return spark.createDataFrame(
        [("a", good[0]), ("bad", b"\x00corrupt payload"), ("c", good[1])],
        "media_id string, data binary",
    )


SRT = (
    "1\n00:00:01,000 --> 00:00:02,500\nhello\n\n"
    "2\n00:00:03,000 --> 00:00:04,000\nworld\n"
)


def _warc_df(spark):
    from vectra_py_spark.sources.warc import synth_warc

    pages = [("https://a.example/x", b"<html>x</html>", "text/html")]
    return spark.createDataFrame(
        [("a.warc", synth_warc(pages)), ("bad.warc", b"WARC/1.0\r\nbroken"),
         ("c.warc.gz", synth_warc(pages * 2, compress=True))],
        "path string, content binary",
    )


def _archive_df(spark):
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("m/one.txt", b"one")
        z.writestr("two.bin", b"\x00" * 40)
    return spark.createDataFrame(
        [("a.zip", buf.getvalue()), ("bad.zip", b"PK\x03\x04 corrupt")],
        "path string, content binary",
    )


def _cdx_df(spark, tmp_path):
    from vectra_py_spark.sources.cdx import index_warc, parse_cdxj_line
    from vectra_py_spark.sources.warc import synth_warc

    seg = str(tmp_path / "seg0.warc.gz")
    payload = synth_warc(
        [("https://a.example/1", b"one", "text/html"),
         ("https://a.example/2", b"two", "text/plain")], compress=True,
    )
    Path(seg).write_bytes(payload)
    rows = [
        (e["filename"], e["offset"], e["length"])
        for e in map(parse_cdxj_line, index_warc(payload, seg))
    ]
    rows.insert(1, (seg, 10_000_000, 40))  # a range past the end
    return spark.createDataFrame(
        rows, "filename string, offset bigint, length bigint"
    )


def _cases():
    """name → (source frame builder, operator over that frame)."""
    from vectra_py_spark.operators.audio import transform_audio
    from vectra_py_spark.operators.audiofp import audio_fingerprint_df
    from vectra_py_spark.operators.curation import nfc_normalize
    from vectra_py_spark.operators.imagehash import media_phash_df
    from vectra_py_spark.operators.multimodal import extract_features
    from vectra_py_spark.operators.pairs import fetch_images_df
    from vectra_py_spark.operators.pdf import (
        extract_pdf_text_df, pdf_triage_lanes, synth_pdf,
    )
    from vectra_py_spark.operators.probe import probe_media, triage_media
    from vectra_py_spark.operators.subtitles import subtitle_cues_df
    from vectra_py_spark.operators.videohash import video_phash_df
    from vectra_py_spark.sources.cdx import fetch_cdx_records
    from vectra_py_spark.sources.warc import explode_archives_df, explode_warc

    def media(kind):
        return lambda s, _: _media_df(s, kind)

    def pdfs(s, _):
        return s.createDataFrame(
            [("a", synth_pdf(2)), ("bad", b"%PDF-1.4 broken"),
             ("c", synth_pdf(1))], "media_id string, data binary",
        )

    def audio_rows(s, _):
        return _media_df(s, "audio").selectExpr(
            "media_id", f"CAST({BIG} AS BIGINT) AS n", "data",
            "map('k', media_id) AS meta",
        )

    def cues(s, _):
        return s.createDataFrame(
            [("a", SRT), ("bad", "no cues here"), ("c", SRT[:44])],
            "media_id string, text string",
        )

    def docs(s, _):
        return s.createDataFrame(
            [(BIG, "Cafe\u0301  x"), (BIG + 2, None), (3, "plain")],
            "doc_id bigint, text string",
        )

    def slots(s, _):
        return s.createDataFrame(
            [(BIG, "u://a"), (BIG + 2, "u://bad"), (5, "u://c")],
            "n bigint, image_url string",
        )

    def fetch(url):
        if "bad" in url:
            raise ConnectionError(f"refused {url}")
        return url.encode(), "image/png"

    return {
        "media_phash_df": (media("image"), media_phash_df),
        "video_phash_df": (media("video"), video_phash_df),
        "audio_fingerprint_df": (media("audio"), audio_fingerprint_df),
        "transform_audio": (audio_rows, lambda df: transform_audio(
            df, mono=True, target_sr=4000, on_error="quarantine"
        )),
        "subtitle_cues_df": (cues, subtitle_cues_df),
        "extract_pdf_text_df": (pdfs, lambda df: extract_pdf_text_df(
            df, on_error="quarantine"
        )),
        "pdf_triage_lanes": (pdfs, pdf_triage_lanes),
        "probe_media": (media("video"), probe_media),
        "triage_media": (media("image"), triage_media),
        "extract_features": (media("image"), lambda df: extract_features(
            df, decoder="png", on_error="quarantine"
        )),
        "nfc_normalize": (docs, nfc_normalize),
        "fetch_images_df": (slots, lambda df: fetch_images_df(
            df, transport=fetch
        )),
        "explode_warc": (lambda s, _: _warc_df(s), explode_warc),
        "explode_archives_df": (lambda s, _: _archive_df(s),
                                explode_archives_df),
        "fetch_cdx_records": (_cdx_df, fetch_cdx_records),
    }


@pytest.mark.parametrize("name", sorted(_cases()))
def test_operator_rows_equal_row_by_row(spark, tmp_path, batch_size, name):
    """A corrupt payload among good ones, all in one partition, at one
    row per Arrow batch and at one batch for all: the output equals the
    operator's results on each input row alone (the BIGINT columns of
    good rows stay exact beside the error row). Compared as multisets:
    ``nfc_normalize`` spreads its input and the CDX fetcher sorts by
    offset."""
    build, op = _cases()[name]
    src = build(spark, tmp_path)
    want = []
    for row in src.collect():
        one = spark.createDataFrame([row], src.schema)
        want += [tuple(r) for r in op(one).collect()]
    assert len(want) >= 2
    for n in (1, 10000):
        batch_size(n)
        got = [tuple(r) for r in op(src.coalesce(1)).collect()]
        assert sorted(got, key=repr) == sorted(want, key=repr), n


def test_no_operator_builds_frames_by_append_none():
    """Quarantine rows come from ``map_rows`` error rows, never from a
    column-by-column ``append(None)``; cff's is its DICT operand stack,
    not a frame."""
    pkg = Path(__file__).resolve().parents[1] / "vectra_py_spark"
    hits = sorted(
        str(p.relative_to(pkg))
        for p in pkg.rglob("*.py")
        if re.search(r"\.append\(None\)", p.read_text())
    )
    assert hits == ["operators/cff.py"]
