"""PNG codec correctness (kernels/png.py — the round-3 unstub of the codec
seam). Round-trips, every scanline filter type on decode, malformed-stream
rejection, and the decode_external dispatch."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from manuscript_ocr_spark.kernels.png import (
    PngError,
    _SIGNATURE,
    _chunk,
    decode_png,
    encode_png,
)


def _rng():
    return np.random.default_rng(1234)


@pytest.mark.parametrize("shape", [(17, 23), (9, 5, 3), (6, 4, 4), (1, 1), (3, 1, 3)])
def test_roundtrip_shapes(shape):
    img = _rng().integers(0, 256, size=shape, dtype=np.uint8)
    back = decode_png(encode_png(img))
    np.testing.assert_array_equal(back, img.reshape(back.shape))


def test_roundtrip_fixture_page_compresses():
    """A real fixture page round-trips and actually compresses (~flat
    background documents: zlib alone ≫ 5×)."""
    import pyarrow.parquet as pq

    from manuscript_ocr_spark.fixtures import ensure_tier
    from manuscript_ocr_spark.oracle import decode_media

    d = ensure_tier("sf-small")
    m = pq.read_table(f"{d}/media.parquet").to_pylist()[0]
    img = decode_media(m["pixels"], m["height"], m["width"], m["channels"])
    blob = encode_png(img)
    assert len(blob) * 5 < len(m["pixels"])
    np.testing.assert_array_equal(decode_png(blob), img)


def _png_with_filters(img: np.ndarray, filters: list) -> bytes:
    """Hand-assemble a PNG whose row y uses filters[y] — exercises the
    decoder against an independently computed filter pass (spec §6)."""
    h, w = img.shape[:2]
    bpp = 1 if img.ndim == 2 else img.shape[2]
    colortype = {1: 0, 3: 2, 4: 6}[bpp]
    body = img.reshape(h, w * bpp).astype(np.int16)
    scan = bytearray()

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        if pa <= pb and pa <= pc:
            return a
        if pb <= pc:
            return b
        return c

    prev = np.zeros(w * bpp, dtype=np.int16)
    for y in range(h):
        f = filters[y]
        row = body[y]
        filt = np.empty(w * bpp, dtype=np.int16)
        for i in range(w * bpp):
            left = int(row[i - bpp]) if i >= bpp else 0
            up = int(prev[i])
            ul = int(prev[i - bpp]) if i >= bpp else 0
            x = int(row[i])
            if f == 0:
                filt[i] = x
            elif f == 1:
                filt[i] = (x - left) & 0xFF
            elif f == 2:
                filt[i] = (x - up) & 0xFF
            elif f == 3:
                filt[i] = (x - ((left + up) >> 1)) & 0xFF
            else:
                filt[i] = (x - paeth(left, up, ul)) & 0xFF
        scan.append(f)
        scan.extend(int(v) & 0xFF for v in filt)
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, colortype, 0, 0, 0)
    return (
        _SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(scan)))
        + _chunk(b"IEND", b"")
    )


@pytest.mark.parametrize("bpp", [1, 3])
def test_all_filter_types_decode(bpp):
    shape = (5, 7) if bpp == 1 else (5, 7, 3)
    img = _rng().integers(0, 256, size=shape, dtype=np.uint8)
    blob = _png_with_filters(img, [0, 1, 2, 3, 4])
    np.testing.assert_array_equal(decode_png(blob), img)


def test_malformed_streams_rejected():
    with pytest.raises(PngError, match="signature"):
        decode_png(b"JFIF....not a png....")
    img = np.zeros((4, 4), np.uint8)
    blob = bytearray(encode_png(img))
    # corrupt IHDR depth byte (depth 16 unsupported)
    depth_off = 8 + 8 + 8  # sig + len/type + w/h
    blob[depth_off] = 16
    with pytest.raises(PngError, match="bit depth"):
        decode_png(bytes(blob))


def test_extraction_over_png_media_equals_raw(tmp_path):
    """The WHOLE pipeline on a PNG-compressed media table: identical output
    spans to the raw-payload table (decode sniff in decode_media), proving
    codec media needs no pipeline changes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from manuscript_ocr_spark.fixtures import PAGE_SIZE, ensure_tier
    from manuscript_ocr_spark.models.east_tiny import DetectorConfig
    from manuscript_ocr_spark.oracle import decode_media
    from manuscript_ocr_spark.pipeline import extract_spans
    from manuscript_ocr_spark.session import get_spark

    spark = get_spark(master="local[4]", app_name="png-pipeline-test")
    d = ensure_tier("sf-small")
    rows = pq.read_table(f"{d}/media.parquet").to_pylist()
    png_tbl = pa.table(
        {
            "media_ref": [m["media_ref"] for m in rows],
            "width": pa.array([m["width"] for m in rows], pa.int32()),
            "height": pa.array([m["height"] for m in rows], pa.int32()),
            "channels": pa.array([m["channels"] for m in rows], pa.int32()),
            "pixels": pa.array(
                [
                    encode_png(
                        decode_media(m["pixels"], m["height"], m["width"], m["channels"])
                    )
                    for m in rows
                ],
                pa.binary(),
            ),
        }
    )
    png_path = str(tmp_path / "media_png_payloads.parquet")
    pq.write_table(png_tbl, png_path, row_group_size=8)

    docs = spark.read.parquet(f"{d}/docs.parquet").limit(30)
    cfg = DetectorConfig(target_size=PAGE_SIZE)
    raw = {
        r["doc_id"]: r["spans"]
        for r in extract_spans(
            docs, spark.read.parquet(f"{d}/media.parquet"), cfg=cfg
        ).collect()
    }
    png = {
        r["doc_id"]: r["spans"]
        for r in extract_spans(docs, spark.read.parquet(png_path), cfg=cfg).collect()
    }
    assert len(raw) == 30 and raw == png


def test_corrupt_codec_payload_skipped_not_fatal(tmp_path):
    """A corrupt PNG payload in the media table must not kill the job in
    on_error='skip' mode: the page comes back as a row with null lines and
    a non-null error (the 10^12-scale posture for codec media too)."""
    import pandas as pd  # noqa: F401
    import pyarrow as pa
    import pyarrow.parquet as pq

    from manuscript_ocr_spark.fixtures import PAGE_SIZE, ensure_tier
    from manuscript_ocr_spark.models.east_tiny import DetectorConfig
    from manuscript_ocr_spark.models.glyphs import build_weights, serialize_weights
    from manuscript_ocr_spark.oracle import decode_media
    from manuscript_ocr_spark.pipeline import ocr_media_lines
    from manuscript_ocr_spark.session import get_spark

    spark = get_spark(master="local[2]", app_name="codec-skip-test")
    d = ensure_tier("sf-small")
    rows = pq.read_table(f"{d}/media.parquet").to_pylist()[:6]
    payloads = []
    for i, m in enumerate(rows):
        img = decode_media(m["pixels"], m["height"], m["width"], m["channels"])
        blob = bytearray(encode_png(img))
        if i == 0:
            blob[45] ^= 0xFF  # corrupt the IDAT zlib stream (CRCs are
            # transport-layer and deliberately ignored; the decompressor
            # and shape validation are the decode-time guards)
        payloads.append(bytes(blob))
    tbl = pa.table(
        {
            "media_ref": [m["media_ref"] for m in rows],
            "width": pa.array([m["width"] for m in rows], pa.int32()),
            "height": pa.array([m["height"] for m in rows], pa.int32()),
            "channels": pa.array([m["channels"] for m in rows], pa.int32()),
            "pixels": pa.array(payloads, pa.binary()),
        }
    )
    path = str(tmp_path / "media_bad.parquet")
    pq.write_table(tbl, path, row_group_size=2)

    media = spark.read.parquet(path)
    refs = media.select("media_ref")
    wbc = spark.sparkContext.broadcast(serialize_weights(build_weights()))
    got = ocr_media_lines(
        media, refs, wbc, DetectorConfig(target_size=PAGE_SIZE), on_error="skip",
    ).collect()
    assert sorted(r["media_ref"] for r in got) == sorted(m["media_ref"] for m in rows)
    bad = [r for r in got if r["error"] is not None]
    assert [r["media_ref"] for r in bad] == [rows[0]["media_ref"]]
    assert bad[0]["lines"] is None
    assert all(r["lines"] is not None for r in got if r["error"] is None)
    # fail mode still raises (the invariant path's behavior)
    import pytest as _pytest

    with _pytest.raises(Exception):
        ocr_media_lines(
            media, refs, wbc, DetectorConfig(target_size=PAGE_SIZE),
            on_error="fail",
        ).collect()


def test_decode_external_dispatch():
    from manuscript_ocr_spark.functions.multimodal import decode_external

    img = _rng().integers(0, 256, size=(8, 6), dtype=np.uint8)
    np.testing.assert_array_equal(decode_external(encode_png(img), "png"), img)
    with pytest.raises(NotImplementedError, match="mp3"):
        decode_external(b"\xff\xfb\x90", "mp3")
