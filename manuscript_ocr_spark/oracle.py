"""Single-process reference-faithful oracle.

Numpy port of the reference's end-to-end query
(`Pipeline.predict` → `get_text`, reference: src/manuscript/_pipeline.py:
56-202) generalized to span re-emission over the interleaved docs table
(SURVEY.md §1.3): per document, each media span is replaced by its detected,
reading-ordered, recognized line spans, interleaved with boilerplate-stripped
text spans. The Spark pipeline must produce exactly this output per doc_id —
that is the north-rule invariant, asserted by tests/test_invariant.py.

Divergence note (documented design decision): the reference's `get_text`
(_pipeline.py:193-202) treats the whole page as ONE block → one line,
discarding the reading-order line structure it just computed. For span
re-emission we keep the line structure: one output span per reading-order
line (the clustering of utils.py:550-607 via
kernels.ordering.reading_order_line_index_groups), words within a line
joined by " " exactly as get_text joins words, empty lines skipped exactly
as get_text skips empty blocks (`if texts:`).
"""

from __future__ import annotations

import numpy as np

from .kernels.image import extract_word_image, luminance  # noqa: F401 (re-export)


def decode_media(pixels: bytes, height: int, width: int, channels: int) -> np.ndarray:
    """Shared media decode: raw uint8 C-order buffer → (H, W) grayscale or
    (H, W, C) image. Every downstream kernel consumes luminance, and the
    channel-mean of replicated channels equals the gray value exactly, so
    single-channel pages stay 2D (no 3x memory-bandwidth expansion that the
    next op would immediately average away — the reference's gray→RGB
    coercion, _trba/__init__.py:277-281, exists for torch channel shapes we
    don't have). Used identically by the oracle, the Spark OCR UDF, and
    multimodal ops; all of them accept 2D or 3D.

    Codec sniff: a payload starting with the PNG signature decodes through
    kernels/png.py (round 3 unstubbed the codec seam), shape-validated
    against the row's metadata — so PNG-compressed media tables flow through
    the ENTIRE pipeline (extract_spans, checkpoint, vis) unchanged. A raw
    buffer colliding with the 8-byte PNG signature has probability 2^-64 and
    would still be caught by the shape check. The JPEG signature is only
    3 bytes (FF D8 FF), short enough that a raw near-white/noisy scan whose
    first three pixels are 255,216,255 is plausible (~2^-24 per row — ~60k
    expected hits at 10^12 docs), so JPEG sniffing is additionally gated on
    payload length: a raw buffer is always exactly height·width·channels
    bytes, a JPEG essentially never is. In the residual ambiguous case
    (prefix match AND coincidental length match) we attempt the JPEG decode
    and fall back to the raw path on decode error or metadata-shape
    mismatch, so no raw payload can crash the job."""
    raw_size = height * width * channels
    if pixels[:8] == b"\x89PNG\r\n\x1a\n":
        from .kernels.png import decode_png

        img = decode_png(pixels)
        if img.shape[0] != height or img.shape[1] != width:
            raise ValueError(
                f"PNG payload decodes to {img.shape[:2]}, metadata says "
                f"({height}, {width})"
            )
        return img
    if pixels[:3] == b"\xff\xd8\xff":  # JPEG SOI + marker prefix
        from .kernels.jpeg import JpegError, decode_jpeg

        ambiguous = len(pixels) == raw_size  # could be raw pixels too
        try:
            img = decode_jpeg(pixels)
        except JpegError:
            if ambiguous:
                img = None  # raw buffer that starts with FF D8 FF
            else:
                raise
        if img is not None:
            if img.shape[0] == height and img.shape[1] == width:
                return img
            if not ambiguous:
                raise ValueError(
                    f"JPEG payload decodes to {img.shape[:2]}, metadata says "
                    f"({height}, {width})"
                )
    arr = np.frombuffer(pixels, dtype=np.uint8)
    if len(arr) != raw_size:
        raise ValueError(
            f"raw payload is {len(arr)} bytes, metadata says "
            f"{height}x{width}x{channels} = {raw_size}"
        )
    if channels == 1:
        return arr.reshape(height, width)
    return arr.reshape(height, width, channels)
from .kernels.ordering import reading_order_line_index_groups
from .kernels.textproc import strip_boilerplate
from .models.backend import load_backend
from .models.east_tiny import DetectorConfig

# output span kinds
KIND_TEXT = "text"
KIND_OCR = "ocr_line"

DEFAULT_MIN_TEXT_SIZE = 5  # reference: _pipeline.py:23,54


def page_to_line_texts(
    image: np.ndarray,
    weights: dict,
    cfg: DetectorConfig,
    min_text_size: int = DEFAULT_MIN_TEXT_SIZE,
) -> list:
    """One page image → ordered list of recognized line texts.

    Mirrors Pipeline.predict steps 1-7 (_pipeline.py:56-162): detect, sort in
    reading order (with intersection resolution + first-match
    re-association), min_text_size filter, clamp-crop, recognize, zip — then
    the get_text flatten per line (see module docstring).

    The detector and recognizer come from models.backend.load_backend:
    the deterministic stand-ins, the converted real checkpoints on the numpy
    twins, or the realistic-bench burn. Nothing downstream differs.
    """
    backend = load_backend(weights)
    quads = backend.detect(image, cfg)

    # polygon → int32 bbox exactly as the reference (_pipeline.py:106-109)
    boxes = []
    for quad in quads:
        poly = np.array(quad[:8].reshape(4, 2), dtype=np.int32)
        x_min, y_min = np.min(poly, axis=0)
        x_max, y_max = np.max(poly, axis=0)
        boxes.append((int(x_min), int(y_min), int(x_max), int(y_max)))

    line_groups = reading_order_line_index_groups(boxes)

    # crop extraction with min_text_size filter (_pipeline.py:125-137)
    crops = []
    kept = []  # (line_idx, position-in-flattened-order)
    for li, grp in enumerate(line_groups):
        for wi in grp:
            x_min, y_min, x_max, y_max = boxes[wi]
            width = x_max - x_min
            height = y_max - y_min
            if width >= min_text_size and height >= min_text_size:
                poly = np.array(quads[wi][:8].reshape(4, 2), dtype=np.int32)
                region = extract_word_image(image, poly)
                if region is not None and region.size > 0:
                    crops.append(region)
                    kept.append(li)

    results = backend.recognize(crops) if crops else []

    # zip texts back per line (_pipeline.py:149-162), join per line like
    # get_text joins words (" ") and skips empty (`if texts:`)
    per_line = {}
    for li, res in zip(kept, results):
        text = res.get("text", "")
        if text:
            per_line.setdefault(li, []).append(text)

    out = []
    for li in range(len(line_groups)):
        if li in per_line:
            out.append(" ".join(per_line[li]))
    return out


def doc_to_spans(
    spans: list,
    media_pixels: dict,
    weights: dict,
    cfg: DetectorConfig,
    min_text_size: int = DEFAULT_MIN_TEXT_SIZE,
    page_cache: dict = None,
) -> list:
    """One doc's input spans → ordered output spans.

    spans: list of dicts {kind, text, media_ref, offset}.
    media_pixels: media_ref → (H, W, 3) uint8 ndarray.
    page_cache: optional media_ref → line-texts memo (pages referenced by
    many docs OCR identically; the Spark pipeline exploits the same fact by
    processing each distinct media_ref once).
    Returns list of dicts {kind, text, media_ref, offset, seq} sorted by
    (offset, seq); `seq` is the line index within a media span, 0 for text.
    """
    out = []
    for span in sorted(spans, key=lambda s: s["offset"]):
        if span["kind"] == "text":
            cleaned = strip_boilerplate(span.get("text"))
            if cleaned:
                out.append(
                    {
                        "kind": KIND_TEXT,
                        "text": cleaned,
                        "media_ref": None,
                        "offset": span["offset"],
                        "seq": 0,
                    }
                )
        else:
            ref = span["media_ref"]
            if page_cache is not None and ref in page_cache:
                lines = page_cache[ref]
            else:
                lines = page_to_line_texts(
                    media_pixels[ref], weights, cfg, min_text_size
                )
                if page_cache is not None:
                    page_cache[ref] = lines
            for k, line_text in enumerate(lines):
                out.append(
                    {
                        "kind": KIND_OCR,
                        "text": line_text,
                        "media_ref": span["media_ref"],
                        "offset": span["offset"],
                        "seq": k,
                    }
                )
    return out
