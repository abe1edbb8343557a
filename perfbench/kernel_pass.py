"""Single-process kernel pass: the per-page OCR chain timed stage by stage.

The pass calls the program's public functions in the order
oracle.page_to_line_texts and models.east_tiny.detect_quads call them, and
asserts on every page that the composed stages give exactly what those two
functions give, so the stage timings are timings of the real chain.
"""

from __future__ import annotations

import time
from collections import defaultdict

import numpy as np

STAGES = (
    "decode", "resize", "east_forward", "quad_decode", "lanms",
    "postfilter", "order", "crop", "recognize",
)


def kernel_pass(pages: list, weights: dict) -> dict:
    """pages: (payload bytes, height, width, channels) rows. Returns the
    kernel.* metrics: mean milliseconds per page for each stage and for
    one whole oracle.page_to_line_texts call, and mean counts per page."""
    from manuscript_ocr_spark.fixtures import PAGE_SIZE
    from manuscript_ocr_spark.kernels.boxes import (
        convert_to_axis_aligned, decode_quads_from_maps, expand_boxes,
        remove_area_anomalies, remove_fully_contained_boxes,
        scale_boxes_to_original,
    )
    from manuscript_ocr_spark.kernels.geometry import locality_aware_nms
    from manuscript_ocr_spark.kernels.image import extract_word_image, resize
    from manuscript_ocr_spark.kernels.ordering import reading_order_line_index_groups
    from manuscript_ocr_spark.models.east_tiny import DetectorConfig, detect_quads, forward
    from manuscript_ocr_spark.models.trba_tiny import predict
    from manuscript_ocr_spark.oracle import (
        DEFAULT_MIN_TEXT_SIZE, decode_media, page_to_line_texts,
    )

    cfg = DetectorConfig(target_size=PAGE_SIZE)
    ms = defaultdict(float)
    counts = defaultdict(float)

    def timed(stage, fn, *args, **kwargs):
        t = time.perf_counter()
        out = fn(*args, **kwargs)
        ms[stage] += (time.perf_counter() - t) * 1000.0
        return out

    for payload, h, w, c in pages:
        image = timed("decode", decode_media, payload, h, w, c)

        orig_h, orig_w = image.shape[:2]
        t = time.perf_counter()
        if (orig_h, orig_w) != (cfg.target_size, cfg.target_size):
            resized = resize(image, cfg.target_size, cfg.target_size, interp="linear")
        else:
            resized = image
        ms["resize"] += (time.perf_counter() - t) * 1000.0

        score, geo = timed("east_forward", forward, resized, cfg.score_thresh)
        quads = timed("quad_decode", decode_quads_from_maps, score_map=score, geo_map=geo,
                      score_thresh=cfg.score_thresh, scale=1.0 / cfg.score_geo_scale,
                      quantization=cfg.quantization)
        counts["lanms_in"] += len(quads)
        quads = timed("lanms", locality_aware_nms, quads, iou_threshold=cfg.iou_threshold)
        counts["lanms_out"] += len(quads)

        t = time.perf_counter()
        quads = expand_boxes(quads, expand_w=cfg.expand_ratio_w, expand_h=cfg.expand_ratio_h)
        quads = scale_boxes_to_original(quads, (orig_h, orig_w), cfg.target_size)
        quads = remove_fully_contained_boxes(quads)
        quads = remove_area_anomalies(quads, sigma_threshold=cfg.anomaly_sigma_threshold,
                                      min_box_count=cfg.anomaly_min_box_count,
                                      enabled=cfg.remove_area_anomalies)
        if cfg.axis_aligned_output:
            quads = convert_to_axis_aligned(quads)
        ms["postfilter"] += (time.perf_counter() - t) * 1000.0
        if not np.array_equal(quads, detect_quads(image, cfg)):
            raise AssertionError("composed detector stages differ from detect_quads")

        t = time.perf_counter()
        boxes = []
        for quad in quads:
            poly = np.array(quad[:8].reshape(4, 2), dtype=np.int32)
            x_min, y_min = np.min(poly, axis=0)
            x_max, y_max = np.max(poly, axis=0)
            boxes.append((int(x_min), int(y_min), int(x_max), int(y_max)))
        groups = reading_order_line_index_groups(boxes)
        ms["order"] += (time.perf_counter() - t) * 1000.0

        t = time.perf_counter()
        crops, kept = [], []
        for li, grp in enumerate(groups):
            for wi in grp:
                x0, y0, x1, y1 = boxes[wi]
                if x1 - x0 >= DEFAULT_MIN_TEXT_SIZE and y1 - y0 >= DEFAULT_MIN_TEXT_SIZE:
                    poly = np.array(quads[wi][:8].reshape(4, 2), dtype=np.int32)
                    region = extract_word_image(image, poly)
                    if region is not None and region.size > 0:
                        crops.append(region)
                        kept.append(li)
        ms["crop"] += (time.perf_counter() - t) * 1000.0
        counts["crops"] += len(crops)

        results = timed("recognize", predict, crops, weights) if crops else []
        per_line = defaultdict(list)
        for li, res in zip(kept, results):
            if res.get("text", ""):
                per_line[li].append(res["text"])
        lines = [" ".join(per_line[li]) for li in range(len(groups)) if li in per_line]

        expected = timed("page", page_to_line_texts, image, weights, cfg)
        if lines != expected:
            raise AssertionError("composed page stages differ from page_to_line_texts")

    n = max(1, len(pages))
    out = {f"kernel.{s}_ms": ms[s] / n for s in STAGES + ("page",)}
    out.update({f"kernel.{k}": counts[k] / n for k in ("lanms_in", "lanms_out", "crops")})
    return out
