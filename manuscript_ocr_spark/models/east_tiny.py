"""EastTiny — deterministic numpy stand-in detector.

Same output contract as the reference EAST forward pass
(reference: src/manuscript/detectors/_east/east.py:96-139): given an RGB
page, produce a sigmoid-like score map at stride 4 and an 8-channel geometry
map of per-pixel offsets to the 4 quad vertices (map-pixel units, decoded as
`v = (p + off) * 4` by decode_quads_from_maps, utils.py:368-375).

Instead of pretrained convolutions (torch and the released weights are
unavailable offline — infer.py:96-107 downloads them), the forward computes:
  score  = per-4×4-block fraction of "dark" pixels (< DARK_THRESH), and
  geo    = offsets to the connected dark component's bounding box, plus a
           deterministic per-pixel parity jitter (±0.125 map px) so the
           locality-aware NMS exercises its weighted vertex averaging and
           `normalize_polygon` alignment on genuinely differing quads.

Everything downstream of the forward is the reference post-processing chain
verbatim (decode → LANMS → expand → scale → containment → anomaly →
axis-align; infer.py:300-356), from manuscript_ocr_spark.kernels.
"""

from __future__ import annotations

import numpy as np

from ..kernels.boxes import (
    convert_to_axis_aligned,
    decode_quads_from_maps,
    expand_boxes,
    remove_area_anomalies,
    remove_fully_contained_boxes,
    scale_boxes_to_original,
)
from ..kernels.geometry import locality_aware_nms
from ..kernels.image import resize

STRIDE = 4
DARK_THRESH = 230  # word rects (bg 200 + ink 20) are dark; page (255) is not


class DetectorConfig:
    """Mirrors the reference EAST constructor defaults (infer.py:30-42)."""

    def __init__(
        self,
        target_size: int = 640,
        expand_ratio_w: float = 0.9,
        expand_ratio_h: float = 0.9,
        score_thresh: float = 0.6,
        iou_threshold: float = 0.2,
        score_geo_scale: float = 0.25,
        quantization: int = 2,
        axis_aligned_output: bool = True,
        remove_area_anomalies: bool = True,
        anomaly_sigma_threshold: float = 5.0,
        anomaly_min_box_count: int = 30,
    ):
        self.target_size = target_size
        self.expand_ratio_w = expand_ratio_w
        self.expand_ratio_h = expand_ratio_h
        self.score_thresh = score_thresh
        self.iou_threshold = iou_threshold
        self.score_geo_scale = score_geo_scale
        self.quantization = quantization
        self.axis_aligned_output = axis_aligned_output
        self.remove_area_anomalies = remove_area_anomalies
        self.anomaly_sigma_threshold = anomaly_sigma_threshold
        self.anomaly_min_box_count = anomaly_min_box_count


def _label_components(mask: np.ndarray):
    """Run-based two-pass connected-component labeling (4-connectivity).

    Returns (labels int32 array with 0 = background, bboxes dict
    label -> [ymin, xmin, ymax, xmax] in map pixels). Deterministic; cost is
    O(#runs), small per page.
    """
    h, w = mask.shape
    labels = np.zeros((h, w), dtype=np.int32)
    parent = [0]  # union-find; parent[0] unused

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb

    # extract ALL runs in one pass over the False-column-padded flat mask
    # (round-8: the per-row diff/where chain paid ~6 numpy kernel launches
    # per map row; runs are identical — padding guarantees no run crosses a
    # row boundary — and the union-find scan below visits them in the same
    # row-major order, so labeling is unchanged)
    padded = np.zeros((h, w + 1), dtype=np.int8)
    padded[:, :w] = mask
    d = np.diff(np.concatenate((np.zeros(1, dtype=np.int8), padded.ravel())))
    starts = np.flatnonzero(d == 1)
    ends = np.flatnonzero(d == -1)
    run_y = (starts // (w + 1)).tolist()
    run_s = (starts % (w + 1)).tolist()
    run_e = (ends - starts + (starts % (w + 1))).tolist()

    prev_runs = []  # runs of the row directly above the current one
    cur_y = -1
    cur_runs = []
    next_label = 1
    for k in range(len(run_y)):
        y = run_y[k]
        s = run_s[k]
        e = run_e[k]
        if y != cur_y:
            prev_runs = cur_runs if cur_y == y - 1 else []
            cur_y = y
            cur_runs = []
        lbl = 0
        for (ps, pe, pl) in prev_runs:
            if ps < e and s < pe:  # 4-connected overlap
                if lbl == 0:
                    lbl = pl
                else:
                    union(lbl, pl)
        if lbl == 0:
            lbl = next_label
            parent.append(lbl)
            next_label += 1
        labels[y, s:e] = lbl
        cur_runs.append((s, e, lbl))

    # second pass (vectorized): resolve every provisional label to its root
    # via a lookup table, then min/max-reduce bboxes per root
    roots = np.arange(next_label, dtype=np.int32)
    for l in range(1, next_label):
        roots[l] = find(l)
    labels = roots[labels]

    bboxes = {}
    ys, xs = np.nonzero(labels)
    if len(ys):
        lab = labels[ys, xs]
        # group-reduce bboxes via one stable sort + reduceat instead of a
        # per-label boolean mask over every foreground pixel (round-8;
        # pure integer min/max — identical values)
        order = np.argsort(lab, kind="stable")
        sl = lab[order]
        sy = ys[order]
        sx = xs[order]
        bounds = np.flatnonzero(
            np.concatenate(([True], sl[1:] != sl[:-1]))
        )
        ymins = np.minimum.reduceat(sy, bounds)
        ymaxs = np.maximum.reduceat(sy, bounds)
        xmins = np.minimum.reduceat(sx, bounds)
        xmaxs = np.maximum.reduceat(sx, bounds)
        for i, u in enumerate(sl[bounds]):
            bboxes[int(u)] = [
                int(ymins[i]), int(xmins[i]), int(ymaxs[i]), int(xmaxs[i])
            ]
    return labels, bboxes


def forward(image: np.ndarray, score_thresh: float):
    """Image (H, W, 3) or (H, W) uint8, H and W multiples of 4 →
    (score_map, geo_map).

    score_map: (H/4, W/4) float32; geo_map: (H/4, W/4, 8) float32.
    """
    from ..kernels.image import luminance

    h, w = image.shape[:2]
    dark = luminance(image) < DARK_THRESH
    # block mean as two contiguous-axis integer sums then /16 (round-8:
    # ~5x faster than the float64 .mean over the 4-D view). Bit-exact for
    # every input: the mean of a STRIDE×STRIDE bool block is k/16 with
    # k ≤ 16 — k is exact in float32 and division by 16 (a power of two)
    # is exact, so this equals the float64-mean-then-cast value.
    cnt = (
        dark.astype(np.uint8)
        .reshape(h // STRIDE, STRIDE, w)
        .sum(axis=1, dtype=np.int64)
        .reshape(h // STRIDE, w // STRIDE, STRIDE)
        .sum(axis=2, dtype=np.int64)
    )
    score = cnt.astype(np.float32) / np.float32(STRIDE * STRIDE)
    mask = score > score_thresh
    labels, bboxes = _label_components(mask)

    geo = np.zeros((h // STRIDE, w // STRIDE, 8), dtype=np.float32)
    ys, xs = np.nonzero(labels)
    if len(ys):
        lab = labels[ys, xs]
        # label → bbox lookup arrays (labels are root ids, sparse but small)
        max_l = int(lab.max()) + 1
        bb_arr = np.zeros((max_l, 4), dtype=np.float64)
        for l, bb in bboxes.items():
            bb_arr[l] = bb
        ymin = bb_arr[lab, 0]
        xmin = bb_arr[lab, 1]
        ymax = bb_arr[lab, 2]
        xmax = bb_arr[lab, 3]
        # component bbox in map px → offsets so the quad covers
        # [xmin*4, (xmax+1)*4) × [ymin*4, (ymax+1)*4) in image px
        jx = ((xs + ys) % 2) * 0.25 - 0.125
        jy = (xs % 2) * 0.25 - 0.125
        x0 = xmin - xs + jx
        x1 = xmax + 1 - xs + jx
        y0 = ymin - ys + jy
        y1 = ymax + 1 - ys + jy
        geo[ys, xs, 0] = x0
        geo[ys, xs, 1] = y0
        geo[ys, xs, 2] = x1
        geo[ys, xs, 3] = y0
        geo[ys, xs, 4] = x1
        geo[ys, xs, 5] = y1
        geo[ys, xs, 6] = x0
        geo[ys, xs, 7] = y1
    return score, geo


def postprocess_maps(score_map: np.ndarray, geo_map: np.ndarray, orig_hw,
                     cfg: DetectorConfig) -> np.ndarray:
    """Score/geo maps of a target_size page → final (N, 9) float32 quads in
    original-image coordinates: the reference chain after the forward
    (infer.py:300-356). Every detector forward feeds this one chain."""
    quads = decode_quads_from_maps(
        score_map=score_map,
        geo_map=geo_map,
        score_thresh=cfg.score_thresh,
        scale=1.0 / cfg.score_geo_scale,
        quantization=cfg.quantization,
    )
    quads = locality_aware_nms(quads, iou_threshold=cfg.iou_threshold)
    quads = expand_boxes(quads, expand_w=cfg.expand_ratio_w, expand_h=cfg.expand_ratio_h)
    quads = scale_boxes_to_original(quads, orig_hw, cfg.target_size)
    quads = remove_fully_contained_boxes(quads)
    quads = remove_area_anomalies(
        quads,
        sigma_threshold=cfg.anomaly_sigma_threshold,
        min_box_count=cfg.anomaly_min_box_count,
        enabled=cfg.remove_area_anomalies,
    )
    if cfg.axis_aligned_output:
        quads = convert_to_axis_aligned(quads)
    return quads


def resize_to_target(image: np.ndarray, cfg: DetectorConfig) -> np.ndarray:
    """The detector input: the page resized to target_size², or the page
    itself when it already has that shape."""
    if image.shape[:2] != (cfg.target_size, cfg.target_size):
        return resize(image, cfg.target_size, cfg.target_size, interp="linear")
    return image


def detect_quads(image: np.ndarray, cfg: DetectorConfig) -> np.ndarray:
    """The reference EAST.predict chain (infer.py:300-356) over the stand-in
    forward, returning final (N, 9) float32 quads in original-image
    coordinates."""
    score_map, geo_map = forward(resize_to_target(image, cfg), cfg.score_thresh)
    return postprocess_maps(score_map, geo_map, image.shape[:2], cfg)
