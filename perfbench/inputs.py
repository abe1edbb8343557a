"""Seeded benchmark inputs and their expected outputs.

Every input table is generated from the workload seed, written under the
benchmark's state directory, and cached there per seed. The expected
outputs are computed once per seed, outside any timed window, by the
single-process oracle.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Page-kind quotas of a page pool. render_page draws each page's kind from
# the first value of its own generator (fixtures.render_page: < .05 empty,
# < .10 dense, < .15 anomaly, < .22 containment); the pool is filled to
# these shares so every seed carries the same mix and cost: a dense page
# costs several times a normal one, so an unstratified pool's run time
# would follow its seed's count of dense pages.
KIND_EDGES = (("empty", 0.05), ("dense", 0.10), ("anomaly", 0.15), ("containment", 0.22))
KIND_SHARES = {"empty": 0.05, "dense": 0.05, "anomaly": 0.05, "containment": 0.07}

# Seed-offset page index range: seed s draws pages from indices at
# PAGE_BASE + s * PAGE_STRIDE upward, far from the 0..5999 range the repo's
# own fixture tiers render.
PAGE_BASE = 1_000_000
PAGE_STRIDE = 10_000

# Per-workload sizes (pages, docs). Sized so that one timed unit takes a few
# seconds at local[4] and several units fit in a run.
SIZES = {"extract": (120, 600), "ckpt": (16, 1500)}
TINY_SIZES = {"extract": (12, 40), "ckpt": (6, 60)}


def _page_kind(page_idx: int) -> str:
    from manuscript_ocr_spark.fixtures import SEED

    r = np.random.default_rng(SEED + page_idx).random()
    for kind, edge in KIND_EDGES:
        if r < edge:
            return kind
    return "normal"


def page_pool(seed: int, n_pages: int) -> list[int]:
    """Page indices for a seed: the first pages of each kind at or after
    the seed's offset, up to the kind's quota (at least one of each kind
    once the pool has 6 pages or more)."""
    quota = {k: max(1 if n_pages >= 6 else 0, round(s * n_pages)) for k, s in KIND_SHARES.items()}
    quota["normal"] = n_pages - sum(quota.values())
    picked = []
    idx = PAGE_BASE + seed * PAGE_STRIDE
    while len(picked) < n_pages:
        kind = _page_kind(idx)
        if quota[kind] > 0:
            quota[kind] -= 1
            picked.append(idx)
        idx += 1
    return picked


def _cached(cache_dir: str, name: str, build) -> str:
    """Build `name` under cache_dir once; a directory without its DONE
    marker (an interrupted build) is rebuilt."""
    out = os.path.join(cache_dir, name)
    if os.path.exists(os.path.join(out, "DONE")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    open(os.path.join(tmp, "DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out


def _page_inputs(tmp: str, seed: int, n_pages: int, n_docs: int) -> None:
    """docs.parquet, media_raw.parquet, expected.json."""
    from manuscript_ocr_spark.fixtures import (
        PAGE_SIZE, SPAN_STRUCT, generate_docs, render_page,
    )
    from manuscript_ocr_spark.models.east_tiny import DetectorConfig
    from manuscript_ocr_spark.models.glyphs import build_weights
    from manuscript_ocr_spark.oracle import doc_to_spans, page_to_line_texts

    weights = build_weights()
    refs, grays = [], []
    for i, idx in enumerate(page_pool(seed, n_pages)):
        gray, _ = render_page(idx, weights)
        refs.append(f"page-{i:04d}")
        grays.append(gray)

    media = pa.table({
        "media_ref": refs,
        "width": pa.array([g.shape[1] for g in grays], pa.int32()),
        "height": pa.array([g.shape[0] for g in grays], pa.int32()),
        "channels": pa.array([1] * len(grays), pa.int32()),
        "pixels": pa.array([g.tobytes() for g in grays], pa.binary()),
    })
    # same row-group size as the repo's fixture tiers: scans split at
    # row-group granularity
    pq.write_table(media, os.path.join(tmp, "media_raw.parquet"), row_group_size=8)

    docs = generate_docs(n_docs, n_pages, seed=seed)
    pq.write_table(pa.table({
        "doc_id": [d["doc_id"] for d in docs],
        "spans": pa.array([d["spans"] for d in docs], pa.list_(SPAN_STRUCT)),
    }), os.path.join(tmp, "docs.parquet"))

    cfg = DetectorConfig(target_size=PAGE_SIZE)
    pages = dict(zip(refs, grays))
    page_cache = {ref: page_to_line_texts(img, weights, cfg) for ref, img in pages.items()}
    expected = {
        d["doc_id"]: [
            [s["kind"], s["text"], s["media_ref"], s["offset"], s["seq"]]
            for s in doc_to_spans(d["spans"], pages, weights, cfg, page_cache=page_cache)
        ]
        for d in docs
    }
    with open(os.path.join(tmp, "expected.json"), "w") as f:
        json.dump(expected, f)


def page_inputs(cache_dir: str, kind: str, seed: int, tiny: bool = False) -> str:
    n_pages, n_docs = (TINY_SIZES if tiny else SIZES)[kind]
    name = f"{kind}-p{n_pages}-d{n_docs}-s{seed}"
    return _cached(cache_dir, name, lambda tmp: _page_inputs(tmp, seed, n_pages, n_docs))
