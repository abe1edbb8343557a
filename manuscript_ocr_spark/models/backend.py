"""The model-backend seam: a weights dict → the detector and recognizer that
run it. This is the one place that reads weights['kind'].

- stand-in bank (no 'kind', glyphs.build_weights): east_tiny.detect_quads
  + trba_tiny.predict.
- 'real_models' (loader.build_real_weights): the converted checkpoints on
  numpy_twins — resnet50 EAST, SE-ResNet-31 over the `cnn.*` tensors,
  weights['decoding'] greedy (default) or beam.
- 'realistic_bench' (numpy_twins.build_realistic_weights): the stand-in
  backend, with one calibrated real-EAST forward burned before each detect.

load_backend validates, so extract_spans calls it on the driver to fail
before any task runs. It never writes into `weights` and copies no tensors.
"""

from __future__ import annotations

from functools import partial
from typing import Callable, NamedTuple

from . import east_tiny, trba_tiny


class Backend(NamedTuple):
    detect: Callable     # (image, cfg) → (N, 9) float32 quads
    recognize: Callable  # (crops) → [{"text", "confidence"}, ...]


def load_backend(weights: dict) -> Backend:
    kind = weights.get("kind")
    if kind == "real_models":
        return _real_models(weights)
    if kind == "realistic_bench":
        from .numpy_twins import realistic_burn

        standin = load_backend(weights["standin"])

        def detect(image, cfg):
            realistic_burn(image, weights)
            return standin.detect(image, cfg)

        return Backend(detect, standin.recognize)
    return Backend(east_tiny.detect_quads, partial(trba_tiny.predict, weights=weights))


def _real_models(weights: dict) -> Backend:
    from . import numpy_twins

    if not any(k.startswith("backbone.") for k in weights["east"]["tensors"]):
        raise ValueError(
            "real_models EAST weights carry no backbone.* tensors; the "
            "detector has no feature extractor to run (convert a full "
            "checkpoint including the resnet backbone)"
        )
    if not any(k.startswith("cnn.") for k in weights["trba"]["tensors"]):
        raise ValueError(
            "real_models TRBA weights carry no cnn.* tensors; the recognizer "
            "has no SE-ResNet-31 feature extractor to run (convert a full "
            "checkpoint including the cnn backbone)"
        )
    decoding = weights.get("decoding", "greedy")
    if decoding not in ("greedy", "beam"):
        raise ValueError(f"decoding={decoding!r}; expected 'greedy' or 'beam'")
    return Backend(
        partial(numpy_twins.detect_quads, east_state=weights["east"]),
        partial(numpy_twins.predict, trba_state=weights["trba"], mode=decoding),
    )
