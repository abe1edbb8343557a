"""Real-model weights-loader contract (SURVEY.md §9.4).

A swap from the seeded glyph stand-ins to the reference's real EAST/TRBA
checkpoints is DATA-only: this module declares the exact state_dict layout
the reference models produce, validates a checkpoint against it in pure
numpy, and packs it into the same broadcast/serialize shape the pipeline
already ships. models/numpy_twins.py executes the result (selected by
models/backend.py); weights still arrive as one broadcast blob.

Layouts transcribed from the reference:
- EAST decoder blocks + output head:
  /root/reference/src/manuscript/detectors/_east/east.py:13-108
  (DecoderBlock conv1x1→BN→ReLU, conv3x3→BN→ReLU; blocks (in,mid,out) =
  (2048,512,512), (1536,256,256), (768,128,128), (384,64,32); score/geo
  1×1 heads from 32 channels). The resnet50/101 backbone is accepted by
  key prefix with shapes passed through (torchvision-defined, variant
  dependent).
- TRBA (reference TRBAModel,
  /root/reference/src/manuscript/recognizers/_trba/model/model.py:338-391):
  cnn.* = SEResNet31 feature extractor (passthrough, out_channels=512);
  enc_rnn = nn.Sequential of TWO stacked BidirectionalLSTMs (model.py:367-370)
  → keys enc_rnn.{0,1}.rnn.weight_ih_l0[_reverse] / weight_hh_l0[_reverse] /
  bias_*_l0[_reverse] + enc_rnn.{0,1}.linear.{weight,bias} (Linear(2H, H),
  model.py:323-335); attn = Attention head (model.py:49-75) → keys
  attn.attention_cell.{i2h,h2h,score,rnn}.* (LSTMCell over
  input_size+num_classes) + attn.generator.{weight,bias}. The attention
  input_size is the ENCODER OUTPUT dim = hidden_size (model.py:371 sets
  enc_dim = hidden_size before Attention(input_size=enc_dim,...)), so it
  defaults to hidden_size here.
"""

from __future__ import annotations

import io

import numpy as np

EAST_DECODER_BLOCKS = (
    # (in_channels, mid_channels, out_channels) per east.py:71-81
    (2048, 512, 512),
    (512 + 1024, 256, 256),
    (256 + 512, 128, 128),
    (128 + 256, 64, 32),
)


def east_manifest() -> dict:
    """name → shape for every non-backbone EAST tensor."""
    m: dict[str, tuple] = {}
    for i, (cin, mid, out) in enumerate(EAST_DECODER_BLOCKS, start=1):
        b = f"decoder.block{i}"
        m[f"{b}.conv1x1.0.weight"] = (mid, cin, 1, 1)
        m[f"{b}.conv1x1.0.bias"] = (mid,)
        for suffix in ("weight", "bias", "running_mean", "running_var"):
            m[f"{b}.conv1x1.1.{suffix}"] = (mid,)
        m[f"{b}.conv3x3.0.weight"] = (out, mid, 3, 3)
        m[f"{b}.conv3x3.0.bias"] = (out,)
        for suffix in ("weight", "bias", "running_mean", "running_var"):
            m[f"{b}.conv3x3.1.{suffix}"] = (out,)
    m["output_head.score_map.weight"] = (1, 32, 1, 1)
    m["output_head.score_map.bias"] = (1,)
    m["output_head.geo_map.weight"] = (8, 32, 1, 1)
    m["output_head.geo_map.bias"] = (8,)
    return m


def trba_manifest(
    hidden_size: int,
    num_classes: int,
    input_size: int | None = None,
    seq_input: int = 512,
) -> dict:
    """name → shape for every non-cnn TRBAModel tensor (model.py:338-391).

    input_size is the attention input dim = the encoder output dim, which the
    reference fixes to hidden_size (model.py:371: enc_dim = hidden_size after
    enc_rnn); seq_input is the first BiLSTM's input dim = SEResNet31
    out_channels = 512 (model.py:356-365)."""
    H, V = hidden_size, num_classes
    I = hidden_size if input_size is None else input_size
    m: dict[str, tuple] = {
        "attn.attention_cell.i2h.weight": (H, I),
        "attn.attention_cell.h2h.weight": (H, H),
        "attn.attention_cell.h2h.bias": (H,),
        "attn.attention_cell.score.weight": (1, H),
        "attn.attention_cell.rnn.weight_ih": (4 * H, I + V),
        "attn.attention_cell.rnn.weight_hh": (4 * H, H),
        "attn.attention_cell.rnn.bias_ih": (4 * H,),
        "attn.attention_cell.rnn.bias_hh": (4 * H,),
        "attn.generator.weight": (V, H),
        "attn.generator.bias": (V,),
    }
    # enc_rnn = Sequential(BidirectionalLSTM(512, H, H),
    #                      BidirectionalLSTM(H, H, H))    (model.py:367-370)
    # each = nn.LSTM(bidirectional, batch_first) + Linear(2H, H)
    for layer, in_dim in ((0, seq_input), (1, H)):
        for d in ("", "_reverse"):
            m[f"enc_rnn.{layer}.rnn.weight_ih_l0{d}"] = (4 * H, in_dim)
            m[f"enc_rnn.{layer}.rnn.weight_hh_l0{d}"] = (4 * H, H)
            m[f"enc_rnn.{layer}.rnn.bias_ih_l0{d}"] = (4 * H,)
            m[f"enc_rnn.{layer}.rnn.bias_hh_l0{d}"] = (4 * H,)
        m[f"enc_rnn.{layer}.linear.weight"] = (H, 2 * H)
        m[f"enc_rnn.{layer}.linear.bias"] = (H,)
    return m


_PASSTHROUGH_PREFIXES = {
    "east": ("backbone.",),
    "trba": ("cnn.",),  # SEResNet31 feature extractor (model.py:356)
}


def convert_state_dict(
    state_dict: dict,
    model: str,
    charset: list[str] | None = None,
    hidden_size: int = 256,
    input_size: int | None = None,
) -> dict:
    """Validate a (numpy-valued) state dict against the reference layout and
    pack it into the pipeline's broadcastable weights dict.

    - every manifest tensor must be present with the exact shape;
    - backbone / feature-extractor tensors are passed through by prefix
      (their shapes are torchvision-variant-defined);
    - any other key is rejected (catches renamed checkpoints early, on the
      driver, instead of as executor-side gather errors);
    - values are coerced to contiguous float32 (what the batched kernels
      consume) except integer buffers, which are dropped like
      load_state_dict ignores num_batches_tracked.
    """
    if model not in _PASSTHROUGH_PREFIXES:
        raise ValueError(f"unknown model '{model}' (expected east|trba)")
    if model == "trba":
        if not charset:
            raise ValueError("trba conversion requires the charset list")
        manifest = trba_manifest(hidden_size, len(charset), input_size)
    else:
        manifest = east_manifest()
    prefixes = _PASSTHROUGH_PREFIXES[model]

    tensors: dict[str, np.ndarray] = {}
    missing = set(manifest)
    for name, value in state_dict.items():
        arr = np.asarray(value)
        if name.endswith("num_batches_tracked"):
            continue  # BN bookkeeping, unused at inference
        if name in manifest:
            if tuple(arr.shape) != manifest[name]:
                raise ValueError(
                    f"{name}: shape {tuple(arr.shape)} != expected {manifest[name]}"
                )
            missing.discard(name)
        elif not name.startswith(prefixes):
            raise ValueError(
                f"unexpected key '{name}' (not in the {model} manifest and not "
                f"under {prefixes})"
            )
        tensors[name] = np.ascontiguousarray(arr, dtype=np.float32)
    if missing:
        raise ValueError(f"missing {len(missing)} tensors, e.g. {sorted(missing)[:3]}")

    out = {"kind": f"{model}_state", "tensors": tensors}
    if model == "trba":
        out["itos"] = list(charset)
        out["stoi"] = {s: i for i, s in enumerate(charset)}
        out["hidden_size"] = hidden_size
        out["input_size"] = hidden_size if input_size is None else input_size
    return out


def serialize_model_weights(weights: dict) -> bytes:
    """npz round-trip for a converted state dict (broadcast shipping)."""
    buf = io.BytesIO()
    meta = {
        "__kind__": np.array(weights["kind"]),
    }
    if "itos" in weights:
        meta["__itos__"] = np.array(weights["itos"], dtype=object)
        meta["__hidden_size__"] = np.array(weights["hidden_size"])
        meta["__input_size__"] = np.array(weights["input_size"])
    np.savez_compressed(buf, **meta, **{f"t::{k}": v for k, v in weights["tensors"].items()})
    return buf.getvalue()


def deserialize_model_weights(blob: bytes) -> dict:
    data = np.load(io.BytesIO(blob), allow_pickle=True)
    out = {
        "kind": str(data["__kind__"]),
        "tensors": {
            k[3:]: data[k] for k in data.files if k.startswith("t::")
        },
    }
    if "__itos__" in data.files:
        out["itos"] = [str(s) for s in data["__itos__"]]
        out["stoi"] = {s: i for i, s in enumerate(out["itos"])}
        out["hidden_size"] = int(data["__hidden_size__"])
        out["input_size"] = int(data["__input_size__"])
    return out


def build_real_weights(
    east_state_dict: dict,
    trba_state_dict: dict,
    charset: list[str],
    hidden_size: int = 256,
    max_len: int = 25,
) -> dict:
    """Combined real-model weights for pipeline.extract_spans(weights=...):
    both checkpoints validated/converted, plus the charset. The result
    serializes to ONE broadcast npz like the stand-in bank."""
    east = convert_state_dict(east_state_dict, "east")
    trba = convert_state_dict(
        trba_state_dict, "trba", charset=charset, hidden_size=hidden_size
    )
    trba["max_len"] = max_len
    return {
        "kind": "real_models",
        "east": east,
        "trba": trba,
        # top-level charset mirrors the stand-in bank so shared code paths
        # (metrics, vis) can read it without caring which kind this is
        "itos": list(charset),
        "stoi": {s: i for i, s in enumerate(charset)},
    }


def serialize_real_weights(weights: dict) -> bytes:
    """npz for the combined real-model dict (one broadcast blob)."""
    buf = io.BytesIO()
    arrays = {
        "__real__": np.array(1),
        "__itos__": np.array(weights["itos"], dtype=object),
        "__max_len__": np.array(weights["trba"].get("max_len", 25)),
        "__hidden_size__": np.array(weights["trba"]["hidden_size"]),
        # decode mode must ride the broadcast blob: the reference's predict
        # defaults to beam, and a worker that silently fell back to greedy
        # would produce different spans than the driver-side oracle
        "__decoding__": np.array(weights.get("decoding") or "greedy"),
    }
    for model in ("east", "trba"):
        for k, v in weights[model]["tensors"].items():
            arrays[f"{model}::t::{k}"] = v
    np.savez_compressed(buf, **arrays)
    return buf.getvalue()


def deserialize_real_weights(data) -> dict:
    """Inverse of serialize_real_weights (data: an open np.load handle)."""
    itos = [str(s) for s in data["__itos__"]]
    stoi = {s: i for i, s in enumerate(itos)}
    out = {
        "kind": "real_models",
        "itos": itos,
        "stoi": stoi,
        "decoding": (str(data["__decoding__"])
                     if "__decoding__" in data.files else "greedy"),
        "east": {"kind": "east_state", "tensors": {}},
        "trba": {
            "kind": "trba_state",
            "tensors": {},
            "itos": itos,
            "stoi": stoi,
            "hidden_size": int(data["__hidden_size__"]),
            "max_len": int(data["__max_len__"]),
        },
    }
    for k in data.files:
        for model in ("east", "trba"):
            p = f"{model}::t::"
            if k.startswith(p):
                out[model]["tensors"][k[len(p):]] = data[k]
    return out


def synthetic_state_dict(manifest: dict, seed: int = 7) -> dict:
    """Deterministic fake checkpoint matching a manifest (tests)."""
    rng = np.random.default_rng(seed)
    return {k: rng.standard_normal(shape).astype(np.float32) for k, shape in manifest.items()}
