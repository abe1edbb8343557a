"""Pure-numpy execution of converted REFERENCE-LAYOUT checkpoints.

models/loader.py validates the real checkpoint layout; this module runs it.
The converted tensors (loader.convert_state_dict output, torchvision /
reference key names) drive a pure-numpy forward with torch's eval-mode
numerics (kernels/nn.py), so `pipeline.extract_spans(
weights=build_real_weights(...))` runs end-to-end without torch. It is the
only real-model execution path; models/backend.py selects it for
`real_models` weights.

Architectures (transcribed from the reference, not copied):
- EAST = torchvision resnet50 feature extractor (4 stage taps) + decoder
  blocks conv1x1→BN→ReLU→conv3x3→BN→ReLU with ×2 bilinear upsample + skip
  concat + sigmoid score / 8-ch geo heads
  (reference: src/manuscript/detectors/_east/east.py:13-108). Everything
  after the maps is east_tiny.postprocess_maps, shared with the stand-in.
- TRBA cnn = SE-ResNet-31 (reference seresnet31.py:1-187: conv stem →
  4 SE-basic-block stages (1/2/5/3 blocks, strides 2/1/2/1) → conv_out with
  stride (2,1)), run over the checkpoint's `cnn.*` tensors; encoder = two
  stacked BidirectionalLSTMs; decoder = the attention greedy decode
  (model.py:228-259) AND the stateful batched beam search (model.py:93-226:
  per-beam LSTM state + attention, blank-mask → temperature → log_softmax →
  finished-beam masking → length-penalty topk → state/trace gather).

This is also the model-realistic bench tier: the stand-ins are ~6x cheaper
per page than real EAST+TRBA, so scaling numbers overweighted Spark
overhead. Running THIS module from a synthetic-valued reference-shaped
checkpoint (`synthetic_state_dicts`) gives per-page costs in the real
models' class — real GEMM pressure, real memory traffic — while staying
deterministic and torch-free.
"""

from __future__ import annotations

import numpy as np

from ..kernels import nn as K

# ---------------------------------------------------------------------------
# torchvision resnet50 (the EAST backbone) — key layout + numpy forward
# ---------------------------------------------------------------------------

RESNET50_STAGES = (
    # (name, in_ch, mid_ch, out_ch, blocks, stride)  — torchvision v1.5:
    # the 3x3 conv2 carries the stage stride
    ("layer1", 64, 64, 256, 3, 1),
    ("layer2", 256, 128, 512, 4, 2),
    ("layer3", 512, 256, 1024, 6, 2),
    ("layer4", 1024, 512, 2048, 3, 2),
)


def resnet50_manifest() -> dict:
    """name → shape for every torchvision resnet50 feature-extractor tensor
    (fc excluded — the extractor taps layer outputs). Used to synthesize
    reference-shaped checkpoints and to validate passthrough keys."""
    m: dict[str, tuple] = {"conv1.weight": (64, 3, 7, 7)}
    for s in ("weight", "bias", "running_mean", "running_var"):
        m[f"bn1.{s}"] = (64,)
    for name, cin, mid, cout, blocks, _stride in RESNET50_STAGES:
        for i in range(blocks):
            b = f"{name}.{i}"
            in_ch = cin if i == 0 else cout
            m[f"{b}.conv1.weight"] = (mid, in_ch, 1, 1)
            m[f"{b}.conv2.weight"] = (mid, mid, 3, 3)
            m[f"{b}.conv3.weight"] = (cout, mid, 1, 1)
            for j, ch in (("1", mid), ("2", mid), ("3", cout)):
                for s in ("weight", "bias", "running_mean", "running_var"):
                    m[f"{b}.bn{j}.{s}"] = (ch,)
            if i == 0:
                m[f"{b}.downsample.0.weight"] = (cout, in_ch, 1, 1)
                for s in ("weight", "bias", "running_mean", "running_var"):
                    m[f"{b}.downsample.1.{s}"] = (cout,)
    return m


def _bn(t, x, prefix):
    return K.batch_norm(
        x, t[prefix + ".running_mean"], t[prefix + ".running_var"],
        t[prefix + ".weight"], t[prefix + ".bias"],
    )


def _bottleneck(t, x, b: str, stride: int):
    """torchvision Bottleneck: 1x1 → 3x3(stride) → 1x1, BN+ReLU between,
    residual add (+ downsample when present), final ReLU."""
    out = K.relu(_bn(t, K.conv2d(x, t[f"{b}.conv1.weight"]), f"{b}.bn1"))
    out = K.relu(_bn(t, K.conv2d(out, t[f"{b}.conv2.weight"], stride=stride, pad=1),
                     f"{b}.bn2"))
    out = _bn(t, K.conv2d(out, t[f"{b}.conv3.weight"]), f"{b}.bn3")
    if f"{b}.downsample.0.weight" in t:
        identity = _bn(t, K.conv2d(x, t[f"{b}.downsample.0.weight"], stride=stride),
                       f"{b}.downsample.1")
    else:
        identity = x
    return K.relu(out + identity)


def resnet50_extract(tensors: dict, x: np.ndarray, prefix: str = "") -> dict:
    """x: normalized NCHW float32 → {'res1'..'res4'} stage taps (strides
    4/8/16/32): torchvision create_feature_extractor over layer1..layer4."""
    t = {k[len(prefix):]: v for k, v in tensors.items()} if prefix else tensors
    x = K.conv2d(x, t["conv1.weight"], stride=2, pad=3)
    x = K.relu(_bn(t, x, "bn1"))
    x = K.max_pool2d(x, 3, 2, pad=1)
    feats = {}
    for si, (name, _cin, _mid, _cout, blocks, stride) in enumerate(RESNET50_STAGES, 1):
        for i in range(blocks):
            x = _bottleneck(t, x, f"{name}.{i}", stride if i == 0 else 1)
        feats[f"res{si}"] = x
    return feats


# ---------------------------------------------------------------------------
# EAST decoder + heads (east.py:13-108), numpy
# ---------------------------------------------------------------------------

def _east_block(t, x, b: str):
    x = K.conv2d(x, t[f"{b}.conv1x1.0.weight"], t[f"{b}.conv1x1.0.bias"])
    x = K.relu(_bn(t, x, f"{b}.conv1x1.1"))
    x = K.conv2d(x, t[f"{b}.conv3x3.0.weight"], t[f"{b}.conv3x3.0.bias"], pad=1)
    return K.relu(_bn(t, x, f"{b}.conv3x3.1"))


def build_east(tensors: dict):
    """Converted EAST tensors → forward(image_uint8) → (score, geo) numpy
    maps at stride 4 — the same contract as east_tiny.forward."""
    backbone = {
        k[len("backbone.extractor."):]: v
        for k, v in tensors.items() if k.startswith("backbone.extractor.")
    }

    def forward(image: np.ndarray):
        img = np.asarray(image)
        if img.ndim == 2:
            img = np.stack([img] * 3, axis=-1)
        x = img.astype(np.float32).transpose(2, 0, 1)[None] / 255.0
        x = (x - 0.5) / 0.5
        feats = resnet50_extract(backbone, x)
        h4 = _east_block(tensors, feats["res4"], "decoder.block1")
        h3 = _east_block(
            tensors,
            np.concatenate([K.upsample_bilinear_2x(h4), feats["res3"]], axis=1),
            "decoder.block2")
        h2 = _east_block(
            tensors,
            np.concatenate([K.upsample_bilinear_2x(h3), feats["res2"]], axis=1),
            "decoder.block3")
        h1 = _east_block(
            tensors,
            np.concatenate([K.upsample_bilinear_2x(h2), feats["res1"]], axis=1),
            "decoder.block4")
        score = K.sigmoid(
            K.conv2d(h1, tensors["output_head.score_map.weight"],
                     tensors["output_head.score_map.bias"]))
        geo = K.conv2d(h1, tensors["output_head.geo_map.weight"],
                       tensors["output_head.geo_map.bias"])
        return score[0, 0], geo[0].transpose(1, 2, 0)

    return forward


def detect_quads(image: np.ndarray, cfg, east_state: dict) -> np.ndarray:
    """Real-EAST detect_quads on numpy: the stand-in's resize and post
    chain (east_tiny) around the converted checkpoint's forward."""
    from .east_tiny import postprocess_maps, resize_to_target

    forward = build_east(east_state["tensors"])
    score_map, geo_map = forward(resize_to_target(image, cfg))
    return postprocess_maps(score_map, geo_map, image.shape[:2], cfg)


# ---------------------------------------------------------------------------
# SE-ResNet-31 (reference seresnet31.py) — key layout + numpy forward
# ---------------------------------------------------------------------------

SERESNET31_STAGES = (
    # (name, in_ch, out_ch, blocks, stride)  — stride sits on conv1
    ("layer1", 128, 256, 1, 2),
    ("layer2", 256, 256, 2, 1),
    ("layer3", 256, 512, 5, 2),
    ("layer4", 512, 512, 3, 1),
)


def seresnet31_manifest(in_channels: int = 3, out_channels: int = 512,
                        reduction: int = 16) -> dict:
    """name → shape for every SE-ResNet-31 tensor (keys as the reference's
    state_dict emits them, WITHOUT the 'cnn.' prefix)."""
    m: dict[str, tuple] = {
        "conv0.0.weight": (64, in_channels, 3, 3),
        "conv0.3.weight": (128, 64, 3, 3),
    }
    for idx, ch in (("1", 64), ("4", 128)):
        for s in ("weight", "bias", "running_mean", "running_var"):
            m[f"conv0.{idx}.{s}"] = (ch,)
    for name, cin, cout, blocks, stride in SERESNET31_STAGES:
        for i in range(blocks):
            b = f"{name}.{i}"
            in_ch = cin if i == 0 else cout
            m[f"{b}.conv1.weight"] = (cout, in_ch, 3, 3)
            m[f"{b}.conv2.weight"] = (cout, cout, 3, 3)
            for j in ("1", "2"):
                for s in ("weight", "bias", "running_mean", "running_var"):
                    m[f"{b}.bn{j}.{s}"] = (cout,)
            m[f"{b}.se.fc.0.weight"] = (cout // reduction, cout)
            m[f"{b}.se.fc.2.weight"] = (cout, cout // reduction)
            if i == 0 and (stride != 1 or in_ch != cout):
                m[f"{b}.downsample.0.weight"] = (cout, in_ch, 1, 1)
                for s in ("weight", "bias", "running_mean", "running_var"):
                    m[f"{b}.downsample.1.{s}"] = (cout,)
    m["conv_out.0.weight"] = (out_channels, 512, 2, 2)
    m["conv_out.3.weight"] = (out_channels, out_channels, 2, 2)
    for idx in ("1", "4"):
        for s in ("weight", "bias", "running_mean", "running_var"):
            m[f"conv_out.{idx}.{s}"] = (out_channels,)
    return m


def _se_block(t, x, b: str, stride: int):
    """SEBasicBlock (seresnet31.py:23-67): conv3x3(stride)→BN→ReLU →
    conv3x3→BN → SE scale → (+ downsampled identity) → ReLU."""
    out = K.relu(_bn(t, K.conv2d(x, t[f"{b}.conv1.weight"], stride=stride, pad=1),
                     f"{b}.bn1"))
    out = _bn(t, K.conv2d(out, t[f"{b}.conv2.weight"], pad=1), f"{b}.bn2")
    # SELayer: global avg pool → Linear → ReLU → Linear → Sigmoid → scale
    y = out.mean(axis=(2, 3))
    y = K.relu(K.linear(y, t[f"{b}.se.fc.0.weight"]))
    y = K.sigmoid(K.linear(y, t[f"{b}.se.fc.2.weight"]))
    out = out * y[:, :, None, None]
    if f"{b}.downsample.0.weight" in t:
        identity = _bn(t, K.conv2d(x, t[f"{b}.downsample.0.weight"], stride=stride),
                       f"{b}.downsample.1")
    else:
        identity = x
    return K.relu(out + identity)


def build_seresnet31(tensors: dict, prefix: str = "cnn."):
    """cnn.* passthrough tensors → forward(batch NCHW normalized float32)
    → (B, 512, H', W') feature maps."""
    t = {k[len(prefix):]: v for k, v in tensors.items() if k.startswith(prefix)}

    def forward(x: np.ndarray) -> np.ndarray:
        x = np.asarray(x, dtype=np.float32)
        x = K.relu(_bn(t, K.conv2d(x, t["conv0.0.weight"], pad=1), "conv0.1"))
        x = K.relu(_bn(t, K.conv2d(x, t["conv0.3.weight"], pad=1), "conv0.4"))
        x = K.max_pool2d(x, 2, 2)
        for name, _cin, _cout, blocks, stride in SERESNET31_STAGES:
            for i in range(blocks):
                x = _se_block(t, x, f"{name}.{i}", stride if i == 0 else 1)
        x = K.relu(_bn(t, K.conv2d(x, t["conv_out.0.weight"], stride=(2, 1),
                                   pad=(0, 1)), "conv_out.1"))
        x = K.relu(_bn(t, K.conv2d(x, t["conv_out.3.weight"]), "conv_out.4"))
        return x

    return forward


# ---------------------------------------------------------------------------
# TRBA encoder + attention greedy decode (model.py:228-259), numpy
# ---------------------------------------------------------------------------

def _greedy_decode(batch_H: np.ndarray, tensors: dict, meta: dict):
    """model.py:228-259 semantics at eval: onehot(prev) feedback, AttentionCell (i2h/h2h/score softmax context + LSTMCell over
    [context, onehot]), generator logits, blank mask, argmax, early stop
    when every row has emitted <EOS>."""
    B = batch_H.shape[0]
    H = tensors["attn.attention_cell.h2h.weight"].shape[0]
    V = tensors["attn.generator.weight"].shape[0]
    sos, eos, blank = meta["sos_id"], meta["eos_id"], meta["blank_id"]
    steps = meta["max_len"] + 1

    proj_H = K.linear(batch_H, tensors["attn.attention_cell.i2h.weight"])
    h = np.zeros((B, H), dtype=np.float32)
    c = np.zeros((B, H), dtype=np.float32)
    targets = np.full(B, sos, dtype=np.int64)
    probs, preds = [], []
    for _ in range(steps):
        onehots = np.zeros((B, V), dtype=np.float32)
        onehots[np.arange(B), targets] = 1.0
        e = K.linear(
            np.tanh(proj_H + K.linear(h, tensors["attn.attention_cell.h2h.weight"],
                                      tensors["attn.attention_cell.h2h.bias"])[:, None, :]),
            tensors["attn.attention_cell.score.weight"])       # (B, T, 1)
        alpha = K.softmax(e, axis=1)
        context = (alpha * batch_H).sum(axis=1)                 # (B, C)
        x = np.concatenate([context, onehots], axis=1)
        h, c = K.lstm_cell(
            x, h, c,
            tensors["attn.attention_cell.rnn.weight_ih"],
            tensors["attn.attention_cell.rnn.weight_hh"],
            tensors["attn.attention_cell.rnn.bias_ih"],
            tensors["attn.attention_cell.rnn.bias_hh"])
        logits_t = K.linear(h, tensors["attn.generator.weight"],
                            tensors["attn.generator.bias"])
        if blank is not None:
            logits_t[:, blank] = -1e4                           # _mask_logits
        probs.append(logits_t[:, None, :])
        targets = logits_t.argmax(axis=1)
        preds.append(targets[:, None])
        if np.all(targets == eos):
            break
    return np.concatenate(probs, axis=1), np.concatenate(preds, axis=1)


def _beam_decode_states(step_fn, state, B, V, sos_id, eos_id, steps,
                        beam_size=8, alpha=0.9, temperature=1.7,
                        blank_id=None):
    """Stateful batched beam search — reference model.py:93-226 semantics,
    verbatim, over an arbitrary per-beam state (round-4 verdict item 4):

    - `step_fn(last_tok[N], state) -> (raw_logits[N, V], new_state)` where
      N = B*beam_size and state is a tuple of arrays with leading dim N
      (reordered here by fancy-indexing on the selected parent beams — the
      reference's gather of h/c, model.py:174-180).
    - blank mask (-1e4) BEFORE temperature scaling (model.py:134-138), then
      log_softmax of the scaled logits.
    - finished-beam masking AFTER log_softmax: -inf everywhere except
      EOS=0 (model.py:145-157).
    - length penalty lp = ((5+t+1)^α)/6^α divides the running SUM pre-topk
      and is multiplied back after (model.py:159-196 — the inert-scalar
      quirk the stand-in pins too).
    - topk over beam×V with torch tie order (descending value, lower flat
      index first) via stable argsort.
    - trace: the temperature-scaled, blank-masked PRE-selection logits of
      each step, reordered with the surviving beams (model.py:198-213).
    - runs `steps` = batch_max_length iterations (NOT max_len+1 — the
      reference's greedy/beam step-count asymmetry, model.py:121 vs 231).

    Returns (probs_best [B, T, V], tokens_best [B, T]) with the leading
    SOS column dropped, exactly like the reference's return.
    """
    k = beam_size
    N = B * k
    rows = np.arange(B)[:, None]
    beam_tokens = np.full((B, k, 1), sos_id, dtype=np.int64)
    beam_scores = np.full((B, k), -np.inf)
    beam_scores[:, 0] = 0.0
    finished = np.zeros((B, k), dtype=bool)
    probs_trace = None  # [B, k, t, V]

    for t in range(steps):
        last = beam_tokens[:, :, -1].reshape(N)
        logits_t, state = step_fn(last, state)
        logits_t = np.asarray(logits_t, dtype=np.float64).copy()
        if blank_id is not None:
            logits_t[:, blank_id] = -1e4
        if temperature != 1.0:
            logits_t = logits_t / max(temperature, 1e-6)
        log_probs = K.log_softmax(logits_t, axis=-1).reshape(B, k, V)
        if finished.any():
            eos_col = log_probs[:, :, eos_id]
            log_probs = np.where(finished[:, :, None], -np.inf, log_probs)
            log_probs[:, :, eos_id] = np.where(finished, 0.0, eos_col)

        next_sum = beam_scores[:, :, None] + log_probs  # [B, k, V]
        if alpha > 0:
            lp = ((5.0 + (t + 1)) ** alpha) / (6.0 ** alpha)
            next_scores = next_sum / lp
        else:
            lp = 1.0
            next_scores = next_sum

        flat = next_scores.reshape(B, k * V)
        order = np.argsort(-flat, axis=1, kind="stable")[:, :k]
        top_scores = np.take_along_axis(flat, order, axis=1)
        next_beam = order // V
        next_token = order % V

        flat_sel = (rows * k + next_beam).reshape(N)
        state = tuple(arr[flat_sel] for arr in state)
        beam_tokens = np.concatenate(
            [beam_tokens[rows, next_beam], next_token[:, :, None]], axis=2)
        beam_scores = top_scores * lp if alpha > 0 else top_scores
        finished = finished[rows, next_beam] | (next_token == eos_id)

        cur_sel = logits_t.reshape(B, k, V)[rows, next_beam]  # [B, k, V]
        if probs_trace is None:
            probs_trace = cur_sel[:, :, None, :]
        else:
            probs_trace = np.concatenate(
                [probs_trace[rows, next_beam], cur_sel[:, :, None, :]], axis=2)
        if finished.all():
            break

    best = beam_scores.argmax(axis=1)
    arange_b = np.arange(B)
    return probs_trace[arange_b, best], beam_tokens[arange_b, best, 1:]


def _make_attn_step(batch_H_rep, tensors, meta):
    """Build the real-checkpoint step_fn for `_beam_decode_states`: one
    AttentionCell + generator step (the same math `_greedy_decode` runs,
    model.py:228-259) over the beam-replicated encoder output. State is
    (h, c); raw logits are returned un-masked/un-scaled — the beam loop
    applies the reference's mask/temperature ordering."""
    V = tensors["attn.generator.weight"].shape[0]
    proj_H = K.linear(batch_H_rep, tensors["attn.attention_cell.i2h.weight"])
    N = batch_H_rep.shape[0]

    def step(last_tok, state):
        h, c = state
        onehots = np.zeros((N, V), dtype=np.float32)
        onehots[np.arange(N), last_tok] = 1.0
        e = K.linear(
            np.tanh(proj_H + K.linear(
                h, tensors["attn.attention_cell.h2h.weight"],
                tensors["attn.attention_cell.h2h.bias"])[:, None, :]),
            tensors["attn.attention_cell.score.weight"])       # (N, T, 1)
        att = K.softmax(e, axis=1)
        context = (att * batch_H_rep).sum(axis=1)               # (N, C)
        x = np.concatenate([context, onehots], axis=1)
        h2, c2 = K.lstm_cell(
            x, h, c,
            tensors["attn.attention_cell.rnn.weight_ih"],
            tensors["attn.attention_cell.rnn.weight_hh"],
            tensors["attn.attention_cell.rnn.bias_ih"],
            tensors["attn.attention_cell.rnn.bias_hh"])
        logits = K.linear(h2, tensors["attn.generator.weight"],
                          tensors["attn.generator.bias"])
        return logits, (h2, c2)

    return step


def predict(images, trba_state: dict, batch_size: int = 32,
            mode: str = "greedy", beam_size: int = 8,
            temperature: float = 1.7, alpha: float = 0.9):
    """Numpy real-TRBA predict: same contract as trba_tiny.predict — modes
    greedy | beam (reference beam defaults beam_size=8, T=1.7, α=0.9,
    __init__.py:290-300). The conv backbone is the SE-ResNet-31 over the
    checkpoint's cnn.* tensors."""
    if mode not in ("greedy", "beam"):
        raise ValueError(f"Unknown mode: {mode}")
    from ..kernels.image import resize_and_pad
    from ..kernels.textproc import decode_tokens, mean_prob_confidence

    t = trba_state["tensors"]
    cnn = build_seresnet31(t)
    meta = {
        "sos_id": trba_state["stoi"]["<SOS>"],
        "eos_id": trba_state["stoi"]["<EOS>"],
        "pad_id": trba_state["stoi"]["<PAD>"],
        "blank_id": trba_state["stoi"].get("<BLANK>"),
        "max_len": trba_state.get("max_len", 25),
    }
    if not isinstance(images, list):
        images = [images]
    results = []
    for i in range(0, len(images), batch_size):
        batch = []
        for crop in images[i:i + batch_size]:
            img = np.asarray(crop)
            if img.ndim == 2:
                img = np.stack([img] * 3, axis=-1)
            lb = resize_and_pad(img, img_h=64, img_w=256)
            x = lb.astype(np.float32).transpose(2, 0, 1) / 255.0
            batch.append((x - 0.5) / 0.5)
        xb = np.stack(batch)
        f = cnn(xb)                               # (B, 512, H', W')
        f = K.adaptive_avg_pool_h1(f)             # (B, 512, W')
        f = f.transpose(0, 2, 1)                  # (B, W', C)
        f = K.bilstm(f, t, "enc_rnn.0.")
        f = K.bilstm(f, t, "enc_rnn.1.")          # (B, W', H)
        if mode == "beam":
            B = f.shape[0]
            H = t["attn.attention_cell.h2h.weight"].shape[0]
            V = t["attn.generator.weight"].shape[0]
            f_rep = np.repeat(f, beam_size, axis=0)
            step = _make_attn_step(f_rep, t, meta)
            state = (np.zeros((B * beam_size, H), dtype=np.float32),
                     np.zeros((B * beam_size, H), dtype=np.float32))
            logits, pred_ids = _beam_decode_states(
                step, state, B, V, meta["sos_id"], meta["eos_id"],
                steps=meta["max_len"], beam_size=beam_size, alpha=alpha,
                temperature=temperature, blank_id=meta["blank_id"])
        else:
            logits, pred_ids = _greedy_decode(f, t, meta)
        log_probs = K.log_softmax(logits, axis=-1)
        for j in range(pred_ids.shape[0]):
            row = pred_ids[j].tolist()
            text = decode_tokens(row, trba_state["itos"],
                                 pad_id=meta["pad_id"], eos_id=meta["eos_id"],
                                 blank_id=meta["blank_id"])
            confidence = mean_prob_confidence(log_probs[j], row)
            results.append({"text": text, "confidence": confidence})
    return results


# ---------------------------------------------------------------------------
# synthetic reference-shaped checkpoints (tests + the realistic bench tier)
# ---------------------------------------------------------------------------

def synthetic_state_dicts(charset, hidden_size: int = 256, seed: int = 42):
    """Deterministic synthetic-VALUED state dicts in the exact reference
    layout (every key the real checkpoints carry, shapes from the
    manifests). Values are scaled small so eval-mode activations stay in a
    sane range; BN running stats are identity-ish. These exercise the real
    architectures at real per-page cost without shipping real weights."""
    from .loader import east_manifest, trba_manifest

    rng = np.random.default_rng(seed)

    def fill(manifest, prefix=""):
        out = {}
        for k, shape in manifest.items():
            key = prefix + k
            if k.endswith("running_var"):
                out[key] = np.ones(shape, dtype=np.float32)
            elif k.endswith("running_mean") or k.endswith(".bias") or k.endswith("bias"):
                out[key] = np.zeros(shape, dtype=np.float32)
            elif k.endswith("weight") and len(shape) == 1:
                out[key] = np.ones(shape, dtype=np.float32)  # BN gamma
            else:
                fan_in = int(np.prod(shape[1:])) if len(shape) > 1 else shape[0]
                out[key] = rng.normal(
                    0.0, 1.0 / np.sqrt(max(fan_in, 1)), size=shape
                ).astype(np.float32)
        return out

    east_sd = fill(east_manifest())
    east_sd.update(fill(resnet50_manifest(), prefix="backbone.extractor."))
    trba_sd = fill(trba_manifest(hidden_size, len(charset)))
    trba_sd.update(fill(seresnet31_manifest(), prefix="cnn."))
    return east_sd, trba_sd


# ---------------------------------------------------------------------------
# model-realistic bench tier (round-4 verdict item #1)
# ---------------------------------------------------------------------------

# Calibrated so one numpy real-EAST forward costs ~0.6 s/page single-thread
# (the reference notebook's published 0.604 s/image detector mean): measured
# on this host with BLAS pinned to 1 thread — 160px 0.52 s, 224px 0.60 s,
# 256px 0.77 s.
REALISTIC_TARGET_SIZE = 224


def build_realistic_weights(target_size: int = REALISTIC_TARGET_SIZE,
                            seed: int = 42) -> dict:
    """Bench-tier weights: the DETERMINISTIC stand-in pipeline (identical
    extraction output, so the span-equality invariant stays checkable)
    PLUS a real-architecture numpy EAST forward executed per page for its
    cost alone. This makes the per-page compute fraction realistic — the
    round-3 verdict's point: the stand-ins are ~6x cheaper per page than
    real EAST+TRBA, so every scaling number overweighted Spark overhead.
    The burn is the detector (the baseline's one published number is
    detector-only); recognition stays the cheap stand-in, documented."""
    from .glyphs import build_weights
    from .loader import convert_state_dict

    east_sd, _ = synthetic_state_dicts(
        ["<PAD>", "<SOS>", "<EOS>", "<BLANK>", "a"], hidden_size=16, seed=seed
    )
    return {
        "kind": "realistic_bench",
        "standin": build_weights(),
        "east": convert_state_dict(east_sd, "east"),
        "bench_target_size": int(target_size),
    }


def realistic_burn(image, weights: dict) -> None:
    """Execute the real-EAST numpy forward on the (resized) page and
    discard the maps — pure calibrated compute, no output effect."""
    from ..kernels.image import resize

    ts = weights["bench_target_size"]
    img = np.asarray(image)
    if img.shape[:2] != (ts, ts):
        img = resize(img, ts, ts, interp="linear")
    build_east(weights["east"]["tensors"])(img)
