"""Numpy neural-net primitives for executing converted reference checkpoints.

Pure-numpy, inference-only twins of the torch ops the reference models use,
so models/numpy_twins.py runs real checkpoints without torch. Numerics
follow torch's eval-mode definitions exactly:

- conv2d: NCHW cross-correlation via im2col + GEMM (single BLAS call per
  layer — the multithreading knob is the executor task count, BLAS itself is
  pinned to 1 thread so Spark tasks never oversubscribe).
- batch_norm (eval): (x - running_mean) / sqrt(running_var + eps) * w + b.
- max_pool2d with padding semantics of nn.MaxPool2d (pad with -inf).
- bilinear 2x upsample with align_corners=False (torch's default, used by
  the reference EAST decoder).
- LSTM cell / sequence with torch gate order (i, f, g, o) and the
  bidirectional + Linear(2H, H) composition of the reference's
  BidirectionalLSTM (reference model.py:323-335).

All ops consume/produce float32 ndarrays; weights come straight from
models/loader.convert_state_dict (contiguous float32)."""

from __future__ import annotations

import numpy as np


def conv2d(
    x: np.ndarray,
    w: np.ndarray,
    b: np.ndarray | None = None,
    stride: int | tuple = 1,
    pad: int | tuple = 0,
) -> np.ndarray:
    """NCHW conv (cross-correlation, like torch). x: (B,C,H,W), w:
    (O,C,kh,kw) → (B,O,H',W'). im2col + one GEMM."""
    if isinstance(stride, int):
        stride = (stride, stride)
    if isinstance(pad, int):
        pad = (pad, pad)
    B, C, H, W = x.shape
    O, _, kh, kw = w.shape
    sh, sw = stride
    ph, pw = pad
    if kh == 1 and kw == 1 and not (ph or pw):
        # 1x1 fast path: a conv is just a channel-mixing GEMM
        if sh > 1 or sw > 1:
            x = x[:, :, ::sh, ::sw]
        B, C, Ho, Wo = x.shape
        out = np.tensordot(x, w.reshape(O, C), axes=([1], [1]))  # (B,Ho,Wo,O)
        if b is not None:
            out += b
        return np.ascontiguousarray(out.transpose(0, 3, 1, 2), dtype=np.float32)
    if ph or pw:
        x = np.pad(x, ((0, 0), (0, 0), (ph, ph), (pw, pw)))
    Hp, Wp = x.shape[2], x.shape[3]
    Ho = (Hp - kh) // sh + 1
    Wo = (Wp - kw) // sw + 1
    # gather patches: view via stride tricks, then one reshape+GEMM
    sB, sC, sH, sW = x.strides
    patches = np.lib.stride_tricks.as_strided(
        x,
        shape=(B, C, Ho, Wo, kh, kw),
        strides=(sB, sC, sH * sh, sW * sw, sH, sW),
        writeable=False,
    )
    cols = np.ascontiguousarray(patches.transpose(0, 2, 3, 1, 4, 5)).reshape(
        B * Ho * Wo, C * kh * kw
    )
    out = cols @ w.reshape(O, -1).T  # (B*Ho*Wo, O)
    if b is not None:
        out += b
    return out.reshape(B, Ho, Wo, O).transpose(0, 3, 1, 2).astype(np.float32, copy=False)


def batch_norm(
    x: np.ndarray,
    mean: np.ndarray,
    var: np.ndarray,
    weight: np.ndarray,
    bias: np.ndarray,
    eps: float = 1e-5,
) -> np.ndarray:
    """Eval-mode BN over the channel axis (axis 1 of NCHW, or the last axis
    of a 2D (B, C) input)."""
    if x.ndim == 4:
        shape = (1, -1, 1, 1)
    else:
        shape = (1, -1)
    scale = (weight / np.sqrt(var + eps)).reshape(shape)
    shift = (bias - mean * weight / np.sqrt(var + eps)).reshape(shape)
    return x * scale + shift


def relu(x: np.ndarray) -> np.ndarray:
    return np.maximum(x, 0.0)


def sigmoid(x: np.ndarray) -> np.ndarray:
    return 1.0 / (1.0 + np.exp(-x))


def softmax(x: np.ndarray, axis: int = -1) -> np.ndarray:
    m = x - x.max(axis=axis, keepdims=True)
    e = np.exp(m)
    return e / e.sum(axis=axis, keepdims=True)


def log_softmax(x: np.ndarray, axis: int = -1) -> np.ndarray:
    m = x - x.max(axis=axis, keepdims=True)
    return m - np.log(np.exp(m).sum(axis=axis, keepdims=True))


def max_pool2d(
    x: np.ndarray, kernel: int | tuple, stride: int | tuple | None = None,
    pad: int | tuple = 0,
) -> np.ndarray:
    """nn.MaxPool2d semantics (floor division output size, -inf padding)."""
    if isinstance(kernel, int):
        kernel = (kernel, kernel)
    if stride is None:
        stride = kernel
    if isinstance(stride, int):
        stride = (stride, stride)
    if isinstance(pad, int):
        pad = (pad, pad)
    kh, kw = kernel
    sh, sw = stride
    ph, pw = pad
    if ph or pw:
        x = np.pad(x, ((0, 0), (0, 0), (ph, ph), (pw, pw)),
                   constant_values=-np.inf)
    B, C, H, W = x.shape
    Ho = (H - kh) // sh + 1
    Wo = (W - kw) // sw + 1
    sB, sC, sH, sW = x.strides
    win = np.lib.stride_tricks.as_strided(
        x,
        shape=(B, C, Ho, Wo, kh, kw),
        strides=(sB, sC, sH * sh, sW * sw, sH, sW),
        writeable=False,
    )
    return win.max(axis=(4, 5)).astype(np.float32, copy=False)


def upsample_bilinear_2x(x: np.ndarray) -> np.ndarray:
    """scale_factor=2 bilinear, align_corners=False (torch default):
    src = (dst + 0.5) / 2 - 0.5, clamped to the border."""
    B, C, H, W = x.shape
    return _bilinear_axis(_bilinear_axis(x, 2, 2 * H), 3, 2 * W)


def _bilinear_axis(x: np.ndarray, axis: int, out_len: int) -> np.ndarray:
    in_len = x.shape[axis]
    src = (np.arange(out_len, dtype=np.float64) + 0.5) * in_len / out_len - 0.5
    src = np.clip(src, 0, in_len - 1)
    lo = np.floor(src).astype(np.int64)
    hi = np.minimum(lo + 1, in_len - 1)
    frac = (src - lo).astype(np.float32)
    shape = [1] * x.ndim
    shape[axis] = out_len
    frac = frac.reshape(shape)
    return (
        np.take(x, lo, axis=axis) * (1.0 - frac) + np.take(x, hi, axis=axis) * frac
    ).astype(np.float32, copy=False)


def linear(x: np.ndarray, w: np.ndarray, b: np.ndarray | None = None) -> np.ndarray:
    out = x @ w.T
    if b is not None:
        out = out + b
    return out


def lstm_cell(x, h, c, w_ih, w_hh, b_ih=None, b_hh=None):
    """One torch LSTMCell step; gate order i, f, g, o."""
    gates = linear(x, w_ih, b_ih) + linear(h, w_hh, b_hh)
    H = h.shape[-1]
    gi = sigmoid(gates[..., :H])
    gf = sigmoid(gates[..., H:2 * H])
    gc = np.tanh(gates[..., 2 * H:3 * H])
    go = sigmoid(gates[..., 3 * H:])
    c2 = gf * c + gi * gc
    h2 = go * np.tanh(c2)
    return h2, c2


def lstm_seq(x, w_ih, w_hh, b_ih, b_hh, reverse: bool = False):
    """Full-sequence single-direction LSTM over (B, T, I) → (B, T, H)."""
    B, T, _ = x.shape
    H = w_hh.shape[1]
    h = np.zeros((B, H), dtype=np.float32)
    c = np.zeros((B, H), dtype=np.float32)
    steps = range(T - 1, -1, -1) if reverse else range(T)
    out = np.empty((B, T, H), dtype=np.float32)
    for t in steps:
        h, c = lstm_cell(x[:, t], h, c, w_ih, w_hh, b_ih, b_hh)
        out[:, t] = h
    return out


def bilstm(x, tensors: dict, prefix: str):
    """The reference's BidirectionalLSTM (model.py:323-335): bidirectional
    nn.LSTM + Linear(2H, H). prefix example: 'enc_rnn.0.'."""
    p = prefix + "rnn."
    fwd = lstm_seq(x, tensors[p + "weight_ih_l0"], tensors[p + "weight_hh_l0"],
                   tensors[p + "bias_ih_l0"], tensors[p + "bias_hh_l0"])
    bwd = lstm_seq(x, tensors[p + "weight_ih_l0_reverse"],
                   tensors[p + "weight_hh_l0_reverse"],
                   tensors[p + "bias_ih_l0_reverse"],
                   tensors[p + "bias_hh_l0_reverse"], reverse=True)
    h = np.concatenate([fwd, bwd], axis=-1)
    return linear(h, tensors[prefix + "linear.weight"],
                  tensors[prefix + "linear.bias"])


def adaptive_avg_pool_h1(x: np.ndarray) -> np.ndarray:
    """AdaptiveAvgPool2d((1, W)) as the reference pools TRBA features
    (model.py:388-390): collapse H by mean, keep W. (B,C,H,W) → (B,C,W)."""
    return x.mean(axis=2)
