"""Numpy execution of reference-layout checkpoints (round-4 verdict item #5).

Three layers of proof:
1. kernels/nn.py primitives match hand-computed / brute-force references
   (conv2d vs direct loops, maxpool, bilinear 2x vs the formula, LSTM cell
   vs explicit gate math).
2. models/numpy_twins.py executes FULL synthetic-valued reference-shaped
   state_dicts (every key the real checkpoints carry: resnet50 backbone,
   EAST decoder/heads, SE-ResNet-31 cnn, TRBA encoder/decoder) through
   loader.convert_state_dict → page_to_line_texts, deterministically.
3. models/backend.load_backend rejects real_models weights with no runnable
   backbone — on the driver in extract_spans and per page in the oracle —
   and never writes into the weights it runs.
"""

from __future__ import annotations

import numpy as np
import pytest

from manuscript_ocr_spark.kernels import nn as K

CHARSET = ["<PAD>", "<SOS>", "<EOS>", "<BLANK>"] + list("abcdefghij ")


# --- 1. primitive numerics -------------------------------------------------


def _conv2d_ref(x, w, b=None, stride=1, pad=0):
    """Direct-loop reference conv (cross-correlation)."""
    B, C, H, W = x.shape
    O, _, kh, kw = w.shape
    x = np.pad(x, ((0, 0), (0, 0), (pad, pad), (pad, pad)))
    Ho = (x.shape[2] - kh) // stride + 1
    Wo = (x.shape[3] - kw) // stride + 1
    out = np.zeros((B, O, Ho, Wo), dtype=np.float64)
    for bi in range(B):
        for o in range(O):
            for i in range(Ho):
                for j in range(Wo):
                    patch = x[bi, :, i * stride:i * stride + kh,
                              j * stride:j * stride + kw]
                    out[bi, o, i, j] = float((patch * w[o]).sum())
            if b is not None:
                out[bi, o] += b[o]
    return out


def test_conv2d_matches_direct_loop():
    rng = np.random.default_rng(0)
    x = rng.normal(size=(2, 3, 7, 8)).astype(np.float32)
    w = rng.normal(size=(4, 3, 3, 3)).astype(np.float32)
    b = rng.normal(size=4).astype(np.float32)
    for stride, pad in ((1, 0), (1, 1), (2, 1), (2, 0)):
        got = K.conv2d(x, w, b, stride=stride, pad=pad)
        ref = _conv2d_ref(x, w, b, stride=stride, pad=pad)
        np.testing.assert_allclose(got, ref, rtol=1e-4, atol=1e-4)


def test_conv2d_1x1_fast_path():
    rng = np.random.default_rng(1)
    x = rng.normal(size=(2, 5, 6, 6)).astype(np.float32)
    w = rng.normal(size=(3, 5, 1, 1)).astype(np.float32)
    for stride in (1, 2):
        got = K.conv2d(x, w, stride=stride)
        ref = _conv2d_ref(x, w, stride=stride)
        np.testing.assert_allclose(got, ref, rtol=1e-4, atol=1e-4)


def test_max_pool2d_padding_and_stride():
    x = np.arange(16, dtype=np.float32).reshape(1, 1, 4, 4)
    out = K.max_pool2d(x, 2, 2)
    np.testing.assert_array_equal(out[0, 0], [[5, 7], [13, 15]])
    # 3x3 stride 2 pad 1 (the resnet stem pool): padded borders are -inf
    out2 = K.max_pool2d(x, 3, 2, pad=1)
    np.testing.assert_array_equal(out2[0, 0], [[5, 7], [13, 15]])


def test_upsample_bilinear_2x_formula():
    x = np.array([[1.0, 3.0], [5.0, 7.0]], dtype=np.float32).reshape(1, 1, 2, 2)
    out = K.upsample_bilinear_2x(x)[0, 0]
    # align_corners=False: src = (dst + 0.5)/2 - 0.5 → [-0.25, 0.25, 0.75, 1.25]
    # clamped; 1D weights per axis: [1, .75/.25, .25/.75, 1] pattern
    expect = np.array([
        [1.0, 1.5, 2.5, 3.0],
        [2.0, 2.5, 3.5, 4.0],
        [4.0, 4.5, 5.5, 6.0],
        [5.0, 5.5, 6.5, 7.0],
    ], dtype=np.float32)
    np.testing.assert_allclose(out, expect, rtol=1e-6)


def test_lstm_cell_gate_math():
    rng = np.random.default_rng(2)
    I, H = 3, 2
    x = rng.normal(size=(1, I)).astype(np.float32)
    h = rng.normal(size=(1, H)).astype(np.float32)
    c = rng.normal(size=(1, H)).astype(np.float32)
    w_ih = rng.normal(size=(4 * H, I)).astype(np.float32)
    w_hh = rng.normal(size=(4 * H, H)).astype(np.float32)
    b_ih = rng.normal(size=4 * H).astype(np.float32)
    b_hh = rng.normal(size=4 * H).astype(np.float32)
    h2, c2 = K.lstm_cell(x, h, c, w_ih, w_hh, b_ih, b_hh)
    gates = x @ w_ih.T + b_ih + h @ w_hh.T + b_hh
    sig = lambda v: 1 / (1 + np.exp(-v))  # noqa: E731
    i_g, f_g, g_g, o_g = (gates[:, :H], gates[:, H:2 * H],
                          gates[:, 2 * H:3 * H], gates[:, 3 * H:])
    c_ref = sig(f_g) * c + sig(i_g) * np.tanh(g_g)
    h_ref = sig(o_g) * np.tanh(c_ref)
    np.testing.assert_allclose(c2, c_ref, rtol=1e-5)
    np.testing.assert_allclose(h2, h_ref, rtol=1e-5)


def test_batch_norm_eval_identity_and_affine():
    x = np.array([[[[2.0]], [[4.0]]]], dtype=np.float32)  # (1,2,1,1)
    out = K.batch_norm(x, np.zeros(2), np.ones(2) - 1e-5,
                       np.ones(2), np.zeros(2))
    np.testing.assert_allclose(out, x, rtol=1e-4)
    out2 = K.batch_norm(x, np.array([1.0, 1.0]), np.ones(2) - 1e-5,
                        np.array([2.0, 2.0]), np.array([3.0, 3.0]))
    np.testing.assert_allclose(out2.ravel(), [5.0, 9.0], rtol=1e-4)


# --- 2. reference-shaped checkpoint execution ------------------------------


@pytest.fixture(scope="module")
def real_weights():
    from manuscript_ocr_spark.models.loader import build_real_weights
    from manuscript_ocr_spark.models.numpy_twins import synthetic_state_dicts

    east_sd, trba_sd = synthetic_state_dicts(CHARSET, hidden_size=32)
    return build_real_weights(east_sd, trba_sd, CHARSET, hidden_size=32)


def test_converted_checkpoint_layout_is_complete(real_weights):
    """The synthetic state dicts carry every manifest key AND the full
    backbone/cnn passthrough sets — the exact real-checkpoint layout."""
    east_t = real_weights["east"]["tensors"]
    trba_t = real_weights["trba"]["tensors"]
    assert any(k.startswith("backbone.extractor.conv1") for k in east_t)
    assert "decoder.block1.conv1x1.0.weight" in east_t
    assert "cnn.conv0.0.weight" in trba_t
    assert "cnn.layer3.4.se.fc.2.weight" in trba_t  # 5th block of stage 3
    assert "enc_rnn.1.linear.weight" in trba_t


def test_east_numpy_forward_contract(real_weights):
    from manuscript_ocr_spark.models.east_tiny import DetectorConfig
    from manuscript_ocr_spark.models.numpy_twins import build_east, detect_quads

    fwd = build_east(real_weights["east"]["tensors"])
    img = np.full((128, 128, 3), 255, np.uint8)
    img[30:50, 20:100] = 20
    score, geo = fwd(img)
    assert score.shape == (32, 32) and geo.shape == (32, 32, 8)
    assert 0.0 <= float(score.min()) and float(score.max()) <= 1.0
    quads = detect_quads(img, DetectorConfig(target_size=128),
                         real_weights["east"])
    assert quads.ndim == 2 and quads.shape[1] == 9


def test_seresnet31_numpy_shapes(real_weights):
    from manuscript_ocr_spark.models.numpy_twins import build_seresnet31

    cnn = build_seresnet31(real_weights["trba"]["tensors"])
    x = np.zeros((2, 3, 64, 256), dtype=np.float32)
    f = cnn(x)
    # 64x256 → pool/2 32x128 → layer1/2 16x64 → layer3/2 8x32 →
    # conv_out stride(2,1) k2 p(0,1) → 4x(32+2-2+1)=4x33? torch floor math:
    assert f.shape[0] == 2 and f.shape[1] == 512
    assert f.shape[2] >= 1 and f.shape[3] >= 8


def test_trba_numpy_predict_contract(real_weights):
    from manuscript_ocr_spark.models.numpy_twins import predict

    rng = np.random.default_rng(3)
    crops = [rng.integers(0, 256, size=(20, 60), dtype=np.uint8)
             for _ in range(3)]
    out1 = predict(crops, real_weights["trba"])
    out2 = predict(crops, real_weights["trba"])
    assert len(out1) == 3
    for r in out1:
        assert set(r) == {"text", "confidence"}
        assert 0.0 <= r["confidence"] <= 1.0
        assert all(ch in CHARSET for ch in r["text"])
    assert out1 == out2  # deterministic


def test_page_to_line_texts_from_converted_checkpoint(real_weights):
    """The verdict item's 'Done' bar: detect+recognize runs end-to-end —
    and deterministically — from a converted real-layout state_dict, with
    no torch in the environment."""
    from manuscript_ocr_spark.models.east_tiny import DetectorConfig
    from manuscript_ocr_spark.oracle import page_to_line_texts

    img = np.full((128, 128), 255, np.uint8)
    img[30:50, 20:100] = 20
    img[70:90, 20:100] = 20
    cfg = DetectorConfig(target_size=128)
    lines1 = page_to_line_texts(img, real_weights, cfg)
    lines2 = page_to_line_texts(img, real_weights, cfg)
    assert lines1 == lines2
    assert isinstance(lines1, list)


def test_real_weights_npz_roundtrip_executes(real_weights):
    """Broadcast blob round-trip (glyphs.serialize dispatch) preserves an
    EXECUTABLE checkpoint — the exact path executors take."""
    from manuscript_ocr_spark.models.glyphs import (
        deserialize_weights,
        serialize_weights,
    )
    from manuscript_ocr_spark.models.numpy_twins import predict

    back = deserialize_weights(serialize_weights(real_weights))
    assert back["kind"] == "real_models"
    assert back["itos"] == CHARSET
    assert back["trba"]["hidden_size"] == 32 and back["trba"]["max_len"] == 25
    assert set(back["east"]["tensors"]) == set(real_weights["east"]["tensors"])
    assert set(back["trba"]["tensors"]) == set(real_weights["trba"]["tensors"])
    np.testing.assert_array_equal(
        back["east"]["tensors"]["output_head.geo_map.weight"],
        real_weights["east"]["tensors"]["output_head.geo_map.weight"],
    )
    crop =np.full((16, 40), 128, np.uint8)
    r1 = predict([crop], back["trba"])
    r2 = predict([crop], real_weights["trba"])
    assert r1[0]["text"] == r2[0]["text"]
    assert abs(r1[0]["confidence"] - r2[0]["confidence"]) < 1e-6


# --- 3. driver-side validation ---------------------------------------------


def test_extract_spans_rejects_backboneless_real_weights():
    from manuscript_ocr_spark.fixtures import ensure_tier
    from manuscript_ocr_spark.models.loader import (
        build_real_weights,
        east_manifest,
        synthetic_state_dict,
        trba_manifest,
    )
    from manuscript_ocr_spark.pipeline import extract_spans, load_fixture_tables
    from manuscript_ocr_spark.session import get_spark

    east_sd = synthetic_state_dict(east_manifest())  # no backbone.* keys
    trba_sd = synthetic_state_dict(trba_manifest(16, len(CHARSET)))
    w = build_real_weights(east_sd, trba_sd, CHARSET, hidden_size=16)
    spark = get_spark(master="local[2]", app_name="np-twins-validate")
    docs, media = load_fixture_tables(spark, ensure_tier("sf-small"))
    with pytest.raises(ValueError, match="backbone"):
        extract_spans(docs, media, weights=w)


# --- 4. beam decode on the converted-checkpoint path (r4 verdict item 4) ---


def test_beam_states_early_eos_fixture_matches_standin():
    """The early-EOS divergence fixture from tests/test_eval_beam_vis.py,
    driven through the STATEFUL beam (`_beam_decode_states`) via a
    stateless step_fn: the finished-beam masking must keep the step-0 EOS
    beam frozen at score -1.11253 so it beats the greedy continuation
    (-2.63238), exactly as the stand-in `_beam_decode` pins."""
    from manuscript_ocr_spark.models.numpy_twins import _beam_decode_states
    from manuscript_ocr_spark.models.trba_tiny import _beam_decode

    V, eos, sos = 5, 4, 1
    logits = np.array(
        [
            [2.0, 0.0, 0.0, 0.0, 1.9],
            [0.0, 0.0, 0.0, 0.0, -10.0],
            [0.0, 0.0, 0.0, 0.0, 5.0],
        ]
    )

    def make_step():
        def step(last_tok, state):
            (t_idx,) = state
            t = int(t_idx[0])
            out = np.tile(logits[min(t, len(logits) - 1)], (len(last_tok), 1))
            return out, (t_idx + 1,)
        return step

    for k in (2, 1):
        probs, toks = _beam_decode_states(
            make_step(), (np.zeros(2 * k, dtype=np.int64),), B=2, V=V,
            sos_id=sos, eos_id=eos, steps=3, beam_size=k, alpha=0.9,
            temperature=1.7, blank_id=None)
        ref_toks, ref_trace = _beam_decode(
            logits, eos_id=eos, beam_size=k, alpha=0.9, temperature=1.7,
            max_len=3)
        # both batch rows identical (same logits), each equal to the
        # stand-in's pinned answer: [eos,...] at k=2, greedy path at k=1
        for b in range(2):
            assert toks[b].tolist() == ref_toks.tolist()
            np.testing.assert_allclose(probs[b], ref_trace, atol=1e-12)
    # pinned divergence: k=2 takes EOS at step 0, k=1 is the greedy path
    probs2, toks2 = _beam_decode_states(
        make_step(), (np.zeros(2, dtype=np.int64),), B=2, V=V, sos_id=sos,
        eos_id=eos, steps=3, beam_size=1, alpha=0.9, temperature=1.7)
    assert toks2[0].tolist() == [0, 0, eos]


def test_beam_size1_equals_greedy_on_converted_checkpoint(real_weights):
    """beam_size=1 ≡ greedy on a reference-layout checkpoint (the 'Done'
    bar): temperature/log_softmax/length-penalty are monotone per step, so
    a width-1 beam must commit to the same argmax tokens."""
    from manuscript_ocr_spark.models.numpy_twins import predict

    crops = [
        np.full((16, 40), 128, np.uint8),
        (np.arange(16 * 40, dtype=np.uint8).reshape(16, 40) % 200),
    ]
    g = predict(crops, real_weights["trba"], mode="greedy")
    b1 = predict(crops, real_weights["trba"], mode="beam", beam_size=1,
                 temperature=1.7, alpha=0.9)
    assert [r["text"] for r in g] == [r["text"] for r in b1]

    b8 = predict(crops, real_weights["trba"], mode="beam", beam_size=8)
    for r in b8:
        assert 0.0 <= r["confidence"] <= 1.0
    # deterministic
    b8b = predict(crops, real_weights["trba"], mode="beam", beam_size=8)
    assert [r["text"] for r in b8] == [r["text"] for r in b8b]


def test_beam_mode_through_page_to_line_texts(real_weights):
    """weights['decoding']='beam' routes the full oracle page path through
    the numpy-twin beam decoder (reference pipeline default mode)."""
    from manuscript_ocr_spark.models.east_tiny import DetectorConfig
    from manuscript_ocr_spark.oracle import page_to_line_texts

    img = np.full((128, 128), 255, np.uint8)
    img[30:50, 20:100] = 20
    cfg = DetectorConfig(target_size=128)
    w_beam = dict(real_weights)
    w_beam["decoding"] = "beam"
    lines_beam = page_to_line_texts(img, w_beam, cfg)
    assert lines_beam == page_to_line_texts(img, w_beam, cfg)  # deterministic
    assert isinstance(lines_beam, list)


def test_unknown_mode_raises_on_twin(real_weights):
    from manuscript_ocr_spark.models.backend import load_backend
    from manuscript_ocr_spark.models.numpy_twins import predict

    with pytest.raises(ValueError, match="Unknown mode"):
        predict([np.zeros((8, 8), np.uint8)], real_weights["trba"],
                mode="viterbi")
    with pytest.raises(ValueError, match="decoding='viterbi'"):
        load_backend(dict(real_weights, decoding="viterbi"))


def test_beam_decoding_rides_broadcast_to_executors(spark, real_weights):
    """weights['decoding'] must survive the broadcast blob: extract_spans
    over a beam-decoding real checkpoint has to produce on EXECUTORS the
    same spans the driver-side oracle produces with decoding='beam' — a
    worker silently falling back to greedy would break the span invariant
    (caught round 5: the key was dropped by serialize_real_weights)."""
    from manuscript_ocr_spark.models.east_tiny import DetectorConfig
    from manuscript_ocr_spark.models.glyphs import (
        deserialize_weights,
        serialize_weights,
    )
    from manuscript_ocr_spark.oracle import page_to_line_texts
    from manuscript_ocr_spark.pipeline import extract_spans, load_fixture_tables
    from manuscript_ocr_spark.fixtures import ensure_tier

    w_beam = dict(real_weights)
    w_beam["decoding"] = "beam"
    back = deserialize_weights(serialize_weights(w_beam))
    assert back["decoding"] == "beam"

    d = ensure_tier("sf-small")
    docs, media = load_fixture_tables(spark, d)
    docs = docs.limit(6)
    out = {
        r["doc_id"]: [tuple(s) for s in r["spans"]]
        for r in extract_spans(docs, media, weights=w_beam).collect()
    }
    assert len(out) == 6
    # the driver-side oracle at decoding='beam' over one referenced page
    # must agree with what the executors produced for that page's doc
    import numpy as np

    from manuscript_ocr_spark.oracle import decode_media

    row = (
        docs.selectExpr("explode(spans) s", "doc_id")
        .where("s.kind = 'media'")
        .limit(1)
        .collect()
    )
    if row:  # at least one media span in the sample
        ref = row[0]["s"]["media_ref"]
        m = media.where(f"media_ref = '{ref}'").collect()[0]
        img = decode_media(m["pixels"], m["height"], m["width"], m["channels"])
        lines = page_to_line_texts(img, w_beam, DetectorConfig())
        doc_spans = out[row[0]["doc_id"]]
        got_lines = [s[1] for s in doc_spans if s[0] == "ocr_line" and s[2] == ref]
        assert got_lines == list(lines)


# --- 5. the backend seam ----------------------------------------------------


@pytest.mark.parametrize("decoding", ["greedy", "beam"])
def test_cnnless_real_weights_rejected_everywhere(spark, real_weights, decoding):
    """Without cnn.* tensors the recognizer has no backbone to run, whatever
    the decoding: load_backend, the oracle page path (even on a blank page
    that never reaches the recognizer) and extract_spans on the driver all
    raise the same ValueError."""
    from manuscript_ocr_spark.fixtures import ensure_tier
    from manuscript_ocr_spark.models.backend import load_backend
    from manuscript_ocr_spark.models.east_tiny import DetectorConfig
    from manuscript_ocr_spark.oracle import page_to_line_texts
    from manuscript_ocr_spark.pipeline import extract_spans, load_fixture_tables

    w = dict(real_weights, decoding=decoding)
    w["trba"] = dict(real_weights["trba"])
    w["trba"]["tensors"] = {
        k: v for k, v in real_weights["trba"]["tensors"].items()
        if not k.startswith("cnn.")
    }
    cfg = DetectorConfig(target_size=128)
    text = np.full((128, 128), 255, np.uint8)
    text[30:50, 20:100] = 20
    blank = np.full((128, 128), 255, np.uint8)
    with pytest.raises(ValueError, match=r"cnn\.\*") as e_backend:
        load_backend(w)
    for img in (text, blank):
        with pytest.raises(ValueError, match=r"cnn\.\*") as e_page:
            page_to_line_texts(img, w, cfg)
        assert str(e_page.value) == str(e_backend.value)
    docs, media = load_fixture_tables(spark, ensure_tier("sf-small"))
    with pytest.raises(ValueError, match=r"cnn\.\*") as e_driver:
        extract_spans(docs, media, weights=w)
    assert str(e_driver.value) == str(e_backend.value)


def _key_tree(obj):
    """Key sets at every dict nesting level (values other than dicts are
    leaves)."""
    if isinstance(obj, dict):
        return {k: _key_tree(v) for k, v in obj.items()}
    return None


@pytest.mark.parametrize("kind", ["standin", "real_models", "realistic_bench"])
def test_page_path_leaves_weights_untouched(kind):
    """load_backend is pure: two page_to_line_texts calls add no memo keys
    at any nesting level of the weights and return equal lines."""
    from manuscript_ocr_spark.models.east_tiny import DetectorConfig
    from manuscript_ocr_spark.models.glyphs import build_weights
    from manuscript_ocr_spark.models.loader import build_real_weights
    from manuscript_ocr_spark.models.numpy_twins import (
        build_realistic_weights,
        synthetic_state_dicts,
    )
    from manuscript_ocr_spark.oracle import page_to_line_texts

    # fresh weights: a fixture earlier tests already ran could hide added keys
    w = {
        "standin": build_weights,
        "real_models": lambda: build_real_weights(
            *synthetic_state_dicts(CHARSET, hidden_size=32), CHARSET,
            hidden_size=32),
        "realistic_bench": lambda: build_realistic_weights(target_size=128),
    }[kind]()
    before = _key_tree(w)
    img = np.full((128, 128), 255, np.uint8)
    img[30:50, 20:100] = 20
    cfg = DetectorConfig(target_size=128)
    lines1 = page_to_line_texts(img, w, cfg)
    lines2 = page_to_line_texts(img, w, cfg)
    assert lines1 == lines2
    assert _key_tree(w) == before


@pytest.mark.parametrize("kind", ["standin", "real_models"])
def test_write_visualizations_draws_backend_quads(spark, real_weights, kind, tmp_path):
    """The S8 sink draws what the weights' backend detects (not the stand-in
    detector whatever the weights), labelled with the stand-in glyph bank —
    real_models weights carry no glyphs of their own."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from manuscript_ocr_spark.fixtures import PAGE_SIZE, ensure_tier
    from manuscript_ocr_spark.kernels.ordering import reading_order_indices
    from manuscript_ocr_spark.kernels.vis import visualize_page
    from manuscript_ocr_spark.models.backend import load_backend
    from manuscript_ocr_spark.models.east_tiny import DetectorConfig
    from manuscript_ocr_spark.models.glyphs import build_weights
    from manuscript_ocr_spark.oracle import decode_media
    from manuscript_ocr_spark.sources import write_visualizations

    w = build_weights() if kind == "standin" else real_weights
    cfg = DetectorConfig(target_size=PAGE_SIZE)
    refs = ["page-0000", "page-0001", "page-0002"]
    media = spark.read.parquet(f"{ensure_tier('sf-small')}/media.parquet").where(
        F.col("media_ref").isin(refs)
    )
    out = str(tmp_path / "vis")
    write_visualizations(media, w, cfg, out)

    got = {r["media_ref"]: r for r in pq.read_table(out).to_pylist()}
    assert sorted(got) == refs
    detect = load_backend(w).detect
    for m in media.collect():
        img = decode_media(m["pixels"], m["height"], m["width"], m["channels"])
        quads = detect(img, cfg)
        boxes = [
            (int(p[:, 0].min()), int(p[:, 1].min()), int(p[:, 0].max()), int(p[:, 1].max()))
            for p in (q[:8].reshape(4, 2).astype(np.int32) for q in quads)
        ]
        order = reading_order_indices(boxes)
        want = visualize_page(img, quads[order] if len(order) else quads, build_weights())
        r = got[m["media_ref"]]
        assert (r["height"], r["width"]) == want.shape
        assert r["vis"] == want.tobytes()
