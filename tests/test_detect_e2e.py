"""Distributed detector forward-pass plumbing e2e (VERDICT r4 #9).

onnxruntime is not installable in this sandbox, so the forward pass runs
through the deterministic _FakeDetSession — SAME run() contract, same
surrounding code (detector_input preproc, mini-batch padding, per-worker
session singleton, DBPostProcess, map→source geometry). Painted bright
rectangles on dark backgrounds must come back as det boxes containing
the painted centers, across images of varying sizes spanning multiple
Arrow batches, partitions, and >BATCH_SIZE mini-batch flushes.
"""

from __future__ import annotations

import os

import numpy as np
import pytest

from ragflow_spark.operators.detect import detect_text_regions

pytestmark = pytest.mark.usefixtures("spark")


def _image(seed: int):
    rng = np.random.default_rng(seed)
    h = int(rng.integers(180, 420))
    w = int(rng.integers(220, 480))
    im = np.full((h, w, 3), 16, dtype=np.uint8)  # near-black background
    rects = []
    n = int(rng.integers(1, 4))
    for _ in range(n):
        rh = int(rng.integers(28, max(30, h // 4)))
        rw = int(rng.integers(60, max(62, w // 3)))
        y = int(rng.integers(4, h - rh - 4))
        x = int(rng.integers(4, w - rw - 4))
        # reject overlapping/adjacent rects: DBPostProcess merges touching
        # white regions into one component, which is correct det behavior
        # but would break the one-box-per-rect count
        if any(not (x + rw + 12 < rx or rx + rww + 12 < x
                    or y + rh + 12 < ry or ry + rhh + 12 < y)
               for rx, ry, rww, rhh in rects):
            continue
        im[y:y + rh, x:x + rw] = 235
        rects.append((x, y, rw, rh))
    return im, rects


def _rows(n):
    rows = []
    expect = {}
    for i in range(n):
        im, rects = _image(1000 + i)
        mid = f"img{i}"
        rows.append((mid, im.tobytes(), im.shape[1], im.shape[0]))
        expect[mid] = rects
    return rows, expect


def test_detect_e2e_fake_backend(spark):
    rows, expect = _rows(24)  # > BATCH_SIZE → multiple mini-batch flushes
    df = spark.createDataFrame(
        rows, "media_id string, pixels binary, width int, height int"
    ).repartition(4)
    out = detect_text_regions(df, backend="fake").collect()
    assert len(out) == len(rows)
    for r in out:
        rects = expect[r["media_id"]]
        assert r["n_boxes"] == len(rects), (r["media_id"], rects)
        # every painted rect's center lies inside one returned box (the
        # unclip expansion grows boxes, so containment is the right check)
        for x, y, rw, rh in rects:
            cx, cy = x + rw / 2, y + rh / 2
            hit = False
            for b in r["boxes"]:
                xs, ys = b[0::2], b[1::2]
                if min(xs) <= cx <= max(xs) and min(ys) <= cy <= max(ys):
                    hit = True
                    break
            assert hit, (r["media_id"], (x, y, rw, rh), r["boxes"])


def test_detect_malformed_rows_isolated(spark):
    rows, _ = _rows(2)
    rows.append(("bad", b"\x00" * 10, 100, 100))  # wrong byte count
    df = spark.createDataFrame(
        rows, "media_id string, pixels binary, width int, height int"
    )
    out = {r["media_id"]: r for r in detect_text_regions(
        df, backend="fake").collect()}
    assert out["bad"]["n_boxes"] == -1 and out["bad"]["boxes"] == []
    assert out["img0"]["n_boxes"] >= 1  # neighbors unaffected


def test_detect_backend_none_raises(spark):
    rows, _ = _rows(1)
    df = spark.createDataFrame(
        rows, "media_id string, pixels binary, width int, height int"
    )
    with pytest.raises(Exception, match="backend"):
        detect_text_regions(df).collect()


def test_fake_session_contract_shapes():
    """The fake session honours the onnx det contract: (N,3,H,W) in →
    [(N,1,H,W)] float32 in [0,1], bright pixels ≈ 1."""
    from ragflow_spark.core.vision_prep import detector_input
    from ragflow_spark.operators.detect import _FakeDetSession

    im = np.full((64, 96, 3), 255, dtype=np.uint8)
    t, _ = detector_input(im, target_size=128)
    x = np.stack([t, t])
    maps = _FakeDetSession().run(["maps"], {"x": x})[0]
    assert maps.shape == (2, 1, t.shape[1], t.shape[2])
    assert maps.dtype == np.float32
    assert 0.98 <= maps[0, 0, 10, 10] <= 1.0


def test_onnx_session_cache(monkeypatch, tmp_path):
    """The per-worker onnx session cache, against a stub onnxruntime:
    same (path, mtime) reuses the session, touching the file reloads it,
    a third model evicts only the oldest entry, ORT gets the fixed
    2-thread intra-op pool, and fake heads never enter the cache."""
    import sys
    import types

    from ragflow_spark.operators import detect

    class SessionOptions:
        intra_op_num_threads = 0

    class InferenceSession:
        def __init__(self, path, sess_options, providers):
            self.path, self.opts = path, sess_options

    ort = types.ModuleType("onnxruntime")
    ort.SessionOptions, ort.InferenceSession = SessionOptions, InferenceSession
    monkeypatch.setitem(sys.modules, "onnxruntime", ort)
    monkeypatch.setattr(detect, "_SESS_CACHE", {})

    paths = []
    for name in ("det.onnx", "rec.onnx", "other.onnx"):
        (tmp_path / name).write_bytes(b"model")
        paths.append(str(tmp_path / name))
    det, rec, other = paths

    s1 = detect._session("onnx", det)
    assert detect._session("onnx", det) is s1
    assert s1.path == det and s1.opts.intra_op_num_threads == 2
    st = os.stat(det)
    os.utime(det, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    s2 = detect._session("onnx", det)
    assert s2 is not s1
    s3 = detect._session("onnx", rec)
    assert [k[1] for k in detect._SESS_CACHE] == [det, rec]
    detect._session("onnx", other)
    assert [k[1] for k in detect._SESS_CACHE] == [rec, other]
    assert detect._session("onnx", rec) is s3

    before = dict(detect._SESS_CACHE)
    for role in ("det", "rec"):
        sess, _post = detect._head(role, "fake", None)
        assert sess is not detect._head(role, "fake", None)[0]
    assert detect._SESS_CACHE == before


def test_onnx_backend_without_model_path_names_it(spark):
    """backend="onnx" with a missing model path raises ValueError naming
    the argument before any session or onnxruntime import."""
    from ragflow_spark.core.bmp import encode_bmp
    from ragflow_spark.core.templates import run_template
    from ragflow_spark.operators.detect import ocr_image_boxes, ocr_images

    blob = encode_bmp(np.zeros((8, 8, 3), dtype=np.uint8))
    with pytest.raises(ValueError, match="det_model_path and rec_model_path"):
        run_template("picture", blob, "bmp", "English",
                     cfg={"ocr_backend": "onnx"})
    with pytest.raises(ValueError, match="needs rec_model_path"):
        ocr_image_boxes(np.zeros((8, 8, 3), dtype=np.uint8), backend="onnx",
                        det_model_path=__file__)
    rows, _ = _rows(1)
    df = spark.createDataFrame(
        rows, "media_id string, pixels binary, width int, height int")
    with pytest.raises(ValueError, match="needs model_path"):
        detect_text_regions(df, backend="onnx")
    with pytest.raises(ValueError, match="needs det_model_path"):
        ocr_images(df, backend="onnx", rec_model_path=__file__)


# ------------------------------------------------- recognition plumbing

def _paint_text(text: str, chars: list[str]):
    """Band-encode `text` at height 48 in the fake-rec channel protocol:
    each char is an 8px-wide band with GREEN = class_idx/(C-1) intensity
    and BLUE = the 200 validity beacon, separated by 8px all-zero bands,
    aligned to the 4px timestep grid."""
    c = len(chars) + 1
    idx = {ch: i + 1 for i, ch in enumerate(chars)}
    bands = []
    for ch in text:
        bands.append((0, int(round(255 * idx[ch] / (c - 1))), 200))
        bands.append((0, 0, 0))
    w = 8 * len(bands) + 8
    im = np.zeros((48, w, 3), dtype=np.uint8)
    x = 4
    for v in bands:
        im[:, x:x + 8] = v
        x += 8
    return im


def test_recognize_e2e_fake_backend(spark):
    from ragflow_spark.core.ocr_decode import DEFAULT_CHARSET
    from ragflow_spark.operators.detect import recognize_text_lines

    words = ["spark", "0042", "hello9", "z", "batchsixteen", "abc123",
             "deduplication", "q7", "warc", "xyz", "minhash", "ctc",
             "line13", "l14", "l15", "l16", "seventeen", "r18"]
    rows = []
    for i, wtext in enumerate(words):
        im = _paint_text(wtext, DEFAULT_CHARSET)
        rows.append((f"ln{i:02d}", im.tobytes(), im.shape[1], im.shape[0]))
    df = spark.createDataFrame(
        rows, "line_id string, pixels binary, width int, height int"
    ).repartition(3)
    out = {r["line_id"]: r for r in recognize_text_lines(
        df, backend="fake").collect()}
    assert len(out) == len(words)
    for i, wtext in enumerate(words):
        r = out[f"ln{i:02d}"]
        assert r["text"] == wtext, (r["line_id"], r["text"], wtext)
        assert r["conf"] == 1.0


def test_recognize_malformed_and_order(spark):
    from ragflow_spark.core.ocr_decode import DEFAULT_CHARSET
    from ragflow_spark.operators.detect import recognize_text_lines

    im = _paint_text("ok42", DEFAULT_CHARSET)
    rows = [("good", im.tobytes(), im.shape[1], im.shape[0]),
            ("bad", b"\x01\x02", 10, 10)]
    out = {r["line_id"]: r for r in recognize_text_lines(
        spark.createDataFrame(
            rows, "line_id string, pixels binary, width int, height int"),
        backend="fake").collect()}
    assert out["good"]["text"] == "ok42"
    assert out["bad"]["conf"] == -1.0 and out["bad"]["text"] == ""


# ------------------------------------------------------- composed OCR

def test_ocr_compose_e2e(spark):
    """The full det → sorted_boxes → get_rotate_crop_image → rec loop
    distributed: pages with red-signal text rows carrying band-encoded
    strings must come back as exactly those strings in top-to-bottom
    reading order — and line for line (box, text, conf) as the per-doc
    ``ocr_image_boxes`` entry returns them. A malformed row in the input
    yields no lines and leaves its neighbours' lines intact."""
    from ragflow_spark.operators.detect import (
        ocr_image_boxes,
        ocr_images,
        synth_ocr_pages,
    )

    pages = synth_ocr_pages(12)
    rows = [(m, p, w, h) for m, p, w, h, _t in pages]
    rows.append(("bad", b"\x00" * 10, 100, 100))  # wrong byte count
    truth = {m: t for m, _p, _w, _h, t in pages}
    df = spark.createDataFrame(
        rows, "media_id string, pixels binary, width int, height int"
    ).repartition(3)
    out = ocr_images(df, backend="fake").collect()
    got: dict[str, list] = {}
    for r in out:
        got.setdefault(r["media_id"], []).append(
            (r["line_no"], [round(v, 6) for v in r["box"]], r["text"],
             r["conf"]))
    assert set(got) == set(truth)
    for m, p, w, h, expect in pages:
        lines = sorted(got[m])
        assert [ln for ln, *_ in lines] == list(range(len(lines))), m
        assert [t for _ln, _b, t, _c in lines] == expect, (m, lines, expect)
        im = np.frombuffer(p, dtype=np.uint8).reshape(h, w, 3)
        per_doc = [
            ([round(float(v), 6) for v in quad.reshape(-1)], t, c)
            for quad, t, c in ocr_image_boxes(im, backend="fake")]
        assert [tuple(x[1:]) for x in lines] == per_doc, m


# ------------------------------------------------ picture template (bmp)

def test_bmp_roundtrip():
    from ragflow_spark.core.bmp import BmpError, decode_bmp, encode_bmp

    rng = np.random.default_rng(5)
    for h, w in ((1, 1), (3, 5), (48, 31), (60, 60)):
        im = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        assert np.array_equal(decode_bmp(encode_bmp(im)), im), (h, w)
    with pytest.raises(BmpError):
        decode_bmp(b"not a bmp at all....")
    with pytest.raises(BmpError):
        decode_bmp(encode_bmp(rng.integers(0, 255, (4, 4, 3),
                                           dtype=np.uint8))[:30])


def test_picture_template_bmp_ocr():
    """picture.py's OCR branch end-to-end on real BMP bytes: the joined
    OCR text becomes the single chunk when it clears the >32 length
    gate; below the gate the LLM branch is out of scope and the
    reference's failure path (return []) applies."""
    from ragflow_spark.core.bmp import encode_bmp
    from ragflow_spark.core.templates import run_template
    from ragflow_spark.operators.detect import synth_ocr_pages

    # stack a fixture page 3x vertically so the joined OCR text clears
    # the template's >32-char gate (single pages encode ~6-20 chars)
    _m, p, w, h, texts = synth_ocr_pages(1)[0]
    one = np.frombuffer(p, dtype=np.uint8).reshape(h, w, 3)
    im = np.concatenate([one] * 6, axis=0)
    texts = texts * 6
    assert len("\n".join(texts)) > 32
    blob = encode_bmp(im)
    cks = run_template("picture", blob, "bmp", "English",
                       cfg={"ocr_backend": "fake"})
    assert len(cks) == 1
    assert cks[0].chunk_text == "\n".join(texts)

    # short text → the reference's LLM fallback (out of scope) → []
    short = np.full((80, 120, 3), 8, dtype=np.uint8)
    assert run_template("picture", encode_bmp(short), "bmp", "English",
                        cfg={"ocr_backend": "fake"}) == []

    # honest default: no backend configured raises, not silently empty
    with pytest.raises(NotImplementedError, match="backend"):
        run_template("picture", blob, "bmp", "English")

    # unsupported codec stays honest
    with pytest.raises(NotImplementedError, match="codec"):
        run_template("picture", b"\x89PNG....", "png", "English",
                     cfg={"ocr_backend": "fake"})


def test_media_meta_bmp_backend(spark):
    """decode_media_meta gains one REAL codec path: uncompressed BMP
    metadata from actual pixels; corrupt BMPs mark their row, other
    formats stay honestly stubbed."""
    from ragflow_spark.core.bmp import encode_bmp
    from ragflow_spark.operators.multimodal import decode_media_meta

    im = np.zeros((37, 53, 3), dtype=np.uint8)
    rows = [
        (1, encode_bmp(im), "image"),
        (2, b"BM" + b"\x00" * 20, "image"),
        (3, b"\x89PNG fake bytes", "image"),
    ]
    df = spark.createDataFrame(rows, "media_id long, blob binary, kind string")
    out = {r["media_id"]: r for r in decode_media_meta(
        df, backend="bmp").collect()}
    assert (out[1]["width"], out[1]["height"], out[1]["n_frames"]) == (53, 37, 1)
    assert out[1]["error"] is None
    assert out[2]["width"] == -1 and out[2]["error"]
    assert out[3]["width"] == -1 and "BMP" in out[3]["error"]
