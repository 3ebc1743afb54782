"""Distributed detector forward-pass plumbing (SURVEY §2.8 V1/V3).

The reference runs its ONNX detectors per task-executor process with a
session held as instance state (``deepdoc/vision/ocr.py:489-560``
TextDetector, ``layout_recognizer.py:46-70``); on Spark the same shape is
a PER-PYTHON-WORKER session singleton feeding Arrow-batched tensors
(SURVEY §4: batch 16, ``intra_op_num_threads`` kept small so ORT threads
don't oversubscribe against ``spark.task.cpus``).

This module is that plumbing, end-to-end real EXCEPT the weights. One
worker-side core serves every entry point: ``_head`` builds a det or rec
head, ``_decode_rows`` turns an Arrow batch into images, and
``_ocr_lines`` is the one det → ``sorted_boxes`` → perspective crop →
rec → ``DROP_SCORE`` loop. ``ocr_images`` runs it per Arrow batch,
``ocr_image_boxes`` per document (the picture template and the
scanned-PDF fallback). The reference's OCR config is fixed as module
constants (``BATCH_SIZE`` … ``INTRA_OP_THREADS``); only the backend, the
model paths and the rec charset are settings.

- ``backend="onnx"``  loads the model file in an onnxruntime session —
  the production path; raises ``ValueError`` when a model path is
  missing and ImportError when onnxruntime is not installed (the
  reference repo does not vendor the weights either — it downloads them
  at runtime).
- ``backend="fake"``  a deterministic stand-in session with the SAME
  ``run(["maps"], {"x": batch})`` contract: the probability map is the
  de-standardized channel mean of the input tensor, so bright painted
  regions come back as det boxes. Everything around it — preprocessing
  (``core.vision_prep.text_det_input``, the reference TextDetector's
  DetResizeForTest chain; layout uses ``detector_input``), mini-batch
  padding, the
  singleton, DB postprocess (``core.db_postprocess``, ported and A/B'd
  byte-identical), geometry mapping back to source pixels — is the real
  code the onnx branch uses.
- ``backend="none"``  raises NotImplementedError (honest default).

Input rows carry DECODED pixels (raw uint8 RGB bytes + width/height) —
image codecs stay stubbed per the multimodal contract
(``operators/multimodal.py``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

DET_SCHEMA = (
    "media_id string, n_boxes int, boxes array<array<double>>"
)

# The reference OCR config, which no caller varies: TextDetector's DB
# postprocess thresholds (deepdoc/vision/ocr.py:376-377: thresh 0.3,
# box_thresh 0.5, unclip_ratio 1.5; its 960/max DetResizeForTest cap is
# vision_prep.DET_LIMIT_SIDE_LEN), OCR.__call__'s drop_score 0.5, and
# the SURVEY §4 batching shape (mini-batches of 16, a 2-thread ORT
# intra-op pool so sessions don't oversubscribe spark.task.cpus).
BATCH_SIZE = 16
DET_THRESH = 0.3
DET_BOX_THRESH = 0.5
DET_UNCLIP_RATIO = 1.5
DROP_SCORE = 0.5
INTRA_OP_THREADS = 2

# per-python-worker-process session singleton (the SURVEY §4 model-load
# pattern: one session per executor process, reused across tasks when
# spark.python.worker.reuse is on). Keyed by (backend, path, mtime) so a
# swapped model file is picked up by reused workers.
_SESS_CACHE: dict = {}


class _FakeDetSession:
    """Deterministic det head: maps = clip(red(x * std + mean), 0, 1).

    De-standardizes the ``detector_input`` tensor back to [0, 1] pixel
    space and reads the RED channel — a red-saturated region scores ~1.0,
    dark ~0.0. Channel-split on purpose: the composed OCR fixture paints
    det signal on red and rec class bands on green/blue, so the two fake
    heads never confound. Same output contract as an onnxruntime DB-det
    session: ``run(["maps"], {"x": (N,3,H,W)}) -> [(N,1,H,W)]``.
    """

    def run(self, _output_names, feeds):
        import numpy as np

        from ragflow_spark.core.vision_prep import (
            IMAGENET_MEAN,
            IMAGENET_STD,
        )

        x = feeds["x"]
        red = x[:, 0:1] * IMAGENET_STD[0] + IMAGENET_MEAN[0]
        maps = np.clip(red, 0.0, 1.0)
        return [maps.astype(np.float32)]


def _session(backend: str, model_path: str):
    """onnx sessions only — fake heads are constructed by ``_head``
    (they are role-specific: a det map head handed to a rec consumer
    would decode garbage with no error, so the cache never holds them)."""
    if backend == "none":
        raise NotImplementedError(
            "detector backend not configured — pass backend='onnx' with a "
            "model_path (requires onnxruntime) or backend='fake' for the "
            "deterministic plumbing stand-in"
        )
    if backend != "onnx":
        raise NotImplementedError(f"unknown detector backend {backend!r}")
    st = os.stat(model_path)
    key = ("onnx", model_path, st.st_mtime_ns)
    sess = _SESS_CACHE.get(key)
    if sess is None:
        import onnxruntime as ort  # raises if not installed — honest

        opts = ort.SessionOptions()
        # don't oversubscribe: spark.task.cpus cores are already
        # claimed by the task; ORT gets a small fixed intra-op pool
        opts.intra_op_num_threads = INTRA_OP_THREADS
        sess = ort.InferenceSession(
            model_path, sess_options=opts,
            providers=["CPUExecutionProvider"],
        )
        # bound worker memory at ~one det + one rec model. Evict the
        # OLDEST entry only (dict preserves insertion order): clearing
        # the whole cache on a third insert also dropped the in-use
        # partner of a composed det+rec pipeline, re-deserializing both
        # models every task when model sets alternate (ADVICE r5)
        while len(_SESS_CACHE) >= 2:
            _SESS_CACHE.pop(next(iter(_SESS_CACHE)))
        _SESS_CACHE[key] = sess
    return sess


def _head(role: str, backend: str, model_path: str | None,
          characters: list[str] | None = None):
    """One ``role`` ("det" or "rec") head: (session, postprocess), where
    the postprocess is the DB box extractor for det and the CTC decoder
    over ``characters`` (default ``DEFAULT_CHARSET``) for rec. Fake
    sessions are built fresh per call; onnx ones come from ``_session``'s
    per-worker cache."""
    if role == "det":
        from ragflow_spark.core.db_postprocess import DBPostProcess

        post = DBPostProcess(thresh=DET_THRESH, box_thresh=DET_BOX_THRESH,
                             unclip_ratio=DET_UNCLIP_RATIO,
                             score_mode="fast")
        if backend == "fake":
            return _FakeDetSession(), post
    else:
        from ragflow_spark.core.ocr_decode import (
            DEFAULT_CHARSET,
            CTCLabelDecode,
        )

        chars = list(characters) if characters is not None else list(
            DEFAULT_CHARSET)
        post = CTCLabelDecode(characters=chars)
        if backend == "fake":
            return _FakeRecSession(num_classes=len(chars) + 1), post
    return _session(backend, model_path), post


def _require_paths(backend: str, **paths) -> None:
    """With backend='onnx' every model path argument is required: raise
    ValueError naming the missing ones before any session or onnxruntime
    loads (``os.stat(None)`` would otherwise fail with a TypeError)."""
    missing = [name for name, path in paths.items() if path is None]
    if backend == "onnx" and missing:
        raise ValueError(
            f"backend='onnx' needs {' and '.join(missing)}: got None")


def _decode_rows(pdf, id_col: str):
    """Arrow batch → (ids, imgs, bad_ids): the well-formed rows' ids and
    ``pixels`` as HxWx3 uint8 views, and the ids of rows whose bytes
    don't match ``width``×``height``×3 (each operator emits its own
    malformed-row output for those)."""
    import numpy as np

    ids, imgs, bad_ids = [], [], []
    for r in pdf.itertuples():
        h, w, raw = int(r.height), int(r.width), r.pixels
        if h <= 0 or w <= 0 or raw is None or len(raw) != h * w * 3:
            bad_ids.append(getattr(r, id_col))
            continue
        ids.append(getattr(r, id_col))
        imgs.append(np.frombuffer(raw, dtype=np.uint8).reshape(h, w, 3))
    return ids, imgs, bad_ids


def synth_image_rows(n: int, seed: int = 7):
    """Deterministic painted-rectangle test images for the detector
    plumbing: returns (media_id, pixels, width, height, rects) tuples
    where rects is the ground truth [(x, y, w, h), …] painted bright on a
    dark background. Non-overlapping by construction (touching bright
    regions merge into one det component, which is correct behavior but
    not countable)."""
    import numpy as np

    out = []
    for i in range(n):
        rng = np.random.default_rng(seed * 100_003 + i)
        h = int(rng.integers(160, 360))
        w = int(rng.integers(200, 420))
        im = np.full((h, w, 3), 16, dtype=np.uint8)
        rects: list[tuple[int, int, int, int]] = []
        for _ in range(int(rng.integers(1, 4))):
            rh = int(rng.integers(28, max(30, h // 4)))
            rw = int(rng.integers(60, max(62, w // 3)))
            y = int(rng.integers(4, h - rh - 4))
            x = int(rng.integers(4, w - rw - 4))
            if any(not (x + rw + 12 < rx or rx + rww + 12 < x
                        or y + rh + 12 < ry or ry + rhh + 12 < y)
                   for rx, ry, rww, rhh in rects):
                continue
            im[y:y + rh, x:x + rw] = 235
            rects.append((x, y, rw, rh))
        out.append((f"det{i:03d}", im.tobytes(), w, h, rects))
    return out


def _det_boxes(det, imgs):
    """Worker-side det core shared by detect_text_regions and _ocr_lines:
    ``det`` head + list of HxWx3 uint8 images → list of (n_i, 4, 2)
    float box arrays in source pixels. Preprocessing is the reference
    TextDetector's DetResizeForTest chain (max-side cap 960, each side
    resized to a /32 multiple, NO upscaling —
    deepdoc/vision/ocr.py:355-391), not the layout detector's
    LinearResize, so with real DB weights the input
    tensors match the reference. One session.run per mini-batch padded to
    the group max (the reference runs det one image at a time; batching
    is our throughput concession — the zero-pad region is cropped off the
    map before postprocess, leaving only conv edge effects as deviation);
    each image's map is cropped back to its resize region before the DB
    postprocess so the map→src scaling is geometric."""
    import numpy as np

    from ragflow_spark.core.vision_prep import text_det_input

    sess, post = det
    results: list = [None] * len(imgs)
    group: list = []

    def flush():
        if not group:
            return
        max_h = max(t.shape[1] for _i, t, _hw, _rs in group)
        max_w = max(t.shape[2] for _i, t, _hw, _rs in group)
        batch = np.zeros((len(group), 3, max_h, max_w), dtype=np.float32)
        for i, (_idx, t, _hw, _rs) in enumerate(group):
            batch[i, :, : t.shape[1], : t.shape[2]] = t
        maps = sess.run(["maps"], {"x": batch})[0]
        for i, (idx, _t, (src_h, src_w), (rs_h, rs_w)) in enumerate(group):
            pred = maps[i, 0, :rs_h, :rs_w][None, None]
            res = post({"maps": pred},
                       [(src_h, src_w, 0.0, 0.0)])[0]["points"]
            results[idx] = np.asarray(res, dtype=np.float64).reshape(
                -1, 4, 2)
        group.clear()

    for idx, im in enumerate(imgs):
        h, w = im.shape[:2]
        tensor, (rs_h, rs_w) = text_det_input(im)
        group.append((idx, tensor, (h, w), (rs_h, rs_w)))
        if len(group) >= BATCH_SIZE:
            flush()
    flush()
    return results


def _rec_texts(rec, imgs):
    """Worker-side rec core shared by recognize_text_lines and
    _ocr_lines: ``rec`` head + list of line images → list of (text,
    conf) in input order, with the reference's aspect-ratio-sorted
    mini-batches and per-batch max_wh_ratio sizing (ocr.py:307-352)."""
    import numpy as np

    from ragflow_spark.core.vision_prep import rec_resize_norm

    sess, decoder = rec
    texts: list = [("", 0.0)] * len(imgs)
    if not imgs:
        return texts
    order = np.argsort([im.shape[1] / im.shape[0] for im in imgs])
    for beg in range(0, len(imgs), BATCH_SIZE):
        chunk = order[beg:beg + BATCH_SIZE]
        max_wh = max(
            [320 / 48.0]
            + [imgs[i].shape[1] / imgs[i].shape[0] for i in chunk]
        )
        batch = np.stack([rec_resize_norm(imgs[i], max_wh) for i in chunk])
        preds = sess.run(["logits"], {"x": batch})[0]
        for rno, (txt, conf) in enumerate(decoder(preds)):
            texts[chunk[rno]] = (txt, float(conf))
    return texts


def _ocr_lines(heads, imgs):
    """The reference's OCR loop (deepdoc/vision/ocr.py:581-630
    ``OCR.__call__``) over a list of HxWx3 uint8 images with ``heads`` =
    (det head, rec head): det boxes → ``sorted_boxes`` reading order →
    ``get_rotate_crop_image`` perspective rectification → rec over the
    crops of ALL images pooled into common mini-batches (small images
    don't run underfull batches) → ``conf >= DROP_SCORE`` filter.
    Returns, per image, the kept [(quad (4,2) ndarray in image pixels,
    text, conf), …] in reading order."""
    from ragflow_spark.core.ocr_geom import (
        get_rotate_crop_image,
        sorted_boxes,
    )

    det, rec = heads
    crops, owners = [], []
    for i, boxes in enumerate(_det_boxes(det, imgs)):
        for b in sorted_boxes(boxes) if len(boxes) else []:
            try:
                crops.append(get_rotate_crop_image(imgs[i], b.copy()))
            except Exception:
                # degenerate quad (coords collapsed by rounding →
                # singular homography): skip the box, keep the task —
                # cv2 degrades instead of raising here
                continue
            owners.append((i, b))
    lines: list[list] = [[] for _ in imgs]
    for (i, b), (txt, conf) in zip(owners, _rec_texts(rec, crops)):
        if conf >= DROP_SCORE:
            lines[i].append((b, txt, conf))
    return lines


def detect_text_regions(
    df: DataFrame,
    backend: str = "none",
    model_path: str | None = None,
) -> DataFrame:
    """Image rows (media_id, pixels, width, height) → det boxes,
    distributed: preprocess each image through the reference
    TextDetector's ``text_det_input`` chain (DetResizeForTest 960/max —
    no upscaling, /32 per-side resize), assemble mini-batches of
    ``BATCH_SIZE`` padded to the group max (the det forward runs ONE
    ``session.run`` per mini-batch, not per row), crop each image's map
    back to its unpadded resize region, and run the ported DBPostProcess
    to boxes in SOURCE pixel coordinates.

    Returns (media_id, n_boxes, boxes) where each box is
    [x0,y0, x1,y1, x2,y2, x3,y3] clockwise from top-left; malformed rows
    come first in each batch, with n_boxes = -1 and no boxes.
    """

    _require_paths(backend, model_path=model_path)

    def run(batches):
        import pandas as pd

        det = _head("det", backend, model_path)
        for pdf in batches:
            ids, imgs, bad_ids = _decode_rows(pdf, "media_id")
            boxes = _det_boxes(det, imgs)
            yield pd.DataFrame({
                "media_id": bad_ids + ids,
                "n_boxes": [-1] * len(bad_ids) + [len(bs) for bs in boxes],
                "boxes": [[] for _ in bad_ids] + [
                    [[float(v) for v in b.reshape(-1)] for b in bs]
                    for bs in boxes],
            })

    return df.select("media_id", "pixels", "width", "height").mapInPandas(
        run, schema=DET_SCHEMA
    )


# ---------------------------------------------------------- recognition

REC_SCHEMA = "line_id string, text string, conf double"


class _FakeRecSession:
    """Deterministic rec head with the onnx contract
    ``run(["logits"], {"x": (N,3,48,W)}) -> [(N, W//4, C)]``.

    Channel protocol (see _FakeDetSession for why channels are split):
    the GREEN channel carries the class intensity k/(C-1) and the BLUE
    channel carries a validity beacon at 200/255. A 4-column timestep
    scores class k one-hot only when blue is within 2/255 of the beacon
    (≥98.9% of the window inside one painted band — rules out
    crop/resize blends) AND green is within 0.15 class units of center
    k; everything else (band edges, margins, the normalized-zero pad
    that de-normalizes to mid-gray) scores CTC blank, which the
    repeat-collapse then removes.
    """

    def __init__(self, num_classes: int):
        self.num_classes = num_classes

    def run(self, _output_names, feeds):
        import numpy as np

        x = feeds["x"]
        n, _c, _h, w = x.shape
        t_steps = w // 4
        c = self.num_classes
        probs = np.zeros((n, t_steps, c), dtype=np.float32)
        # read the CENTER THIRD of rows: det crops carry the unclip
        # margin above/below the painted text row, and full-height means
        # would dilute both channels; the det box is centered on the row,
        # so the middle rows are pure band signal
        r0, r1 = _h // 3, max(_h // 3 + 1, 2 * _h // 3)
        green = x[:, 1, r0:r1] * 0.5 + 0.5
        blue = x[:, 2, r0:r1] * 0.5 + 0.5
        for t in range(t_steps):
            g = green[:, :, 4 * t:4 * t + 4].mean(axis=(1, 2))
            b = blue[:, :, 4 * t:4 * t + 4].mean(axis=(1, 2))
            valid = np.abs(b - 200.0 / 255.0) <= 2.0 / 255.0
            kf = g * (c - 1)
            k = np.rint(kf).astype(int)
            on_center = np.abs(kf - k) <= 0.15
            k = np.where(valid & on_center, np.clip(k, 0, c - 1), 0)
            probs[np.arange(n), t, k] = 1.0
        return [probs]


def recognize_text_lines(
    df: DataFrame,
    backend: str = "none",
    model_path: str | None = None,
    characters: list[str] | None = None,
) -> DataFrame:
    """Cropped line images (line_id, pixels, width, height) → (text,
    conf), distributed with the reference TextRecognizer's exact batching
    discipline (deepdoc/vision/ocr.py:307-352): lines sorted by aspect
    ratio so a mini-batch shares a width, per-mini-batch ``max_wh_ratio``
    sizing, ``rec_resize_norm`` preprocessing, ONE session.run per
    mini-batch of ``BATCH_SIZE``, CTC label decode (``core.ocr_decode``,
    the ported deterministic half), results restored to input order.
    Malformed rows follow the good ones with text "" and conf -1.0."""

    _require_paths(backend, model_path=model_path)

    def run(batches):
        import pandas as pd

        rec = _head("rec", backend, model_path, characters)
        for pdf in batches:
            ids, imgs, bad_ids = _decode_rows(pdf, "line_id")
            texts = _rec_texts(rec, imgs)
            yield pd.DataFrame({
                "line_id": ids + bad_ids,
                "text": [t for t, _ in texts] + [""] * len(bad_ids),
                "conf": [c for _, c in texts] + [-1.0] * len(bad_ids),
            })

    return df.select("line_id", "pixels", "width", "height").mapInPandas(
        run, schema=REC_SCHEMA
    )


def synth_line_rows(n: int = 24, seed: int = 11):
    """Deterministic band-encoded text-line images for the rec plumbing:
    (line_id, pixels, width, height, text) with text drawn from the
    DEFAULT_CHARSET and painted as 8px class-intensity bands aligned to
    the 4px timestep grid (see _FakeRecSession)."""
    import numpy as np

    from ragflow_spark.core.ocr_decode import DEFAULT_CHARSET

    c = len(DEFAULT_CHARSET) + 1
    idx = {ch: i + 1 for i, ch in enumerate(DEFAULT_CHARSET)}
    out = []
    for i in range(n):
        rng = np.random.default_rng(seed * 90_001 + i)
        text = "".join(
            DEFAULT_CHARSET[int(j)] for j in
            rng.integers(0, len(DEFAULT_CHARSET), int(rng.integers(1, 14)))
        )
        bands = []
        for ch in text:
            # channel protocol: green = class intensity, blue = the 200
            # validity beacon; separators all-zero (see _FakeRecSession)
            bands.append((0, int(round(255 * idx[ch] / (c - 1))), 200))
            bands.append((0, 0, 0))
        w = 8 * len(bands) + 8
        im = np.zeros((48, w, 3), dtype=np.uint8)
        x = 4
        for v in bands:
            im[:, x:x + 8] = v
            x += 8
        out.append((f"rec{i:03d}", im.tobytes(), w, 48, text))
    return out


# ------------------------------------------------------- composed OCR

OCR_SCHEMA = ("media_id string, line_no int, box array<double>, "
              "text string, conf double")


def ocr_images(
    df: DataFrame,
    backend: str = "none",
    det_model_path: str | None = None,
    rec_model_path: str | None = None,
    characters: list[str] | None = None,
) -> DataFrame:
    """The reference's full OCR loop (``_ocr_lines``) distributed over
    image rows (media_id, pixels, width, height). Both forward passes
    share the per-worker session pattern; crops from EVERY image in an
    Arrow batch pool into common rec mini-batches. Malformed rows
    contribute no lines.

    Output: one row per kept line — (media_id, line_no, box
    [x0,y0,…,x3,y3], text, conf), line_no numbered densely per image in
    reading order over the kept lines."""

    _require_paths(backend, det_model_path=det_model_path,
                   rec_model_path=rec_model_path)

    def run(batches):
        import pandas as pd

        heads = (_head("det", backend, det_model_path),
                 _head("rec", backend, rec_model_path, characters))
        for pdf in batches:
            ids, imgs, _bad_ids = _decode_rows(pdf, "media_id")
            out = {"media_id": [], "line_no": [], "box": [],
                   "text": [], "conf": []}
            for mid, lines in zip(ids, _ocr_lines(heads, imgs)):
                for ln, (b, txt, conf) in enumerate(lines):
                    out["media_id"].append(mid)
                    out["line_no"].append(ln)
                    out["box"].append([float(v) for v in b.reshape(-1)])
                    out["text"].append(txt)
                    out["conf"].append(conf)
            # explicit object dtype: an empty partition would otherwise
            # infer float64 for the list column and break Arrow conversion
            yield pd.DataFrame({
                "media_id": pd.Series(out["media_id"], dtype=object),
                "line_no": pd.Series(out["line_no"], dtype="int64"),
                "box": pd.Series(out["box"], dtype=object),
                "text": pd.Series(out["text"], dtype=object),
                "conf": pd.Series(out["conf"], dtype="float64"),
            })

    return df.select("media_id", "pixels", "width", "height").mapInPandas(
        run, schema=OCR_SCHEMA
    )


def synth_ocr_pages(n: int = 12, seed: int = 13):
    """Deterministic full-OCR fixture pages: dark background with 1-3
    text ROWS per page; each row is red-saturated (the det signal) and
    carries wide green/blue class bands (the rec signal) so the composed
    det → sorted_boxes → crop → rec loop must recover the exact encoded
    strings in top-to-bottom order. Bands are 32px with 32px separators —
    wide enough that det's unclip margin + crop resize still leaves
    on-center timesteps per band (see _FakeRecSession's validity rule).

    Returns (media_id, pixels, width, height, texts_top_to_bottom)."""
    import numpy as np

    from ragflow_spark.core.ocr_decode import DEFAULT_CHARSET

    c = len(DEFAULT_CHARSET) + 1
    idx = {ch: i + 1 for i, ch in enumerate(DEFAULT_CHARSET)}
    out = []
    for i in range(n):
        rng = np.random.default_rng(seed * 70_001 + i)
        n_rows = int(rng.integers(1, 4))
        row_h, band_w = 64, 32
        texts = []
        row_imgs = []
        for _ in range(n_rows):
            text = "".join(
                DEFAULT_CHARSET[int(j)] for j in
                rng.integers(0, len(DEFAULT_CHARSET),
                             int(rng.integers(2, 7)))
            )
            texts.append(text)
            w_row = band_w * (2 * len(text) + 1)
            row = np.zeros((row_h, w_row, 3), dtype=np.uint8)
            row[:, :, 0] = 255  # det signal: red across the whole row
            x = band_w // 2
            for ch in text:
                row[:, x:x + band_w, 1] = int(
                    round(255 * idx[ch] / (c - 1)))
                row[:, x:x + band_w, 2] = 200
                x += 2 * band_w
            row_imgs.append(row)
        pg_w = max(r.shape[1] for r in row_imgs) + 80
        pg_h = n_rows * (row_h + 56) + 56
        page = np.full((pg_h, pg_w, 3), 8, dtype=np.uint8)
        y = 40
        for row in row_imgs:
            page[y:y + row_h, 40:40 + row.shape[1]] = row
            y += row_h + 56
        out.append((f"ocr{i:03d}", page.tobytes(), pg_w, pg_h, texts))
    return out


def ocr_image_boxes(
    im,
    backend: str = "none",
    det_model_path: str | None = None,
    rec_model_path: str | None = None,
    characters: list[str] | None = None,
) -> list:
    """Single-image OCR through the same ``_ocr_lines`` loop the
    distributed ``ocr_images`` runs — the per-doc entry the extraction
    task calls: the picture template (rag/app/picture.py:31-33
    ``ocr(np.array(img))``) and the scanned-PDF fallback, which turns the
    quads into LAYOUT boxes that ride the same merge pipeline text-layer
    boxes do (pdf_parser.py ``__ocr``). Returns [(quad (4,2) ndarray in
    image pixel coords, text, conf), …] in reading order after the
    ``DROP_SCORE`` filter."""
    _require_paths(backend, det_model_path=det_model_path,
                   rec_model_path=rec_model_path)
    heads = (_head("det", backend, det_model_path),
             _head("rec", backend, rec_model_path, characters))
    return _ocr_lines(heads, [im])[0]
