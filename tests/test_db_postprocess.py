"""DBPostProcess A/B: the reference's own quad-path loop
(deepdoc/vision/postprocess.py:113-158) executing with our numpy
primitives injected as the cv2/shapely/pyclipper stand-in, against our
port — byte-identical boxes. This shrinks V1's blocked surface to
literally the DBNet .onnx forward pass.

The primitives themselves (border tracing, rotating calipers, scanline
fill, closed-form offset) are additionally property-checked against
geometry ground truths below.
"""

from __future__ import annotations

import sys
import types

import numpy as np
import pytest

sys.path.insert(0, "tests")
import refstubs  # noqa: E402

from ragflow_spark.core import db_postprocess as DBP  # noqa: E402


# ------------------------------------------------- primitive properties


def test_find_contours_rect():
    bm = np.zeros((40, 60), dtype=np.uint8)
    bm[10:20, 15:35] = 1
    cs = DBP.find_contours(bm)
    assert len(cs) == 1
    pts = cs[0]
    assert pts[:, 0].min() == 15 and pts[:, 0].max() == 34
    assert pts[:, 1].min() == 10 and pts[:, 1].max() == 19


def test_find_contours_multiple_components():
    bm = np.zeros((30, 30), dtype=np.uint8)
    bm[2:6, 2:8] = 1
    bm[20:26, 12:20] = 1
    bm[10, 25] = 1  # single pixel
    cs = DBP.find_contours(bm)
    assert len(cs) == 3


def test_min_area_rect_axis_aligned():
    pts = np.array([[0, 0], [10, 0], [10, 4], [0, 4]])
    corners, (w, h) = DBP.min_area_rect(pts)
    assert {10.0, 4.0} == {round(w, 6), round(h, 6)}
    assert np.allclose(sorted(corners[:, 0]), [0, 0, 10, 10], atol=1e-9)


def test_min_area_rect_rotated():
    # unit square rotated 45°: min-area rect area = 1
    pts = np.array([[0, 1], [1, 0], [2, 1], [1, 2]], dtype=float)
    _, (w, h) = DBP.min_area_rect(pts)
    assert abs(w * h - 2.0) < 1e-9  # rotated square side sqrt(2)


def test_fill_poly_mask_area():
    mask = DBP.fill_poly_mask((10, 10), np.array([[1, 1], [8, 1], [8, 8],
                                                  [1, 8]]))
    assert mask.sum() == 64  # 8x8 lattice-inclusive interior


def test_offset_rectangle():
    out = DBP.offset_convex_polygon(
        np.array([[2, 2], [10, 2], [10, 6], [2, 6]]), 1.0)
    xs, ys = sorted(out[:, 0]), sorted(out[:, 1])
    assert np.allclose(xs, [1, 1, 11, 11]) and np.allclose(ys, [1, 1, 7, 7])


# ----------------------------------------------------------- cv2 shim


class _Rect(tuple):
    pass


def _cv2_shim():
    m = types.ModuleType("cv2")
    m.RETR_LIST = 1
    m.CHAIN_APPROX_SIMPLE = 2

    def findContours(img, mode, method):
        cs = DBP.find_contours(img > 0)
        return [c.reshape(-1, 1, 2) for c in cs], None

    def minAreaRect(contour):
        corners, wh = DBP.min_area_rect(np.asarray(contour))
        return _Rect((None, wh, corners))

    def boxPoints(rect):
        return rect[2]

    def fillPoly(mask, pts, val):
        filled = DBP.fill_poly_mask(mask.shape, np.asarray(pts).reshape(-1, 2))
        np.copyto(mask, np.maximum(mask, filled * np.uint8(val)))

    def mean(img, mask):
        denom = int(mask.sum())
        return ((float((img * mask).sum() / denom) if denom else 0.0),
                0.0, 0.0, 0.0)

    m.findContours, m.minAreaRect, m.boxPoints = (
        findContours, minAreaRect, boxPoints)
    m.fillPoly, m.mean = fillPoly, mean
    return m


class _Poly:
    def __init__(self, box):
        self.area, self.length = DBP.polygon_area_perimeter(np.asarray(box))


class _Offset:
    JT_ROUND = ET_CLOSEDPOLYGON = 0

    def AddPath(self, box, jt, et):
        self._box = np.asarray(box)

    def Execute(self, distance):
        return [DBP.offset_convex_polygon(self._box, distance).tolist()]


@pytest.fixture(scope="module")
def ref_db():
    refstubs.install_reference_stubs()
    import deepdoc.vision.postprocess as ref_pp

    ref_pp.cv2 = _cv2_shim()
    ref_pp.Polygon = _Poly
    ref_pp.pyclipper = types.SimpleNamespace(
        PyclipperOffset=_Offset, JT_ROUND=0, ET_CLOSEDPOLYGON=0)
    return ref_pp.DBPostProcess


def _synthetic_map(seed, h=96, w=128):
    """Non-overlapping text-line-like blobs on a quadrant grid (overlap
    would merge components into low-bbox-score shapes that box_thresh
    correctly kills — fine for DB, useless for an A/B fixture)."""
    rng = np.random.default_rng(seed)
    pred = np.full((h, w), 0.05, dtype=np.float32)
    cells = [(8, 8), (8, 68), (48, 8), (48, 68)]
    for cy, cx in cells[: int(rng.integers(2, 5))]:
        y = cy + int(rng.integers(0, 8))
        x = cx + int(rng.integers(0, 12))
        bh = int(rng.integers(6, 16))
        bw = int(rng.integers(16, 36))
        val = float(rng.uniform(0.55, 0.97))
        pred[y:y + bh, x:x + bw] = val
    # one low-score blob that must fail box_thresh
    pred[h - 8:h - 4, 44:60] = 0.35
    return pred


@refstubs.requires_reference
@pytest.mark.parametrize("seed", range(8))
def test_db_postprocess_ab(ref_db, seed):
    pred = _synthetic_map(seed)[None, None, :, :]
    shapes = [(192.0, 256.0, 2.0, 2.0)]  # rescale to a 2x source frame
    ref = ref_db(thresh=0.3, box_thresh=0.5, unclip_ratio=1.5)
    ours = DBP.DBPostProcess(thresh=0.3, box_thresh=0.5, unclip_ratio=1.5)
    a = ref({"maps": pred}, shapes)
    b = ours({"maps": pred}, shapes)
    assert len(a) == len(b) == 1
    pa, pb = np.asarray(a[0]["points"]), np.asarray(b[0]["points"])
    assert pa.shape == pb.shape
    assert pa.shape[0] >= 1, "no boxes detected on a map with planted blobs"
    assert np.array_equal(pa, pb)


def test_db_postprocess_scores_and_gates():
    # the 0.35 blob passes thresh=0.3 but must fail box_thresh=0.5
    pred = _synthetic_map(3)
    ours = DBP.DBPostProcess(thresh=0.3, box_thresh=0.5, unclip_ratio=1.5)
    boxes, scores = ours.boxes_from_bitmap(
        pred, pred > 0.3, pred.shape[1], pred.shape[0])
    assert all(s >= 0.5 for s in scores)
    # tiny components die on min_size
    lone = np.full((32, 32), 0.05, dtype=np.float32)
    lone[5, 5] = 0.9
    b2, _ = ours.boxes_from_bitmap(lone, lone > 0.3, 32, 32)
    assert len(b2) == 0


def test_db_postprocess_slow_score_mode():
    """score_mode='slow' must actually score (ADVICE r4: it was silently
    accepted and ignored). On axis-aligned rectangular blobs the filled
    component region equals the min-area quad, so slow == fast scores and
    the emitted boxes are identical."""
    pred = _synthetic_map(5)
    fast = DBP.DBPostProcess(thresh=0.3, box_thresh=0.5, unclip_ratio=1.5,
                             score_mode="fast")
    slow = DBP.DBPostProcess(thresh=0.3, box_thresh=0.5, unclip_ratio=1.5,
                             score_mode="slow")
    bf, sf = fast.boxes_from_bitmap(pred, pred > 0.3,
                                    pred.shape[1], pred.shape[0])
    bs, ss = slow.boxes_from_bitmap(pred, pred > 0.3,
                                    pred.shape[1], pred.shape[0])
    assert np.array_equal(bf, bs)
    assert np.allclose(sf, ss, atol=1e-6)
    # an L-shaped (concave) blob: slow scores ONLY the component pixels,
    # fast averages the min-area bbox incl. background → slow > fast
    lmap = np.full((40, 40), 0.05, dtype=np.float32)
    lmap[10:30, 10:14] = 0.9
    lmap[26:30, 10:30] = 0.9
    _, sfast = fast.boxes_from_bitmap(lmap, lmap > 0.3, 40, 40)
    _, sslow = slow.boxes_from_bitmap(lmap, lmap > 0.3, 40, 40)
    # fast dilutes the L over its bbox (~0.36) and box_thresh kills it;
    # slow scores the component pixels alone (0.9) and keeps it
    assert len(sfast) == 0
    assert len(sslow) == 1 and sslow[0] > 0.89
