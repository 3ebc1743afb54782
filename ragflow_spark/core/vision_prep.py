"""V-tier preprocessing (deepdoc/vision/operators.py), cv2/PIL-free.

The reference's detector/recognizer pipelines run a deterministic numpy
preprocessing chain before ONNX inference; only the models themselves are
weight-blocked. These are the chain's members rebuilt on plain numpy so
the Spark-side image plumbing (operators.multimodal) can produce the
exact tensors a dropped-in onnxruntime session would consume:

- ``standardize_image``   operators.py:68-103  (/255 + mean/std, HWC)
- ``normalize_image``     operators.py:105-130 (scale*im - mean)/std
- ``to_chw``              operators.py:132-146
- ``pad_to``              operators.py:171-207 (to size or size_div grid)
- ``linear_resize``       operators.py:209-275 — the keep-ratio scale
  computation is ported exactly (``generate_scale``); the interpolation
  itself is a numpy bilinear with cv2's half-pixel center convention,
  documented as a stand-in (cv2.INTER_LINEAR is not bit-reproducible
  without cv2; consumers are models, which are absent anyway)

All functions take/return float32 numpy arrays (HWC unless noted) plus
the reference's ``im_info``-style scale metadata where it emits one.
"""

from __future__ import annotations

import math

import numpy as np

IMAGENET_MEAN = [0.485, 0.456, 0.406]
IMAGENET_STD = [0.229, 0.224, 0.225]
# the reference TextDetector's DetResizeForTest config (pre_process_list,
# deepdoc/vision/ocr.py:355-391: limit_side_len 960, limit_type "max")
DET_LIMIT_SIDE_LEN = 960


def standardize_image(im: np.ndarray, mean, std, is_scale: bool = True,
                      norm_type: str = "mean_std") -> np.ndarray:
    im = im.astype(np.float32, copy=True)
    if is_scale:
        im *= 1.0 / 255.0
    if norm_type == "mean_std":
        im -= np.array(mean)[np.newaxis, np.newaxis, :]
        im /= np.array(std)[np.newaxis, np.newaxis, :]
    return im


def normalize_image(im: np.ndarray, scale: float | None = None,
                    mean=None, std=None, order: str = "chw") -> np.ndarray:
    scale = np.float32(scale if scale is not None else 1.0 / 255.0)
    mean = mean if mean is not None else IMAGENET_MEAN
    std = std if std is not None else IMAGENET_STD
    shape = (3, 1, 1) if order == "chw" else (1, 1, 3)
    m = np.array(mean).reshape(shape).astype("float32")
    s = np.array(std).reshape(shape).astype("float32")
    return (im.astype("float32") * scale - m) / s


def to_chw(im: np.ndarray) -> np.ndarray:
    return im.transpose((2, 0, 1))


def pad_to(im: np.ndarray, size=None, size_div: int = 32) -> np.ndarray:
    """Zero-pad bottom/right to ``size`` (h, w) or up to the next
    ``size_div`` multiple (operators.py:181-207)."""
    img_h, img_w = im.shape[0], im.shape[1]
    if size is not None:
        if isinstance(size, int):
            size = [size, size]
        h2, w2 = size
        if not (img_h < h2 and img_w < w2):
            raise ValueError(
                "(h, w) of target size should be greater than (img_h, img_w)"
            )
    else:
        h2 = max(int(math.ceil(img_h / size_div) * size_div), size_div)
        w2 = max(int(math.ceil(img_w / size_div) * size_div), size_div)
    out = np.zeros((h2, w2) + im.shape[2:], dtype=im.dtype)
    out[:img_h, :img_w] = im
    return out


def generate_scale(shape_hw: tuple[int, int], target_size,
                   keep_ratio: bool = True) -> tuple[float, float]:
    """(scale_y, scale_x) exactly as LinearResize.generate_scale
    (operators.py:253-275): min-side fit, capped so the max side never
    exceeds the target max."""
    if isinstance(target_size, int):
        target_size = [target_size, target_size]
    h, w = shape_hw
    if keep_ratio:
        im_min, im_max = min(h, w), max(h, w)
        t_min, t_max = min(target_size), max(target_size)
        im_scale = float(t_min) / float(im_min)
        if np.round(im_scale * im_max) > t_max:
            im_scale = float(t_max) / float(im_max)
        return im_scale, im_scale
    rh, rw = target_size
    return rh / float(h), rw / float(w)


def _bilinear(im: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Numpy bilinear resize with cv2's half-pixel centers:
    src = (dst + 0.5) * (in/out) - 0.5, edges clamped.

    Weights and arithmetic are float32 — cv2's INTER_LINEAR computes in
    single precision too, and float64 elementwise is pathologically slow
    on this host (measured ~100× a float32 multiply; a 660×460→800
    resize took 4 s with f64 weights, ~40 ms in f32)."""
    in_h, in_w = im.shape[:2]
    ys = (np.arange(out_h) + 0.5) * (in_h / out_h) - 0.5
    xs = (np.arange(out_w) + 0.5) * (in_w / out_w) - 0.5
    y0 = np.clip(np.floor(ys).astype(int), 0, in_h - 1)
    x0 = np.clip(np.floor(xs).astype(int), 0, in_w - 1)
    y1 = np.clip(y0 + 1, 0, in_h - 1)
    x1 = np.clip(x0 + 1, 0, in_w - 1)
    wy = np.clip(ys - y0, 0, 1).astype(np.float32)[:, None, None]
    wx = np.clip(xs - x0, 0, 1).astype(np.float32)[None, :, None]
    im = im.astype(np.float32)
    if im.ndim == 2:
        im = im[:, :, None]
    imy0, imy1 = im[y0], im[y1]
    one = np.float32(1)
    top = imy0[:, x0] * (one - wx) + imy0[:, x1] * wx
    bot = imy1[:, x0] * (one - wx) + imy1[:, x1] * wx
    out = top * (one - wy) + bot * wy
    return out


def linear_resize(im: np.ndarray, target_size, keep_ratio: bool = True
                  ) -> tuple[np.ndarray, dict]:
    """LinearResize port: returns (resized image, im_info with im_shape +
    scale_factor float32 arrays exactly as the reference emits them)."""
    scale_y, scale_x = generate_scale(im.shape[:2], target_size, keep_ratio)
    out_h = int(round(im.shape[0] * scale_y))
    out_w = int(round(im.shape[1] * scale_x))
    out = _bilinear(im, out_h, out_w)
    im_info = {
        "im_shape": np.array(out.shape[:2]).astype("float32"),
        "scale_factor": np.array([scale_y, scale_x]).astype("float32"),
    }
    return out, im_info


def detector_input(im: np.ndarray, target_size=800,
                   mean=None, std=None) -> tuple[np.ndarray, dict]:
    """The layout/TSR detector's full preprocessing chain
    (recognizer.py preprocess → LinearResize → StandardizeImage → Permute
    → PadStride 32): HWC uint8 in, CHW float32 tensor + im_info out —
    the tensor an onnxruntime session consumes when weights exist."""
    resized, im_info = linear_resize(im, target_size)
    standardized = standardize_image(
        resized,
        mean if mean is not None else IMAGENET_MEAN,
        std if std is not None else IMAGENET_STD,
    )
    padded = pad_to(standardized, size_div=32)
    return to_chw(padded), im_info


def det_resize_for_test(im: np.ndarray) -> tuple[np.ndarray, tuple[int, int]]:
    """DetResizeForTest port (deepdoc/vision/operators.py:306-410,
    resize_image_type0 branch, ``limit_type='max'``): the TEXT detector's
    resize — no upscaling (ratio 1.0 unless a side exceeds
    ``DET_LIMIT_SIDE_LEN``), then EACH side independently rounded to the
    nearest /32 multiple via resize (not zero-pad), floor 32. Images
    with h+w < 64 are zero-padded to at least 32×32 first, exactly like
    the reference's image_padding. Returns (resized image, (out_h,
    out_w)); the caller maps boxes back to SOURCE dims directly (the
    DBPostProcess contract), so no ratio metadata is needed here."""
    h, w = im.shape[:2]
    if h + w < 64:
        pad = np.zeros((max(32, h), max(32, w)) + im.shape[2:], im.dtype)
        pad[:h, :w] = im
        im = pad
        h, w = im.shape[:2]
    ratio = float(DET_LIMIT_SIDE_LEN) / max(h, w) \
        if max(h, w) > DET_LIMIT_SIDE_LEN else 1.0
    resize_h = int(h * ratio)
    resize_w = int(w * ratio)
    # python round() = banker's rounding, as the reference uses
    resize_h = max(int(round(resize_h / 32) * 32), 32)
    resize_w = max(int(round(resize_w / 32) * 32), 32)
    out = _bilinear(im, resize_h, resize_w)
    return out, (resize_h, resize_w)


def text_det_input(im: np.ndarray) -> tuple[np.ndarray, tuple[int, int]]:
    """The TEXT detector's full preprocessing chain (TextDetector
    pre_process_list, deepdoc/vision/ocr.py:355-391): DetResizeForTest →
    NormalizeImage (1/255 + ImageNet mean/std, HWC) → ToCHW. Unlike the
    layout chain (:func:`detector_input`) there is NO PadStride — both
    sides are already /32 multiples — and no upscaling of small pages.
    Returns (CHW float32 tensor, (map_h, map_w))."""
    resized, hw = det_resize_for_test(im)
    standardized = standardize_image(resized, IMAGENET_MEAN, IMAGENET_STD)
    return to_chw(standardized), hw


def rec_resize_norm(im: np.ndarray, max_wh_ratio: float,
                    image_shape=(3, 48, 320)) -> np.ndarray:
    """TextRecognizer.resize_norm_img (deepdoc/vision/ocr.py:97-121):
    dynamic target width ``imgH * max_wh_ratio`` (the onnx rec model's
    width axis is dynamic, so the fixed-width override never fires),
    aspect-kept resize to height ``imgH``, /255 then ±1 normalize, CHW,
    zero right-pad to the batch width. Bilinear stand-in for cv2.resize
    as in :func:`detector_input`."""
    img_c, img_h, img_w = image_shape
    img_w = int(img_h * max_wh_ratio)
    h, w = im.shape[:2]
    ratio = w / float(h)
    if math.ceil(img_h * ratio) > img_w:
        resized_w = img_w
    else:
        resized_w = int(math.ceil(img_h * ratio))
    resized = _bilinear(im.astype(np.float32), img_h, resized_w)
    resized = resized.transpose((2, 0, 1)) / 255.0
    resized -= 0.5
    resized /= 0.5
    out = np.zeros((img_c, img_h, img_w), dtype=np.float32)
    out[:, :, :resized_w] = resized
    return out
