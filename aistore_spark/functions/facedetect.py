"""Face detection over the in-repo BMP codec — the reference's
face-detection ETL transformer (etl_templates.py:341-375: an OpenCV
Haar-cascade pod that returns the image with detected faces boxed).

The detection MECHANICS here are the real Viola-Jones core: one
integral-image pass, Haar-like rectangular contrast features evaluated
per sliding window in O(1) via the integral image, and a cascade of
threshold tests that rejects a window at the first failing feature.
What is hand-specified rather than learned is the feature list itself
(two eye-vs-forehead contrasts and a mouth-vs-cheek contrast, tuned to
the synthetic face prior below) — plugging in a trained cascade swaps
the feature table, not the machinery. Detections are drawn as 1-px
white box outlines and the image re-encoded, matching the reference
transformer's contract (image in → boxed image out).

The synthetic prior (``synth_face_bmp``): gray 24-bpp BMPs, uniform
background 200, and on 3 of 4 ids a 16x16 face at an id-derived
8-aligned position — skin 180, two 4x4 eyes at 60, an 8x2 mouth at 80.
Every quantity is a closed form of doc_id, so the registered query's
oracle recomputes box coordinates and post-draw channel means exactly.
"""

from __future__ import annotations

import struct

import numpy as np

from aistore_spark.operators.multimodal import _parse_bmp

WINDOW = 16
STRIDE = 8
BG, SKIN, EYE, MOUTH = 200, 180, 60, 80
# Haar features as (rows, cols, rows, cols, min mean contrast): the
# bright region minus the dark region, both relative to the window.
_FEATURES = (
    # forehead (top quarter) brighter than left eye block
    ((0, 4, 0, 16), (4, 8, 2, 6), 40),
    # forehead brighter than right eye block
    ((0, 4, 0, 16), (4, 8, 10, 14), 40),
    # cheek band brighter than mouth block
    ((8, 12, 2, 14), (12, 14, 4, 12), 40),
)


def synth_face_bmp(doc_id: int) -> bytes:
    """Deterministic bottom-up 24-bpp BMP: width 32/40/48, height 32,
    equal BGR channels; ids with ``doc_id % 4 == 1`` carry no face."""
    w = 32 + 8 * (doc_id % 3)
    h = 32
    img = np.full((h, w), BG, dtype=np.uint8)  # top-down
    if doc_id % 4 != 1:
        fx = 8 * (doc_id % ((w - 16) // 8 + 1))
        fy = 8 * (doc_id % 3)
        img[fy : fy + 16, fx : fx + 16] = SKIN
        img[fy + 4 : fy + 8, fx + 2 : fx + 6] = EYE
        img[fy + 4 : fy + 8, fx + 10 : fx + 14] = EYE
        img[fy + 12 : fy + 14, fx + 4 : fx + 12] = MOUTH
    return encode_bmp_gray(img)


def encode_bmp_gray(img: np.ndarray) -> bytes:
    """Encode a top-down (h, w) gray array as a bottom-up 24-bpp BMP
    (BGR triplets all equal, 4-byte-aligned row stride)."""
    h, w = img.shape
    stride = (3 * w + 3) & ~3
    pad = b"\x00" * (stride - 3 * w)
    rows = []
    for y in range(h - 1, -1, -1):  # bottom-up storage order
        rows.append(np.repeat(img[y], 3).tobytes() + pad)
    pixels = b"".join(rows)
    header = struct.pack(
        "<2sIHHI", b"BM", 54 + len(pixels), 0, 0, 54
    ) + struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixels), 2835, 2835, 0, 0
    )
    return header + pixels


def decode_bmp_gray(data: bytes) -> np.ndarray:
    """Decode a 24-bpp BMP (bottom-up or top-down) to a top-down
    (h, w) gray array (blue channel; the synthetic images carry equal
    channels)."""
    w, _h, bpp, _stride, rows = _parse_bmp(data)
    if bpp != 24:
        raise ValueError(f"unsupported BMP bpp {bpp} (need 24)")
    return rows[:, 0 : 3 * w : 3]


def _integral(img: np.ndarray) -> np.ndarray:
    ii = np.zeros((img.shape[0] + 1, img.shape[1] + 1), dtype=np.int64)
    ii[1:, 1:] = img.astype(np.int64).cumsum(0).cumsum(1)
    return ii


def _rect_mean(ii: np.ndarray, y0, y1, x0, x1) -> float:
    s = ii[y1, x1] - ii[y0, x1] - ii[y1, x0] + ii[y0, x0]
    return s / ((y1 - y0) * (x1 - x0))


def detect_faces(gray: np.ndarray) -> list[tuple[int, int]]:
    """Sliding-window Haar cascade: every feature is two rectangle
    means from ONE integral image (O(1) per feature per window); a
    window is rejected at its first failing contrast — the
    Viola-Jones attentional-cascade evaluation order."""
    ii = _integral(gray)
    h, w = gray.shape
    hits = []
    for y in range(0, h - WINDOW + 1, STRIDE):
        for x in range(0, w - WINDOW + 1, STRIDE):
            ok = True
            for (by0, by1, bx0, bx1), (dy0, dy1, dx0, dx1), t in _FEATURES:
                bright = _rect_mean(ii, y + by0, y + by1, x + bx0, x + bx1)
                dark = _rect_mean(ii, y + dy0, y + dy1, x + dx0, x + dx1)
                if bright - dark < t:
                    ok = False
                    break
            if ok:
                hits.append((x, y))
    return hits


def draw_boxes(gray: np.ndarray, boxes) -> np.ndarray:
    """1-px white outline per detection, the reference transformer's
    output contract."""
    out = gray.copy()
    for x, y in boxes:
        out[y, x : x + WINDOW] = 255
        out[y + WINDOW - 1, x : x + WINDOW] = 255
        out[y : y + WINDOW, x] = 255
        out[y : y + WINDOW, x + WINDOW - 1] = 255
    return out


def t_face(data: bytes, path: str, args: str) -> bytes:
    """CANNED face_detection: BMP in → BMP with boxed detections out."""
    gray = decode_bmp_gray(data)
    return encode_bmp_gray(draw_boxes(gray, detect_faces(gray)))
