"""Deterministic numpy image kernels for the binary/pixmap path.

These run INSIDE Arrow-batched pandas UDFs (never as Spark-visible types):
a rendered page is an opaque ``binary`` column decoded to ``np.uint8 (H,W,C)``
per row, exactly how the reference treats pixmaps
(``core/pdf_processor.py:584-592``).
"""

from __future__ import annotations

import numpy as np

__all__ = ["to_grayscale", "edge_magnitude", "is_blank_image", "adaptive_zoom"]


def to_grayscale(img: np.ndarray) -> np.ndarray:
    """Mean over the first 3 channels (reference ``core/pdf_processor.py:779-783``)."""
    if img.ndim == 3 and img.shape[2] >= 3:
        return np.mean(img[:, :, :3], axis=2)
    if img.ndim == 3:
        return img[:, :, 0].astype(np.float32)
    return img.astype(np.float32)


def edge_magnitude(gray: np.ndarray) -> float:
    """Mean |gradient| over both axes — the cheap blank-page signal the
    reference explicitly prefers over cv2.Canny
    (``core/pdf_processor.py:785-791``)."""
    grad_x = np.abs(np.diff(gray, axis=1))
    grad_y = np.abs(np.diff(gray, axis=0))
    gx = float(np.mean(grad_x)) if grad_x.size else 0.0
    gy = float(np.mean(grad_y)) if grad_y.size else 0.0
    return (gx + gy) / 2.0


def is_blank_image(img: np.ndarray, threshold: float = 0.5) -> bool:
    """Blank-page verdict (reference ``_is_blank_page``
    ``core/pdf_processor.py:763-794``; default threshold ``:383,421``)."""
    return edge_magnitude(to_grayscale(img)) < threshold


def adaptive_zoom(
    width_pt: float,
    height_pt: float,
    base_zoom: float,
    max_pixels: int = 100_000_000,
    max_side: int = 3800,
) -> float:
    """Cap render zoom: per-side ≤ ``max_side`` px (model's silent-rescale
    guard), then total ≤ ``max_pixels`` (OOM guard). Pure function of page
    geometry — deterministic, so span offsets stay byte-stable.
    Reference ``_adaptive_zoom`` ``core/pdf_processor.py:796-836``.
    """
    base_width = width_pt * base_zoom
    base_height = height_pt * base_zoom
    base_pixels = base_width * base_height

    zoom = base_zoom
    if max(base_width, base_height) > max_side:
        side_scale = max_side / max(base_width, base_height)
        zoom = base_zoom * side_scale
        base_width *= side_scale
        base_height *= side_scale
        base_pixels = base_width * base_height

    if base_pixels > max_pixels:
        zoom *= (max_pixels / base_pixels) ** 0.5
    return zoom
