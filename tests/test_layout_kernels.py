"""Layout + image kernel tests (reference parity: F3/X4/X5/X6/X9/W3)."""

import numpy as np
import pytest

from intelligent_ocr_spark.functions.image_kernels import (
    adaptive_zoom,
    edge_magnitude,
    is_blank_image,
)
from intelligent_ocr_spark.functions.layout import (
    Block,
    estimate_font_size,
    is_vertical,
    reading_order,
    segment_columns,
)


# ---- blank-page gradient detection (reference core/pdf_processor.py:763-794)
def test_blank_image_uniform():
    img = np.full((100, 100, 3), 255, dtype=np.uint8)
    assert edge_magnitude(np.mean(img[:, :, :3], axis=2)) == 0.0
    assert is_blank_image(img)


def test_nonblank_image_with_text_like_edges():
    img = np.full((100, 100, 3), 255, dtype=np.uint8)
    img[40:60, 10:90] = 0  # a dark bar → strong gradients
    assert not is_blank_image(img)


def test_blank_threshold_boundary():
    # hand-computed: single column step of height h in WxH image
    img = np.full((10, 10), 255.0)
    img[:, 5] = 250.0  # |diff|=5 at two column transitions per row
    # grad_x: 10 rows × 9 diffs, 2 nonzero per row = 20*5 = 100; mean = 100/90
    gx = 100 / 90
    assert abs(edge_magnitude(img) - gx / 2) < 1e-9


# ---- adaptive zoom (reference core/pdf_processor.py:796-836)
def test_adaptive_zoom_passthrough():
    assert adaptive_zoom(612, 792, 2.0) == 2.0  # letter @144dpi: no caps hit


def test_adaptive_zoom_side_cap():
    # 1000pt page at zoom 5 → 5000px side > 3800 → scaled to exactly 3800
    z = adaptive_zoom(1000, 500, 5.0)
    assert abs(1000 * z - 3800) < 1e-6


def test_adaptive_zoom_pixel_cap():
    z = adaptive_zoom(3800, 3800, 1.0, max_pixels=1_000_000, max_side=3800)
    assert abs((3800 * z) ** 2 - 1_000_000) < 1.0


# ---- vertical classification + font size (reference :646-659)
def test_is_vertical():
    assert is_vertical(10, 21)
    assert not is_vertical(10, 20)  # strict >


def test_font_size_vertical_and_horizontal():
    # vertical: min(w*0.9, h/chars*0.9)
    assert estimate_font_size(20, 200, 10) == pytest.approx(min(18.0, 18.0))
    # horizontal: min(h*0.9, w/chars*1.5)
    assert estimate_font_size(200, 20, 10) == pytest.approx(min(18.0, 30.0))
    # clamps
    assert estimate_font_size(1, 3, 100) == 4.0
    assert estimate_font_size(2000, 300, 2) == 72.0


# ---- reading order / XY-cut (reference W3, :667-702)
def _b(x0, y0, x1, y1, text):
    return Block(x0, y0, x1, y1, text)


def test_columns_split_and_order_ltr():
    blocks = [
        _b(460, 100, 790, 128, "r1"),
        _b(60, 140, 390, 168, "l2"),
        _b(60, 100, 390, 128, "l1"),
        _b(460, 140, 790, 168, "r2"),
    ]
    assert [b.text for b in reading_order(blocks, vertical_page=False)] == [
        "l1", "l2", "r1", "r2",
    ]


def test_full_width_heading_then_columns():
    blocks = [
        _b(460, 100, 790, 128, "r1"),
        _b(100, 10, 700, 40, "head"),
        _b(60, 100, 390, 128, "l1"),
    ]
    assert [b.text for b in reading_order(blocks, vertical_page=False)] == [
        "head", "l1", "r1",
    ]


def test_vertical_rtl_column_order():
    blocks = [
        _b(100, 40, 148, 400, "left"),
        _b(900, 40, 948, 400, "rightmost"),
        _b(500, 40, 548, 400, "mid"),
    ]
    assert [b.text for b in reading_order(blocks, vertical_page=True)] == [
        "rightmost", "mid", "left",
    ]


def test_segment_columns_merges_overlaps():
    blocks = [_b(0, 0, 100, 10, "a"), _b(90, 20, 200, 30, "b"), _b(400, 0, 500, 10, "c")]
    cols = segment_columns(blocks)
    assert [len(c) for c in cols] == [2, 1]


def test_reading_order_deterministic_under_input_order():
    import itertools, random

    blocks = [
        _b(60, 100, 390, 128, "l1"),
        _b(460, 100, 790, 128, "r1"),
        _b(100, 10, 700, 40, "head"),
        _b(60, 140, 390, 168, "l2"),
    ]
    expected = [b.text for b in reading_order(blocks, vertical_page=False)]
    rng = random.Random(7)
    for _ in range(10):
        shuffled = blocks[:]
        rng.shuffle(shuffled)
        assert [b.text for b in reading_order(shuffled, False)] == expected
