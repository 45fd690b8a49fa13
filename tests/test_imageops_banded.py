"""Banded (intra-page threaded) kernels must be bit-identical to the
single-thread chain: banding splits only the outer iteration; every output
element sees the same op sequence on the same operands (see
imageops._run_banded). Pinned over adversarial shapes including band-edge
rows, sub-min_rows images and degenerate 1-pixel axes."""

import base64
import os

import numpy as np
import pytest
from ruled_table import ruled_table_pdf

import img2table_spark.kernels.imageops as io_
from img2table_spark.kernels.encoders import encode_png
from img2table_spark.kernels.pdf_doc import render_pdf_text_page
from img2table_spark.kernels.pdf_native import PdfDocument
from img2table_spark.kernels.text import table_to_record
from img2table_spark.operators.extract import extract_payload


@pytest.fixture
def rng():
    return np.random.default_rng(0xBA4D)


def _with_threads(n, fn):
    old = os.environ.get("IMG2TABLE_KERNEL_THREADS")
    os.environ["IMG2TABLE_KERNEL_THREADS"] = str(n)
    try:
        return fn()
    finally:
        if old is None:
            del os.environ["IMG2TABLE_KERNEL_THREADS"]
        else:
            os.environ["IMG2TABLE_KERNEL_THREADS"] = old


SHAPES = [(5, 7), (512, 3), (3, 512), (1023, 999), (2048, 64), (1200, 1500)]


@pytest.mark.parametrize("shape", SHAPES)
def test_bilateral_banded_exact(rng, shape):
    img = rng.integers(0, 256, shape + (3,)).astype(np.uint8)
    a = _with_threads(1, lambda: io_.bilateral_filter3(img))
    b = _with_threads(4, lambda: io_.bilateral_filter3(img))
    c = _with_threads(3, lambda: io_.bilateral_filter3(img))
    assert np.array_equal(a, b)
    assert np.array_equal(a, c)


@pytest.mark.parametrize("shape", SHAPES)
@pytest.mark.parametrize("window", [3, 11, 31])
def test_sauvola_banded_exact(rng, shape, window):
    gray = rng.integers(0, 256, shape).astype(np.uint8)
    a = _with_threads(1, lambda: io_.sauvola_threshold_mask(gray, window))
    b = _with_threads(4, lambda: io_.sauvola_threshold_mask(gray, window))
    assert np.array_equal(a, b)


@pytest.mark.parametrize("shape", SHAPES)
@pytest.mark.parametrize("ksize", [3, 21, 255])
def test_gaussian_banded_exact(rng, shape, ksize):
    if ksize // 2 > min(shape) - 1:
        # pre-existing reflect101 domain: kernel radius must fit the axis
        # (real callers cap ksize from char_length; unrelated to banding)
        pytest.skip("kernel wider than axis")
    gray = rng.integers(0, 256, shape).astype(np.uint8)
    a = _with_threads(1, lambda: io_.gaussian_blur_u8(gray, ksize))
    b = _with_threads(4, lambda: io_.gaussian_blur_u8(gray, ksize))
    assert np.array_equal(a, b)


def test_box_sum_banded_exact(rng):
    # float64 windows over integer-valued input: any banding must reproduce
    # the exact same partial sums (per-column / per-row cumsums untouched)
    a = rng.integers(0, 256, (777, 1301)).astype(np.float32)
    x = _with_threads(1, lambda: io_._box_sum(a, 11, 11))
    y = _with_threads(4, lambda: io_._box_sum(a, 11, 11))
    assert np.array_equal(x, y)


def test_sep_filter_1d_unaffected(rng):
    v = rng.random(1000)
    k = io_.gaussian_kernel_1d(7)
    x = _with_threads(1, lambda: io_._sep_filter(v, k, 0))
    y = _with_threads(4, lambda: io_._sep_filter(v, k, 0))
    assert np.array_equal(x, y)


def test_unparsable_thread_count_takes_the_default(monkeypatch):
    """A thread count that is not a number falls back to the affinity
    default instead of failing every banded kernel call, which turned each
    image and scanned-PDF turn into zero rows."""
    doc = PdfDocument(ruled_table_pdf())
    png = base64.b64encode(encode_png(render_pdf_text_page(doc, doc.pages()[0]))).decode()
    monkeypatch.delenv("IMG2TABLE_KERNEL_THREADS", raising=False)
    default = io_._kernel_threads()
    want = [table_to_record(t) for t in extract_payload(png, "image/png")]
    assert [(r["n_rows"], r["n_cols"]) for r in want] == [(2, 3)]
    monkeypatch.setenv("IMG2TABLE_KERNEL_THREADS", "abc")
    assert io_._kernel_threads() == default
    assert [table_to_record(t) for t in extract_payload(png, "image/png")] == want
