"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed; the same seed gives the same
bytes. Nothing here reads files outside the checkout.

- ``documents_table`` / ``embeddings_table``: synthetic stand-ins for the
  ``documents`` and ``embeddings`` parquet tables that
  ``sources.transcripts.transcripts_from_documents`` and ``queries`` read.
- ``html_expected_sql``: the cells ``transcripts_from_documents`` plants in
  its HTML turns, recomputed in DuckDB SQL from the documents alone (the
  generator's own definition, independent of the HTML kernels).
- ``pixel_corpus``: image and PDF turns with planted ground truth. Pages are
  drawn as text-layer PDFs (``kernels.encoders``), inked with
  ``kernels.pdf_doc.render_pdf_text_page`` and re-encoded with the in-repo
  codecs; the expected cells are the strings placed in the grid.
"""

from __future__ import annotations

import base64
import json
import random
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa

VOCAB = (
    "query row stream the spark line small fast group customer batch sort "
    "value hash filter big data part column order scan a slow agg key window "
    "table merge vector join"
).split()
LANGS = ["en", "en", "en", "zh", "de", "fr", "es"]
EMBED_DIM, EMBED_LABELS = 64, 10
#: conv_id prefix of every pixel turn; HTML turns never start with it
PIXEL_CONV_PREFIX = "px"


def documents_table(seed: int, n_docs: int) -> pa.Table:
    """``documents`` (doc_id, text, lang, source, n_chars); about one doc in
    ten is a near-duplicate of an earlier one (one token replaced by
    ``dup``), so the dedup queries find candidate pairs."""
    rng = random.Random(seed)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.1:
            toks = texts[rng.randrange(i)].split(" ")
            toks[rng.randrange(len(toks))] = "dup"
        else:
            toks = [rng.choice(VOCAB) for _ in range(rng.randint(10, 100))]
        texts.append(" ".join(toks))
    return pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": texts,
            "lang": [rng.choice(LANGS) for _ in range(n_docs)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings_table(seed: int, n_vecs: int) -> pa.Table:
    """``embeddings`` (vec_id, embedding float[EMBED_DIM], label): unit
    vectors scattered around one random centre per label."""
    rng = np.random.default_rng(seed)
    centres = rng.normal(size=(EMBED_LABELS, EMBED_DIM))
    labels = rng.integers(0, EMBED_LABELS, size=n_vecs)
    vecs = centres[labels] + 0.6 * rng.normal(size=(n_vecs, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(range(n_vecs), pa.int64()),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def html_expected_sql(repeat: int) -> str:
    """DuckDB SQL over a ``documents`` view: one row per expected cell of
    ``transcripts_from_documents(repeat=repeat)`` (conv_id, turn_idx,
    table_idx, row_idx, col_idx, value). Spelled out from the generator's
    definition: doc_id % 11 == 3 is a plain-text turn, doc_id % 5 == 0 merges
    the first two header cells, grids are (2 + doc_id % 3) x (2 + doc_id % 2),
    turn idx = doc_id * repeat + rep, and idx % 17 == 0 lands on c_heavy."""
    return f"""
WITH d AS (
  SELECT doc_id, str_split(text, ' ') AS toks,
         2 + doc_id % 3 AS nr, 2 + doc_id % 2 AS nc, doc_id % 5 = 0 AS merged
  FROM documents WHERE doc_id % 11 <> 3
),
t AS (
  SELECT d.*, doc_id * {repeat} + rep AS idx
  FROM d, (SELECT unnest(generate_series(0, {repeat - 1})) AS rep)
),
g AS (
  SELECT t.*, r, c, CASE WHEN merged AND r = 0 AND c <= 1 THEN 0 ELSE c END AS ce
  FROM t, (SELECT unnest(generate_series(0, 3)) AS r), (SELECT unnest(generate_series(0, 2)) AS c)
  WHERE r < nr AND c < nc
)
SELECT CASE WHEN idx % 17 = 0 THEN 'c_heavy' ELSE 'c' || (idx % 500) END AS conv_id,
       CAST(idx AS BIGINT) AS turn_idx, CAST(0 AS BIGINT) AS table_idx,
       CAST(r AS BIGINT) AS row_idx, CAST(c AS BIGINT) AS col_idx,
       'd' || doc_id || '_r' || r || '_c' || ce || '_' ||
         toks[CAST((r * 7 + ce * 3) % len(toks) AS INT) + 1] AS value
FROM g
"""


# ------------------------------------------------------------ pixel corpus

@dataclass
class Turn:
    """One generated transcript turn plus its planted truth.

    ``expected`` lists the tables the turn must yield, each as
    ``(n_rows, n_cols, values)`` where ``values`` is the row-major grid of
    cell strings, or None when the payload carries no text (geometry-only
    extraction). ``malformed`` turns must yield zero tables (or exactly one
    error marker when the caller asks for error markers)."""

    conv_id: str
    turn_idx: int
    text: str
    tool: str
    kind: str
    expected: list = field(default_factory=list)
    malformed: bool = False


# Points per cell of the drawn grids; pages are rendered at 200/72 px per pt.
_CW, _RH, _X0, _TOP = 70, 24, 20, 40


def _cell_value(rng: random.Random) -> str:
    return f"{rng.choice('ABCDEFGHKMNPRSTW')}{rng.randint(10, 999)}"


_PROSE = (
    "Lorem ipsum dolor sit amet consectetur adipiscing elit sed do",
    "eiusmod tempor incididunt ut labore et dolore magna aliqua enim",
)


def _grid_page(rng: random.Random, nr: int, nc: int, rules: str, prose: bool = False):
    """One PDF page tuple for ``encoders.build_text_pdf`` and its values.
    ``rules``: 'all' (bordered), 'cols' (outer frame and column rules only,
    rows implicit) or 'none' (borderless). ``prose`` adds two lines of
    running text under the grid."""
    from img2table_spark.kernels.encoders import pdf_rect_op, pdf_text_op

    pw, ph = _X0 * 2 + _CW * nc + 10, _TOP + _RH * nr + 30
    if prose:
        pw = max(pw, 330)
    ytop = ph - _TOP
    ops = []
    if rules == "all":
        ops += [pdf_rect_op(_X0, ytop - r * _RH, _CW * nc, 1.2) for r in range(nr + 1)]
    elif rules == "cols":
        ops += [pdf_rect_op(_X0, ytop - r * _RH, _CW * nc, 1.2) for r in (0, nr)]
    if rules in ("all", "cols"):
        ops += [pdf_rect_op(_X0 + c * _CW, ytop - nr * _RH, 1.2, nr * _RH) for c in range(nc + 1)]
    values = [[_cell_value(rng) for _ in range(nc)] for _ in range(nr)]
    for r, row in enumerate(values):
        for c, v in enumerate(row):
            ops.append(pdf_text_op(_X0 + c * _CW + 8, ytop - r * _RH - 17, v))
    if prose:
        ops += [pdf_text_op(_X0, 14 + 12 * i, line, size=8) for i, line in enumerate(_PROSE)]
    return (pw, ph, "\n".join(ops).encode(), []), values


def _render(pdf: bytes):
    """First page of a text-layer PDF → (RGB page image, hOCR of its words)."""
    from img2table_spark.kernels.pdf_doc import (
        chars_to_pixel,
        cluster_words,
        render_pdf_text_page,
    )
    from img2table_spark.kernels.pdf_native import PdfDocument, interpret_page

    doc = PdfDocument(pdf)
    page = doc.pages()[0]
    img = render_pdf_text_page(doc, page)
    chars, _ = interpret_page(doc, page)
    media = [float(doc.resolve(v)) for v in doc.resolve(page["MediaBox"])]
    words = cluster_words(chars_to_pixel(chars, media[3] - media[1]), 0)
    spans = "".join(
        f"<span class='ocrx_word' id='{w['id']}' title='bbox {w['x1']} {w['y1']} "
        f"{w['x2']} {w['y2']}; x_wconf 95'>{w['value']}</span>"
        for w in words
    )
    hocr = f"<div class='ocr_page' id='page_1' title='bbox 0 0 {img.shape[1]} {img.shape[0]}'>{spans}</div>"
    return img, hocr


def _b64(data: bytes) -> str:
    return base64.b64encode(data).decode()


def _encoders():
    from img2table_spark.kernels.encoders import encode_jpeg_baseline, encode_png, encode_tiff
    from img2table_spark.kernels.webp import encode_webp_vp8l

    return {
        "png": encode_png,
        "jpeg": encode_jpeg_baseline,
        "tiff": encode_tiff,
        "webp": encode_webp_vp8l,
    }


#: (kind, count) of the pixel_mix corpus; the share of each kind is fixed so
#: every seed has the same cost profile. 1 of 16 turns (6%) is malformed.
PIXEL_MIX = (
    ("image/png", 2),
    ("image/jpeg", 2),
    ("image/tiff", 1),
    ("image/webp", 1),
    ("image_borderless", 2),
    ("image_implicit", 1),
    ("image_rotated", 2),
    ("pdf_vector", 1),
    ("pdf_borderless", 1),
    ("pdf_ccitt", 1),
    ("pdf_multipage", 1),
    ("malformed", 1),
)

#: grid shape of every page: fixed, so a turn's cost does not depend on the
#: seed (four columns also let whitespace detection separate a borderless
#: grid from running text; three-column borderless grids come back empty)
N_ROWS, N_COLS = 5, 4


def _pixel_turn(rng: random.Random, kind: str, malformed_i: int):
    """(text, tool, expected) of one pixel turn."""
    from img2table_spark.kernels.encoders import build_ccitt_scanned_pdf, build_text_pdf
    from img2table_spark.kernels.rotation import rotate_img_with_border

    nr, nc = N_ROWS, N_COLS
    if kind.startswith("image/"):
        page, values = _grid_page(rng, nr, nc, "all")
        img, hocr = _render(build_text_pdf([page]))
        data = _encoders()[kind.split("/")[1]](img)
        return json.dumps({"image": _b64(data), "hocr": hocr}), kind, [(nr, nc, values)]
    if kind == "image_borderless":
        page, values = _grid_page(rng, nr, nc, "none")
        img, hocr = _render(build_text_pdf([page]))
        payload = {"image": _b64(_encoders()["png"](img)), "hocr": hocr, "borderless_tables": True}
        return json.dumps(payload), "image/png", [(nr, nc, values)]
    if kind == "image_implicit":
        page, values = _grid_page(rng, nr, nc, "cols")
        img, hocr = _render(build_text_pdf([page]))
        payload = {"image": _b64(_encoders()["png"](img)), "hocr": hocr, "implicit_rows": True}
        return json.dumps(payload), "image/png", [(nr, nc, values)]
    if kind == "image_rotated":
        # the skew estimator needs some running text besides the grid: on a
        # bare 4x3 grid it misses the angle about once in thirty pages
        page, _ = _grid_page(rng, nr, nc, "all", prose=True)
        img, _ = _render(build_text_pdf([page]))
        img = rotate_img_with_border(img, angle=rng.choice([-4, -3, 3, 4]))
        payload = {"image": _b64(_encoders()["png"](img)), "detect_rotation": True}
        return json.dumps(payload), "image/png", [(nr, nc, None)]
    if kind == "pdf_vector":
        page, values = _grid_page(rng, nr, nc, "all")
        return _b64(build_text_pdf([page])), "application/pdf", [(nr, nc, values)]
    if kind == "pdf_borderless":
        page, values = _grid_page(rng, nr, nc, "none")
        payload = {"pdf": _b64(build_text_pdf([page])), "borderless_tables": True}
        return json.dumps(payload), "application/pdf", [(nr, nc, values)]
    if kind == "pdf_ccitt":
        page, _ = _grid_page(rng, nr, nc, "all")
        img, _ = _render(build_text_pdf([page]))
        return _b64(build_ccitt_scanned_pdf(img)), "application/pdf", [(nr, nc, None)]
    if kind == "pdf_multipage":
        pages = [_grid_page(rng, nr, nc, "none") for _ in range(3)]
        payload = {"pdf": _b64(build_text_pdf([p for p, _ in pages])), "borderless_tables": True}
        return json.dumps(payload), "application/pdf", [(nr, nc, v) for _, v in pages]
    if kind == "malformed":
        page, _ = _grid_page(rng, nr, nc, "all")
        img, _ = _render(build_text_pdf([page]))
        png = _encoders()["png"](img)
        bad = [
            ("!!!not-base64!!!", "image/png"),
            (_b64(png[: len(png) // 3]), "image/png"),
            (_b64(b"%PDF-1.4 truncated"), "application/pdf"),
            ('{"image": ', "image/jpeg"),
        ]
        text, tool = bad[malformed_i % len(bad)]
        return text, tool, []
    raise ValueError(kind)


def pixel_corpus(seed: int, mix=PIXEL_MIX) -> list[Turn]:
    """The pixel_mix corpus. Turn keys (conv_id, turn_idx), kinds and grid
    shapes are the same for every seed, so Spark places the same work in the
    same partitions; the seed draws the cell strings, rotation angles and
    which malformed form appears."""
    rng = random.Random(seed)
    turns: list[Turn] = []
    malformed_i = rng.randrange(4)
    for kind, count in mix:
        for _ in range(count):
            text, tool, expected = _pixel_turn(rng, kind, malformed_i)
            if kind == "malformed":
                malformed_i += 1
            i = len(turns)
            turns.append(
                Turn(f"{PIXEL_CONV_PREFIX}{i % 7}", i, text, tool, kind, expected, kind == "malformed")
            )
    return turns


def turns_table(turns: list[Turn]) -> pa.Table:
    """Transcript rows (TRANSCRIPT_SCHEMA column order) of generated turns."""
    import datetime as dt

    n = len(turns)
    return pa.table(
        {
            "conv_id": [t.conv_id for t in turns],
            "turn_idx": pa.array([t.turn_idx for t in turns], pa.int32()),
            "role": ["tool"] * n,
            "text": [t.text for t in turns],
            "tool": [t.tool for t in turns],
            "ts": pa.array([dt.datetime(2026, 1, 1)] * n, pa.timestamp("us")),
        }
    )
