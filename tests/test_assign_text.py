"""Distributed text assignment (cogrouped applyInPandas): cell values, html
and bbox on a hand-built turn, and equality with the in-UDF embedded-hOCR
path on the golden image."""

import base64
import datetime as dt
import json

from pyspark.sql import functions as F

from img2table_spark.kernels.hocr import parse_hocr_pages
from img2table_spark.operators.assign_text import assign_text
from img2table_spark.operators.extract import extract_tables
from img2table_spark.schema import EXTRACTED_SCHEMA, TRANSCRIPT_SCHEMA, WORD_SCHEMA


def _geometry_row(table_idx, n_rows, n_cols, x0=10, y0=20, w=100, h=40):
    """An EXTRACTED_SCHEMA row of an n_rows x n_cols grid of w x h cells at
    (x0, y0), values null."""
    cells = [
        (r, c, x0 + c * w, y0 + r * h, x0 + (c + 1) * w, y0 + (r + 1) * h, None)
        for r in range(n_rows)
        for c in range(n_cols)
    ]
    box = (x0, y0, x0 + n_cols * w, y0 + n_rows * h)
    return ("c0", 0, table_idx, *box, "t", cells, None, n_rows, n_cols)


def test_assign_text_fills_cells(spark):
    """Words land in the cells that hold them: one line per parent, lines
    joined by a newline; low-confidence words are dropped; an empty row is
    removed and its neighbours meet halfway; a table left with no rows is
    dropped and the next one takes its table_idx."""
    geometry = spark.createDataFrame(
        [_geometry_row(0, 1, 2, y0=400), _geometry_row(1, 3, 2)], EXTRACTED_SCHEMA
    )
    words = spark.createDataFrame(
        [
            (1, "ocrx_word", "w1", "l1", "Name", 90, 20, 30, 60, 50),
            (1, "ocrx_word", "w2", "l2", "Qty", 90, 120, 30, 150, 50),
            (1, "ocrx_word", "w3", "l3", "noise", 10, 20, 70, 60, 90),
            (1, "ocrx_word", "w4", "l4", "pear", 90, 20, 110, 60, 130),
            (1, "ocrx_word", "w5", "l5", "5", 90, 120, 105, 130, 118),
            (1, "ocrx_word", "w6", "l5", "kg", 90, 135, 105, 150, 118),
            (1, "ocrx_word", "w7", "l6", "net", 90, 120, 122, 150, 136),
        ],
        WORD_SCHEMA,
    ).select(F.lit("c0").alias("conv_id"), F.lit(0).alias("turn_idx"), "*")

    [row] = assign_text(geometry, words).collect()

    assert (row["table_idx"], row["title"], row["n_rows"], row["n_cols"]) == (0, "t", 2, 2)
    assert (row["x1"], row["y1"], row["x2"], row["y2"]) == (10, 20, 210, 140)
    assert [tuple(c) for c in row["cells"]] == [
        (0, 0, 10, 20, 110, 80, "Name"),
        (0, 1, 110, 20, 210, 80, "Qty"),
        (1, 0, 10, 80, 110, 140, "pear"),
        (1, 1, 110, 80, 210, 140, "5 kg\nnet"),
    ]
    td = '<td colspan="1" rowspan="1">{}</td>'.format
    assert row["html"] == (
        f"<table><tr>{td('Name')}{td('Qty')}</tr><tr>{td('pear')}{td('5 kg<br>net')}</tr></table>"
    )


def test_assign_text_matches_embedded(spark, ref_tests):
    with open(ref_tests / "document/image/test_data/test.png", "rb") as f:
        png_b64 = base64.b64encode(f.read()).decode()
    with open(ref_tests / "_mock_data/tesseract_hocr.html") as f:
        hocr = f.read()
    ts = dt.datetime(2026, 1, 1)

    # path A: embedded hOCR inside the payload
    df_a = spark.createDataFrame(
        [("c0", 0, "assistant",
          json.dumps({"image": png_b64, "hocr": hocr, "implicit_rows": True}),
          "image/png", ts)],
        TRANSCRIPT_SCHEMA,
    )
    a = extract_tables(df_a).orderBy("x1").collect()

    # path B: geometry-only extraction + words as a separate Spark table
    df_b = spark.createDataFrame(
        [("c0", 0, "assistant",
          json.dumps({"image": png_b64, "implicit_rows": True}),
          "image/png", ts)],
        TRANSCRIPT_SCHEMA,
    )
    geometry = extract_tables(df_b)
    wpdf = parse_hocr_pages([hocr])
    words = spark.createDataFrame(wpdf, WORD_SCHEMA).select(
        F.lit("c0").alias("conv_id"), F.lit(0).alias("turn_idx"), "*"
    )
    b = assign_text(geometry, words).orderBy("x1").collect()

    assert len(a) == len(b) == 2
    for ra, rb in zip(a, b):
        assert (ra["x1"], ra["y1"], ra["x2"], ra["y2"]) == (rb["x1"], rb["y1"], rb["x2"], rb["y2"])
        assert (ra["n_rows"], ra["n_cols"]) == (rb["n_rows"], rb["n_cols"])
        va = [(c["row"], c["col"], c["value"]) for c in ra["cells"]]
        vb = [(c["row"], c["col"], c["value"]) for c in rb["cells"]]
        assert va == vb
