"""The extraction operator: transcript rows → extracted-table rows.

Spark-first design (SURVEY.md §3.4): the whole reference pipeline is the body
of ONE Arrow-batched ``mapInArrow`` function. Payloads are turn-local, so no
geometry ever crosses the Spark boundary; the only shuffle in the job is the
optional salted repartition that defuses long-conversation skew.

Payload dispatch by the ``tool`` column (FIXTURES.md §1):
  - text/html        → table scanner and grid builder (kernels.html_io); the
                       grids go straight into the output columns
  - image/*          → decode + bordered/borderless CV pipeline
                       (kernels.image_doc — pure NumPy; PNG via stdlib zlib)
  - application/pdf  → native-text or rasterized path (kernels.pdf_doc)
  - text/plain, null → no tables (negative payload)

Image and PDF payloads become ``Table`` objects (``extract_payload``) that
are then written into the same columns.

Malformed payloads never fail the job: the function emits zero rows (or one
error marker with ``emit_errors``) and the per-partition manifest records
the error count (FIXTURES.md §6).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from img2table_spark.kernels.html_io import (
    HTML_COL_W,
    HTML_ROW_H,
    grid_columns,
    grid_html,
    html_grids,
    parse_html_tables,
    table_to_html,
)
from img2table_spark.kernels.objects import Table
from img2table_spark.kernels.text import is_relevant_table, table_to_record
from img2table_spark.schema import EXTRACTED_SCHEMA

_HTML_TOOLS = {"text/html", "html"}
_IMAGE_PREFIX = "image/"
_PDF_TOOLS = {"application/pdf", "pdf"}


class PayloadError(Exception):
    """Raised by decoders on malformed payloads; mapped to 0 output rows."""


def extract_payload(text: str | None, tool: str | None) -> list[Table]:
    """Dispatch one turn's payload to the matching kernel pipeline."""
    if text is None:
        return []
    tool = (tool or "").lower()
    if tool in _HTML_TOOLS:
        return parse_html_tables(text)
    if tool.startswith(_IMAGE_PREFIX):
        from img2table_spark.kernels.image_doc import extract_image_payload

        return extract_image_payload(text)
    if tool in _PDF_TOOLS:
        from img2table_spark.kernels.pdf_doc import extract_pdf_payload

        return extract_pdf_payload(text)
    # text/plain or unknown: not a table payload
    return []


def _make_batch_extract(emit_errors: bool = False):
    def _batch_extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = EXTRACTED_SCHEMA.fieldNames()
        for pdf in batches:
            rows: list[dict] = []
            # .tolist() once per batch: plain-python iteration is measurably
            # cheaper than pandas Series iteration in this hot loop.
            for conv_id, turn_idx, text, tool in zip(
                pdf["conv_id"].tolist(),
                pdf["turn_idx"].tolist(),
                pdf["text"].tolist(),
                pdf["tool"].tolist(),
            ):
                try:
                    tables = [t for t in extract_payload(text, tool) if is_relevant_table(t)]
                except Exception as exc:
                    # error-tolerant UDF: malformed payload → zero output rows;
                    # optionally an error-marker row (table_idx = -1) that the
                    # pipeline counts into the partition manifest then drops.
                    if emit_errors:
                        rows.append(
                            {
                                "conv_id": conv_id,
                                "turn_idx": int(turn_idx),
                                "table_idx": -1,
                                "x1": None, "y1": None, "x2": None, "y2": None,
                                "title": repr(exc)[:200],
                                "cells": [],
                                "html": None,
                                "n_rows": 0,
                                "n_cols": 0,
                            }
                        )
                    continue
                for i, t in enumerate(tables):
                    rec = table_to_record(t)
                    rec["conv_id"] = conv_id
                    rec["turn_idx"] = int(turn_idx)
                    rec["table_idx"] = i
                    rec["html"] = table_to_html(t)
                    rows.append(rec)
            yield pd.DataFrame(rows, columns=cols) if rows else pd.DataFrame(
                {c: pd.Series(dtype="object") for c in cols}
            )

    return _batch_extract


def _make_batch_extract_arrow(emit_errors: bool = False):
    """Arrow-native batch extractor (mapInArrow): identical row semantics to
    _make_batch_extract, but the output batch is assembled as flat Python
    lists converted once per batch into Arrow arrays (offsets + struct
    children for ``cells``). The pandas path paid a per-cell dict build plus
    pandas→Arrow conversion of the nested column — measured ~35% of the
    per-turn cost at full throughput (guide §4.2: construct Arrow arrays
    directly instead of row-by-row objects). HTML payloads build no Table
    at all: their grids (``html_grids``) are appended as they are."""
    import pyarrow as pa

    cell_t = pa.struct(
        [
            pa.field("row", pa.int32(), nullable=False),
            pa.field("col", pa.int32(), nullable=False),
            pa.field("x1", pa.int32()),
            pa.field("y1", pa.int32()),
            pa.field("x2", pa.int32()),
            pa.field("y2", pa.int32()),
            pa.field("value", pa.string()),
        ]
    )
    out_schema = pa.schema(
        [
            pa.field("conv_id", pa.string(), nullable=False),
            pa.field("turn_idx", pa.int32(), nullable=False),
            pa.field("table_idx", pa.int32(), nullable=False),
            pa.field("x1", pa.int32()),
            pa.field("y1", pa.int32()),
            pa.field("x2", pa.int32()),
            pa.field("y2", pa.int32()),
            pa.field("title", pa.string()),
            pa.field("cells", pa.list_(cell_t)),
            pa.field("html", pa.string()),
            pa.field("n_rows", pa.int32()),
            pa.field("n_cols", pa.int32()),
        ]
    )

    def _batch_extract(batches):
        for b in batches:
            names = b.schema.names
            text_in = b.column(names.index("text")).to_pylist()
            tool_in = b.column(names.index("tool")).to_pylist()
            src: list = []  # input row of each output row
            tidx: list = []
            bx1: list = []
            by1: list = []
            bx2: list = []
            by2: list = []
            titles: list = []
            htmls: list = []
            nrows: list = []
            ncols: list = []
            offsets: list = [0]
            c_row: list = []
            c_col: list = []
            c_x1: list = []
            c_y1: list = []
            c_x2: list = []
            c_y2: list = []
            c_val: list = []
            for k, (text, tool) in enumerate(zip(text_in, tool_in)):
                try:
                    if text is not None and (tool or "").lower() in _HTML_TOOLS:
                        # is_relevant_table for a bordered table
                        grids = [g for g in html_grids(text) if g.n_rows > 1 or g.n_cols > 1]
                        tables = ()
                    else:
                        grids = ()
                        tables = [
                            t for t in extract_payload(text, tool) if is_relevant_table(t)
                        ]
                except Exception as exc:
                    if emit_errors:
                        src.append(k)
                        tidx.append(-1)
                        bx1.append(None)
                        by1.append(None)
                        bx2.append(None)
                        by2.append(None)
                        titles.append(repr(exc)[:200])
                        htmls.append(None)
                        nrows.append(0)
                        ncols.append(0)
                        offsets.append(offsets[-1])
                    continue
                for i, g in enumerate(grids):
                    # table_to_record of the grid's Table
                    n_r, n_c = g.n_rows, g.n_cols
                    g_row, g_col, g_x1, g_y1, g_x2, g_y2, g_val = grid_columns(g)
                    c_row.extend(g_row)
                    c_col.extend(g_col)
                    c_x1.extend(g_x1)
                    c_y1.extend(g_y1)
                    c_x2.extend(g_x2)
                    c_y2.extend(g_y2)
                    c_val.extend(g_val)
                    src.append(k)
                    tidx.append(i)
                    bx1.append(0)
                    by1.append(0)
                    bx2.append(n_c * HTML_COL_W)
                    by2.append(n_r * HTML_ROW_H)
                    titles.append(None)
                    htmls.append(grid_html(g))
                    nrows.append(n_r)
                    ncols.append(n_c)
                    offsets.append(offsets[-1] + n_r * n_c)
                for i, t in enumerate(tables):
                    # inlined table_to_record, appending straight into the
                    # column builders (same values, no per-cell dicts)
                    x1 = y1 = x2 = y2 = None
                    n_cells = 0
                    for r, row in enumerate(t.rows):
                        for c, cell in enumerate(row):
                            cx1, cy1, cx2, cy2 = cell.x1, cell.y1, cell.x2, cell.y2
                            c_row.append(r)
                            c_col.append(c)
                            c_x1.append(cx1)
                            c_y1.append(cy1)
                            c_x2.append(cx2)
                            c_y2.append(cy2)
                            c_val.append(cell.content)
                            n_cells += 1
                            if x1 is None:
                                x1, y1, x2, y2 = cx1, cy1, cx2, cy2
                            else:
                                if cx1 < x1:
                                    x1 = cx1
                                if cy1 < y1:
                                    y1 = cy1
                                if cx2 > x2:
                                    x2 = cx2
                                if cy2 > y2:
                                    y2 = cy2
                    if t.rows and n_cells == 0:  # rows of zero width
                        raise ValueError("min() arg is an empty sequence")
                    src.append(k)
                    tidx.append(i)
                    bx1.append(x1)
                    by1.append(y1)
                    bx2.append(x2)
                    by2.append(y2)
                    titles.append(t.title)
                    htmls.append(table_to_html(t))
                    nrows.append(t.nb_rows)
                    ncols.append(t.nb_columns)
                    offsets.append(offsets[-1] + n_cells)
            cells_arr = pa.ListArray.from_arrays(
                pa.array(offsets, pa.int32()),
                pa.StructArray.from_arrays(
                    [
                        pa.array(c_row, pa.int32()),
                        pa.array(c_col, pa.int32()),
                        pa.array(c_x1, pa.int32()),
                        pa.array(c_y1, pa.int32()),
                        pa.array(c_x2, pa.int32()),
                        pa.array(c_y2, pa.int32()),
                        pa.array(c_val, pa.string()),
                    ],
                    fields=list(cell_t),
                ),
            )
            src_ix = pa.array(src, pa.int32())
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(names.index("conv_id")).take(src_ix).cast(pa.string()),
                    b.column(names.index("turn_idx")).take(src_ix).cast(pa.int32()),
                    pa.array(tidx, pa.int32()),
                    pa.array(bx1, pa.int32()),
                    pa.array(by1, pa.int32()),
                    pa.array(bx2, pa.int32()),
                    pa.array(by2, pa.int32()),
                    pa.array(titles, pa.string()),
                    cells_arr,
                    pa.array(htmls, pa.string()),
                    pa.array(nrows, pa.int32()),
                    pa.array(ncols, pa.int32()),
                ],
                schema=out_schema,
            )

    return _batch_extract


def with_salt(df: DataFrame, turn_bucket: int = 8) -> "F.Column":
    """Skew-defusing salt: hash(conv_id, turn_idx // turn_bucket) so a single
    heavy conversation spreads over many partitions (north_rule)."""
    return F.xxhash64(F.col("conv_id"), F.floor(F.col("turn_idx") / F.lit(turn_bucket)))


def extract_tables(
    df: DataFrame,
    salt: bool = True,
    num_partitions: int | None = None,
    turn_bucket: int = 8,
    emit_errors: bool = False,
    balance: bool = False,
) -> DataFrame:
    """Transcript DataFrame → one row per extracted table (EXTRACTED_SCHEMA).

    Column pruning is explicit: only (conv_id, turn_idx, text, tool) reach the
    scan, so the parquet reader never materializes unused columns.

    ``balance=True`` swaps the hash salt for ROUND-ROBIN repartitioning —
    still exactly one exchange, but rows spread uniformly instead of by
    hash bucket. Use it for small / heavy-tailed batch corpora where two
    expensive payloads hash-colliding into one task sets the wall clock
    (measured: q14's 9.6 s + 6.9 s PDFs landed in one partition of 64).
    The hash salt stays the default for 10^12-turn runs: placement is
    deterministic with no pre-shuffle local sort (round-robin pays
    sortBeforeRepartition on every input partition), and at millions of
    rows per partition the law of large numbers balances payload cost.
    """
    slim = df.select("conv_id", "turn_idx", "text", "tool")
    if salt:
        if num_partitions is None:
            # Python-CPU-bound stage: size parallelism by cores, NOT by bytes.
            # A bare repartition(col) would let AQE coalesce the (byte-small,
            # CPU-heavy) exchange down to one partition and serialize the UDF.
            num_partitions = df.sparkSession.sparkContext.defaultParallelism * 2
        if balance:
            slim = slim.repartition(num_partitions)
        else:
            slim = slim.repartition(num_partitions, with_salt(slim, turn_bucket))
    return slim.mapInArrow(_make_batch_extract_arrow(emit_errors), EXTRACTED_SCHEMA)


def extract_cells_flat(df: DataFrame, **kwargs) -> DataFrame:
    """Flat per-cell variant: one row per (turn, table, row, col) with
    primitive columns only — the shape used by oracle-checked queries."""
    ext = extract_tables(df, **kwargs)
    return ext.select(
        "conv_id",
        F.col("turn_idx").cast("long").alias("turn_idx"),
        F.col("table_idx").cast("long").alias("table_idx"),
        F.explode("cells").alias("cell"),
    ).select(
        "conv_id",
        "turn_idx",
        "table_idx",
        F.col("cell.row").cast("long").alias("row_idx"),
        F.col("cell.col").cast("long").alias("col_idx"),
        F.col("cell.value").alias("value"),
    )
