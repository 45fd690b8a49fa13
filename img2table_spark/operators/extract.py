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
from img2table_spark.kernels.text import is_relevant_table, table_columns
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


def _grid_out(g) -> tuple:
    """An HTML grid's output: cell columns, box, title, html, n_rows, n_cols
    (those of ``table_to_record``/``table_to_html`` of the grid's Table)."""
    n_r, n_c = g.n_rows, g.n_cols
    return grid_columns(g), (0, 0, n_c * HTML_COL_W, n_r * HTML_ROW_H), None, grid_html(g), n_r, n_c


def _table_out(t: Table) -> tuple:
    """A Table's output: cell columns, box, title, html, n_rows, n_cols."""
    columns, box = table_columns(t)
    return columns, box, t.title, table_to_html(t), t.nb_rows, t.nb_columns


def _make_batch_extract_arrow(emit_errors: bool = False):
    """The mapInArrow batch extractor: one output row per relevant table of
    each turn, or, with ``emit_errors``, one marker row (``table_idx`` -1,
    the error in ``title``) per turn whose payload raised. The output batch
    is assembled as flat Python lists converted once per batch into Arrow
    arrays (offsets + struct children for ``cells``), with no per-cell
    objects (guide §4.2: construct Arrow arrays directly instead of
    row-by-row objects). HTML payloads build no Table at all: their grids
    (``html_grids``) are appended as they are."""
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
    # types of the per-table columns built from Python values
    scalar_t = [f.type for f in out_schema if f.name not in ("conv_id", "turn_idx", "cells")]

    def _batch_extract(batches):
        for b in batches:
            names = b.schema.names
            text_in = b.column(names.index("text")).to_pylist()
            tool_in = b.column(names.index("tool")).to_pylist()
            # per output row: (input row, table_idx, x1, y1, x2, y2, title,
            # html, n_rows, n_cols, end offset of its cells)
            out: list = []
            # the children of the cells struct, in its field order
            cells = c_row, c_col, c_x1, c_y1, c_x2, c_y2, c_val = ([], [], [], [], [], [], [])
            for k, (text, tool) in enumerate(zip(text_in, tool_in)):
                try:
                    if text is not None and (tool or "").lower() in _HTML_TOOLS:
                        # is_relevant_table for a bordered table
                        found = [g for g in html_grids(text) if g.n_rows > 1 or g.n_cols > 1]
                        serialize = _grid_out
                    else:
                        found = [t for t in extract_payload(text, tool) if is_relevant_table(t)]
                        serialize = _table_out
                except Exception as exc:
                    if emit_errors:
                        out.append((k, -1, None, None, None, None, repr(exc)[:200], None, 0, 0, len(c_row)))
                    continue
                # outside the try: a serializer error is a fault of the
                # program, not of the payload, and fails the task
                for i, item in enumerate(found):
                    (t_row, t_col, t_x1, t_y1, t_x2, t_y2, t_val), box, title, html, n_r, n_c = serialize(item)
                    c_row.extend(t_row)
                    c_col.extend(t_col)
                    c_x1.extend(t_x1)
                    c_y1.extend(t_y1)
                    c_x2.extend(t_x2)
                    c_y2.extend(t_y2)
                    c_val.extend(t_val)
                    out.append((k, i, *box, title, html, n_r, n_c, len(c_row)))
            src, *scalars, ends = zip(*out) if out else [()] * 11
            cells_arr = pa.ListArray.from_arrays(
                pa.array([0, *ends], pa.int32()),
                pa.StructArray.from_arrays(
                    [pa.array(v, f.type) for v, f in zip(cells, cell_t)], fields=list(cell_t)
                ),
            )
            src_ix = pa.array(src, pa.int32())
            tidx, bx1, by1, bx2, by2, titles, htmls, nrows, ncols = (
                pa.array(v, t) for v, t in zip(scalars, scalar_t)
            )
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(names.index("conv_id")).take(src_ix).cast(pa.string()),
                    b.column(names.index("turn_idx")).take(src_ix).cast(pa.int32()),
                    tidx, bx1, by1, bx2, by2, titles, cells_arr, htmls, nrows, ncols,
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
