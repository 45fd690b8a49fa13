"""Output checks. Each returns the failing turns (or queries) with a reason;
an empty list means the output matched. Nothing here calls the extraction
kernels: expectations come from the generators or from DuckDB."""

from __future__ import annotations

import pandas as pd

from corpus import Turn


def table_shape_values(n_rows: int, n_cols: int, cells) -> tuple:
    """(n_rows, n_cols, row-major values) of one extracted table; ``cells``
    is an iterable of (row, col, value)."""
    grid = [[None] * n_cols for _ in range(n_rows)]
    for r, c, v in cells:
        grid[r][c] = v
    return n_rows, n_cols, grid


def turn_mismatch(turn: Turn, tables: list, error_markers: int) -> str | None:
    """Compare one turn's extracted tables ``[(n_rows, n_cols, grid)]`` with
    its planted truth. Geometry-only truths (values None) check the shape and
    that no text was invented."""
    if turn.malformed:
        if tables or error_markers > 1:
            return f"malformed payload yielded {len(tables)} tables, {error_markers} markers"
        return None
    if error_markers:
        return f"{error_markers} error markers on a well-formed payload"
    if len(tables) != len(turn.expected):
        return f"{len(tables)} tables != {len(turn.expected)} expected"
    for i, ((nr, nc, grid), (er, ec, ev)) in enumerate(zip(tables, turn.expected)):
        if (nr, nc) != (er, ec):
            return f"table {i}: shape {nr}x{nc} != {er}x{ec}"
        want = ev if ev is not None else [[None] * ec for _ in range(er)]
        if grid != want:
            return f"table {i}: cells differ"
    return None


def pixel_mismatches(turns: list[Turn], rows) -> list[tuple]:
    """``rows``: extracted-table rows (EXTRACTED_SCHEMA fields) of the
    whole corpus. Returns [(conv_id, turn_idx, reason)]."""
    by_key: dict = {}
    for r in rows:
        by_key.setdefault((r["conv_id"], r["turn_idx"]), []).append(r)
    out = []
    for t in turns:
        got = sorted(by_key.pop((t.conv_id, t.turn_idx), []), key=lambda r: r["table_idx"])
        markers = sum(1 for r in got if r["table_idx"] < 0)
        tables = [
            table_shape_values(
                r["n_rows"], r["n_cols"], ((c["row"], c["col"], c["value"]) for c in r["cells"])
            )
            for r in got
            if r["table_idx"] >= 0
        ]
        reason = turn_mismatch(t, tables, markers)
        if reason:
            out.append((t.conv_id, t.turn_idx, reason))
    out += [(k[0], k[1], "output for a turn not in the corpus") for k in by_key]
    return out


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Order-insensitive canonical form of a query result: columns sorted,
    numerics coerced to int64 / float rounded to 6 places, rows sorted."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            try:
                coerced = pd.to_numeric(df[c])
            except (ValueError, TypeError):
                df[c] = df[c].astype(str)
                continue
            df[c] = coerced
        kind = df[c].dtype.kind
        if kind in "iu":
            df[c] = df[c].astype("int64")
        elif kind == "f":
            df[c] = df[c].round(6).astype("float64")
    return df.sort_values(list(df.columns), kind="stable").reset_index(drop=True)


def query_mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    got, want = normalize(got), normalize(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    if not got.equals(want):
        bad = ((got != want) & ~(got.isna() & want.isna())).any(axis=1)
        return f"{int(bad.sum())} rows differ"
    return None
