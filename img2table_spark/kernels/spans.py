"""Merged-cell span reconstruction (T9) and HTML cell-span splitting.

Parity targets: ``create_all_rectangles`` and ``CellSpan.html_cell_span``
(reference: src/img2table/tables/objects/extraction.py:35-126). The greedy
largest-fully-covered-rectangle decomposition, including its iteration-order
tie-break (first largest in (col_left, col_right, top_row, bottom_row) scan
order wins), is part of the golden contract for HTML/xlsx output.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass
class CellSpan:
    top_row: int
    bottom_row: int
    col_left: int
    col_right: int
    value: str | None

    @property
    def colspan(self) -> int:
        return self.col_right - self.col_left + 1

    @property
    def rowspan(self) -> int:
        return self.bottom_row - self.top_row + 1

    def html_cell_span(self) -> list["CellSpan"]:
        """Split spans covering both >1 row and >1 col along the larger axis
        (reference: extraction.py:61-78 — HTML cannot express an L/T shaped
        region, and the renderer splits 2-D spans)."""
        if self.colspan > 1 and self.rowspan > 1:
            if self.colspan > self.rowspan:
                return [
                    CellSpan(r, r, self.col_left, self.col_right, self.value)
                    for r in range(self.top_row, self.bottom_row + 1)
                ]
            return [
                CellSpan(self.top_row, self.bottom_row, c, c, self.value)
                for c in range(self.col_left, self.col_right + 1)
            ]
        return [self]


def create_all_rectangles(positions: list[tuple[int, int]], value: str | None) -> list[CellSpan]:
    """Decompose a set of (row, col) grid positions sharing one cell value
    into maximal fully-covered rectangles (reference: extraction.py:81-126).

    Scan order and the strict improvement test replicate the reference so
    that tie-breaks are identical.
    """
    if len(positions) == 1:  # unmerged cell — the overwhelmingly common case
        r, c = positions[0]
        return [CellSpan(r, r, c, c, value)]
    pos_set = set(positions)
    min_col = min(p[1] for p in positions)
    max_col = max(p[1] for p in positions)
    min_row = min(p[0] for p in positions)
    max_row = max(p[0] for p in positions)
    if len(pos_set) == (max_row - min_row + 1) * (max_col - min_col + 1):
        # a full rectangle (any merged cell of a well-formed table) is its
        # own largest covered rectangle: skip the O(n^6) search
        return [CellSpan(min_row, max_row, min_col, max_col, value)]

    largest_area = 0
    best_span: CellSpan | None = None
    best_members: set[tuple[int, int]] = set()
    for col_left in range(min_col, max_col + 1):
        for col_right in range(col_left, max_col + 1):
            for top_row in range(min_row, max_row + 1):
                for bottom_row in range(top_row, max_row + 1):
                    members = {
                        (r, c)
                        for (r, c) in pos_set
                        if col_left <= c <= col_right and top_row <= r <= bottom_row
                    }
                    full = len(members) == (col_right - col_left + 1) * (bottom_row - top_row + 1)
                    if full and len(members) > largest_area:
                        largest_area = len(members)
                        best_members = members
                        best_span = CellSpan(top_row, bottom_row, col_left, col_right, value)

    remaining = [p for p in positions if p not in best_members]
    if remaining:
        return [best_span, *create_all_rectangles(remaining, value)]
    return [best_span]
