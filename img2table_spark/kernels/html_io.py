"""HTML table render (K2) and its inverse parser (the HTML-payload path).

Render parity target: ``ExtractedTable.html``
(reference: src/img2table/tables/objects/extraction.py:144-174) including the
bs4 ``prettify`` line format of the golden fixture
(reference: tests/tables/objects/test_data/table.html). The parser inverts
that grammar — ``<table>/<tr>/<td colspan rowspan>`` with ``<br>`` for
newlines — so HTML payloads embedded in transcript turns land in the same
output schema as image/PDF payloads: as grids (``html_grids``) that the
extractor writes straight into its output columns and renders with
``grid_html``, or as Tables (``parse_html_tables``).
"""

from __future__ import annotations

import re
from html import unescape
from html.parser import HTMLParser
from typing import NamedTuple

from img2table_spark.kernels.objects import Cell, Table
from img2table_spark.kernels.spans import CellSpan, create_all_rectangles

# Synthetic pixel geometry for payloads with no physical coordinates.
HTML_COL_W = 100
HTML_ROW_H = 20


# ---------------------------------------------------------------- rendering

def _group_spans(table: Table) -> list[CellSpan]:
    """Group grid positions by cell value-identity, decompose into rectangles
    (reference: extraction.py:150-160)."""
    groups: dict[tuple, list[tuple[int, int]]] = {}
    values: dict[tuple, str | None] = {}
    for r, row in enumerate(table.rows):
        for c, cell in enumerate(row):
            k = cell.key()
            groups.setdefault(k, []).append((r, c))
            values[k] = cell.content
    spans: list[CellSpan] = []
    for k, positions in groups.items():
        spans.extend(create_all_rectangles(positions, values[k]))
    return [s for span in spans for s in span.html_cell_span()]


def table_to_html(table: Table) -> str:
    """Compact single-line HTML (reference: extraction.py:162-172 before
    prettify)."""
    # Fast path: no two grid positions share a value-identity key → every
    # span is a 1×1 rectangle at its own position, so the general grouping /
    # rectangle decomposition / per-row sort below reduces to emitting the
    # grid row-major. Identical output by construction (each group of size
    # one yields CellSpan(r, r, c, c, value); sorting by col_left preserves
    # column order). Merged cells (repeated keys) take the general path.
    seen: set = set()
    fast = True
    for row in table.rows:
        for cell in row:
            k = (cell.x1, cell.y1, cell.x2, cell.y2, cell.content)
            if k in seen:
                fast = False
                break
            seen.add(k)
        if not fast:
            break
    if fast:
        parts = ["<table>"]
        for row in table.rows:
            parts.append("<tr>")
            for cell in row:
                val = cell.content
                val = "" if val is None else val.replace("\n", "<br>")
                parts.append(f'<td colspan="1" rowspan="1">{val}</td>')
            parts.append("</tr>")
        parts.append("</table>")
        return "".join(parts)
    spans = _group_spans(table)
    rows_html = []
    for r in range(table.nb_rows):
        row_spans = sorted((s for s in spans if s.top_row == r), key=lambda s: s.col_left)
        tds = []
        for s in row_spans:
            val = "" if s.value is None else s.value.replace("\n", "<br>")
            tds.append(f'<td colspan="{s.colspan}" rowspan="{s.rowspan}">{val}</td>')
        rows_html.append("<tr>" + "".join(tds) + "</tr>")
    return "<table>" + "".join(rows_html) + "</table>"


def prettify_table_html(compact: str) -> str:
    """bs4 ``prettify``-equivalent for the restricted grammar the renderer
    emits (one space per depth, every tag and text segment on its own line,
    void ``<br>`` rendered ``<br/>``) — validated against the reference golden
    tests/tables/objects/test_data/table.html."""
    out: list[str] = []
    depth = 0
    i = 0
    n = len(compact)
    while i < n:
        if compact[i] == "<":
            j = compact.index(">", i)
            tag = compact[i : j + 1]
            if tag.startswith("</"):
                depth -= 1
                out.append(" " * depth + tag)
            elif tag == "<br>":
                out.append(" " * depth + "<br/>")
            else:
                out.append(" " * depth + tag)
                depth += 1
            i = j + 1
        else:
            j = compact.index("<", i)
            text = compact[i:j]
            if text:
                out.append(" " * depth + text)
            i = j
    return "\n".join(out)


def extracted_table_html(table: Table) -> str:
    """Prettified HTML, byte-equal to the reference's ``ExtractedTable.html``."""
    return prettify_table_html(table_to_html(table)).strip()


# ------------------------------------------------------------------ parsing

_BR = object()  # newline sentinel inside a cell


class _TableParser(HTMLParser):
    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.tables: list[list[list[tuple[str | None, int, int]]]] = []
        self._depth = 0          # <table> nesting depth
        self._rows = None        # rows of current depth-1 table
        self._row = None
        self._cell_parts = None
        self._colspan = 1
        self._rowspan = 1

    def handle_starttag(self, tag, attrs):
        # tag-frequency order (td ≫ tr ≫ table); semantics identical to the
        # original table-first chain.
        if self._depth == 1:
            if tag == "td" or tag == "th":
                cs = rs = 1
                for k, v in attrs:
                    if k == "colspan":
                        cs = _span_val(v)
                    elif k == "rowspan":
                        rs = _span_val(v)
                self._colspan = cs
                self._rowspan = rs
                self._cell_parts = []
                return
            if tag == "tr":
                self._row = []
                return
            if tag == "br":
                if self._cell_parts is not None:
                    self._cell_parts.append(_BR)
                return
            if tag != "table":
                return
            self._depth = 2
        elif tag == "table":
            self._depth += 1
            if self._depth == 1:
                self._rows = []

    def handle_endtag(self, tag):
        if self._depth != 1:
            if tag == "table":
                self._depth = max(0, self._depth - 1)
            return
        if tag == "td" or tag == "th":
            if self._cell_parts is not None:
                value = _assemble_value(self._cell_parts)
                if self._row is None:
                    self._row = []
                self._row.append((value, self._colspan, self._rowspan))
                self._cell_parts = None
            return
        if tag == "tr":
            if self._row is not None:
                self._rows.append(self._row)
                self._row = None
            return
        if tag == "table":
            if self._rows is not None:
                self.tables.append(self._rows)
                self._rows = None
            self._depth = 0

    def handle_data(self, data):
        if self._depth == 1 and self._cell_parts is not None:
            self._cell_parts.append(data)


def _span_val(v) -> int:
    try:
        return max(1, int(v))
    except (TypeError, ValueError):
        return 1


def _assemble_value(parts: list) -> str | None:
    """Collapse whitespace within each line; ``<br>`` separates lines."""
    if len(parts) == 1 and parts[0] is not _BR:
        # common case: one data chunk, no <br> — same normalization,
        # no line assembly (" ".join(split) has no edge whitespace)
        return " ".join(parts[0].split()) or None
    lines: list[list[str]] = [[]]
    for p in parts:
        if p is _BR:
            lines.append([])
        else:
            lines[-1].append(p)
    norm = [" ".join("".join(seg).split()) for seg in lines]
    value = "\n".join(norm).strip()
    return value or None


# The scanner. A payload goes through _TableParser (html.parser) only when
# the flat-table grammar below does not match it whole. The grammar admits
# tables of rows of cells in any surrounding markup: text, whitespace and
# tags between and around them, <thead>/<tbody>/<tfoot> and other ignored
# tags, attributes (quoted, or bare printable ASCII), entities, <br> and
# inline tags inside cells, a bare '<' that opens no tag, and upper-case
# names. It rejects nested tables, comments, doctypes and processing
# instructions, raw-text elements (<script>, <style> and the others some
# html.parser versions read as raw text), cells or rows left open,
# self-closed <table>/<tr>/<td>/<th>, and every tag html.parser might end or
# name differently (non-ASCII whitespace, '<' or '>' in an attribute value,
# names with '-', '.' or ':', '</ td>'). On what it admits, _TableParser's
# state machine reduces to: each <table>...</table> is a table, each
# <tr>...</tr> in it a row, each <td|th>...</td|th> in that a cell, and
# nothing else counts but a cell's text runs and its <br> tags. So one
# fullmatch and one findall give the (value, colspan, rowspan) rows
# _TableParser would, with every per-tag step inside the regex engine.
_W = r"[ \t\n\r\f]"
# a bare attribute value: printable ASCII but quotes, '=', '<', '>' and '`'
_BARE = r"[!#-&(-;?-_a-~]"
_ATTRS = (
    rf"(?:{_W}++[a-zA-Z_:][-a-zA-Z0-9_:.]*+"
    rf"""(?:{_W}*+={_W}*+(?:"[^"<>]*+"|'[^'<>]*+'|{_BARE}++))?)*+{_W}*+"""
)
# names a tag-level alternative must not take: the structure, and elements
# whose content html.parser may read as raw text
_EXCL = (
    r"(?i:table|t[rdh]|script|style|textarea|title|xmp|iframe|noembed|noframes"
    r"|noscript|plaintext)(?![a-zA-Z0-9])"
)
# any other start or end tag, <br> included; html.parser ignores an end
# tag's attributes
_IGN = rf"</?(?!{_EXCL})[a-zA-Z][a-zA-Z0-9]*+{_ATTRS}/?>"
_LT = r"<(?![a-zA-Z/!?])"  # html.parser reads it as text
_T = r"[^<]*+"


def _seq(*tokens: str) -> str:
    return rf"{_T}(?:(?:{'|'.join(tokens)}){_T})*+"


_CELL = rf"<(?i:t[dh]){_ATTRS}>{_seq(_IGN, _LT)}</(?i:t[dh]){_W}*+>"
_ROW = rf"<(?i:tr){_ATTRS}>{_seq(_CELL, _IGN, _LT)}</(?i:tr){_W}*+>"
_TABLE = rf"<(?i:table){_ATTRS}>{_seq(_ROW, _IGN, _LT)}</(?i:table){_W}*+>"
_PAYLOAD_RE = re.compile(_seq(_TABLE, _IGN, _LT), re.A)
# On a payload _PAYLOAD_RE matched, a '<' always opens a well-formed tag or
# is a bare '<', no quoted value holds '>', rows and cells occur only inside
# tables and rows, and a cell's first closing tag ends it. So one findall
# yields, in document order, each table start, each row start and each cell
# with its attribute text and inner markup.
_STRUCTURE_FIND = re.compile(
    rf"<(?i:(table)|(tr))(?![a-zA-Z0-9])[^>]*>"
    rf"|<(?i:t[dh])(?![a-zA-Z0-9])([^>]*)>(.*?)</(?i:t[dh]){_W}*>",
    re.A | re.S,
)
_SPAN_ATTR_FIND = re.compile(
    rf"""([a-zA-Z_:][-a-zA-Z0-9_:.]*)(?:{_W}*={_W}*("[^"]*"|'[^']*'|[^ \t\n\r\f>]+))?""", re.A
)
_INNER_TAG_FIND = re.compile(r"<(/?)([a-zA-Z][a-zA-Z0-9]*)[^>]*>", re.A)


class _FastFallback(Exception):
    """The payload is outside the scanner's grammar; use _TableParser."""


def _cell_spans(attrs: str) -> tuple[int, int]:
    """(colspan, rowspan) from a cell's attribute text, as _TableParser reads
    them: names are case-blind, the last of a repeated name wins, and a
    non-empty value is entity-decoded."""
    cs = rs = 1
    for name, v in _SPAN_ATTR_FIND.findall(attrs):
        name = name.lower()
        if name != "colspan" and name != "rowspan":
            continue
        if not v:
            v = None
        else:
            if v[0] in "\"'":
                v = v[1:-1]
            if "&" in v:
                v = unescape(v)
        if name == "colspan":
            cs = _span_val(v)
        else:
            rs = _span_val(v)
    return cs, rs


def _cell_text(content: str) -> str | None:
    """A cell's value from its inner markup, as _TableParser assembles it:
    each text run between tags is entity-decoded on its own, <br> breaks the
    line and other tags are dropped."""
    if "<" not in content:
        if "&" in content:
            content = unescape(content)
        return " ".join(content.split()) or None
    parts: list = []
    pos = 0
    for m in _INNER_TAG_FIND.finditer(content):
        if m.start() > pos:
            parts.append(unescape(content[pos : m.start()]))
        if not m.group(1) and m.group(2).lower() == "br":
            parts.append(_BR)
        pos = m.end()
    parts.append(unescape(content[pos:]))
    return _assemble_value(parts)


def _feed_fast(parser: "_TableParser", html: str) -> None:
    """Fill ``parser.tables`` as ``parser.feed(html)`` would, or raise
    _FastFallback (leaving the parser untouched) when the payload is outside
    the grammar."""
    if _PAYLOAD_RE.fullmatch(html) is None:
        raise _FastFallback
    tables = parser.tables
    for table, tr, attrs, content in _STRUCTURE_FIND.findall(html):
        if table:
            rows = []
            tables.append(rows)
        elif tr:
            row = []
            rows.append(row)
        elif attrs:
            row.append((_cell_text(content), *_cell_spans(attrs)))
        else:
            row.append((_cell_text(content), 1, 1))


def _raw_tables(html: str) -> list:
    parser = _TableParser()
    try:
        _feed_fast(parser, html)
    except _FastFallback:
        parser.feed(html)
        parser.close()
    return parser.tables


# ------------------------------------------------------------------- grids

#: Most grid positions one HTML payload may have, over all its tables. Spans
#: let a few bytes ask for millions of positions (every position becomes an
#: output cell), so the grid builder refuses more than this.
MAX_GRID_POSITIONS = 100_000


class HtmlGrid(NamedTuple):
    """One parsed HTML table as a row-major grid of ``n_rows * n_cols``
    positions: ``values[i]`` is the text of the cell covering position ``i``
    (None for padding), and ``spans`` holds the (top row, left col, bottom
    row, right col) of each cell that covers more than one position. Every
    other position is a cell of its own."""

    n_rows: int
    n_cols: int
    values: list
    spans: list


_FREE = object()  # a grid position no cell covers (yet)


def _build_grid(raw_rows: list, budget: int) -> HtmlGrid | None:
    """Lay a table's cells out on the grid, as the HTML table model does: a
    cell takes the first free column of its row at or after the previous
    cell's end and covers colspan x rowspan positions. Positions no cell
    covers are padding; empty rows at the end are dropped. Raises ValueError
    when two cells would cover one position (the HTML standard's table-model
    error) or the grid would pass ``budget`` positions."""
    lines: list[list] = [[] for _ in raw_rows]  # lines[r][c]: value covering (r, c), or _FREE
    spans = []
    n_rows = n_cols = 0
    for r, raw_row in enumerate(raw_rows):
        line = lines[r]
        c = 0
        for value, colspan, rowspan in raw_row:
            while c < len(line) and line[c] is not _FREE:
                c += 1
            r2 = r + rowspan
            c2 = c + colspan
            if r2 > n_rows:
                n_rows = r2
            if c2 > n_cols:
                n_cols = c2
            if n_rows * n_cols > budget:
                raise ValueError(
                    f"HTML tables need more than {MAX_GRID_POSITIONS} grid positions"
                )
            if r2 > len(lines):  # a rowspan past the last row
                lines += [[] for _ in range(r2 - len(lines))]
            if colspan > 1 or rowspan > 1:
                spans.append((r, c, r2 - 1, c2 - 1))
            for rr in range(r, r2):
                covered = lines[rr]
                n = len(covered)
                if n < c:
                    covered += [_FREE] * (c - n)
                elif n > c and covered[c:c2].count(_FREE) != min(n, c2) - c:
                    raise ValueError(f"HTML table cells overlap in row {rr}")
                covered[c:c2] = [value] * colspan
            c = c2
    if n_rows == 0:
        return None
    values = []
    for line in lines[:n_rows]:
        values += line
        values += [_FREE] * (n_cols - len(line))
    return HtmlGrid(n_rows, n_cols, [None if v is _FREE else v for v in values], spans)


def html_grids(html: str) -> list[HtmlGrid]:
    """Every top-level ``<table>`` of an HTML payload that has a position,
    as a grid. Raises ValueError when the tables together need more than
    MAX_GRID_POSITIONS positions."""
    grids = []
    budget = MAX_GRID_POSITIONS
    for raw_rows in _raw_tables(html):
        g = _build_grid(raw_rows, budget)
        if g is not None:
            grids.append(g)
            budget -= g.n_rows * g.n_cols
    return grids


def grid_columns(g: HtmlGrid) -> tuple[list, ...]:
    """Per position, row-major: the (row, col, x1, y1, x2, y2, value) cell
    columns of ``table_to_record``, where x/y are the covering cell's
    synthetic box."""
    n_rows, n_cols = g.n_rows, g.n_cols
    # sorted(list(range(n)) * k) repeats each of 0..n-1 k times, in order
    rows = sorted(list(range(n_rows)) * n_cols)
    cols = list(range(n_cols)) * n_rows
    x1 = list(range(0, n_cols * HTML_COL_W, HTML_COL_W)) * n_rows
    y1 = sorted(list(range(0, n_rows * HTML_ROW_H, HTML_ROW_H)) * n_cols)
    x2 = list(range(HTML_COL_W, (n_cols + 1) * HTML_COL_W, HTML_COL_W)) * n_rows
    y2 = sorted(list(range(HTML_ROW_H, (n_rows + 1) * HTML_ROW_H, HTML_ROW_H)) * n_cols)
    for r1, c1, r2, c2 in g.spans:  # every position of a span gets its box
        k = c2 - c1 + 1
        for r in range(r1, r2 + 1):
            i = r * n_cols + c1
            x1[i : i + k] = [c1 * HTML_COL_W] * k
            y1[i : i + k] = [r1 * HTML_ROW_H] * k
            x2[i : i + k] = [(c2 + 1) * HTML_COL_W] * k
            y2[i : i + k] = [(r2 + 1) * HTML_ROW_H] * k
    return rows, cols, x1, y1, x2, y2, g.values


def grid_html(g: HtmlGrid) -> str:
    """``table_to_html`` of the grid's Table: one ``<td>`` per position,
    except that a span is written as one piece at its top-left position or,
    when it covers more than one row and column, split along its longer
    side (columns when square) into pieces at the top of each column or the
    left of each row."""
    n_cols = g.n_cols
    vals = ["" if v is None else v for v in g.values]
    pieces = [f'<td colspan="1" rowspan="1">{v}</td>' for v in vals]
    for r1, c1, r2, c2 in g.spans:
        cs = c2 - c1 + 1
        rs = r2 - r1 + 1
        val = vals[r1 * n_cols + c1]
        for r in range(r1, r2 + 1):
            pieces[r * n_cols + c1 : r * n_cols + c2 + 1] = [""] * cs
        if cs > rs > 1:  # one piece per row
            for r in range(r1, r2 + 1):
                pieces[r * n_cols + c1] = f'<td colspan="{cs}" rowspan="1">{val}</td>'
        elif cs > 1 and rs > 1:  # one piece per column
            for c in range(c1, c2 + 1):
                pieces[r1 * n_cols + c] = f'<td colspan="1" rowspan="{rs}">{val}</td>'
        else:
            pieces[r1 * n_cols + c1] = f'<td colspan="{cs}" rowspan="{rs}">{val}</td>'
    html = "".join(
        ["<table>"]
        + ["<tr>" + "".join(pieces[i : i + n_cols]) + "</tr>" for i in range(0, len(pieces), n_cols)]
        + ["</table>"]
    )
    # a value holds "\n" only where a <br> broke its lines, and no tag holds
    # one: the per-value replace of table_to_html, done once
    return html.replace("\n", "<br>")


def _grid_table(g: HtmlGrid) -> Table:
    _rows, _cols, x1, y1, x2, y2, values = grid_columns(g)
    cells = [Cell(*box) for box in zip(x1, y1, x2, y2, values)]
    for r1, c1, r2, c2 in g.spans:  # one Cell object over all its positions
        top_left = cells[r1 * g.n_cols + c1]
        for r in range(r1, r2 + 1):
            cells[r * g.n_cols + c1 : r * g.n_cols + c2 + 1] = [top_left] * (c2 - c1 + 1)
    return Table(rows=[cells[i : i + g.n_cols] for i in range(0, len(cells), g.n_cols)])


def parse_html_tables(html: str) -> list[Table]:
    """Parse every top-level ``<table>`` into a Table grid.

    Span semantics invert the reference renderer (extraction.py:58-78):
    a td spanning (R rows × C cols) produces ONE Cell object duplicated over
    all covered grid positions. Geometry is synthetic
    (col width 100, row height 20) since HTML has no pixel space.
    """
    return [_grid_table(g) for g in html_grids(html)]
