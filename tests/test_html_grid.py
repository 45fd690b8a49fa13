"""The HTML extraction path: the regex scanner against html.parser, the grid
builder's limits, and the Arrow batch extractor against the reference path
(``_TableParser`` → a position-by-position ``Table`` layout →
``table_to_record``/``table_to_html``) and against the pandas extractor the
streaming job runs."""

import time
from unittest import mock

import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

import img2table_spark.kernels.html_io as H
from img2table_spark.kernels.objects import Cell, Table
from img2table_spark.kernels.text import is_relevant_table, table_to_record
from img2table_spark.operators.extract import _make_batch_extract, _make_batch_extract_arrow
from img2table_spark.sources.transcripts import golden_transcripts

IN_SCHEMA = pa.schema(
    [("conv_id", pa.string()), ("turn_idx", pa.int32()), ("text", pa.string()), ("tool", pa.string())]
)


def _batch(texts, tool="text/html"):
    return pa.RecordBatch.from_pylist(
        [{"conv_id": f"c{i % 3}", "turn_idx": i, "text": t, "tool": tool} for i, t in enumerate(texts)],
        schema=IN_SCHEMA,
    )


def _arrow_rows(batch, emit_errors=True):
    return [r for b in _make_batch_extract_arrow(emit_errors)(iter([batch])) for r in b.to_pylist()]


def _force_slow(parser, html):
    raise H._FastFallback


def _reference_table(raw_rows):
    """The HTML table model laid out position by position, independently of
    the grid builder: each cell takes the first free column of its row and
    is one Cell object over every position it covers; uncovered positions
    are padding cells of value None."""
    W, H_ = H.HTML_COL_W, H.HTML_ROW_H
    taken = {}
    for r, raw_row in enumerate(raw_rows):
        c = 0
        for value, colspan, rowspan in raw_row:
            while (r, c) in taken:
                c += 1
            cell = Cell(c * W, r * H_, (c + colspan) * W, (r + rowspan) * H_, value)
            for rr in range(r, r + rowspan):
                for cc in range(c, c + colspan):
                    if (rr, cc) in taken:
                        raise ValueError(f"HTML table cells overlap in row {rr}")
                    taken[rr, cc] = cell
            c += colspan
    if not taken:
        return None
    n_rows = 1 + max(r for r, _c in taken)
    n_cols = 1 + max(c for _r, c in taken)
    return Table(rows=[
        [taken[r, c] if (r, c) in taken else Cell(c * W, r * H_, (c + 1) * W, (r + 1) * H_) for c in range(n_cols)]
        for r in range(n_rows)
    ])


def _reference_rows(batch, emit_errors=True):
    """html.parser alone, the reference layout, then the Table path."""
    rows = []
    with mock.patch.object(H, "_feed_fast", _force_slow):
        for turn in batch.to_pylist():
            key = {"conv_id": turn["conv_id"], "turn_idx": turn["turn_idx"]}
            try:
                tables = [_reference_table(raw) for raw in H._raw_tables(turn["text"])]
                tables = [t for t in tables if t is not None and is_relevant_table(t)]
            except Exception as exc:
                if emit_errors:
                    rows.append({
                        **key, "table_idx": -1, "x1": None, "y1": None, "x2": None, "y2": None,
                        "title": repr(exc)[:200], "cells": [], "html": None, "n_rows": 0, "n_cols": 0,
                    })
                continue
            for i, t in enumerate(tables):
                rows.append({**key, "table_idx": i, **table_to_record(t), "html": H.table_to_html(t)})
    return rows


def _falls_back(html):
    try:
        H._feed_fast(H._TableParser(), html)
    except H._FastFallback:
        return True
    return False


# ------------------------------------------------------- random payloads

_TEXT = st.sampled_from(
    ["a", "b c", " x ", "\xa0", " ", "　", "\x1c", "&amp;", "&nbsp;", "&lt;td&gt;",
     "&#65;", "&#x42;", "&am", "&bogus;", "1 < 2", "a>b", "é", "\t\n", "&", ""]
)
_INLINE = st.sampled_from(
    ["<br>", "<br/>", "<BR />", "<br class='x'>", "</br>", "<b>", "</b>", '<span class="k">',
     "</SPAN>", "<i/>", "<a href=x>", "</a>", "</b class='k'>", "<tdx>", "<p>"]
)
# one of these inside a cell sends the payload to html.parser
_FALLBACK = st.sampled_from(
    ["<table><tr><td>nested</td></tr></table>",  # nested table
     "<!-- comment -->", "<!DOCTYPE html>", "<?pi?>",
     "<script>var t = '<td>';</script>", "<style>td {}</style>",
     "</ td>", "<x-y>", "<ns:tag>", "<b\xa0c>", "<td <", "<td/>", '<a b="<">']
)
_SPAN_VALUE = st.sampled_from(["0", "-1", "abc", "1", "2", "3", "", " 2 ", "&#50;", "+2"])


@st.composite
def _attr(draw):
    name = draw(st.sampled_from(["colspan", "rowspan", "COLSPAN", "RowSpan", "class"]))
    value = draw(_SPAN_VALUE)
    quote = draw(st.sampled_from(['"', "'", "", None]))
    if quote is None:
        return f" {name}"
    if quote == "" and (not value or " " in value):
        quote = '"'
    eq = draw(st.sampled_from(["=", " = "]))
    return f" {name}{eq}{quote}{value}{quote}"


@st.composite
def _cell(draw, breaker):
    tag = draw(st.sampled_from(["td", "th", "TD", "Th"]))
    attrs = "".join(draw(st.lists(_attr(), max_size=3)))
    pieces = draw(st.lists(st.one_of(_TEXT, _INLINE), max_size=5))
    if breaker is not None:
        pieces.insert(draw(st.integers(0, len(pieces))), breaker)
    close = draw(st.sampled_from(["</td>", "</th>", "</TD>", "</td >"]))
    ws = draw(st.sampled_from(["", " ", "\n", "\xa0"]))
    return f"<{tag}{attrs}>{''.join(pieces)}{close}{ws}"


@st.composite
def _payload(draw):
    """(html, whether it holds a construct the scanner must leave to
    html.parser)."""
    n_tables = draw(st.integers(1, 3))
    breaker_at = draw(st.one_of(st.none(), st.integers(0, 3 * n_tables - 1)))
    breaker = draw(_FALLBACK)
    parts, k = [], 0
    for _ in range(n_tables):
        parts.append(draw(st.sampled_from(["", "<p>intro</p>", "text ", "<div class='x'>", "</div>", "a < b"])))
        rows = []
        for _ in range(draw(st.integers(0, 4))):  # empty and ragged rows too
            cells = []
            for _ in range(draw(st.integers(0, 3))):
                cells.append(draw(_cell(breaker if k == breaker_at else None)))
                k += 1
            tr = draw(st.sampled_from(["<tr>", "<TR>", "<tr class=r>"]))
            rows.append(f"{tr}{''.join(cells)}</tr>" + draw(st.sampled_from(["", "\n", " "])))
        if draw(st.booleans()):
            rows = ["<thead>", *rows[:1], "</thead><tbody>", *rows[1:], "</tbody>"]
        table = draw(st.sampled_from(["<table>", "<TABLE border=1>", '<table class="t">']))
        parts.append(table + "".join(rows) + draw(st.sampled_from(["</table>", "</TABLE>"])))
    return "".join(parts), breaker_at is not None and breaker_at < k


@given(st.lists(_payload(), min_size=1, max_size=4))
@settings(max_examples=300, deadline=None)
def test_arrow_batch_matches_reference_path(payloads):
    """The scanner → grid → Arrow path gives the reference path's batch
    (html.parser, a position-by-position layout, table_to_record and
    table_to_html) in all 12 columns, and leaves to html.parser exactly the
    payloads holding a construct outside its grammar."""
    for html, slow in payloads:
        assert _falls_back(html) == slow, html
    batch = _batch([html for html, _slow in payloads])
    assert _arrow_rows(batch) == _reference_rows(batch)


@pytest.mark.parametrize(
    "html",
    [
        "<table><tr><td>a</td><td>b</td></tr></table>",
        "\n<TABLE border=1>\n <thead><tr><TH Colspan='2'>h</th></tr></thead>\n"
        " <tbody><tr><td>a&amp;b</td><td><b>x</b><br/>y</td></tr></tbody>\n</TABLE>\n",
        "<p>before</p><table><tr><td rowspan=2>a</td></tr><tr></tr></table> 1 < 2 <div>after</div>",
        '<table><tr><td><span>a</span class="x"></td></tr></table></div id=y>',  # end tags with attributes
        "<table><tr><td colspan=\"&#50;\" class> a\xa0</td></tr></table><table></table>",
    ],
)
def test_scanner_takes_flat_tables(html):
    assert not _falls_back(html)


@pytest.mark.parametrize(
    "html",
    [
        "<table><tr><td><table><tr><td>n</td></tr></table></td></tr></table>",
        "<!-- c --><table><tr><td>a</td></tr></table>",
        "<!DOCTYPE html><table><tr><td>a</td></tr></table>",
        "<table><tr><td><script>x</script></td></tr></table>",
        "<style>td{}</style><table><tr><td>a</td></tr></table>",
        "<table><tr><td>a</ td></tr></table>",
        "<table><tr><td>a<td>b</td></tr></table>",
        "<table><tr><th\xa0>x</th></tr></table>",
        "<table><tr><td>x</td></tr></table><x-y>",
        "<table><tr><td>A</td><td",
    ],
)
def test_scanner_leaves_the_rest_to_htmlparser(html):
    assert _falls_back(html)


# ------------------------------------------------------------- span limits

OVERLAP = '<table><tr><td>a</td><td rowspan="2">b</td></tr><tr><td colspan="2">c</td></tr></table>'


def _merged(n):
    return f'<table><tr><td colspan="{n}" rowspan="{n}">x</td></tr></table>'


SPAN_CASES = [
    _merged(12),
    _merged(16),
    _merged(20),
    '<table><tr><td colspan="2000" rowspan="2000">x</td></tr></table>',
    OVERLAP,
    # a rowspan past the last row; a colspan next to a rowspan
    '<table><tr><td rowspan="3">a</td><td>b</td></tr><tr><td colspan="2">c</td></tr></table>',
    # cells of one value, and empty cells, in a table with spans
    '<table><tr><td colspan="2">v</td><td>v</td></tr><tr><td></td><td>v</td><td></td></tr></table>',
    # a 3x2 and a 2x3 merged cell: split by columns, then by rows
    '<table><tr><td rowspan="3" colspan="2">t</td><td>1</td></tr><tr><td>2</td></tr>'
    '<tr><td>3</td></tr><tr><td colspan="3" rowspan="2">w</td></tr></table>',
]


@pytest.mark.parametrize("html", SPAN_CASES[:5])
def test_span_payload_cost_is_bounded(html):
    for run in (
        lambda: _arrow_rows(_batch([html])),
        lambda: list(_make_batch_extract(True)(iter([_batch([html]).to_pandas()]))),
    ):
        t0 = time.perf_counter()
        run()
        assert time.perf_counter() - t0 < 1.0


def test_merged_cell_renders_without_rectangle_search():
    [row] = _arrow_rows(_batch([_merged(20)]))
    assert (row["n_rows"], row["n_cols"], len(row["cells"])) == (20, 20, 400)
    assert row["html"] == "<table><tr>" + '<td colspan="1" rowspan="20">x</td>' * 20 + "</tr>" + "<tr></tr>" * 19 + "</table>"


def test_overlapping_spans_are_an_error():
    with pytest.raises(ValueError, match="overlap"):
        H.parse_html_tables(OVERLAP)
    assert _arrow_rows(_batch([OVERLAP]), emit_errors=False) == []
    [marker] = _arrow_rows(_batch([OVERLAP]))
    assert marker["table_idx"] == -1 and "overlap" in marker["title"]


def test_grid_position_cap(monkeypatch):
    monkeypatch.setattr(H, "MAX_GRID_POSITIONS", 12)
    [t] = H.parse_html_tables('<table><tr><td colspan="4" rowspan="3">x</td></tr></table>')
    assert (t.nb_rows, t.nb_columns) == (3, 4)
    six = "<table><tr><td>a</td><td>b</td><td>c</td></tr><tr><td colspan=3>d</td></tr></table>"
    assert len(H.parse_html_tables(six * 2)) == 2
    for html in (
        '<table><tr><td colspan="13">x</td></tr></table>',
        "<table><tr>" + "<td>a</td>" * 7 + "</tr><tr><td>b</td></tr></table>",
        six * 2 + "<table><tr><td>e</td></tr></table>",  # the cap is per payload
    ):
        with pytest.raises(ValueError, match="more than 12 grid positions"):
            H.parse_html_tables(html)
    [marker] = _arrow_rows(_batch(['<table><tr><td colspan="2000" rowspan="2000">x</td></tr></table>']))
    assert marker["table_idx"] == -1 and "grid positions" in marker["title"]


def test_many_tables_at_the_cap_cost_one_payload():
    """A payload of many tables, each just under the cap, is refused as a
    whole once its tables together pass it."""
    assert 316 * 316 <= H.MAX_GRID_POSITIONS < 2 * 316 * 316
    html = _merged(316) * 100
    batch = _batch([html])
    for emit_errors, n_rows in ((False, 0), (True, 1)):
        t0 = time.perf_counter()
        rows = _arrow_rows(batch, emit_errors)
        assert time.perf_counter() - t0 < 1.0
        assert len(rows) == n_rows
        t0 = time.perf_counter()
        [out] = _make_batch_extract(emit_errors)(iter([batch.to_pandas()]))
        assert time.perf_counter() - t0 < 1.0
        assert len(out) == n_rows
    assert rows[0]["table_idx"] == -1 and "grid positions" in rows[0]["title"]


# ------------------------------------------------- batch ≡ streaming path

@pytest.mark.parametrize("emit_errors", [False, True])
def test_arrow_and_pandas_extractors_agree(emit_errors):
    """The mapInArrow extractor (batch job) and the pandas extractor
    (streaming job) give the same rows on the golden transcripts and the
    span cases."""
    turns, _expected = golden_transcripts()
    turns = [{k: t[k] for k in IN_SCHEMA.names} for t in turns]
    turns += [
        {"conv_id": "spans", "turn_idx": i, "text": html, "tool": "text/html"}
        for i, html in enumerate(SPAN_CASES)
    ]
    batch = pa.RecordBatch.from_pylist(turns, schema=IN_SCHEMA)
    [arrow_out] = _make_batch_extract_arrow(emit_errors)(iter([batch]))
    [pandas_out] = _make_batch_extract(emit_errors)(iter([batch.to_pandas()]))
    pandas_rows = pa.Table.from_pandas(pandas_out, schema=arrow_out.schema, preserve_index=False).to_pylist()
    assert len(arrow_out) >= 80
    assert arrow_out.to_pylist() == pandas_rows
