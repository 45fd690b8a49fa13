"""Flagship extraction as a stream: per-turn cell equality vs the golden
transcript generator's expected tables, ingested several files per
micro-batch, plus a restart-resume probe on the same checkpoint, and the
sink's rows equal to the batch job's in all 12 columns."""

import base64
import json

from ruled_table import VALUES, ruled_table_pdf
from test_html_grid import SPAN_CASES

from img2table_spark.operators.extract import extract_tables
from img2table_spark.schema import TRANSCRIPT_SCHEMA
from img2table_spark.sources.transcripts import golden_transcripts, golden_transcripts_df
from img2table_spark.streaming.extract_stream import stream_extract_tables


def _expected_and_got(spark, out):
    rows = spark.read.parquet(out).collect()
    got: dict = {}
    for r in rows:
        got.setdefault((r.conv_id, int(r.turn_idx)), []).extend(
            (int(c.row), int(c.col), c.value) for c in r.cells
        )
    return got


def test_stream_extract_matches_golden(spark, tmp_path):
    df, expected = golden_transcripts_df(spark, n_convs=8, turns_per_conv=6)
    inp, out, ckpt = (str(tmp_path / d) for d in ("tin", "tout", "tckpt"))
    df.repartition(6).write.parquet(inp)  # 6 files → 3 batches at 2/trigger

    q = stream_extract_tables(
        spark, inp, out, ckpt, max_files_per_trigger=2, num_partitions=8
    )
    q.awaitTermination(300)
    progress = [json.loads(p.json) for p in q.recentProgress]
    assert len([p for p in progress if p["numInputRows"] > 0]) >= 3

    got = _expected_and_got(spark, out)
    n_cells = 0
    for key, cells in expected.items():
        want = sorted(map(tuple, cells))
        have = sorted(got.get(key, []))
        assert have == want, (key, want[:3], have[:3])
        n_cells += len(want)
    assert n_cells > 0

    # exactly-once on restart: rerunning over the same checkpoint with no
    # new files must add NOTHING to the sink
    q2 = stream_extract_tables(
        spark, inp, out, ckpt, max_files_per_trigger=2, num_partitions=8
    )
    q2.awaitTermination(300)
    total = sum(len(v) for v in _expected_and_got(spark, out).values())
    assert total == n_cells


def test_stream_sink_equals_batch_extract(spark, tmp_path):
    """The streaming job's sink holds exactly the rows of
    ``extract_tables(..., salt=True)``, in all 12 columns, over the golden
    transcripts (HTML, text/plain, null and corrupt-image turns), the HTML
    span cases and a vector-PDF turn, whose table takes the Table path."""
    turns, _expected = golden_transcripts()
    ts = turns[0]["ts"]
    turns += [
        {"conv_id": "spans", "turn_idx": i, "role": "tool", "text": html, "tool": "text/html", "ts": ts}
        for i, html in enumerate(SPAN_CASES)
    ]
    pdf_b64 = base64.b64encode(ruled_table_pdf()).decode()
    turns.append({"conv_id": "pdf", "turn_idx": 0, "role": "tool", "text": pdf_b64, "tool": "application/pdf", "ts": ts})
    inp, out, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    rows = [tuple(t[f] for f in TRANSCRIPT_SCHEMA.fieldNames()) for t in turns]
    spark.createDataFrame(rows, TRANSCRIPT_SCHEMA).repartition(3).write.parquet(inp)

    q = stream_extract_tables(spark, inp, out, ckpt, max_files_per_trigger=1, num_partitions=4)
    q.awaitTermination(300)

    key = ("conv_id", "turn_idx", "table_idx")
    streamed = [r.asDict(recursive=True) for r in spark.read.parquet(out).orderBy(*key).collect()]
    batch = extract_tables(spark.read.parquet(inp), salt=True).orderBy(*key).collect()
    batch = [r.asDict(recursive=True) for r in batch]
    assert len(batch) >= 80
    assert streamed == batch
    [pdf] = [r for r in batch if r["conv_id"] == "pdf"]
    assert (pdf["x1"], pdf["y1"], pdf["x2"], pdf["y2"], pdf["title"]) == (113, 165, 779, 332, "Stock")
    assert (pdf["n_rows"], pdf["n_cols"]) == (2, 3)
    xs, ys = (113, 335, 557, 779), (165, 248, 332)
    assert [tuple(c.values()) for c in pdf["cells"]] == [
        (r, c, xs[c], ys[r], xs[c + 1], ys[r + 1], VALUES[3 * r + c]) for r in range(2) for c in range(3)
    ]
    td = '<td colspan="1" rowspan="1">{}</td>'.format
    assert pdf["html"] == "<table>" + "".join(
        "<tr>" + "".join(td(v) for v in VALUES[3 * r : 3 * r + 3]) + "</tr>" for r in range(2)
    ) + "</table>"
