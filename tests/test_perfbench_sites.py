"""The benchmark's traced replay (``perfbench/tracing.py``, loaded as it is)
still fits the program: every import site it patches resolves, the
patches come off again, and a replay, plain or traced, gives what the
mapInArrow batch function gives."""

import base64
import importlib.util
from pathlib import Path

import pyarrow as pa
from ruled_table import ruled_table_pdf

import img2table_spark.operators.extract as extract
from img2table_spark.sources.transcripts import golden_transcripts

_spec = importlib.util.spec_from_file_location(
    "perfbench_tracing", Path(__file__).resolve().parents[1] / "perfbench" / "tracing.py"
)
tracing = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(tracing)

IN_SCHEMA = pa.schema(
    [("conv_id", pa.string()), ("turn_idx", pa.int32()), ("text", pa.string()), ("tool", pa.string())]
)


def test_every_traced_site_resolves_and_is_restored():
    originals = {attr: extract.__dict__[attr] for attr in ("extract_payload", "parse_html_tables", "table_to_html")}
    with tracing.installed(tracing.Tracer()):
        assert all(extract.__dict__[attr] is not fn for attr, fn in originals.items())
    assert all(extract.__dict__[attr] is fn for attr, fn in originals.items())


def test_replay_equals_the_batch_function():
    """A golden batch plus a vector-PDF turn, so that both the grid branch
    and the Table branch of the extractor run under the tracer."""
    turns, _expected = golden_transcripts()
    turns = [{k: t[k] for k in IN_SCHEMA.names} for t in turns]
    pdf = base64.b64encode(ruled_table_pdf()).decode()
    turns.append({"conv_id": "pdf", "turn_idx": 0, "text": pdf, "tool": "application/pdf"})
    batch = pa.RecordBatch.from_pylist(turns, schema=IN_SCHEMA)
    want = list(extract._make_batch_extract_arrow()(iter([batch])))
    assert sum(b.num_rows for b in want) >= 81

    assert tracing.replay([batch]) == want
    tracer = tracing.Tracer()
    assert tracing.replay([batch], tracer) == want
    names = {span[0] for span in tracer.spans}
    assert {
        "operators.extract.batch",
        "operators.extract.extract_payload",
        "kernels.pdf_doc.extract_pdf_payload",
        "kernels.html_io.table_to_html",
    } <= names
