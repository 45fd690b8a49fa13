"""The benchmark's own tests.

    python3 -m pytest -q perfbench/tests

The last two tests start Spark and take about two minutes.
"""

import json
import re
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parent.parent
ROOT = BENCH.parent
sys.path[:0] = [str(BENCH), str(ROOT)]

import checks  # noqa: E402
import corpus  # noqa: E402
import metrics  # noqa: E402
import tracing as trace  # noqa: E402

SMALL_MIX = (
    ("image/png", 1),
    ("image/jpeg", 1),
    ("image/tiff", 1),
    ("image/webp", 1),
    ("image_borderless", 1),
    ("image_implicit", 1),
    ("image_rotated", 1),
    ("pdf_vector", 1),
    ("pdf_borderless", 1),
    ("pdf_ccitt", 1),
    ("malformed", 2),
)


def _extracted(turn):
    """(tables, error markers) of one turn, extracted in-process."""
    from img2table_spark.operators.extract import extract_payload
    from img2table_spark.kernels.text import is_relevant_table

    try:
        tables = [t for t in extract_payload(turn.text, turn.tool) if is_relevant_table(t)]
    except Exception:
        return [], 1
    return [
        checks.table_shape_values(
            t.nb_rows,
            t.nb_columns,
            ((r, c, cell.content) for r, row in enumerate(t.rows) for c, cell in enumerate(row)),
        )
        for t in tables
    ], 0


def test_benchmark_json_is_the_catalogue():
    assert json.loads((ROOT / "BENCHMARK.json").read_text()) == metrics.benchmark_json()


def test_metric_names_units_and_bounds():
    spec = metrics.benchmark_json()
    every = spec["end_to_end"] + spec["per_layer"]
    names = [m["name"] for m in every]
    assert len(names) == len(set(names))
    for m in every:
        assert metrics.NAME_RE.match(m["name"]), m["name"]
        assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"]), m["unit"]
        assert m["better"] in ("higher", "lower")
    assert {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25} in spec["end_to_end"]
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    assert max(m["bound"] for m in spec["end_to_end"]) == 0.25
    assert 1 <= len(spec["per_layer"]) <= 128


def test_every_trace_site_is_a_reported_layer():
    assert {name for _, _, name in trace.SITES} <= set(trace.PY_LAYERS)


def test_generator_is_seeded():
    a = corpus.pixel_corpus(5, SMALL_MIX[:3])
    b = corpus.pixel_corpus(5, SMALL_MIX[:3])
    c = corpus.pixel_corpus(6, SMALL_MIX[:3])
    assert [t.text for t in a] == [t.text for t in b]
    assert [t.text for t in a] != [t.text for t in c]
    assert corpus.documents_table(5, 50) == corpus.documents_table(5, 50)


def test_generator_truth_round_trip():
    turns = corpus.pixel_corpus(11, SMALL_MIX)
    assert {t.kind for t in turns} == {k for k, _ in SMALL_MIX}
    for t in turns:
        tables, markers = _extracted(t)
        assert checks.turn_mismatch(t, tables, markers) is None, (t.kind, tables)
    # the check itself catches a wrong cell
    t = next(t for t in turns if t.kind == "image/png")
    tables, _ = _extracted(t)
    tables[0][2][0][0] = "wrong"
    assert checks.turn_mismatch(t, tables, 0) == "table 0: cells differ"


def test_html_expected_sql_counts_every_cell():
    import duckdb

    docs = corpus.documents_table(3, 200)
    con = duckdb.connect()
    con.register("documents", docs)
    rows = con.execute(corpus.html_expected_sql(2)).fetchall()
    ids = [d for d in docs.column("doc_id").to_pylist() if d % 11 != 3]
    assert len(rows) == sum(2 * (2 + d % 3) * (2 + d % 2) for d in ids)
    assert len({(r[0], r[1]) for r in rows}) == 2 * len(ids)


def test_replay_is_identical_with_and_without_wrappers():
    turns = corpus.pixel_corpus(2, (("image/png", 1), ("pdf_vector", 1), ("malformed", 1)))
    batches = corpus.turns_table(turns).select(["conv_id", "turn_idx", "text", "tool"]).to_batches()
    plain = [r for b in trace.replay(batches) for r in b.to_pylist()]
    tracer = trace.Tracer()
    traced = [r for b in trace.replay(batches, tracer) for r in b.to_pylist()]
    assert plain == traced
    self_ns = tracer.self_ns()
    assert sum(self_ns.values()) == tracer.root_ns()
    assert self_ns["kernels.image_doc.decode_image_bytes.png"] > 0
    assert tracer.counts["pdf_pages"] == 1


def test_q14_exclusion_is_reported():
    import workloads
    from img2table_spark.queries import QUERIES

    assert "q14_image_extract" not in metrics.QUERY_SLICE
    assert any(n.startswith("excluded q14_image_extract:") for n in workloads._excluded_notes())
    order = list(QUERIES)
    assert list(metrics.QUERY_SLICE) == sorted(metrics.QUERY_SLICE, key=order.index)


def test_refuses_to_run_without_the_program():
    bare = ROOT / ".perfbench" / "bare-checkout"
    shutil.rmtree(bare, ignore_errors=True)
    try:
        shutil.copytree(BENCH, bare / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "html_bulk", "--seed", "1", "--seconds", "1",
             "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=180,
        )
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert p.returncode != 0
    assert "correct" not in p.stdout


def _run(workload, trace_flag):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace_flag)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    return p.stdout.strip().splitlines()


@pytest.mark.parametrize("trace_flag", [0, 1])
def test_html_bulk_emits_every_declared_metric(trace_flag):
    lines = _run("html_bulk", trace_flag)
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    spec = metrics.benchmark_json()["per_layer" if trace_flag else "end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {m["name"]: m["unit"] for m in spec}
    printed = {line.split()[0]: line.split()[2] for line in lines[:-1] if len(line.split()) == 3}
    for m in spec:
        assert printed.get(m["name"]) == m["unit"], m["name"]
    assert "failed_frac" in printed
