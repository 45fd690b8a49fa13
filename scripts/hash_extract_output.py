"""Hash the whole output of ``extract_tables`` on the perfbench html_bulk
corpus of one seed: all 12 columns, rows sorted by (conv_id, turn_idx,
table_idx), serialized as one Arrow IPC stream. Two checkouts whose hashes
agree give the same rows, html included (perfbench only checks cells).

Usage: python scripts/hash_extract_output.py SEED WORK_DIR
(run it from each checkout; WORK_DIR receives the seeded documents table)
"""

from __future__ import annotations

import hashlib
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path[:0] = [str(ROOT), str(ROOT / "perfbench")]

import corpus  # noqa: E402  (perfbench/corpus.py)
import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402
from workloads import HTML_DOCS, HTML_REPEAT  # noqa: E402  (perfbench/workloads.py)


def main(seed: int, work: Path) -> None:
    from img2table_spark.operators.extract import extract_tables
    from img2table_spark.session import get_spark
    from img2table_spark.sources.transcripts import transcripts_from_documents

    sf = work / "sf_html"
    sf.mkdir(parents=True, exist_ok=True)
    pq.write_table(corpus.documents_table(seed, HTML_DOCS), sf / "documents.parquet")
    spark = get_spark(cores=4, extra_conf={"spark.driver.memory": "2g"})
    try:
        turns = transcripts_from_documents(spark, str(sf), repeat=HTML_REPEAT)
        out = extract_tables(turns, salt=True).toArrow()
        out = out.sort_by([("conv_id", "ascending"), ("turn_idx", "ascending"), ("table_idx", "ascending")])
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, out.schema) as w:
            w.write_table(out.combine_chunks())
        digest = hashlib.sha256(sink.getvalue().to_pybytes()).hexdigest()
        print(f"rows {out.num_rows} columns {out.num_columns} sha256 {digest}")
    finally:
        spark.stop()


if __name__ == "__main__":
    main(int(sys.argv[1]), Path(sys.argv[2]))
