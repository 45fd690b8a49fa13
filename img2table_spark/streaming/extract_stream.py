"""The FLAGSHIP extraction operator as a Structured Stream.

The batch operator (operators/extract.py) is deliberately stateless — one
salted exchange + one Arrow-batched mapInArrow — so it lifts onto
``readStream`` unchanged: same kernels, same salting, same error tolerance,
exactly-once output via the parquet sink commit log. This is the
near-line ingestion shape for the north rule's 10¹²-turn table: transcripts
land as files, each micro-batch extracts its slice, ``maxFilesPerTrigger``
bounds per-batch work at any backlog size, and a restart resumes from the
checkpoint with no duplicate output. No watermark is needed because the
operator keeps no state — any arrival order produces the same rows.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery

from img2table_spark.operators.extract import extract_tables
from img2table_spark.schema import TRANSCRIPT_SCHEMA


def stream_extract_tables(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
    num_partitions: int | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """transcript file stream → extracted-table rows (EXTRACTED_SCHEMA) in an
    exactly-once parquet sink. See module docstring."""
    reader = spark.readStream.schema(TRANSCRIPT_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    tr = reader.parquet(input_dir)
    ext = extract_tables(tr, salt=True, num_partitions=num_partitions)
    writer = (
        ext.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
