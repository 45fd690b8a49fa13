"""Structured Streaming extraction: drains a file source, output equals the
batch result, and restart consumes only new files (exactly-once sink)."""

from img2table_spark.sources.transcripts import golden_transcripts_df
from img2table_spark.streaming.extract_stream import stream_extract_tables as stream_extract


def test_stream_extract_matches_batch(spark, tmp_path):
    df, expected = golden_transcripts_df(spark, n_convs=4, turns_per_conv=8)
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    df.write.parquet(inp)

    q = stream_extract(spark, inp, out, ckpt, available_now=True)
    q.awaitTermination(300)

    got = spark.read.parquet(out)
    n_expected = sum(1 for v in expected.values() if v)
    assert got.count() == n_expected

    # restart with no new files → nothing reprocessed
    q2 = stream_extract(spark, inp, out, ckpt, available_now=True)
    q2.awaitTermination(300)
    assert spark.read.parquet(out).count() == n_expected

    # new file lands → incrementally processed
    df2, expected2 = golden_transcripts_df(spark, n_convs=2, turns_per_conv=5)
    df2.withColumnRenamed("conv_id", "conv_id").selectExpr(
        "concat('late_', conv_id) AS conv_id", "turn_idx", "role", "text", "tool", "ts"
    ).write.mode("append").parquet(inp)
    q3 = stream_extract(spark, inp, out, ckpt, available_now=True)
    q3.awaitTermination(300)
    n_expected2 = sum(1 for v in expected2.values() if v)
    assert spark.read.parquet(out).count() == n_expected + n_expected2
