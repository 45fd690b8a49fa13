"""The benchmark workloads. Each takes a ``harness.Bench`` and returns a
``harness.Result``; ``run.py`` prints it.

Timed runs (tracing off) fill the end-to-end metrics; traced runs fill the
per-layer metrics. Every workload checks its outputs and records each
mismatching turn or query in ``Result.failures``; nothing is dropped from
the corpus.

- ``html_bulk``: HTML transcripts from ``transcripts_from_documents``; its
  traced run also measures the 1->N scaling pair and drives the same kind of
  turns through ``plans.pipeline.run_pipeline`` (the job.py path).
- ``pixel_mix``: the planted-truth image/PDF corpus of ``corpus.py``.
- ``query_mix``: q01 and the consumers of memoized session artifacts.
"""

from __future__ import annotations

import hashlib
import heapq
import pickle
import time
from pathlib import Path

import pyarrow as pa
import pyarrow.compute  # noqa: F401 (pa.compute)
import pyarrow.parquet as pq

import checks
import corpus
import tracing as tr_mod
import udf
from harness import Bench, Result, median, repeat_for, timed
from metrics import QUERY_SLICE
from procmon import WorkerPeakRSS, jvm_pid
from sparklog import by_description, event_log_conf, read_events

#: html_bulk corpus: documents x repeat turns. A pass has a fixed cost of
#: about 1 s (task launch, Python worker init); at 100k turns the per-turn
#: work is about two thirds of a pass on a 4-core box.
HTML_DOCS, HTML_REPEAT = 25000, 4
#: pipeline input: HTML turns plus one payload of each of these kinds
JOB_DOCS, JOB_REPEAT = 2000, 2
JOB_PIXEL_MIX = (("image/png", 1), ("image/jpeg", 1), ("pdf_vector", 1), ("malformed", 1))
JOB_BUCKETS, JOB_WAVE = 4, 2
QUERY_EXCLUDED = {
    "q14_image_extract": "its corpus is built from the external img2table reference fixtures, "
    "which a checkout does not carry",
}
QUERY_DOCS, QUERY_VECS = 500, 500
SETUP_REPS = 3
#: untraced and traced extraction passes in a traced run (medians)
TRACED_PASSES = 3
#: |accounted_frac - 1| above which a traced run prints a warning
ACCOUNTING_TOLERANCE = 0.1


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _write_parquet(table: pa.Table, path: Path) -> str:
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, path)
    return str(path)


def _setup(b: Bench, open_input, warm_up):
    """``setup_s``: the median of ``SETUP_REPS`` session (re)starts with
    input synthesis/caching, plus the wall of the one warm-up that follows
    (Python workers started, JVM paths compiled). Returns (setup_s, input)."""
    walls, out = [], None
    for _ in range(SETUP_REPS):
        b.phase("setup")
        wall, out = timed(open_input)
        walls.append(wall)
    b.phase("warmup")
    warm_s, _ = timed(warm_up, out)
    return median(walls) + warm_s, out


def _result(setup_s: float, wall_s: float, turns: float, rss: WorkerPeakRSS) -> dict:
    return {
        "setup_s": (setup_s, "s"),
        "wall_s": (wall_s, "s"),
        "turns_per_s": (turns / wall_s, "turns/s"),
        "worker_peak_rss_mb": (rss.peak_mb, "MB"),
    }


# ------------------------------------------------------------ html_bulk

def _html_inputs(b: Bench) -> str:
    sf = b.work / "sf_html"
    _write_parquet(corpus.documents_table(b.seed, HTML_DOCS), sf / "documents.parquet")
    return str(sf)


def _html_open(b: Bench, sf: str, extra: dict | None = None):
    """Session plus the cached transcripts; returns (df, turns, synth_s)."""
    from img2table_spark.sources.transcripts import transcripts_from_documents

    spark = b.session(None, extra)
    synth_s, tr = timed(lambda: transcripts_from_documents(spark, sf, repeat=HTML_REPEAT).persist())
    count_s, n = timed(tr.count)
    return tr, n, synth_s + count_s


def _html_warm(opened) -> None:
    """One full pass: a JVM runs its first html passes slower while it
    compiles their hot paths."""
    from img2table_spark.operators.extract import extract_tables

    _noop(extract_tables(opened[0], salt=True))


def _html_check(tr, sf: str) -> list:
    """One extraction pass flattened to cells, compared in DuckDB with the
    cells the generator defines; returns the turns that differ."""
    import duckdb

    from img2table_spark.operators.extract import extract_cells_flat

    got = extract_cells_flat(tr, salt=True).toArrow()
    con = duckdb.connect()
    try:
        con.register("got", got)
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf}/documents.parquet')")
        con.execute(f"CREATE TABLE want AS {corpus.html_expected_sql(HTML_REPEAT)}")
        return _differing_turns(con, "cells differ from the generator's definition")
    finally:
        con.close()


def _differing_turns(con, reason: str) -> list:
    """Turns whose cells differ between DuckDB relations ``got`` and
    ``want`` (same columns), in either direction."""
    rows = con.execute(
        "SELECT DISTINCT conv_id, turn_idx FROM ("
        "(SELECT * FROM got EXCEPT ALL SELECT * FROM want) UNION ALL "
        "(SELECT * FROM want EXCEPT ALL SELECT * FROM got)) ORDER BY 2"
    ).fetchall()
    return [(c, t, reason) for c, t in rows]


def html_bulk(b: Bench) -> Result:
    from img2table_spark.operators.extract import extract_tables

    r = Result()
    b.phase("generate")
    sf = _html_inputs(b)
    if b.trace:
        _trace_extraction(b, r, lambda extra: _html_open(b, sf, extra), _html_warm, None)
        return r
    setup_s, (tr, n, _) = _setup(b, lambda: _html_open(b, sf), _html_warm)
    b.phase("check")
    r.failures = _html_check(tr, sf)
    r.attempted = n
    b.phase("measure")
    with WorkerPeakRSS(jvm_pid(b.spark)) as rss:
        walls = repeat_for(b.seconds, lambda: _noop(extract_tables(tr, salt=True)), 4)
    r.metrics = _result(setup_s, median(walls), n, rss)
    r.extras = {"n_turns": (n, "turns"), "passes": (len(walls), "count")}
    return r


def _local1_walls(b: Bench, tr) -> list:
    """Pass walls at local[1] on the same turns (written to parquet and
    re-read), tracing off: the low side of the 1->nproc scaling pair."""
    from img2table_spark.operators.extract import extract_tables

    turns_path = str(b.work / "html_turns")
    tr.write.parquet(turns_path)
    tr1 = b.session(1, {"spark.eventLog.enabled": "false"}).read.parquet(turns_path).persist()
    tr1.count()
    _noop(extract_tables(tr1.limit(1000), salt=True))
    # one local[1] pass is as long as several local[nproc] passes
    return repeat_for(0.5 * b.seconds, lambda: _noop(extract_tables(tr1, salt=True)), 1)


# ------------------------------------------------------------ pixel_mix

def _pixel_turns(b: Bench) -> list:
    """The seed's pixel corpus, generated once per checkout, seed and
    generator version."""
    version = hashlib.sha1(Path(corpus.__file__).read_bytes()).hexdigest()[:12]
    path = b.cache / f"pixel-{b.seed}-{version}.pkl"
    if path.exists():
        with open(path, "rb") as f:
            return pickle.load(f)
    turns = corpus.pixel_corpus(b.seed)
    tmp = path.with_suffix(f".{time.time_ns()}.tmp")
    with open(tmp, "wb") as f:
        pickle.dump(turns, f)
    tmp.replace(path)
    return turns


def _pixel_open(b: Bench, turns: list, extra: dict | None = None):
    from img2table_spark.schema import TRANSCRIPT_SCHEMA

    spark = b.session(None, extra)
    df = spark.createDataFrame(corpus.turns_table(turns).to_pandas(), TRANSCRIPT_SCHEMA).persist()
    return df, df.count(), 0.0


def _pixel_warm(b: Bench, opened, turns: list) -> None:
    """Every worker imports the decoders and CV kernels on cheap turns."""
    from img2table_spark.operators.extract import extract_tables

    df = opened[0]
    light = {"image/png", "image/tiff", "pdf_vector", "malformed"}
    warm = df.filter(df.turn_idx.isin([t.turn_idx for t in turns if t.kind in light]))
    _noop(extract_tables(warm, salt=True, num_partitions=b.cores, balance=True))


def pixel_mix(b: Bench) -> Result:
    from img2table_spark.operators.extract import extract_tables

    r = Result()
    b.phase("generate")
    turns = _pixel_turns(b)
    if b.trace:
        _trace_extraction(
            b, r, lambda extra: _pixel_open(b, turns, extra), lambda o: _pixel_warm(b, o, turns), turns
        )
        return r
    setup_s, (df, n, _) = _setup(b, lambda: _pixel_open(b, turns), lambda o: _pixel_warm(b, o, turns))
    b.phase("measure")
    # each pass collects its few rows to the driver (a noop sink would need
    # one more pass for the check); the check runs after the timed passes
    passes = []
    with WorkerPeakRSS(jvm_pid(b.spark)) as rss:
        walls = repeat_for(b.seconds, lambda: passes.append(extract_tables(df, salt=True).collect()), 3)
    b.phase("check")
    for rows in passes:
        r.failures += checks.pixel_mismatches(turns, rows)
    r.attempted = n * len(passes)
    r.metrics = _result(setup_s, median(walls), n, rss)
    r.extras = {"n_turns": (n, "turns"), "passes": (len(walls), "count")}
    return r


# ------------------------------------------- traced extraction (html, pixel)

def _partition_of(df, parts: int) -> dict:
    """(conv_id, turn_idx) → partition of extract_tables' salted exchange."""
    from pyspark.sql import functions as F

    from img2table_spark.operators.extract import with_salt

    slim = df.select("conv_id", "turn_idx")
    t = slim.repartition(parts, with_salt(slim)).select(
        "conv_id", "turn_idx", F.spark_partition_id().alias("p")
    ).toArrow()
    return dict(zip(zip(t["conv_id"].to_pylist(), t["turn_idx"].to_pylist()), t["p"].to_pylist()))


def _makespan(costs: dict, cores: int) -> float:
    """Wall of running per-partition costs on ``cores`` slots, partitions
    launched in id order on the first free slot (Spark's local scheduler)."""
    free = [0.0] * cores
    for p in sorted(costs):
        heapq.heapreplace(free, free[0] + costs[p])
    return max(free)


def _trace_extraction(b: Bench, r: Result, open_input, warm_up, turns) -> None:
    """Traced run of html_bulk (``turns`` None) or pixel_mix.

    1. Untraced: median pass wall, the reference for the tracing overhead
       and for the accounting below. html_bulk first runs the local[1] side
       of the scaling pair, then measures the passes in a fresh
       local[nproc] session of the now warm JVM, as the traced passes are.
    2. Replay of the same payloads through the mapInArrow batch function,
       partition by partition, in one process per core at once, without
       and with the tracing wrappers (outputs must be identical): per-layer
       self time per turn.
    3. Session with the event log on: the identity mapInArrow round trip
       over the same input and exchange, then ``TRACED_PASSES`` extraction
       passes, the last one tagged for the Spark-side metrics (html_bulk:
       then the pipeline, uninterrupted and stopped-then-resumed, with its
       import sites probed). Spark-side metrics come from the event log.
    4. Accounting: the replayed cost of each partition, scheduled on the
       cores as Spark's local scheduler deals tasks, plus the identity round
       trip, against the measured untraced wall. ``ACCOUNTING_TOLERANCE``
       is the share by which they may differ before the run says so."""
    from img2table_spark.operators.extract import extract_tables, with_salt

    html = turns is None
    untraced = {"spark.eventLog.enabled": "false"}
    b.phase("trace.untraced")
    opened = open_input(untraced)
    warm_up(opened)
    df, n, _ = opened
    b.phase("trace.partitions")
    parts = b.spark.sparkContext.defaultParallelism * 2
    part_of = _partition_of(df, parts)
    data = df.select("conv_id", "turn_idx", "text", "tool").toArrow()
    if html:
        b.phase("trace.scaling_pair")
        walls1 = _local1_walls(b, df)
        # back at local[nproc] in a JVM that has compiled the plans, as in
        # the traced session: a JVM's first html passes run slower
        b.phase("trace.untraced")
        opened = open_input(untraced)
        warm_up(opened)
        df = opened[0]
    b.phase("trace.untraced")
    walls = repeat_for(b.seconds, lambda: _noop(extract_tables(df, salt=True)), TRACED_PASSES)
    wall_untraced = median(walls)
    if html:
        tps, tps1 = n / wall_untraced, n / median(walls1)
        r.extras[f"scaling_eff_1to{b.cores}"] = (tps / (b.cores * tps1), "ratio")
        r.extras[f"turns_per_s_local{b.cores}"] = (tps, "turns/s")
        r.extras["turns_per_s_local1"] = (tps1, "turns/s")

    b.phase("trace.replay")
    pid = pa.array([part_of[k] for k in zip(data.column("conv_id").to_pylist(), data.column("turn_idx").to_pylist())])
    shares = tr_mod.replay_parallel(
        {p: data.filter(pa.compute.equal(pid, p)).to_batches(max_chunksize=256) for p in sorted(set(pid.to_pylist()))},
        b.cores,
    )
    rows = [row for sh in shares for row in sh["rows"]]
    identical = all(sh["identical"] for sh in shares)
    if not identical:
        r.failures.append(("replay", "-", "output differs with the tracing wrappers installed"))
    if not html:
        r.failures += checks.pixel_mismatches(turns, rows)
    r.attempted += n

    b.phase("trace.traced")
    log_dir = b.work / "eventlog"
    opened = open_input(event_log_conf(log_dir))
    warm_up(opened)
    df, n, synth_s = opened
    slim = df.select("conv_id", "turn_idx", "text", "tool")
    salted = slim.repartition(parts, with_salt(slim))
    b.describe("arrow_roundtrip")
    roundtrip_s, _ = timed(lambda: _noop(salted.mapInArrow(udf.identity, slim.schema)))
    traced_walls = []
    for i in range(TRACED_PASSES):
        b.describe("extract" if i == TRACED_PASSES - 1 else None)
        traced_walls.append(timed(lambda: _noop(extract_tables(df, salt=True)))[0])
    b.describe(None)
    wall_traced = median(traced_walls)
    if html:
        b.phase("trace.pipeline")
        job = _Job(b)
        job.traced()
    b.close()
    b.phase("trace.collect")
    descs = by_description(read_events(log_dir))
    if html:
        job.report(r, descs)

    # Python side: the untraced replay cost of each partition, scheduled on
    # the cores; Spark side: the identity round trip over the same exchange
    costs = {p: ns / 1e9 for sh in shares for p, ns in sh["cost_ns"].items()}
    predicted = _makespan(costs, b.cores) + roundtrip_s
    self_ns: dict = {}
    counts: dict = {}
    for sh in shares:
        for k, v in sh["self_ns"].items():
            self_ns[k] = self_ns.get(k, 0) + v
        for k, v in sh["counts"].items():
            counts[k] = counts.get(k, 0) + v
    plain_s = sum(sh["plain_ns"] for sh in shares) / 1e9
    traced_s = sum(sh["traced_ns"] for sh in shares) / 1e9

    m = r.metrics
    for span, name in zip(tr_mod.PY_LAYERS, tr_mod.PY_METRICS):
        m[name] = (self_ns.get(span, 0) / n, "ns/turn")
    m["work.tables_per_turn"] = (len(rows) / n, "tables/turn")
    m["work.cells_per_turn"] = (sum(len(x["cells"]) for x in rows) / n, "cells/turn")
    m["work.megapixels_per_turn"] = (counts.get("megapixels", 0) / n, "MP/turn")
    m["work.pdf_pages_per_turn"] = (counts.get("pdf_pages", 0) / n, "pages/turn")
    m["spark.arrow_roundtrip_s"] = (roundtrip_s, "s")
    _spark_metrics(m, descs.get("extract", {}))
    m["sources.transcripts.synth_s"] = (synth_s if html else 0.0, "s")
    m["trace.wall_untraced_s"] = (wall_untraced, "s")
    m["trace.wall_traced_s"] = (wall_traced, "s")
    m["trace.overhead_s"] = (wall_traced - wall_untraced, "s")
    m["trace.replay_overhead_frac"] = (traced_s / plain_s - 1, "fraction")
    m["trace.accounted_frac"] = (predicted / wall_untraced, "fraction")
    m["trace.residual_s"] = (wall_untraced - predicted, "s")
    # the same sum without the scheduling: replayed cost spread evenly on
    # the cores (printed so the two can be compared run by run)
    flat = (plain_s / b.cores + roundtrip_s) / wall_untraced
    r.extras["trace.accounted_frac_unscheduled"] = (flat, "fraction")
    _accounting_note(r, predicted / wall_untraced)
    r.extras.update({"replay_identical": (int(identical), "bool"), "replay_turns": (n, "turns")})
    tr_mod.dump_spans(b.base / "results" / f"{b.workload}-s{b.seed}-spans.json", shares)


def _accounting_note(r: Result, frac: float) -> None:
    if abs(frac - 1) > ACCOUNTING_TOLERANCE:
        r.notes.append(
            f"WARNING: the per-layer accounting covers {frac:.2f} of the measured wall, "
            f"outside 1 +/- {ACCOUNTING_TOLERANCE}"
        )


def _spark_metrics(m: dict, s: dict) -> None:
    for key in ("python_total_ms", "python_boot_ms", "python_init_ms", "data_sent_bytes", "data_received_bytes"):
        unit = "ms" if key.endswith("_ms") else "bytes"
        m[f"spark.mapinarrow.{key}"] = (s.get(key, 0), unit)
    m["spark.exchange.shuffle_write_bytes"] = (s.get("shuffle_write_bytes", 0), "bytes")
    m["spark.exchange.spill_bytes"] = (s.get("spill_bytes", 0), "bytes")
    m["spark.stage.task_ms_max_over_median"] = (s.get("task_ms_max_over_median", 1.0), "ratio")
    m["spark.stage.executor_run_ms"] = (s.get("executor_run_ms", 0), "ms")
    m["spark.stage.gc_ms"] = (s.get("gc_ms", 0), "ms")
    m["spark.tasks"] = (s.get("tasks", 0), "count")


def _merge_spark(parts: list[dict]) -> dict:
    """Sum per-description Spark metrics; skew is the worst description's."""
    out: dict = {}
    for s in parts:
        for k, v in s.items():
            if k == "task_ms_max_over_median":
                out[k] = max(out.get(k, 1.0), v)
            elif isinstance(v, (int, float)):
                out[k] = out.get(k, 0) + v
    return out


# ------------------------------------------------ pipeline (html_bulk trace)

_MANIFEST_FIELDS = ("n_turns", "n_payload_turns", "n_tables", "n_cells", "n_errors", "checksum")


class _Job:
    """``plans.pipeline.run_pipeline`` as job.py runs it, on a parquet
    transcript table of HTML turns plus a few pixel payloads: once
    uninterrupted, once stopped after half the waves and resumed."""

    def __init__(self, b: Bench):
        self.b = b
        self.sf = b.work / "sf_job"
        _write_parquet(corpus.documents_table(b.seed, JOB_DOCS), self.sf / "documents.parquet")
        self.pixel = corpus.pixel_corpus(b.seed, JOB_PIXEL_MIX)
        self.in_path = str(b.work / "job_input")
        self.tracer = tr_mod.Tracer()

    def write_input(self) -> int:
        from img2table_spark.schema import TRANSCRIPT_SCHEMA
        from img2table_spark.sources.transcripts import transcripts_from_documents

        spark = self.b.spark
        html = transcripts_from_documents(spark, str(self.sf), repeat=JOB_REPEAT)
        px = spark.createDataFrame(corpus.turns_table(self.pixel).to_pandas(), TRANSCRIPT_SCHEMA)
        html.unionByName(px).write.mode("overwrite").parquet(self.in_path)
        return spark.read.parquet(self.in_path).count()

    def run(self, tag: str, max_waves: int | None = None) -> float:
        from img2table_spark.plans.pipeline import run_pipeline

        b = self.b
        wall, _ = timed(
            run_pipeline, b.spark, self.in_path, str(b.work / f"out_{tag}"), str(b.work / f"ck_{tag}"),
            n_buckets=JOB_BUCKETS, wave_size=JOB_WAVE, max_waves=max_waves,
        )
        return wall

    def traced(self) -> None:
        self.n = self.write_input()
        with self._probes("a"):
            self.job_s = self.run("a")
        self.n_job_spans = len(self.tracer.spans)
        with self._probes("b"):
            self.part_s = self.run("b", max_waves=(JOB_BUCKETS // JOB_WAVE) // 2)
        self.n_part_spans = len(self.tracer.spans)
        with self._probes("r"):
            self.resume_s = self.run("b")
        self.failures = self.check()

    def _probes(self, tag: str):
        """Wrap the pipeline's import sites so each Spark job it starts
        carries the description ``<tag>:wave<k>:<phase>``. Per wave the
        pipeline runs input_stats, then extract_tables +
        overwrite_partitions (extract_overwrite), then the checksum re-read
        and the error scan (post_write, in that order), then writes the
        wave's manifests."""
        import contextlib

        from img2table_spark.plans import pipeline
        from img2table_spark.sources import iceberg

        b, tracer = self.b, self.tracer
        orig = (pipeline.read_committed, pipeline.extract_tables, iceberg.overwrite_partitions, pipeline.write_manifest)
        orig_rc, orig_ext, orig_ow, orig_wm = orig
        waves = [0]

        def phase(k, name):
            b.describe(f"{tag}:wave{k}:{name}")

        def read_committed(d):
            out = tracer.span("plans.checkpoints.read_committed", orig_rc, d)
            phase(0, "input_stats")
            return out

        def extract_tables(*a, **k):
            phase(waves[0], "extract_overwrite")
            waves[0] += 1
            return orig_ext(*a, **k)

        def overwrite_partitions(*a, **k):
            out = tracer.span("sources.iceberg.overwrite_partitions", orig_ow, *a, **k)
            phase(waves[0] - 1, "post_write")
            return out

        def write_manifest(d, bucket, payload):
            orig_wm(d, bucket, payload)
            phase(payload["wave"] + 1, "input_stats")

        @contextlib.contextmanager
        def installed():
            pipeline.read_committed, pipeline.extract_tables = read_committed, extract_tables
            iceberg.overwrite_partitions, pipeline.write_manifest = overwrite_partitions, write_manifest
            try:
                yield
            finally:
                pipeline.read_committed, pipeline.extract_tables, iceberg.overwrite_partitions, pipeline.write_manifest = orig
                b.describe(None)

        return installed()

    def manifests(self, tag: str) -> dict:
        from img2table_spark.plans.checkpoints import read_committed

        return read_committed(str(self.b.work / f"ck_{tag}"))

    def one_shot(self) -> dict:
        """Per-bucket totals of one extract_tables pass over the input,
        with the manifest's checksum definition."""
        from pyspark.sql import functions as F

        from img2table_spark.operators.extract import extract_tables
        from img2table_spark.plans.pipeline import bucket_col

        df = self.b.spark.read.parquet(self.in_path)
        n_in = {
            x["bucket"]: x["n"]
            for x in df.groupBy(bucket_col(JOB_BUCKETS).alias("bucket")).agg(F.count("*").alias("n")).collect()
        }
        ext = extract_tables(df, salt=True, emit_errors=True).withColumn("bucket", bucket_col(JOB_BUCKETS))
        cell_hash = F.aggregate(
            F.transform(
                "cells",
                lambda c: F.xxhash64("conv_id", "turn_idx", c["row"], c["col"], c["value"]).cast("decimal(38,0)"),
            ),
            F.lit(0).cast("decimal(38,0)"),
            lambda acc, x: acc + x,
        )
        ok = F.col("table_idx") >= 0
        got = {
            x["bucket"]: x
            for x in ext.groupBy("bucket").agg(
                F.sum(ok.cast("long")).alias("n_tables"),
                F.sum(F.when(ok, F.size("cells")).otherwise(0)).alias("n_cells"),
                F.sum(F.when(ok, cell_hash)).alias("checksum"),
                F.sum((~ok).cast("long")).alias("n_errors"),
            ).collect()
        }
        out = {}
        for bk in range(JOB_BUCKETS):
            x = got.get(bk)
            out[bk] = {
                "n_turns": int(n_in.get(bk, 0)),
                "n_tables": int(x["n_tables"]) if x else 0,
                "n_cells": int(x["n_cells"] or 0) if x else 0,
                "n_errors": int(x["n_errors"]) if x else 0,
                "checksum": int(x["checksum"] or 0) % (2**63) if x else 0,
            }
        return out

    def check(self) -> list:
        """Manifests of the uninterrupted and the resumed run agree with
        each other and with a one-shot extract; the written output holds
        exactly the planted cells; the manifests count the malformed turn."""
        import duckdb

        fails = []
        a = {k: {f: m[f] for f in _MANIFEST_FIELDS} for k, m in self.manifests("a").items()}
        res = {k: {f: m[f] for f in _MANIFEST_FIELDS} for k, m in self.manifests("b").items()}
        fails += [
            ("bucket", k, "uninterrupted and resumed manifests differ")
            for k in sorted(set(a) | set(res))
            if a.get(k) != res.get(k)
        ]
        for k, want in self.one_shot().items():
            got = {f: a.get(k, {}).get(f) for f in want}
            if got != want:
                fails.append(("bucket", k, f"manifest {got} != one-shot {want}"))
        n_bad = sum(t.malformed for t in self.pixel)
        if sum(m["n_errors"] for m in a.values()) != n_bad:
            fails.append(("job", "-", f"manifests do not count the {n_bad} malformed turns"))

        out = self.b.work / "out_a"
        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{self.sf}/documents.parquet')")
            con.execute(f"CREATE VIEW out AS SELECT * FROM read_parquet('{out}/**/*.parquet', hive_partitioning = true)")
            con.execute(f"CREATE TABLE want AS {corpus.html_expected_sql(JOB_REPEAT)}")
            con.execute(
                "CREATE TABLE got AS SELECT conv_id, CAST(turn_idx AS BIGINT) AS turn_idx, "
                "CAST(table_idx AS BIGINT) AS table_idx, CAST(c.row AS BIGINT) AS row_idx, "
                "CAST(c.col AS BIGINT) AS col_idx, c.value AS value "
                "FROM (SELECT *, unnest(cells) AS c FROM out WHERE NOT starts_with(conv_id, ?))",
                [corpus.PIXEL_CONV_PREFIX],
            )
            fails += _differing_turns(con, "written cells differ from the generator's definition")
            px_rows = con.execute(
                "SELECT * FROM out WHERE starts_with(conv_id, ?)", [corpus.PIXEL_CONV_PREFIX]
            ).fetch_arrow_table().to_pylist()
        finally:
            con.close()
        return fails + checks.pixel_mismatches(self.pixel, px_rows)

    def report(self, r: Result, descs: dict) -> None:
        phases = {"input_stats": 0.0, "extract_overwrite": 0.0, "checksum_reread": 0.0, "error_scan": 0.0}
        for desc, d in descs.items():
            tag, name = desc.split(":")[0], desc.split(":")[-1]
            if tag != "a":
                continue
            if name != "post_write":
                phases[name] += d["wall_s"]
                continue
            # the first SQL execution after the write (and the listing jobs
            # of re-opening the output, which have none) is the checksum
            # re-read; the next is the error scan
            first = min(d["executions"], default=None)
            for start, end, ex in d["jobs"]:
                key = "error_scan" if ex is not None and int(ex) != first else "checksum_reread"
                phases[key] += (end - start) / 1000
        waves = {m["wave"]: m["wall_s"] for m in self.manifests("a").values()}
        spans = self.tracer.spans
        m = r.metrics
        m["plans.pipeline.wave_wall_s"] = (sum(waves.values()) / max(len(waves), 1), "s")
        for name, v in phases.items():
            m[f"plans.pipeline.job.{name}_s"] = (v, "s")
        m["plans.checkpoints.read_committed_s"] = (
            sum(s[2] - s[1] for s in spans[self.n_part_spans :] if s[0] == "plans.checkpoints.read_committed") / 1e9,
            "s",
        )
        m["sources.iceberg.overwrite_partitions.wall_s"] = (
            sum(s[2] - s[1] for s in spans[: self.n_job_spans] if s[0] == "sources.iceberg.overwrite_partitions") / 1e9,
            "s",
        )
        sink = sum(
            p.stat().st_size
            for d in (self.b.work / "out_a", self.b.work / "ck_a")
            for p in d.rglob("*")
            if p.is_file()
        )
        r.extras.update(
            {
                "job_wall_s": (self.job_s, "s"),
                "interrupted_wall_s": (self.part_s, "s"),
                "resume_wall_s": (self.resume_s, "s"),
                "sink_bytes_per_turn": (sink / self.n, "bytes"),
                "job_phases_accounted_frac": (sum(phases.values()) / self.job_s, "fraction"),
            }
        )
        r.failures += self.failures
        r.attempted += self.n


# ------------------------------------------------------------ query_mix

def _query_inputs(b: Bench) -> str:
    sf = b.work / "sf_query"
    _write_parquet(corpus.documents_table(b.seed, QUERY_DOCS), sf / "documents.parquet")
    _write_parquet(corpus.embeddings_table(b.seed, QUERY_VECS), sf / "embeddings.parquet")
    return str(sf)


def _query_open(b: Bench, sf: str, extra: dict | None = None) -> None:
    spark = b.session(None, extra)
    for name in ("documents", "embeddings"):
        spark.read.parquet(f"{sf}/{name}.parquet").count()


def _run_suite(b: Bench, sf: str, describe: bool = False) -> tuple[dict, dict]:
    """Every query of the slice, in registry order, collected to the driver
    as Arrow (the results are small; collecting them lets the check reuse
    them instead of executing every query a second time). Returns the wall
    and the result of each query."""
    from img2table_spark import queries

    walls, results = {}, {}
    for name in QUERY_SLICE:
        if describe:
            b.describe(f"query:{name}")
        walls[name], results[name] = timed(lambda: queries.QUERIES[name](b.spark, sf).toArrow())
    b.describe(None)
    return walls, results


def _query_check(sf: str, results: dict) -> list:
    """Each query's rows against its DuckDB oracle on the same tables."""
    import duckdb

    from img2table_spark import queries

    fails = []
    con = duckdb.connect()
    try:
        for name in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf}/{name}.parquet')")
        for name in QUERY_SLICE:
            reason = checks.query_mismatch(results[name].to_pandas(), con.execute(queries.ORACLES[name]).df())
            if reason:
                fails.append((name, reason))
    finally:
        con.close()
    return fails


def _excluded_notes() -> list:
    return [f"excluded {q}: {why}" for q, why in QUERY_EXCLUDED.items()]


def query_mix(b: Bench) -> Result:
    """The slice runs once per session: its memoized artifacts are built
    cold, as in a fresh job. Set-up has no warm-up: JVM compilation of the
    query plans is part of what the slice measures."""
    r = Result(notes=_excluded_notes())
    b.phase("generate")
    sf = _query_inputs(b)
    if b.trace:
        _trace_queries(b, r, sf)
        return r
    setup_s, _ = _setup(b, lambda: _query_open(b, sf), lambda _: None)
    suites = []
    t_end = time.perf_counter() + b.seconds
    with WorkerPeakRSS(jvm_pid(b.spark)) as rss:
        while not suites or time.perf_counter() < t_end:
            b.phase("measure")
            if suites:
                _query_open(b, sf)
            walls, results = _run_suite(b, sf)
            suites.append(walls)
            b.phase("check")
            r.failures += _query_check(sf, results)
    r.attempted = len(QUERY_SLICE) * len(suites)
    suite_s = median([sum(w.values()) for w in suites])
    r.metrics = _result(setup_s, suite_s, QUERY_DOCS, rss)
    r.extras = {"suite_wall_s": (suite_s, "s"), "suites": (len(suites), "count")}
    r.extras.update({f"{q}.wall_s": (median([w[q] for w in suites]), "s") for q in QUERY_SLICE})
    return r


def _trace_queries(b: Bench, r: Result, sf: str) -> None:
    """Traced query_mix: the slice untraced, then with the event log on and
    one job description per query, each in a fresh JVM as in a timed run
    (in one JVM the second slice would run on compiled plans)."""
    b.phase("trace.untraced")
    _query_open(b, sf, {"spark.eventLog.enabled": "false"})
    untraced = sum(_run_suite(b, sf)[0].values())
    b.close()
    b.phase("trace.traced")
    log_dir = b.work / "eventlog"
    _query_open(b, sf, event_log_conf(log_dir))
    walls, results = _run_suite(b, sf, describe=True)
    traced = sum(walls.values())
    b.phase("check")
    r.failures = _query_check(sf, results)
    r.attempted = len(QUERY_SLICE)
    b.close()
    b.phase("trace.collect")
    descs = by_description(read_events(log_dir))
    m = r.metrics
    _spark_metrics(m, _merge_spark([d for k, d in descs.items() if k.startswith("query:")]))
    for q in QUERY_SLICE:
        m[f"queries.{q}.wall_s"] = (walls[q], "s")
        m[f"queries.{q}.shuffle_bytes"] = (descs.get(f"query:{q}", {}).get("shuffle_write_bytes", 0), "bytes")
    spark_s = sum(descs.get(f"query:{q}", {}).get("wall_s", 0.0) for q in QUERY_SLICE)
    m["trace.wall_untraced_s"] = (untraced, "s")
    m["trace.wall_traced_s"] = (traced, "s")
    m["trace.overhead_s"] = (traced - untraced, "s")
    m["trace.accounted_frac"] = (spark_s / traced, "fraction")
    m["trace.residual_s"] = (traced - spark_s, "s")
