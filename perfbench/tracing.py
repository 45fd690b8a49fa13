"""In-process span tracer for the Python layers of the extraction path.

Spans are recorded around calls into the program's public functions by
replacing them at their import sites (the module attribute the caller looks
up), so the program itself carries no tracing code. Each span has a name,
start and end (``perf_counter_ns``) and the index of its parent span; spans
stay in memory until ``dump_spans`` writes them with a trial id. A layer's
self time is its span's duration minus the time its child spans cover.
"""

from __future__ import annotations

import base64 as _base64
import functools
import importlib
import json
import statistics
import time
import types
from collections import defaultdict
from contextlib import contextmanager

_IMAGE_MAGIC = (
    (b"\x89PNG", "png"),
    (b"\xff\xd8", "jpeg"),
    (b"II*\x00", "tiff"),
    (b"MM\x00*", "tiff"),
    (b"RIFF", "webp"),
)


def _codec(data: bytes) -> str:
    for magic, name in _IMAGE_MAGIC:
        if data[: len(magic)] == magic:
            return name
    return "other"


class Tracer:
    def __init__(self) -> None:
        # (name, start_ns, end_ns, parent_index)
        self.spans: list[tuple] = []
        self._stack: list[int] = []
        self.counts: dict[str, float] = defaultdict(float)

    def span(self, name: str, fn, *args, **kwargs):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append(None)
        self._stack.append(idx)
        t0 = time.perf_counter_ns()
        try:
            return fn(*args, **kwargs)
        finally:
            t1 = time.perf_counter_ns()
            self._stack.pop()
            self.spans[idx] = (name, t0, t1, parent)

    def wrap(self, fn, name: str, name_of=None):
        """``fn`` recorded as span ``name`` (or ``name_of(*args)``)."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return self.span(name_of(*args, **kwargs) if name_of else name, fn, *args, **kwargs)

        return traced

    def self_ns(self) -> dict[str, int]:
        """Total self time per span name: duration minus children's."""
        child = [0] * len(self.spans)
        for name, t0, t1, parent in self.spans:
            if parent >= 0:
                child[parent] += t1 - t0
        out: dict[str, int] = defaultdict(int)
        for i, (name, t0, t1, _) in enumerate(self.spans):
            out[name] += (t1 - t0) - child[i]
        return dict(out)

    def root_ns(self) -> int:
        return sum(t1 - t0 for _, t0, t1, parent in self.spans if parent < 0)


#: (module, attribute, span name) of every traced import site. Methods are
#: given as ``Class.method`` and patched on the class.
SITES = (
    ("img2table_spark.operators.extract", "extract_payload", "operators.extract.extract_payload"),
    ("img2table_spark.operators.extract", "parse_html_tables", "kernels.html_io.parse_html_tables"),
    ("img2table_spark.operators.extract", "table_to_html", "kernels.html_io.table_to_html"),
    ("img2table_spark.kernels.image_doc", "extract_image_payload", "kernels.image_doc.extract_image_payload"),
    ("img2table_spark.kernels.hocr", "parse_hocr_pages", "kernels.hocr.parse_hocr_pages"),
    ("img2table_spark.kernels.document", "extract_image_tables", "kernels.document.extract_image_tables"),
    ("img2table_spark.kernels.document", "table_get_content", "kernels.text.table_get_content"),
    ("img2table_spark.kernels.pdf_doc", "table_get_content", "kernels.text.table_get_content"),
    ("img2table_spark.kernels.document", "get_title_tables", "kernels.titles.get_title_tables"),
    ("img2table_spark.kernels.rotation", "fix_rotation_image", "kernels.rotation.fix_rotation_image"),
    ("img2table_spark.kernels.table_image", "threshold_dark_areas", "kernels.metrics.threshold_dark_areas"),
    ("img2table_spark.kernels.table_image", "compute_img_metrics", "kernels.metrics.compute_img_metrics"),
    ("img2table_spark.kernels.table_image", "detect_lines", "kernels.lines.detect_lines"),
    ("img2table_spark.kernels.table_image", "get_cells", "kernels.cells.get_cells"),
    ("img2table_spark.kernels.pdf_doc", "get_cells", "kernels.cells.get_cells"),
    ("img2table_spark.kernels.table_image", "get_tables", "kernels.tables.get_tables"),
    ("img2table_spark.kernels.pdf_doc", "get_tables", "kernels.tables.get_tables"),
    ("img2table_spark.kernels.table_image", "implicit_content", "kernels.implicit.implicit_content"),
    ("img2table_spark.kernels.pdf_doc", "implicit_content", "kernels.implicit.implicit_content"),
    (
        "img2table_spark.kernels.table_image",
        "TableImage.extract_borderless_tables",
        "kernels.table_image.extract_borderless_tables",
    ),
    ("img2table_spark.kernels.pdf_doc", "extract_pdf_payload", "kernels.pdf_doc.extract_pdf_payload"),
    ("img2table_spark.kernels.pdf_doc", "extract_pdf_tables_auto", "kernels.pdf_doc.extract_pdf_tables_auto"),
    ("img2table_spark.kernels.pdf_doc", "render_pdf_text_page", "kernels.pdf_doc.render_pdf_text_page"),
    ("img2table_spark.kernels.pdf_doc", "rasterize_pdf_page", "kernels.pdf_doc.rasterize_pdf_page"),
    ("img2table_spark.kernels.ccitt", "decode_ccitt_pdf", "kernels.ccitt.decode_ccitt_pdf"),
)

#: span names reported per turn (``<name>.self_ns``), in report order
PY_LAYERS = (
    "operators.extract.batch",
    "operators.extract.extract_payload",
    "kernels.html_io.parse_html_tables",
    "kernels.html_io.table_to_html",
    "kernels.image_doc.extract_image_payload",
    "kernels.image_doc.b64_decode",
    "kernels.image_doc.decode_image_bytes.png",
    "kernels.image_doc.decode_image_bytes.jpeg",
    "kernels.image_doc.decode_image_bytes.tiff",
    "kernels.image_doc.decode_image_bytes.webp",
    "kernels.hocr.parse_hocr_pages",
    "kernels.document.extract_image_tables",
    "kernels.rotation.fix_rotation_image",
    "kernels.metrics.threshold_dark_areas",
    "kernels.metrics.compute_img_metrics",
    "kernels.lines.detect_lines",
    "kernels.cells.get_cells",
    "kernels.tables.get_tables",
    "kernels.implicit.implicit_content",
    "kernels.table_image.extract_borderless_tables",
    "kernels.text.table_get_content",
    "kernels.titles.get_title_tables",
    "kernels.pdf_doc.extract_pdf_payload",
    "kernels.pdf_doc.extract_pdf_tables_auto",
    "kernels.pdf_doc.render_pdf_text_page",
    "kernels.pdf_doc.rasterize_pdf_page",
    "kernels.ccitt.decode_ccitt_pdf",
)


def _metric_name(span: str) -> str:
    """``kernels.image_doc.decode_image_bytes.png`` →
    ``kernels.image_doc.decode_image_bytes.self_ns.png``; others get a
    ``.self_ns`` suffix."""
    head, sep, codec = span.partition(".decode_image_bytes.")
    if sep:
        return f"{head}.decode_image_bytes.self_ns.{codec}"
    return f"{span}.self_ns"


PY_METRICS = tuple(_metric_name(s) for s in PY_LAYERS)


@contextmanager
def installed(tracer: Tracer):
    """Install the tracing wrappers at every import site; restore on exit."""
    saved = []

    def patch(owner, attr, new):
        saved.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    for mod_name, attr, name in SITES:
        owner = importlib.import_module(mod_name)
        if "." in attr:
            cls, attr = attr.split(".")
            owner = getattr(owner, cls)
        patch(owner, attr, tracer.wrap(getattr(owner, attr), name))

    image_doc = importlib.import_module("img2table_spark.kernels.image_doc")
    decode = image_doc.decode_image_bytes

    def decode_counted(data):
        img = decode(data)
        tracer.counts["megapixels"] += img.shape[0] * img.shape[1] / 1e6
        return img

    patch(
        image_doc,
        "decode_image_bytes",
        tracer.wrap(decode_counted, "", name_of=lambda data: f"kernels.image_doc.decode_image_bytes.{_codec(data)}"),
    )
    patch(
        image_doc,
        "base64",
        types.SimpleNamespace(b64decode=tracer.wrap(_base64.b64decode, "kernels.image_doc.b64_decode")),
    )

    pdf_doc = importlib.import_module("img2table_spark.kernels.pdf_doc")
    for attr in ("render_pdf_text_page", "rasterize_pdf_page"):
        page_fn = pdf_doc.__dict__[attr]

        def counted(doc, page, _fn=page_fn):
            img = _fn(doc, page)
            if img is not None:
                tracer.counts["megapixels"] += img.shape[0] * img.shape[1] / 1e6
            return img

        patch(pdf_doc, attr, counted)
    auto = pdf_doc.__dict__["extract_pdf_tables_auto"]

    def auto_counted(*args, **kwargs):
        pages, rotated = auto(*args, **kwargs)
        tracer.counts["pdf_pages"] += len(pages)
        return pages, rotated

    patch(pdf_doc, "extract_pdf_tables_auto", auto_counted)
    try:
        yield tracer
    finally:
        for owner, attr, old in reversed(saved):
            setattr(owner, attr, old)


def replay(batches, tracer: Tracer | None = None) -> list:
    """Run the program's mapInArrow batch function over Arrow record batches
    in this process; with a tracer, each batch is a span named
    ``operators.extract.batch`` and every import site is wrapped. Returns
    the output batches."""
    from img2table_spark.operators.extract import _make_batch_extract_arrow

    fn = _make_batch_extract_arrow()
    if tracer is None:
        return list(fn(iter(batches)))
    out = []
    with installed(tracer):
        for b in batches:
            out += tracer.span("operators.extract.batch", lambda: list(fn(iter([b]))))
    return out


#: repetitions of each timed replay phase
REPS = 2


def replay_partitions(parts: dict, barrier, queue) -> None:
    """Replay Spark partitions ``{partition id: [record batches]}`` in this
    process: once untimed (lazy imports), then timed without and with the
    tracing wrappers, ``REPS`` times each, each timed phase started together
    with the other processes at ``barrier``. Puts on ``queue`` per
    repetition: the walls, the median untraced cost of each partition (ns),
    self time per span and counts; and all spans, the traced output rows,
    and whether the two outputs are identical."""
    import gc

    for bs in parts.values():  # first calls import kernels lazily: untimed
        replay(bs[:1])
    # the spans list grows by a tuple per call; with the imported modules
    # frozen, the collections it triggers do not walk them
    gc.collect()
    gc.freeze()
    barrier.wait()
    plain, cost = {}, {p: [] for p in parts}
    t0 = time.perf_counter_ns()
    for _ in range(REPS):
        for p, bs in parts.items():
            c0 = time.perf_counter_ns()
            plain[p] = replay(bs)
            cost[p].append(time.perf_counter_ns() - c0)
    t1 = time.perf_counter_ns()
    barrier.wait()
    t1b = time.perf_counter_ns()
    tracer = Tracer()
    for _ in range(REPS):
        traced = {p: replay(bs, tracer) for p, bs in parts.items()}
    t2 = time.perf_counter_ns()
    rows = {p: [r for b in out for r in b.to_pylist()] for p, out in traced.items()}
    queue.put({
        "plain_ns": (t1 - t0) / REPS,
        "traced_ns": (t2 - t1b) / REPS,
        "cost_ns": {p: statistics.median(c) for p, c in cost.items()},
        "self_ns": {k: v / REPS for k, v in tracer.self_ns().items()},
        "counts": {k: v / REPS for k, v in tracer.counts.items()},
        "spans": tracer.spans,
        "rows": [r for p in sorted(rows) for r in rows[p]],
        "identical": all(rows[p] == [r for b in plain[p] for r in b.to_pylist()] for p in parts),
    })


def replay_parallel(parts: dict, procs: int) -> list:
    """``replay_partitions`` in ``procs`` spawned processes running at once,
    with partitions dealt out in id order as Spark's local scheduler deals
    tasks to cores, so the replay sees the contention the Python workers
    see (shared caches, memory bandwidth)."""
    import multiprocessing

    ctx = multiprocessing.get_context("spawn")
    shares = [{} for _ in range(procs)]
    for i, p in enumerate(sorted(parts)):
        shares[i % procs][p] = parts[p]
    shares = [s for s in shares if s]
    barrier, queue = ctx.Barrier(len(shares)), ctx.Queue()
    workers = [ctx.Process(target=replay_partitions, args=(s, barrier, queue)) for s in shares]
    try:
        for w in workers:
            w.start()
        out = [queue.get(timeout=600) for _ in workers]  # drain before joining
    except BaseException:
        for w in workers:
            if w.pid is not None:
                w.kill()
        raise
    finally:
        for w in workers:
            if w.pid is None:
                continue
            w.join(timeout=60)
            if w.is_alive():
                w.kill()
                w.join()
    return out


def dump_spans(path, shares: list) -> None:
    """Write the spans of every replay process; the trial id of a span is
    the index of the process that recorded it."""
    path.parent.mkdir(parents=True, exist_ok=True)
    with open(path, "w") as f:
        json.dump(
            {
                "fields": ["name", "start_ns", "end_ns", "parent", "trial"],
                "spans": [(*s, i) for i, sh in enumerate(shares) for s in sh["spans"]],
            },
            f,
        )
