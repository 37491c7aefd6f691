"""Tracing for the benchmark's traced run.

``Tracer`` keeps spans (name, start, end, parent) in memory, recorded
by the benchmark's own code around each call into a layer, and writes
them out when the run ends.

``serial_replay`` runs the extraction job's Python path in this process
over the same corpus, in Arrow batches of the session's
``spark.sql.execution.arrow.maxRecordsPerBatch``:
decode -> ``extract_doc`` -> encode. With ``kernel_timers`` it also
times the kernel's parse, clustering, reading-order and HTML calls by
wrapping those names in this process only.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.compute as pc

import stirling_pdf_spark.kernel.extract as kernel_extract
from stirling_pdf_spark.kernel import extract_doc, wire
from stirling_pdf_spark.operators import extract_pipeline


class Tracer:
    def __init__(self) -> None:
        self.spans: list[list] = []  # [name, start, end, parent index]
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str):
        parent = self._open[-1] if self._open else None
        self.spans.append([name, time.perf_counter(), None, parent])
        self._open.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self.spans[self._open.pop()][2] = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """name -> summed duration minus the part its child spans cover."""
        out: dict[str, float] = defaultdict(float)
        for name, start, end, parent in self.spans:
            out[name] += end - start
            if parent is not None:
                out[self.spans[parent][0]] -= end - start
        return dict(out)

    def dump(self, path: str) -> None:
        t0 = self.spans[0][1] if self.spans else 0.0
        with open(path, "w") as f:
            json.dump({"spans": [{"name": n, "start_s": s - t0, "end_s": e - t0,
                                  "parent": p} for n, s, e, p in self.spans],
                       "self_s": self.self_times()}, f, indent=1)


# kernel names wrapped in the traced replay -> per-layer metric
_KERNEL_TARGETS = (
    (wire, "parse_text_run", "kernel.wire_parse_s"),
    (kernel_extract, "cluster_lines", "kernel.cluster_lines_s"),
    (kernel_extract, "reading_order", "kernel.reading_order_s"),
    (kernel_extract, "extract_main_blocks", "kernel.html_s"),
    (kernel_extract, "extract_all_blocks", "kernel.html_s"),
)


@contextmanager
def kernel_timers(acc: dict[str, float]):
    """Wrap the kernel's sub-layer functions with timers adding into
    ``acc``; the originals come back on exit."""
    saved = []

    def timed(fn, key):
        def wrapper(*args, **kwargs):
            t = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                acc[key] += time.perf_counter() - t
        return wrapper

    try:
        for mod, name, key in _KERNEL_TARGETS:
            fn = getattr(mod, name)
            saved.append((mod, name, fn))
            setattr(mod, name, timed(fn, key))
            acc.setdefault(key, 0.0)
        yield acc
    finally:
        for mod, name, fn in saved:
            setattr(mod, name, fn)


def serial_replay(table: pa.Table, batch_rows: int, tracer: Tracer,
                  prefix: str) -> tuple[int, int]:
    """decode -> extract_doc -> encode over ``table`` on one core in
    batches of ``batch_rows``, each step of each batch in its own span
    under ``prefix``. Returns the raw span count in and the extracted
    span count out."""
    spans_in = spans_out = 0
    for batch in table.to_batches(max_chunksize=batch_rows):
        # an IPC round trip, as between the JVM and a Python worker,
        # gives each batch its own zero-based buffers
        batch = pa.ipc.read_record_batch(batch.serialize(), batch.schema)
        with tracer.span(f"{prefix}.decode"):
            raw = extract_pipeline._decode_span_lists(batch.column("spans"))
        with tracer.span(f"{prefix}.extract_doc"):
            out = [extract_doc(r) for r in raw]
        with tracer.span(f"{prefix}.encode"):
            extract_pipeline._encode_span_lists(out)
        spans_in += sum(len(r) for r in raw)
        spans_out += sum(len(o) for o in out)
    return spans_in, spans_out


def salted_buckets(table: pa.Table, threshold: int,
                   pages_per_bucket: int) -> list[int]:
    """Raw span count of every bucket row the pipeline's router makes
    from the documents above ``threshold``."""
    sizes = pc.list_value_length(table.column("spans")).to_numpy()
    big = table.take(pa.array([i for i, n in enumerate(sizes) if n > threshold],
                              pa.int64()))
    route = extract_pipeline._route_factory(threshold, pages_per_bucket)
    return [n for rb in route(big.to_batches())
            for n in pc.list_value_length(rb.column(2)).to_pylist()]
