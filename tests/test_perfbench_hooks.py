"""The extraction benchmark (perfbench/) reaches into the package by
name; a rename must fail here, not only in a traced benchmark run."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc

from perfbench.sparkstats import UDFS
from perfbench.trace import Tracer, salted_buckets, serial_replay
from stirling_pdf_spark.corpus.synth import synth_corpus
from stirling_pdf_spark.kernel import extract_doc
from stirling_pdf_spark.operators import extract_pipeline
from stirling_pdf_spark.spans import DOCS_ARROW, to_batch


def _table(n: int) -> pa.Table:
    rows = [(d, s) for d, _arch, s in synth_corpus(n, mega_pages=(3, 4))]
    return pa.Table.from_batches([to_batch(rows, DOCS_ARROW)])


def test_serial_replay_runs_the_codec_and_kernel():
    table = _table(6)
    tracer = Tracer()
    spans_in, spans_out = serial_replay(table, 4, tracer, "serial")
    docs = [s for _d, _a, s in synth_corpus(6, mega_pages=(3, 4))]
    assert spans_in == sum(len(s) for s in docs)
    assert spans_out == sum(len(extract_doc(s)) for s in docs)
    own = tracer.self_times()
    assert {"serial.decode", "serial.extract_doc", "serial.encode"} <= set(own)


def test_salted_buckets_route_every_raw_span():
    table = _table(6)
    sizes = pc.list_value_length(table.column("spans")).to_pylist()
    threshold = sorted(sizes)[-2]          # the largest doc is salted
    buckets = salted_buckets(table, threshold, 1)
    assert len(buckets) > 1
    assert sum(buckets) == sum(n for n in sizes if n > threshold)


def test_udf_names_are_pipeline_functions():
    names = {n for n, f in vars(extract_pipeline).items() if callable(f)}
    names.add(extract_pipeline._route_factory(0, 1).__name__)
    assert set(UDFS) <= names
