"""The span table's Arrow boundary: one codec and one per-document stage.

Every Python stage over ``docs(doc_id, spans: array<struct<kind, text,
media_ref, offset>>)`` crosses the same boundary: Arrow batch -> span
tuples -> per-document work -> Arrow batch. It is written once here:

  * ``decode`` turns a span-list column into lists of
    ``(kind, text, media_ref, offset)`` tuples, four flat
    ``to_pylist()`` calls and one zip instead of a dict per span;
  * ``to_batch`` builds an output batch from row tuples, each column
    encoded with ``pa.array`` under the Arrow type of its Spark field,
    so a spans-valued column carries the declared struct field names;
  * ``map_docs`` is the per-document operator stage: repartition by
    ``doc_id`` (``doc_partitions``, the one partition rule), decode
    each batch, call ``per_doc(doc_id, spans)`` for its row tuples,
    encode.
"""

from __future__ import annotations

from typing import Callable, Iterable

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema, to_arrow_type

from .sources.tables import DOCS_SCHEMA

DOCS_ARROW = to_arrow_schema(DOCS_SCHEMA)   # batches of docs sources


def doc_partitions(docs: DataFrame) -> int:
    """Partition count of every per-document Python stage: twice the
    session's default parallelism, so a slow document shares its task
    with fewer others."""
    return docs.sparkSession.sparkContext.defaultParallelism * 2


def decode(col: "pa.Array", off_field: str = "offset") -> list[list[tuple]]:
    """array<struct<kind,text,media_ref,{off_field}>> -> one list of
    (kind, text, media_ref, off) tuples per row."""
    lst = col.combine_chunks() if hasattr(col, "combine_chunks") else col
    vals = lst.flatten()
    flat = list(zip(
        vals.field("kind").to_pylist(),
        vals.field("text").to_pylist(),
        vals.field("media_ref").to_pylist(),
        vals.field(off_field).to_pylist(),
    ))
    # flatten() drops the values before a slice; its offsets count them
    offs = lst.offsets.to_pylist()
    base = offs[0] if offs else 0
    return [flat[a - base:b - base] for a, b in zip(offs, offs[1:])]


def encode(span_lists: list[list[tuple]], dtype: T.DataType) -> "pa.Array":
    """Span-tuple lists -> an Arrow array of the Spark type ``dtype``
    (an array of span structs)."""
    return pa.array(span_lists, to_arrow_type(dtype))


def to_batch(rows: list[tuple], schema: "pa.Schema") -> "pa.RecordBatch":
    """Row tuples -> a record batch of the Arrow ``schema`` (see
    ``to_arrow_schema``); no rows gives an empty, typed batch."""
    cols = list(zip(*rows)) if rows else [()] * len(schema)
    return pa.RecordBatch.from_arrays(
        [pa.array(c, f.type) for c, f in zip(cols, schema)], schema=schema)


def map_docs(docs: DataFrame,
             per_doc: Callable[[str, list[tuple]], Iterable[tuple]],
             schema: T.StructType) -> DataFrame:
    """One Arrow stage over the raw docs table: ``per_doc(doc_id,
    spans)`` yields the output rows of one document as tuples in
    ``schema`` order (none for a document that emits nothing)."""
    arrow_schema = to_arrow_schema(schema)

    def run(batches):
        for rb in batches:
            ids = rb.column("doc_id").to_pylist()
            raw = decode(rb.column("spans"))
            yield to_batch([row for did, spans in zip(ids, raw)
                            for row in per_doc(did, spans)], arrow_schema)

    return docs.repartition(doc_partitions(docs), "doc_id").mapInArrow(
        run, schema)
