"""The span codec and the per-document stage (stirling_pdf_spark/spans.py)."""

from __future__ import annotations

from types import SimpleNamespace

import pyarrow as pa
from hypothesis import given, settings, strategies as st
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from stirling_pdf_spark.kernel import wire
from stirling_pdf_spark.sources.tables import DOCS_SCHEMA
from stirling_pdf_spark.spans import (
    DOCS_ARROW, decode, encode, map_docs, to_batch,
)

_SPANS = DOCS_SCHEMA["spans"].dataType
_TEXT = st.one_of(st.none(), st.text(max_size=12))   # non-ASCII included
_SPAN = st.tuples(st.sampled_from(["text", "media", "html", "attachment"]),
                  _TEXT, _TEXT, st.integers(-2**31, 2**31 - 1))
_DOCS = st.lists(st.lists(_SPAN, max_size=6), max_size=8)   # [] = empty batch


@settings(max_examples=80, deadline=None)
@given(_DOCS)
def test_decode_inverts_encode(docs):
    assert decode(encode(docs, _SPANS)) == docs


@settings(max_examples=40, deadline=None)
@given(_DOCS, st.data())
def test_decode_of_a_slice_and_after_ipc(docs, data):
    arr = encode(docs, _SPANS)
    lo = data.draw(st.integers(0, len(docs)))
    hi = data.draw(st.integers(lo, len(docs)))
    assert decode(arr.slice(lo, hi - lo)) == docs[lo:hi]
    rb = to_batch([(str(i), s) for i, s in enumerate(docs)], DOCS_ARROW)
    back = pa.ipc.read_record_batch(rb.serialize(), rb.schema)
    assert decode(back.column("spans")) == docs


def test_empty_batch_is_typed():
    rb = to_batch([], DOCS_ARROW)
    assert rb.num_rows == 0 and rb.schema.equals(DOCS_ARROW)
    assert decode(rb.column("spans")) == []


def _stage(per_doc, schema):
    """map_docs' Arrow function, taken from a stand-in DataFrame."""
    ctx = SimpleNamespace(defaultParallelism=1)
    docs = SimpleNamespace(
        sparkSession=SimpleNamespace(sparkContext=ctx),
        repartition=lambda n, key: SimpleNamespace(
            mapInArrow=lambda fn, _schema: fn))
    return map_docs(docs, per_doc, schema)


_BATCH = to_batch([("a", [("text", "1|0.0|0.0|9.0|F\tx", "", 0)]),
                   ("b", [])], DOCS_ARROW)


def test_per_doc_without_rows_gives_empty_typed_batch():
    schema = T.StructType([T.StructField("doc_id", T.StringType(), False),
                           T.StructField("n", T.LongType(), False)])
    [out] = _stage(lambda did, spans: [], schema)([_BATCH])
    assert out.num_rows == 0
    assert out.schema.equals(to_arrow_schema(schema))


def test_spans_output_encodes_under_docs_schema_names():
    # add_comments / edit_text shape: spans out under the input schema
    [out] = _stage(lambda did, spans: [(did, spans + [("x", None, None, 7)])],
                   DOCS_SCHEMA)([_BATCH])
    struct = out.schema.field("spans").type.value_type
    assert [f.name for f in struct] == ["kind", "text", "media_ref", "offset"]
    assert decode(out.column("spans")) == [
        [("text", "1|0.0|0.0|9.0|F\tx", "", 0), ("x", None, None, 7)],
        [("x", None, None, 7)]]


def test_map_docs_empty_output_on_spark(spark):
    schema = T.StructType([T.StructField("doc_id", T.StringType(), False),
                           T.StructField("n", T.LongType(), False)])
    docs = spark.createDataFrame([("a", [("text", "t", None, 0)])],
                                 DOCS_SCHEMA)
    out = map_docs(docs, lambda did, spans: [], schema)
    assert out.schema == schema and out.collect() == []
    got = map_docs(docs, lambda did, spans: [(did, len(spans))], schema)
    assert [tuple(r) for r in got.collect()] == [("a", 1)]


def test_by_page_groups_kinds_in_offset_order():
    spans = [("text", "2|0.0|0.0|9.0|F\tb", "", 3),
             ("media", "1|1.0|2.0|3.0|4.0", "m", 2),
             ("text", "2|0.0|0.0|9.0|F\ta", "", 1),
             ("rule", "1|0.0|5.0|9.0|5.0", "", 0),
             ("html", "<p>x</p>", "", 4)]
    pages = wire.by_page(spans, ("text", "media"))
    assert set(pages) == {"text", "media"}
    assert [r.content for r in pages["text"][2]] == ["a", "b"]
    assert [d.media_ref for d in pages["media"][1]] == ["m"]
    assert wire.by_page(spans, ("rule",))["rule"][1][0].y1 == 5.0
