"""The distributed extraction pipeline (the north-rule job).

Shape (SURVEY.md §3.1 "Spark equivalent"):

    read docs -> repartition(num_partitions, hash(doc_id))
              -> mapInArrow(route):                       ONE source scan
                   small doc -> extracted spans (final)
                   mega doc  -> raw page-range bucket rows (salt)
              -> persist (spill-safe staging of the routed stage)
              -> [final] project                           (no more work)
                 [mega]   repartition(doc_id, bucket)      (AQE-sized)
                          -> mapInArrow(kernel, unbudgeted)
                          -> groupBy(doc_id) applyInPandas(reassemble+budget)
    -> unionByName -> write spans_out + metrics + lineage

The salted branch's shuffles carry no partition count, so AQE sizes
them from the data: a corpus without mega-docs runs each of its Python
stages as one task instead of ``num_partitions`` empty ones.

Why salting: one 1500-page PDF in a hash-partitioned batch of 1-page
docs is exactly the skew the reference never faces (one doc == one HTTP
request there; SURVEY.md §4 "Skew handling"). At 100 TB a single
straggler partition dominates the stage, so mega-docs are split into
page-range sub-documents (salt = page bucket), extracted independently
(page-local semantics: line clustering and column layout never cross
pages), and reassembled with the global 2000-text-chunk budget
re-applied — bit-identical to the unsalted kernel output.

The route and both extraction stages are mapInArrow stages over the
span codec (``stirling_pdf_spark/spans.py``: columnar decode, encode
under the declared schema; no per-row Spark Python UDFs); only the
mega-doc reassembly is a grouped applyInPandas. The only shuffles are
the repartition by doc_id and the (mega-doc-only) bucket shuffle +
regroup, both on keys that are unique or salted — no hot keys by
construction.

Why the staging persist is CONDITIONAL: the routed stage feeds two
branches (final docs and mega-doc buckets). Without a persist Catalyst
computes each branch as its own subtree — twice the source scan and
twice the kernel work, which is disastrous when the input is an
expensive derivation (corpus synthesis, a join). But when the input is
a plain Parquet/Iceberg scan, two pruned scans are CHEAPER than writing
the whole routed output through the memory store (measured: the
unconditional persist cost ~40% wall at local[8] on a
memory-bandwidth-bound box). So the input plan decides: inputs whose
plan contains a Python stage (mapInPandas/mapInArrow/UDF) are staged
once (persist MEMORY_AND_DISK — spills instead of OOMing, and the
ContextCleaner drops the cache when the DataFrame is collected); plain
scans take the two-branch filter shape where each branch reads the
source directly.
"""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..kernel.extract import extract_doc
from ..kernel.model import MAX_CHUNKS_PER_DOC
from ..spans import decode, doc_partitions, encode, to_batch

OUT_SPAN_STRUCT = T.StructType([
    T.StructField("kind", T.StringType(), False),
    T.StructField("text", T.StringType(), True),
    T.StructField("media_ref", T.StringType(), True),
    T.StructField("order", T.IntegerType(), False),
])
_OUT_SPANS = T.ArrayType(OUT_SPAN_STRUCT)
SPANS_OUT_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("spans", _OUT_SPANS, False),
])
_SUB_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("bucket", T.LongType(), False),
    T.StructField("spans", _OUT_SPANS, False),
])
# routed stage: final docs carry extracted spans; mega-doc bucket rows
# carry RAW spans (the struct's 4th field then holds the raw offset)
_ROUTED_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("bucket", T.LongType(), False),
    T.StructField("spans", _OUT_SPANS, False),
    T.StructField("final", T.BooleanType(), False),
])

# spans-per-doc threshold above which a doc takes the salted path; a
# mega-doc per FIXTURES.md has >= 3000 raw spans, normal docs < 1200
DEFAULT_SALT_THRESHOLD = 4000
PAGES_PER_BUCKET = 100
_HTML_BUCKET = (1 << 30) - 1   # html blocks read after all pages
_BOOKMARK_BUCKET = 1 << 30     # bookmark tree after html (kernel contract)
_ATTACH_BUCKET = (1 << 30) + 1  # attachments read last (kernel contract)


# the codec under the names perfbench's serial replay reads
_decode_span_lists = decode


def _encode_span_lists(span_lists: list[list[tuple]]) -> "pa.ListArray":
    return encode(span_lists, _OUT_SPANS)


def _bucket_of(kind: str, text: str, pages_per_bucket: int) -> int:
    """Salt bucket of one raw span — the Python mirror of the routing
    the kernel's reading order implies (meta first, pages ascending,
    html -> bookmarks -> attachments last)."""
    if kind == "meta":
        return -1
    if kind == "attachment":
        return _ATTACH_BUCKET
    if kind == "bookmark":
        return _BOOKMARK_BUCKET
    if kind == "html":
        return _HTML_BUCKET
    if kind in ("text", "media", "rule", "pagemeta"):
        return int(text.split("|", 1)[0]) // pages_per_bucket
    return 0


def _route_factory(salt_threshold: int, pages_per_bucket: int):
    routed = to_arrow_schema(_ROUTED_SCHEMA)

    def route(batches):
        for rb in batches:
            rows: list[tuple] = []
            for did, spans in zip(rb.column("doc_id").to_pylist(),
                                  decode(rb.column("spans"))):
                if len(spans) <= salt_threshold:
                    rows.append((did, 0, extract_doc(spans), True))
                    continue
                by_bucket: dict[int, list[tuple]] = {}
                for s in spans:
                    by_bucket.setdefault(
                        _bucket_of(s[0], s[1], pages_per_bucket), []
                    ).append(s)
                rows.extend((did, b, sub, False)
                            for b, sub in by_bucket.items())
            yield to_batch(rows, routed)

    return route


def _extract_small(batches):
    for rb in batches:
        out = [extract_doc(spans) for spans in decode(rb.column("spans"))]
        yield pa.RecordBatch.from_arrays(
            [rb.column("doc_id"), _encode_span_lists(out)],
            names=["doc_id", "spans"],
        )


def _extract_sub(batches):
    # unbudgeted: the 2000-chunk cap is global per doc, applied at
    # reassembly (see module docstring). The raw offsets of the bucket
    # rows travel in the struct's 'order' field.
    for rb in batches:
        out = [extract_doc(spans, chunk_budget=None)
               for spans in decode(rb.column("spans"), "order")]
        yield pa.RecordBatch.from_arrays(
            [rb.column("doc_id"), rb.column("bucket"),
             _encode_span_lists(out)],
            names=["doc_id", "bucket", "spans"],
        )


def _reassemble(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values("bucket")
    merged: list[dict] = []
    n_text = 0
    for arr in pdf["spans"]:
        for d in arr:
            if d["kind"] == "text":
                if n_text >= MAX_CHUNKS_PER_DOC:
                    continue
                n_text += 1
            merged.append(
                {"kind": d["kind"], "text": d["text"],
                 "media_ref": d["media_ref"], "order": len(merged)}
            )
    return pd.DataFrame({"doc_id": [pdf["doc_id"].iloc[0]], "spans": [merged]})


_PY_STAGE_MARKERS = ("MapInPandas", "MapInArrow", "PythonMapInArrow",
                     "ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas")
# higher-order functions over the span arrays (docs-table transforms
# like set_outline / add_page_numbers / attachment CRUD): cheap per
# row, but re-computing them per extraction branch doubles real work —
# measured 19 s vs 2.6 s on the ×32 repeat corpus at local[32] when
# the set_outline transform was evaluated by both salt branches
_EXPR_STAGE_MARKERS = ("lambdafunction",)


def _has_python_stage(df: DataFrame) -> bool:
    """True when the input plan would re-run real work per consumer —
    a Python evaluation stage (user code) or a higher-order span
    transform (nested-array rewrite), as opposed to a plain file scan.
    Conservative (stage) if the plan can't be read."""
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
    except Exception:
        return True
    return any(m in plan for m in _PY_STAGE_MARKERS) or \
        any(m in plan for m in _EXPR_STAGE_MARKERS)


def extract_spans(
    docs: DataFrame,
    num_partitions: int | None = None,
    salt_threshold: int = DEFAULT_SALT_THRESHOLD,
    pages_per_bucket: int = PAGES_PER_BUCKET,
) -> DataFrame:
    """docs(doc_id, spans: array<raw span struct>) ->
    spans_out(doc_id, spans: array<(kind,text,media_ref,order)>).

    ``num_partitions`` sizes the per-document pass (the doc_id
    repartition before the route or small-doc extraction; default
    ``spans.doc_partitions``); the salted branch's shuffles are left
    to AQE. The routed stage is persisted iff the input plan contains
    a Python stage (module docstring); both paths are bit-identical
    (pinned in tests)."""
    if num_partitions is None:
        num_partitions = doc_partitions(docs)

    if _has_python_stage(docs):
        from ..runtime.staging import stage as stage_df

        routed = stage_df(
            docs.repartition(num_partitions, "doc_id")
            .mapInArrow(_route_factory(salt_threshold, pages_per_bucket),
                        _ROUTED_SCHEMA)
        )
        small_out = routed.filter(F.col("final")).select("doc_id", "spans")
        sub_src = routed.filter(~F.col("final")).select(
            "doc_id", "bucket", "spans")
    else:
        # plain-scan input: two pruned scans beat a full memory-store
        # write; route only the (rare) mega docs through the splitter
        n_spans = F.size("spans")
        small_out = (
            docs.filter(n_spans <= salt_threshold)
            .repartition(num_partitions, "doc_id")
            .mapInArrow(_extract_small, SPANS_OUT_SCHEMA)
        )
        sub_src = (
            docs.filter(n_spans > salt_threshold)
            .repartition("doc_id")
            .mapInArrow(_route_factory(0, pages_per_bucket), _ROUTED_SCHEMA)
            .select("doc_id", "bucket", "spans")
        )

    sub = (
        sub_src.repartition("doc_id", "bucket")
        .mapInArrow(_extract_sub, _SUB_SCHEMA)
    )
    big_out = sub.groupBy("doc_id").applyInPandas(_reassemble, SPANS_OUT_SCHEMA)

    return small_out.unionByName(big_out)


def explode_spans(spans_out: DataFrame) -> DataFrame:
    """Flat view (doc_id, kind, text, media_ref, order) for relational
    consumers — the reference's per-element JSON rows (E7/E8)."""
    return spans_out.select(
        "doc_id", F.explode("spans").alias("s")
    ).select(
        "doc_id",
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.order").alias("order"),
    )


def extract_metadata(spans_out: DataFrame) -> DataFrame:
    """E15 document metadata (PdfJsonConversionService.java:2781-2810,
    AnalysisController.java:76-99): the Info-dict key/value pairs the
    kernel emitted as leading kind='meta' spans, as a flat
    (doc_id, key, value) table."""
    flat = explode_spans(spans_out).filter(F.col("kind") == "meta")
    return flat.select(
        "doc_id",
        F.split_part("text", F.lit("|"), F.lit(1)).alias("key"),
        F.substring_index("text", "|", -1).alias("value"),
    )
