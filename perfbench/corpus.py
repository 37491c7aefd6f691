"""Seeded workload corpora and their in-process oracle.

A corpus is K shards of the ``docs(doc_id, spans)`` table, each made by
the package's ``synth_docs_df``. Every shard holds the archetype mix at
exact quotas (the first documents of each archetype in index order), so
two seeds differ in content but not in mix: mega-docs carry most of
the spans, and a free binomial mix would move docs/sec by more than the
benchmark's bounds from one seed to the next.

The oracle is ``extract_doc`` run in this process on the raw spans read
back from the shard's Parquet files. Both it and the Spark job reduce
each document's span sequence to the same SHA-256 digest over
(kind, text, media_ref, order).
"""

from __future__ import annotations

import hashlib
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

from stirling_pdf_spark.corpus.spark_synth import synth_docs_df
from stirling_pdf_spark.corpus.synth import ARCHETYPES, _pick_archetype
from stirling_pdf_spark.kernel import extract_doc

PINNED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "pinned_digests.json")
_FIELD_SEP = "\x1e"
_SPAN_SEP = "\x1f"
_NULL = "\x00"


def quotas(n: int) -> dict[str, int]:
    """Documents per archetype for an ``n``-doc shard: the synthesizer's
    weights, rounded by largest remainder so they sum to ``n``."""
    total = sum(w for _, w in ARCHETYPES)
    exact = {a: n * w / total for a, w in ARCHETYPES}
    out = {a: int(v) for a, v in exact.items()}
    for a in sorted(exact, key=lambda a: out[a] - exact[a])[:n - sum(out.values())]:
        out[a] += 1
    return out


def _parse_id(doc_id: str) -> tuple[str, int]:
    # synth_docs_df names documents "doc-{archetype}-{idx:08d}"
    return doc_id[4:-9], int(doc_id[-8:])


def select_ids(n: int, seed: int) -> list[str]:
    """The first documents of each archetype in index order, at
    ``quotas(n)``, named as ``synth_docs_df`` names them. The archetype
    of an index is the synthesizer's own seeded pick, so no document
    is synthesized to find it."""
    want = quotas(n)
    picked: list[str] = []
    idx = 0
    while len(picked) < n:
        arch = _pick_archetype(idx, seed)
        if want[arch]:
            want[arch] -= 1
            picked.append(f"doc-{arch}-{idx:08d}")
        idx += 1
    return sorted(picked)


def write_shard(spark: SparkSession, path: str, shard: int, n: int,
                seed: int, mega_pages: tuple[int, int]) -> None:
    """Synthesize shard ``shard`` (``n`` docs) and write it as Parquet.
    Doc ids get an ``s{shard}-`` prefix, so shards never collide."""
    ids = select_ids(n, seed)
    span = max(_parse_id(d)[1] for d in ids) + 1
    (synth_docs_df(spark, span, seed=seed, mega_pages=mega_pages)
     .filter(F.col("doc_id").isin(ids))
     .withColumn("doc_id", F.concat(F.lit(f"s{shard}-"), "doc_id"))
     .write.mode("overwrite").parquet(path))


def read_raw(path: str) -> pa.Table:
    return pq.read_table(path, columns=["doc_id", "spans"])


def raw_span_lists(spans: pa.ChunkedArray) -> list[list[tuple]]:
    """Arrow ``array<struct<kind,text,media_ref,offset>>`` -> lists of
    (kind, text, media_ref, offset) tuples."""
    out: list[list[tuple]] = []
    for chunk in spans.chunks:
        vals = chunk.values  # with absolute offsets: right for slices too
        flat = list(zip(*(vals.field(f).to_pylist()
                          for f in ("kind", "text", "media_ref", "offset"))))
        offs = chunk.offsets.to_pylist()
        out.extend(flat[offs[i]:offs[i + 1]] for i in range(len(chunk)))
    return out


def span_digest(spans) -> str:
    """Digest of one document's output span sequence; equal to
    ``digest_col`` on the same spans."""
    text = _SPAN_SEP.join(
        _FIELD_SEP.join((k, _NULL if t is None else t,
                         _NULL if m is None else m, str(o)))
        for k, t, m, o in spans)
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def digest_col(spans: str = "spans") -> Column:
    """Spark-side ``span_digest`` of an output ``spans`` column."""
    fields = F.transform(spans, lambda s: F.concat_ws(
        _FIELD_SEP, s["kind"], F.coalesce(s["text"], F.lit(_NULL)),
        F.coalesce(s["media_ref"], F.lit(_NULL)), s["order"].cast("string")))
    return F.sha2(F.array_join(fields, _SPAN_SEP), 256)


def oracle(table: pa.Table) -> tuple[dict[str, str], list[int]]:
    """doc_id -> digest of ``extract_doc`` output, and the raw span
    count of every document."""
    ids = table.column("doc_id").to_pylist()
    raws = raw_span_lists(table.column("spans"))
    digests = {did: span_digest(extract_doc(raw)) for did, raw in zip(ids, raws)}
    return digests, [len(r) for r in raws]


def corpus_digest(digests: dict[str, str]) -> str:
    """One digest of a whole output, independent of row order."""
    lines = "\n".join(f"{d}:{h}" for d, h in sorted(digests.items()))
    return hashlib.sha256(lines.encode("utf-8")).hexdigest()


def pinned_digest(workload: str, seed: int) -> str | None:
    with open(PINNED_PATH) as f:
        return json.load(f).get(workload, {}).get(str(seed))


def compare(expected: dict[str, str], got: list[tuple[str, str]]) -> set[str]:
    """Documents missing from ``got``, or whose digest differs from
    ``expected``, or that ``got`` holds twice or does not expect."""
    seen: set[str] = set()
    bad = set()
    for did, h in got:
        if did in seen or expected.get(did) != h:
            bad.add(did)
        seen.add(did)
    return bad | (expected.keys() - seen)
