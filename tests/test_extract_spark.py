"""Span-sequence equality: Spark pipeline output == pure-Python oracle.

The contract (BASELINE.json): per-document equality on
(kind, text, media_ref, order). Covers all archetypes including the
salted mega-doc path (which must be bit-identical to the unsalted
kernel output despite page-range splitting + reassembly)."""

from __future__ import annotations

import pytest

from stirling_pdf_spark.corpus.spark_synth import synth_docs_df
from stirling_pdf_spark.corpus.synth import synth_corpus
from stirling_pdf_spark.kernel.extract import extract_doc
from stirling_pdf_spark.operators.extract_pipeline import extract_spans

N_DOCS = 120
MEGA_PAGES = (60, 80)  # scaled-down mega docs for test runtime
SALT_THRESHOLD = 150   # force the salted path onto the scaled megas


def _oracle(n_docs: int) -> dict[str, list[tuple]]:
    out = {}
    for doc_id, _arch, spans in synth_corpus(n_docs, mega_pages=MEGA_PAGES):
        out[doc_id] = [tuple(s) for s in extract_doc(spans)]
    return out


@pytest.fixture(scope="module")
def spark_result(spark):
    docs = synth_docs_df(spark, N_DOCS, mega_pages=MEGA_PAGES, num_partitions=8)
    result = extract_spans(docs, num_partitions=8, salt_threshold=SALT_THRESHOLD)
    rows = result.collect()
    return {
        r["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["order"]) for s in r["spans"]
        ]
        for r in rows
    }


def test_all_docs_present(spark_result):
    oracle = _oracle(N_DOCS)
    assert set(spark_result) == set(oracle)


def test_span_sequence_equality(spark_result):
    oracle = _oracle(N_DOCS)
    mismatches = []
    for doc_id, expected in oracle.items():
        got = spark_result[doc_id]
        if got != expected:
            mismatches.append((doc_id, expected[:3], got[:3]))
    assert not mismatches, f"{len(mismatches)} docs mismatch; first: {mismatches[0]}"


def test_salted_path_was_exercised(spark_result):
    oracle = _oracle(N_DOCS)
    megas = [d for d in oracle if "mega-doc" in d]
    assert megas, "corpus must contain at least one mega-doc"
    for doc_id in megas:
        assert spark_result[doc_id] == oracle[doc_id]


def test_order_is_array_index(spark_result):
    for spans in spark_result.values():
        assert [s[3] for s in spans] == list(range(len(spans)))


def test_skew_torture_one_mega_among_tiny(spark):
    """The 100x-scale skew shape: ONE ~200-page document among 300
    one-pagers. The salted path must (a) split the mega doc into
    page-range buckets whose sizes stay balanced — no single task ever
    holds the whole document — and (b) reproduce the unsalted kernel
    output bit-for-bit after reassembly."""
    import statistics

    from stirling_pdf_spark.corpus.synth import synth_from_text
    from stirling_pdf_spark.operators.extract_pipeline import _bucket_of

    words = [f"w{i}" for i in range(200 * 40 * 8)]   # 200 pages
    mega_id, mega_spans = synth_from_text("mega-0", " ".join(words))
    rows = [(mega_id, [dict(kind=k, text=t, media_ref=m, offset=o)
                       for k, t, m, o in mega_spans])]
    for i in range(300):
        did, spans = synth_from_text(f"tiny-{i}", f"tiny doc {i} body")
        rows.append((did, [dict(kind=k, text=t, media_ref=m, offset=o)
                           for k, t, m, o in spans]))
    schema = ("doc_id string, spans array<struct<kind:string,"
              "text:string,media_ref:string,offset:int>>")
    docs = spark.createDataFrame(rows, schema)

    ppb = 8
    out = extract_spans(docs, num_partitions=16, salt_threshold=100,
                        pages_per_bucket=ppb)
    got = {r["doc_id"]: [(s["kind"], s["text"], s["media_ref"],
                          s["order"]) for s in r["spans"]]
           for r in out.collect()}
    assert got[mega_id] == [tuple(s) for s in extract_doc(mega_spans)]
    assert got["tiny-7"] == [tuple(s) for s in extract_doc(
        synth_from_text("tiny-7", "tiny doc 7 body")[1])]

    # bucket balance: the mega doc's spans group by page range; the
    # largest bucket must not dominate (max/median < 2) and the doc
    # must split into enough buckets to spread across a wave of tasks
    counts: dict[int, int] = {}
    for k, t, _m, _o in mega_spans:
        b = _bucket_of(k, t, ppb)
        counts[b] = counts.get(b, 0) + 1
    page_buckets = [v for b, v in counts.items() if b >= 0]
    assert len(page_buckets) >= 16
    assert max(page_buckets) / statistics.median(page_buckets) < 2.0


def test_stage_paths_bit_identical(spark, tmp_path):
    """The staged (persist) and plain-scan routing paths must produce
    identical spans; auto-detection picks by input plan shape, so the
    same docs take the staged path as a derivation and the two-branch
    path when read back from Parquet."""
    from stirling_pdf_spark.corpus.spark_synth import synth_docs_df
    from stirling_pdf_spark.operators.extract_pipeline import (
        _has_python_stage, extract_spans,
    )

    docs = synth_docs_df(spark, 60, seed=42, mega_pages=(30, 40),
                         num_partitions=4)
    path = str(tmp_path / "docs.parquet")
    docs.write.parquet(path)
    pq = spark.read.parquet(path)
    assert _has_python_stage(pq) is False      # plain scan: no persist
    assert _has_python_stage(docs) is True     # derivation: staged once
    a = extract_spans(pq, num_partitions=4, salt_threshold=150)
    b = extract_spans(docs, num_partitions=4, salt_threshold=150)
    assert a.count() == 60
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_empty_salted_branch_runs_one_task_per_stage(spark, tmp_path):
    """On a plain-scan corpus with no mega-doc, AQE sizes the salted
    branch's shuffles: its route and per-bucket Python stages run at
    most one task each, whatever ``num_partitions`` is."""
    from stirling_pdf_spark.corpus.spark_synth import synth_docs_df

    path = str(tmp_path / "docs.parquet")
    synth_docs_df(spark, 40, seed=7, mega_pages=(5, 8),
                  num_partitions=2).write.parquet(path)
    sc = spark.sparkContext
    group = "empty-salted-branch"
    sc.setJobGroup(group, group)
    try:
        out = extract_spans(spark.read.parquet(path), num_partitions=8)
        assert out.count() == 40
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)

    store = sc._jsc.sc().statusStore()
    cc = spark._jvm.scala.jdk.javaapi.CollectionConverters
    tracker = sc.statusTracker()
    stage_ids = sorted({s for j in tracker.getJobIdsForGroup(group)
                        for s in tracker.getJobInfo(j).stageIds})

    def operators(cluster):
        yield cluster.name()
        for child in cc.asJava(cluster.childClusters()):
            yield from operators(child)

    salted = []   # Python stages that feed a shuffle, not the result stage
    for sid in stage_ids:
        # past spark.ui.retainedStages the status store evicts skipped
        # stages (no tasks) first; a missing salted stage still fails
        # the count below
        if tracker.getStageInfo(sid) is None:
            continue
        attempt = store.lastStageAttempt(sid)
        ops = set(operators(store.operationGraphForStage(sid).rootCluster()))
        if attempt.status().toString() == "COMPLETE" and "MapInArrow" in ops \
                and "Union" not in ops:
            salted.append(attempt.numCompleteTasks())
    assert len(salted) == 2, salted
    assert max(salted) <= 1, salted
