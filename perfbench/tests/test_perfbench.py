"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

Builds tiny corpora in a temporary directory; the CLI test runs the
real mixed_corpus workload for one second per mode.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

from pyspark.sql import functions as F

from perfbench import corpus, workloads
from perfbench.measure import _job
from perfbench.workloads import Bench, Workload

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
TINY = Workload("tiny", 24, (3, 5), salted=False)


def _input_digest(spark, path: str, n: int, seed: int) -> str:
    corpus.write_shard(spark, path, 0, n, seed, (3, 5))
    table = corpus.read_raw(path).sort_by("doc_id")
    rows = zip(table.column("doc_id").to_pylist(),
               corpus.raw_span_lists(table.column("spans")))
    return hashlib.sha256(repr(list(rows)).encode()).hexdigest()


def test_same_seed_same_corpus(spark, work):
    a = _input_digest(spark, os.path.join(work, "a"), 24, 7)
    b = _input_digest(spark, os.path.join(work, "b"), 24, 7)
    c = _input_digest(spark, os.path.join(work, "c"), 24, 8)
    assert a == b
    assert a != c


def test_quotas_follow_archetype_weights():
    q = corpus.quotas(200)
    assert sum(q.values()) == 200
    assert q["mega-doc"] == 8 and q["single-col"] == 80


def _tiny_bench(spark, work, name: str) -> Bench:
    bench = Bench(spark, TINY, 3, os.path.join(work, name))
    bench.setup_shard(0)
    return bench


def test_clean_job_has_no_failures(spark, work):
    bench = _tiny_bench(spark, work, "clean")
    sample, bad = _job(bench, "job-0")
    assert bad == set()
    assert sample.docs == bench.n_docs == 24


def test_corrupted_span_raises_fail_ratio(spark, work, monkeypatch):
    bench = _tiny_bench(spark, work, "corrupt")
    victim = sorted(bench.expected)[0]
    real = workloads.extract_spans

    def corrupting(docs):
        out = real(docs)
        return out.withColumn("spans", F.when(
            F.col("doc_id") == victim,
            F.transform("spans", lambda s: s.withField(
                "text", F.concat(s["text"], F.lit("!"))))).otherwise(F.col("spans")))

    monkeypatch.setattr(workloads, "extract_spans", corrupting)
    _, bad = _job(bench, "job-0")
    assert bad == {victim}
    assert len(bad) / bench.n_docs > 0


def test_printed_metrics_are_declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "mixed_corpus",
             "--seed", "42", "--seconds", "1", "--trace", str(trace)],
            cwd=ROOT, capture_output=True, text=True, timeout=600)
        assert proc.returncode == 0, proc.stderr[-3000:]
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        declared = {m["name"]: m["unit"] for m in spec[key]}
        assert {k: v["unit"] for k, v in result["metrics"].items()} == declared
        assert result["correct"] and result["failed"] == 0
