"""Set-up, the timed closed loop and the traced run of one workload.

End-to-end metrics (tracing off):
    docs_per_s      median over jobs of documents brought to a correct
                    result / job wall time (checkpoint_resume: the
                    pending documents the resume extracted)
    cpu_s_per_kdoc  median over jobs of the user + system CPU of the
                    process tree (driver, JVM, Python workers) during
                    the job / 1000 docs
    peak_rss_mb     median over jobs of the largest resident memory of
                    that tree sampled while the job ran, less the
                    JVM's committed Java heap
    setup_s         everything before the first timed job: session
                    start, every shard's synthesis and oracle digests,
                    and one checked warm-up job on the full corpus
                    (checkpoint_resume: the template commit)
"""

from __future__ import annotations

import statistics
import time
from dataclasses import dataclass, field

from stirling_pdf_spark.operators.extract_pipeline import DEFAULT_SALT_THRESHOLD

from perfbench.corpus import compare, corpus_digest, pinned_digest
from perfbench.host import PeakRss, cpu_delta, jvm_heap_mb, tree_cpu
from perfbench.workloads import SHARDS, WORKLOADS, Bench

MIN_JOBS = 3


@dataclass
class Result:
    metrics: dict[str, float]
    correct: bool
    attempted: int
    failed: int
    n_docs: int
    jobs: int
    notes: list[str] = field(default_factory=list)


@dataclass
class Sample:
    wall_s: float
    docs: int
    cpu_s: float
    rss_mb: float


def _guards(bench: Bench) -> list[str]:
    """What the workload claims to exercise and does not."""
    salted = sum(n > DEFAULT_SALT_THRESHOLD for n in bench.raw_sizes)
    problems = []
    if bench.wl.salted and not salted:
        problems.append("no document exceeds the salt threshold")
    if not bench.wl.salted and salted:
        problems.append(f"{salted} documents exceed the salt threshold")
    if bench.wl.pending_share and \
            bench.n_pending != round(bench.n_docs * bench.wl.pending_share):
        problems.append(f"{bench.n_pending} of {bench.n_docs} documents pending")
    return problems


def _job(bench: Bench, run_id: str) -> tuple[Sample, set[str]]:
    """One timed job and the documents it got wrong. Its peak memory
    leaves out the JVM's Java heap (see README.md)."""
    rss = PeakRss(lambda: jvm_heap_mb(bench.spark))
    before = tree_cpu()
    if bench.wl.pending_share:
        with rss:
            wall, done = bench.checkpoint_job(run_id)
        cpu = cpu_delta(before, tree_cpu())
        bad = bench.check_checkpoint(run_id)
        if done != bench.n_pending:
            bad.add(f"<{done} docs done, {bench.n_pending} pending>")
        return Sample(wall, done, cpu, rss.peak_mb), bad
    with rss:
        wall, got = bench.extract_job()
    cpu = cpu_delta(before, tree_cpu())
    return Sample(wall, bench.n_docs, cpu, rss.peak_mb), compare(bench.expected, got)


def run_workload(name: str, seed: int, seconds: float, trace: bool,
                 cores: int, work: str, session, shutdown) -> Result:
    wl = WORKLOADS[name]
    t0 = time.perf_counter()
    spark = session(cores, work)
    session_s = time.perf_counter() - t0
    try:
        bench = Bench(spark, wl, seed, work)
        shard_s = []
        for k in range(SHARDS):
            t = time.perf_counter()
            bench.setup_shard(k)
            shard_s.append(time.perf_counter() - t)
        t = time.perf_counter()
        # the first job of a session takes 1.4-1.7 times as long as later
        # ones while the JVM compiles its hot code, so one job warms up;
        # after it, CPU per job keeps falling by about 10% over a minute
        # (README.md), longer than a run can warm up for, so the timed
        # jobs report medians. checkpoint_resume's template commit is a
        # checkpoint run over most of the corpus: its warm-up job.
        if wl.pending_share:
            bad = bench.commit_template()
        else:
            bad = _job(bench, "warmup")[1]
        warm_s = time.perf_counter() - t
        setup_s = session_s + sum(shard_s) + warm_s

        notes = [f"setup: session {session_s:.2f} s, shards "
                 + ", ".join(f"{s:.2f}" for s in shard_s)
                 + f" s, warm-up {warm_s:.2f} s"]
        problems = _guards(bench)
        if bad:
            problems.append(f"{len(bad)} documents wrong in the set-up jobs")
        digest = corpus_digest(bench.expected)
        pinned = pinned_digest(name, seed)
        notes.append(f"oracle output digest {digest}"
                     + ("" if pinned is None else
                        " (pinned: " + ("match" if pinned == digest else "MISMATCH") + ")"))
        if pinned not in (None, digest):
            problems.append("oracle output differs from the pinned digest")

        samples: list[Sample] = []
        failed = 0
        while sum(s.wall_s for s in samples) < seconds or len(samples) < MIN_JOBS:
            if wl.pending_share:
                bench.restore()
            sample, bad = _job(bench, f"job-{len(samples)}")
            samples.append(sample)
            failed += len(bad)
        attempted = bench.n_docs * len(samples)
        rates = [s.docs / s.wall_s for s in samples]
        notes.append(f"docs_per_s over {len(rates)} jobs: "
                     + ", ".join(f"{r:.1f}" for r in rates))
        notes.append("cpu_s, peak_rss_mb per job: " + ", ".join(
            f"{s.cpu_s:.1f} {s.rss_mb:.0f}" for s in samples))
        if trace:
            from perfbench.layers import trace_run

            metrics, spark = trace_run(spark, bench, statistics.median(rates),
                                       session_s, cores, work, session, notes,
                                       problems)
        else:
            metrics = {
                "docs_per_s": statistics.median(rates),
                "cpu_s_per_kdoc": statistics.median(1000 * s.cpu_s / s.docs
                                                    for s in samples),
                "peak_rss_mb": statistics.median(s.rss_mb for s in samples),
                "setup_s": setup_s,
            }
    finally:
        left = shutdown(spark)
    if left:
        notes.append(f"processes still running after shutdown: {left}")
    notes.extend(f"GUARD FAILED: {p}" for p in problems)
    return Result(metrics=metrics,
                  correct=not (failed or problems or left),
                  attempted=attempted, failed=failed, n_docs=bench.n_docs,
                  jobs=len(samples), notes=notes)
