"""The traced run: per-layer metrics of one workload.

Layers are the package's modules. Spark-side numbers come from the
status stores for one traced job (see sparkstats.py); Python-side
numbers from a serial in-process replay of the same corpus (see
trace.py). The tracing overhead is reported twice: the traced Spark
job against the untraced median, and the replay with the kernel's
functions wrapped against the replay without.
"""

from __future__ import annotations

import os
import time

from stirling_pdf_spark.operators.extract_pipeline import (
    DEFAULT_SALT_THRESHOLD,
    PAGES_PER_BUCKET,
)
from stirling_pdf_spark.runtime.checkpoint import pending_docs

from perfbench.corpus import read_raw
from perfbench.sparkstats import StatusReader, layer_metrics
from perfbench.trace import Tracer, kernel_timers, salted_buckets, serial_replay
from perfbench.workloads import Bench, files_under

GROUP = "perfbench-trace"


def _traced_job(spark, bench: Bench, tracer: Tracer) -> tuple[float, int]:
    """One extraction job in its own job group. Returns (wall s, docs)."""
    sc = spark.sparkContext
    sc.setJobGroup(GROUP, GROUP)
    try:
        with tracer.span("spark.job"):
            if bench.wl.pending_share:
                return bench.checkpoint_job("job-trace")
            wall, _ = bench.extract_job()
            return wall, bench.n_docs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def _checkpoint_metrics(bench: Bench, executions, done: int,
                        pending_s: float) -> dict[str, float]:
    def writes(table: str) -> float:
        return sum(e.duration_s for e in executions if e.write_path
                   and e.write_path.startswith(f"file:{bench.out}/{table}"))

    before = files_under(bench.template)
    new = {k: v for k, v in files_under(bench.out).items() if k not in before}
    return {
        "checkpoint.pending_s": pending_s,
        "checkpoint.pending_ratio": done / bench.n_docs,
        "checkpoint.spans_write_s": writes("spans/"),
        "checkpoint.commit_s": writes("metrics") + writes("lineage"),
        "checkpoint.files_written": float(sum(k.endswith(".parquet") for k in new)),
        "checkpoint.out_mb": sum(new.values()) / 2**20,
    }


def _scaling(spark, bench: Bench, dps_n: float | None, cores: int, work: str,
             session, tracer: Tracer):
    """Extraction docs/sec at local[cores] (``dps_n``, the untraced
    median; measured here when the workload timed other jobs) against
    local[1], second of two jobs each. Leaves a local[1] session
    running; returns the efficiency and that session."""
    def second_job() -> float:
        bench.extract_job()
        return bench.n_docs / bench.extract_job()[0]

    with tracer.span("spark.scaling"):
        if dps_n is None:
            dps_n = second_job()
        spark.stop()
        spark = session(1, work)
        bench.spark = spark
        dps_1 = second_job()
    return dps_n / (cores * dps_1), spark


def trace_run(spark, bench: Bench, untraced_dps: float, session_s: float,
              cores: int, work: str, session, notes: list[str],
              problems: list[str]):
    """Returns (per-layer metrics, the session now running)."""
    tracer = Tracer()
    m: dict[str, float] = {"session.start_s": session_s}
    pending_s = 0.0
    if bench.wl.pending_share:
        bench.restore()
        t = time.perf_counter()
        with tracer.span("checkpoint.pending"):
            pending_docs(spark, bench.docs(), bench.out).count()
        pending_s = time.perf_counter() - t
        bench.restore()
    reader = StatusReader(spark)
    first_execution = reader.execution_count()
    wall, done = _traced_job(spark, bench, tracer)
    m["trace.spark_overhead"] = 1 - (done / wall) / untraced_dps

    with tracer.span("spark.status"):
        executions = reader.executions(first_execution)
        m.update(layer_metrics(reader.stages(GROUP), executions, bench.corpus_dir))
    salted = m["extract_pipeline.docs_salted"]
    if bench.wl.salted != (salted > 0):
        problems.append(f"traced job salted {salted:.0f} documents")
    m.update(_checkpoint_metrics(bench, executions, done, pending_s)
             if bench.wl.pending_share else
             {k: 0.0 for k in ("checkpoint.pending_s", "checkpoint.pending_ratio",
                               "checkpoint.spans_write_s", "checkpoint.commit_s",
                               "checkpoint.files_written", "checkpoint.out_mb")})

    with tracer.span("sources.read_raw"):
        table = read_raw(bench.corpus_dir)
    batch_rows = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    with tracer.span("serial"):
        spans_in, spans_out = serial_replay(table, batch_rows, tracer, "serial")
    acc: dict[str, float] = {}
    with tracer.span("serial_traced"), kernel_timers(acc):
        serial_replay(table, batch_rows, tracer, "traced")
    own = tracer.self_times()
    serial_s = own["serial.decode"] + own["serial.extract_doc"] + own["serial.encode"]
    m.update(acc)
    m.update({
        "extract_pipeline.decode_s": own["serial.decode"],
        "extract_pipeline.encode_s": own["serial.encode"],
        "kernel.extract_doc_s": own["serial.extract_doc"],
        "kernel.extract_doc_self_s": own["traced.extract_doc"] - sum(acc.values()),
        "kernel.spans_in": float(spans_in),
        "kernel.spans_out": float(spans_out),
        "kernel.serial_docs_per_s": bench.n_docs / serial_s,
        "trace.kernel_overhead": own["traced.extract_doc"] / own["serial.extract_doc"] - 1,
    })
    with tracer.span("extract_pipeline.route"):
        buckets = salted_buckets(table, DEFAULT_SALT_THRESHOLD, PAGES_PER_BUCKET)
    m["extract_pipeline.bucket_spans_max"] = float(max(buckets, default=0))

    m["spark.scaling_eff_1_to_4"], spark = _scaling(
        spark, bench, None if bench.wl.pending_share else untraced_dps,
        cores, work, session, tracer)
    traces = os.path.join(os.path.dirname(work), "traces")
    os.makedirs(traces, exist_ok=True)
    path = os.path.join(traces, f"{bench.wl.name}-{bench.seed}.json")
    tracer.dump(path)
    notes.append(f"trace spans written to {os.path.relpath(path)}")
    notes.append("layer self time (s): " + ", ".join(
        f"{k} {v:.3f}" for k, v in sorted(tracer.self_times().items())))
    return m, spark
