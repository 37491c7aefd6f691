"""Extraction-job benchmark: one workload at one seed, one result line.

    python3 perfbench/run.py --workload mixed_corpus --seed 42 \\
        --seconds 8 --trace 0

Run from the repository root. One driver process runs the package's
extraction job at ``local[<host cores>]`` as a closed loop, one job at
a time, and checks every job's output against the in-process oracle.
Human-readable lines start with ``#``; the last line of standard output
is the JSON result. ``--trace 0`` reports the end-to-end metrics of
BENCHMARK.json, ``--trace 1`` its per-layer metrics. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", ".work")


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _env(work: str) -> tuple[int, str]:
    """Keep every file Spark, the JVM and the workers write inside
    ``work``, and fit the session to the host."""
    from perfbench.host import driver_mem, host_cores

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the launcher JVM of spark-submit would write a perf-data file to /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    cores, mem = host_cores(), driver_mem()
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = mem
    return cores, mem


def _session(cores: int, work: str):
    """The package's session at ``local[cores]``, with the JVM's temp
    files inside ``work`` and no perf-data file (in /tmp): a run writes
    only inside its checkout."""
    from stirling_pdf_spark.session import get_spark

    return get_spark("perfbench", cores=cores, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
    })


def _shutdown(spark) -> list[int]:
    """Stop the session and the JVM, and wait for every process this
    run started; returns any still running."""
    from pyspark import SparkContext

    from perfbench.host import tree_pids, wait_exit

    pids = [p for p in tree_pids() if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = gateway.proc
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    return wait_exit(pids)


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, "stirling_pdf_spark")):
        print("perfbench: the stirling_pdf_spark package is not next to "
              "perfbench/; run from a full checkout", file=sys.stderr)
        return 2
    spec = _spec()
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    sys.path[0] = ROOT  # import perfbench as a package, not its files
    work = os.path.join(WORK, "run")
    shutil.rmtree(work, ignore_errors=True)
    cores, mem = _env(work)

    from perfbench.measure import Result, run_workload

    t_start = time.perf_counter()
    result: Result = run_workload(args.workload, args.seed, args.seconds,
                                  bool(args.trace), cores, work,
                                  _session, _shutdown)
    metric_spec = spec["per_layer" if args.trace else "end_to_end"]
    names = {m["name"] for m in metric_spec}
    if set(result.metrics) != names:
        raise SystemExit(f"perfbench: metrics differ from BENCHMARK.json: "
                         f"{sorted(set(result.metrics) ^ names)}")

    print(f"# perfbench workload={args.workload} seed={args.seed} "
          f"cores={cores} driver_mem={mem} docs={result.n_docs} "
          f"jobs={result.jobs} wall_s={time.perf_counter() - t_start:.1f}")
    for line in result.notes:
        print(f"# {line}")
    print(f"# fail_ratio {result.failed / result.attempted:.6f} "
          f"({result.failed} of {result.attempted} document checks)")
    for m in metric_spec:
        print(f"# {m['name']:<40} {result.metrics[m['name']]:>14.4f} {m['unit']}")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": result.correct,
        "attempted": result.attempted,
        "failed": result.failed,
        "metrics": {m["name"]: {"value": result.metrics[m["name"]], "unit": m["unit"]}
                    for m in metric_spec},
    }))
    return 0 if result.correct else 1


if __name__ == "__main__":
    sys.exit(main())
