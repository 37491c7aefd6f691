"""Run every workload over several seeds and summarize the spread.

    python3 perfbench/baseline.py --seeds 1-10 \\
        [--out perfbench/BASELINE_4core.json]

Runs ``perfbench/run.py`` once per (workload, seed), one after another,
from the repository root, with BENCHMARK.json's ``run_seconds``. Prints
for each workload and end-to-end metric the median, the quartiles, the
quartile spread as a share of the median (statistics.quantiles, n=4),
the bound, and the number of runs; also fail_ratio over all document
checks. ``--out`` writes the same summary and every run's result as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def run_once(workload: str, seed: int, seconds: int) -> dict:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if not lines or not lines[-1].startswith("{"):
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}:\n"
                           + proc.stderr[-2000:])
    result = json.loads(lines[-1])
    result["notes"] = [ln for ln in lines[:-1] if ln.startswith("#")]
    result["run_s"] = time.perf_counter() - t0
    return result


def summarize(spec: dict, runs: list[dict]) -> dict:
    out = {}
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else vals * 3
        med = statistics.median(vals)
        out[m["name"]] = {"unit": m["unit"], "median": med, "p25": q1, "p75": q3,
                          "spread": (q3 - q1) / med, "bound": m["bound"],
                          "runs": len(vals)}
    checks = sum(r["attempted"] for r in runs)
    out["fail_ratio"] = {"unit": "ratio", "median": sum(r["failed"] for r in runs) / checks,
                         "runs": len(runs), "document_checks": checks}
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    report = {"host": {"cores": len(os.sched_getaffinity(0)),
                       "machine": platform.machine(),
                       "python": platform.python_version()},
              "run_seconds": spec["run_seconds"], "workloads": {}}
    ok = True
    for name in (w["name"] for w in spec["workloads"]):
        runs = []
        for seed in _seeds(args.seeds):
            r = run_once(name, seed, spec["run_seconds"])
            r["seed"] = seed
            ok &= r["correct"]
            runs.append(r)
            jobs = next((n.split(": ", 1)[1] for n in r["notes"]
                         if n.startswith("# docs_per_s over")), "")
            print(f"{name} seed={seed} correct={r['correct']} " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in r["metrics"].items())
                + f" run_s={r['run_s']:.1f} jobs=[{jobs}]", flush=True)
        summary = summarize(spec, runs)
        report["workloads"][name] = {"summary": summary, "runs": runs}
        print(f"\n{name}")
        for metric, s in summary.items():
            if metric == "fail_ratio":
                print(f"  {metric:<16} {s['median']:>12.6f} {s['unit']:<6} "
                      f"n={s['runs']} runs, {s['document_checks']} document checks")
                continue
            print(f"  {metric:<16} {s['median']:>12.4f} {s['unit']:<6} "
                  f"p25={s['p25']:.4f} p75={s['p75']:.4f} "
                  f"spread={s['spread']:.3f} bound={s['bound']} n={s['runs']} runs")
        print(flush=True)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
            f.write("\n")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
