#!/usr/bin/env python3
"""Steadiness record: run workloads over several seeds and summarize.

    python3 perfbench/steadiness.py --workloads graph_loops,corpus_memo \\
        --seeds 1-10 --seconds 6 --out perfbench/baseline.json

Runs `run.py` once per (workload, seed), one after another, and keeps
every run: its metrics, attempted/failed counts and host-regime evidence
(reference-probe seconds at set-up and at the end, steal %, load). For
each metric it writes the median, the quartiles
(`statistics.quantiles(values, n=4)`) and the spread, (Q3 - Q1) / median.
A run is marked `contaminated` when steal exceeds 5% or its slower
reference probe reads over twice the set's median. Such a run is
reported, never dropped.
"""
import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPORTS = HERE.parent / ".perfbench" / "reports"


def seeds_of(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarize(values):
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None, "values": values}


def one_run(workload, seed, seconds, trace):
    t0 = time.monotonic()
    before = set(REPORTS.glob("*.json")) if REPORTS.is_dir() else set()
    p = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=HERE.parent, capture_output=True, text=True, timeout=900)
    wall = time.monotonic() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return {"seed": seed, "exit": p.returncode, "wall_s": wall,
                "stderr": p.stderr[-2000:]}
    result = json.loads(lines[-1])
    new = sorted(set(REPORTS.glob("*.json")) - before, key=lambda f: f.stat().st_mtime)
    report = json.loads(new[-1].read_text()) if new else {}
    return {"seed": seed, "exit": 0, "wall_s": wall, "correct": result["correct"],
            "attempted": result["attempted"], "failed": result["failed"],
            "metrics": {k: v["value"] for k, v in result["metrics"].items()},
            "extra": {k: v["value"] for k, v in report.get("extra", {}).items()},
            "failing": report.get("failing", {}), "regime": report.get("regime", {}),
            "phase_s": report.get("phase_s", {})}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    out = {"host": {"nproc": os.cpu_count(), "machine": platform.machine(),
                    "python": platform.python_version()},
           "seconds": a.seconds, "trace": a.trace, "workloads": {}}
    for w in a.workloads.split(","):
        runs = []
        for seed in seeds_of(a.seeds):
            r = one_run(w, seed, a.seconds, a.trace)
            runs.append(r)
            print(json.dumps({"workload": w, **{k: r.get(k) for k in
                              ("seed", "exit", "wall_s", "correct", "failed", "metrics")}}),
                  flush=True)
        ok = [r for r in runs if r["exit"] == 0]
        probes = [max(r["regime"].get("ref_probe_s", [0])) for r in ok]
        probe_med = statistics.median(probes) if probes else 0
        for r in ok:
            rg = r["regime"]
            r["contaminated"] = bool(rg.get("steal_pct", 0) > 5
                                     or max(rg.get("ref_probe_s", [0])) > 2 * probe_med)
        names = sorted({k for r in ok for k in r["metrics"]})
        out["workloads"][w] = {
            "runs": runs,
            "summary": {k: summarize([r["metrics"][k] for r in ok if k in r["metrics"]])
                        for k in names},
            "run_wall_s": summarize([r["wall_s"] for r in runs]),
            "contaminated_runs": sum(1 for r in ok if r["contaminated"]),
            "failed_runs": len(runs) - len(ok),
        }
        Path(a.out).write_text(json.dumps(out, indent=1) + "\n")
    for w, d in out["workloads"].items():
        for k, s in d["summary"].items():
            print(f"{w} {k}: median {s['median']:.4g} spread {s['spread']}")
        print(f"{w} run wall median {d['run_wall_s']['median']:.1f} s, "
              f"contaminated {d['contaminated_runs']}, failed {d['failed_runs']}")


if __name__ == "__main__":
    main()
