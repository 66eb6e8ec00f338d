#!/usr/bin/env python3
"""graft benchmark: one seeded workload, measured end to end.

    python3 perfbench/run.py --workload graph_loops --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. The script builds the engine and the
harness from the checkout's sources (cached under `.perfbench/` by a
hash of those sources), generates the workload's input tables from the
seed (cached per seed), runs the harness JVM for about `--seconds` of
timed passes, checks every query output against the DuckDB oracle, and
prints one JSON object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
ones (see README.md in this directory). Exits non-zero without a result
line when the checkout cannot be built or the run fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import layers  # noqa: E402

WORKLOADS = {
    # iterative graph fixpoints over the order-derived edge set, plus two
    # relational queries over the same tables: a TPC-H Q3-shaped join and
    # a partitioned write-and-overwrite round trip
    "graph_loops": dict(
        input=dict(sf=0.1, docs=500, vecs=2000),
        memo="warm",
        queries=[
            "g2_pagerank", "g29_louvain",
            "q71_shipping_priority", "q79_dynamic_overwrite",
        ],
        writes=["q79_dynamic_overwrite"],
        tables=["orders", "customer", "lineitem", "events"],
    ),
    # search / text / dedup / similarity over one corpus, sharing session
    # memos; the memo is emptied before every pass
    "corpus_memo": dict(
        input=dict(sf=0.001, docs=1500, vecs=2000),
        memo="cold",
        queries=[
            "t1_tfidf_single", "t3_tfidf_persisted", "x3_quality",
            "d17_prefix_join", "s1_knn_brute", "s2_ann_lsh", "s7_ann_batch",
        ],
        writes=["t3_tfidf_persisted"],
        tables=["documents", "embeddings"],
    ),
}

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_bounded(cmd, cwd, timeout, env=None, log=None):
    """Run a command in its own process group; kill the whole group on
    timeout, or when this script is interrupted or terminated. Returns
    (exit code, seconds)."""
    t0 = time.monotonic()
    with open(log, "w") if log else open(os.devnull, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            code = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            code = -9
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    return code, time.monotonic() - t0


# ------------------------------------------------------------------ build

def source_stamp():
    """Hash of everything the build reads from the checkout."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt"]
    for base in (ROOT / "project", ROOT / "src" / "main", HERE / "harness"):
        if base.is_dir():
            files += [p for p in base.rglob("*")
                      if p.is_file() and "target" not in p.relative_to(base).parts]
    for p in sorted(files):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(timeout):
    """Compile the engine and the harness; return the runtime classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"{ROOT} holds no engine sources (build.sbt, src/main/scala)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    bdir = WORK / "build"
    stamp, cp_file = bdir / "stamp", bdir / "classpath"
    want = source_stamp()
    if stamp.is_file() and cp_file.is_file() and stamp.read_text() == want:
        cp = cp_file.read_text().strip()
        if all(Path(p).exists() for p in cp.split(":")[:2]):
            return cp
    bdir.mkdir(parents=True, exist_ok=True)
    sbt_home = WORK / "sbt"
    env = dict(os.environ)
    (sbt_home / "tmp").mkdir(parents=True, exist_ok=True)
    # keep sbt's state and temp files inside the checkout
    opts = [f"-Dsbt.global.base={sbt_home}/global", f"-Dsbt.boot.directory={sbt_home}/boot",
            f"-Dsbt.ivy.home={sbt_home}/ivy", f"-Djava.io.tmpdir={sbt_home}/tmp",
            "-XX:-UsePerfData", "-Dsbt.offline=true", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    env.setdefault("COURSIER_MODE", "offline")
    log = bdir / "sbt.log"
    code, _ = run_bounded(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                           "export Runtime/fullClasspath"],
                          cwd=HERE / "harness", timeout=timeout, env=env, log=log)
    lines = log.read_text(errors="replace").splitlines()
    cps = [ln for ln in lines if ln.count(":") > 3 and ln.endswith(".jar") and " " not in ln]
    if code != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {code}); log in {log}", 3)
    cp_file.write_text(cps[-1])
    stamp.write_text(want)
    return cps[-1]


# ------------------------------------------------------------------ inputs

def ensure_input(tag, spec):
    """Generate (once) the tables for one seed; return the directory. The
    cache key includes the generator's own source, so a changed generator
    never serves stale inputs."""
    key = "-".join(f"{k}{spec[k]}" for k in sorted(spec))
    gen_hash = hashlib.sha256((HERE / "gen.py").read_bytes()).hexdigest()[:12]
    d = WORK / "data" / f"{tag}-{key}-{gen_hash}"
    done = d / "_DONE"
    if not done.is_file():
        if d.exists():
            shutil.rmtree(d)
        gen.write_tables(str(d), spec["seed"], spec["sf"], spec["docs"], spec["vecs"])
        done.write_text("ok")
    return d


# ------------------------------------------------------------------ metrics

def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(xs):
    """90th percentile (linear interpolation between order statistics)
    and the number of samples beyond it."""
    v = statistics.quantiles(xs, n=10, method="inclusive")[-1] if len(xs) > 1 else xs[0]
    return v, sum(1 for x in xs if x > v)


def metric(v, unit):
    return {"value": v, "unit": unit}


def end_to_end(res, writes, failed, attempted):
    passes = [p for p in res["passes"] if not p["traced"]]
    qs = [q for q in res["queries"] if not q["traced"]]
    walls = [(q["end_ms"] - q["start_ms"]) / 1e3 for q in qs]
    tail_v, tail_beyond = tail(walls)
    wq = [(q["end_ms"] - q["start_ms"]) / 1e3 for q in qs if q["name"] in writes]
    metrics = {
        "setup_s": metric(res["setup_s"], "s"),
        "pass_s": metric(median([p["wall_s"] for p in passes]), "s"),
        "query_p50_s": metric(median(walls), "s"),
        "query_tail_s": metric(tail_v, "s"),
        "cpu_s": metric(median([p["cpu_s"] for p in passes]), "s"),
        "write_query_p50_s": metric(median(wq), "s"),
    }
    extra = {
        # not gated: on graph_loops it is the same byte count in every run
        "block_store_mb": metric(median([p["block_store_bytes"] for p in passes]) / 1e6, "MB"),
        "query_tail_beyond": metric(tail_beyond, "count"),
        "fail_frac": metric(failed / attempted, "1"),
        "passes": metric(len(passes), "count"),
    }
    return metrics, extra


# ------------------------------------------------------------------ main

def main():
    # a terminated run must not leave its JVM or sbt behind (run_bounded's
    # cleanup runs on the SystemExit this raises)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description="graft benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    wl = WORKLOADS[a.workload]
    t_start = time.monotonic()

    cp = build(timeout=840)
    t_built = time.monotonic()
    data = ensure_input(f"{a.workload}-seed{a.seed}", dict(wl["input"], seed=a.seed))
    t_gen = time.monotonic()

    run_dir = WORK / "runs" / f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    if run_dir.exists():
        shutil.rmtree(run_dir)
    (run_dir / "tmp").mkdir(parents=True)
    cmd = (["java", "-Xmx4g", "-XX:+UseG1GC", "-XX:-UsePerfData"]
           + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={run_dir / 'tmp'}", f"-Dgraftbench.work={run_dir}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", cp, "graftbench.Harness",
              "--data", str(data),
              "--queries", ",".join(wl["queries"]), "--tables", ",".join(wl["tables"]),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--memo", wl["memo"], "--min-passes", "2" if a.trace == 0 else "3",
              "--out", str(run_dir)])
    budget = max(60.0, 175.0 - (t_gen - t_built) - a.seconds)
    code, jvm_s = run_bounded(cmd, cwd=run_dir, timeout=budget + a.seconds,
                              log=run_dir / "harness.log")
    result = run_dir / "result.json"
    if code != 0 or not result.is_file():
        log = (run_dir / "harness.log").read_text(errors="replace").splitlines()
        sys.stderr.write("\n".join(ln for ln in log if "Exception" in ln or "Error" in ln)[-4000:] + "\n")
        fail(f"harness failed (exit {code}); log in {run_dir / 'harness.log'}", 4)
    res = json.loads(result.read_text())

    # ---- correctness, outside the timed region (oracle is imported only
    # now because it loads its comparator from the checkout's tools/)
    import oracle
    t_or = time.monotonic()
    verdicts = oracle.check(str(data), str(run_dir / "outputs"), res["oracle_sql"],
                            cache_dir=WORK / "oracle" / data.name,
                            volatile_marker=str(run_dir), temp_dir=run_dir / "tmp")
    for name, err in res["verify_errors"].items():
        verdicts[name] = f"threw: {err}"
    oracle_s = time.monotonic() - t_or
    timed = res["queries"]
    attempted = len(timed)
    failed = sum(1 for q in timed if "error" in q or verdicts.get(q["name"]))
    bad = sorted({q["name"] for q in timed if "error" in q or verdicts.get(q["name"])})

    metrics, extra = end_to_end(res, wl["writes"], failed, attempted)
    report = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "end_to_end": metrics, "extra": extra,
              "regime": res["regime"], "failing": {n: verdicts.get(n) or next(
                  (q.get("error") for q in timed if q["name"] == n and "error" in q), "")
                  for n in bad},
              "phase_s": {"build": t_built - t_start, "inputs": t_gen - t_built,
                          "jvm": jvm_s, "oracle": oracle_s}}
    if a.trace:
        # pass 0 (untraced) is left out: the JIT is still warming in it
        per_layer = layers.per_layer(res, wl, untraced_pass_s=median(
            [p["wall_s"] for p in res["passes"] if not p["traced"] and p["pass"] > 0]))
        report["per_layer"] = per_layer
        out_metrics = per_layer
    else:
        out_metrics = metrics
    (run_dir / "report.json").write_text(json.dumps(report, indent=1))
    reports = WORK / "reports"
    reports.mkdir(exist_ok=True)
    shutil.copy(run_dir / "report.json", reports / f"{run_dir.name}.json")
    shutil.rmtree(run_dir, ignore_errors=True)

    # human-readable lines first, the result object last
    for k, m in list(metrics.items()) + list(extra.items()):
        print(f"{a.workload} {k} = {m['value']:.6g} {m['unit']}")
    print(f"{a.workload} query_tail_s is p90 of {len([q for q in timed if not q['traced']])} "
          f"query walls, {extra['query_tail_beyond']['value']} beyond it")
    rg = res["regime"]
    print(f"{a.workload} regime: ref_probe_s={rg['ref_probe_s']} steal_pct={rg['steal_pct']:.2f} "
          f"load_avg={rg['load_avg']:.2f}")
    for n in bad:
        print(f"{a.workload} FAILED {n}: {report['failing'][n]}")
    if a.trace:
        for k, m in sorted(out_metrics.items()):
            print(f"{a.workload} {k} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out_metrics}))


if __name__ == "__main__":
    main()
