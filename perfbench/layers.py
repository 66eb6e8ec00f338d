"""Per-layer report of a traced run, built from spans.

The harness records, for every query of a traced pass, its wall-clock
interval split into `build` (the query-function call, including a
loop's eager jobs) and `execute` (the noop save); the listener adds the
Spark jobs of the query's job group and the planning phases of each
query execution. This module assembles them into one span tree

    pass -> query:<name> -> build | execute -> job:<id> | phase:<name>

(all spans of one query share its id), computes every span's self time
(its duration minus the part its children cover), and aggregates the
per-layer metrics. The driver gap of a query is the query's wall time
minus the union of its job intervals: the time no Spark job was running.
"""
import statistics

# query-name prefix -> module (e.g. g2_pagerank -> graph); other
# families (st, m) belong to no reported module
MODULES = {"q": "operators", "g": "graph", "t": "search", "x": "text", "d": "dedup",
           "s": "similarity"}
MODULE_NAMES = list(MODULES.values())


def module_of(query):
    prefix = query.split("_")[0].rstrip("0123456789")
    return MODULES.get(prefix)


def union_length(intervals, lo=None, hi=None):
    """Total length covered by the intervals, optionally clipped to [lo, hi]."""
    iv = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            iv.append((s, e))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(iv):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """{span id: duration minus the union of its direct children}."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - union_length(kids.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def driver_gap(query_span, job_spans):
    """Wall of the query minus the union of its job intervals."""
    lo, hi = query_span["start"], query_span["end"]
    return (hi - lo) - union_length([(j["start"], j["end"]) for j in job_spans], lo, hi)


def build_spans(res):
    """Span tree (times in seconds) of the traced passes of a result."""
    spans = []

    def add(name, parent, qid, start, end):
        spans.append({"id": len(spans), "parent": parent, "name": name, "qid": qid,
                      "start": start / 1e3, "end": end / 1e3})
        return len(spans) - 1

    trace = res.get("trace", {})
    jobs_by_group = {}
    for j in trace.get("jobs", []):
        jobs_by_group.setdefault(j["group"], []).append(j)
    phases = sorted(trace.get("phases", []), key=lambda p: p["start_ms"])
    by_pass = {}
    for q in res["queries"]:
        if q["traced"]:
            by_pass.setdefault(int(q["pass"]), []).append(q)
    for p, qs in sorted(by_pass.items()):
        pid = add("pass", None, None, qs[0]["start_ms"], qs[-1]["end_ms"])
        for q in qs:
            qid = int(q["qid"])
            top = add(f"query:{q['name']}", pid, qid, q["start_ms"], q["end_ms"])
            b = add("build", top, qid, q["start_ms"], q["build_end_ms"])
            x = add("execute", top, qid, q["build_end_ms"], q["end_ms"])
            for j in jobs_by_group.get(f"q{qid}", []):
                s = max(j["start_ms"], q["start_ms"])
                e = min(max(j["end_ms"], s), q["end_ms"])
                add(f"job:{int(j['id'])}", b if s < q["build_end_ms"] else x, qid, s, e)
            for ph in phases:
                if q["start_ms"] <= ph["start_ms"] < q["end_ms"]:
                    e = min(ph["end_ms"], q["end_ms"])
                    add(f"phase:{ph['name']}", b if ph["start_ms"] < q["build_end_ms"] else x,
                        qid, ph["start_ms"], e)
    return spans


def _med(xs):
    return statistics.median(xs) if xs else 0.0


def per_layer(res, wl, untraced_pass_s):
    """Per-layer metrics of a traced run: medians over traced passes of
    per-pass sums, plus the probes and JVM counters."""
    trace = res["trace"]
    spans = build_spans(res)
    selft = self_times(spans)
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    stages_by_group = {}
    for st in trace["stages"]:
        stages_by_group.setdefault(st["group"], []).append(st)
    blocks = trace["blocks"]
    writes = set(wl["writes"])

    rows = []  # one dict of per-pass sums per traced pass
    for pspan in (s for s in spans if s["name"] == "pass"):
        acc = {k: 0.0 for k in (
            "wall", "gap", "self_sum", "plan", "jobs", "stages", "tasks", "builds",
            "build_s", "ckpt_rdds", "ckpt_bytes", "read", "write_s", "write_b",
            "sh_w", "sh_r", "fetch", "spill", "cpu", "run", "gc")}
        acc["blocks_max"] = 0.0
        acc.update({f"mod:{m}": 0.0 for m in MODULE_NAMES})
        for qs in children.get(pspan["id"], []):
            qid = qs["qid"]
            q = next(x for x in res["queries"] if int(x["qid"]) == qid)
            sub = children.get(qs["id"], [])
            leaves = [c for s in sub for c in children.get(s["id"], [])]
            jobs = [c for c in leaves if c["name"].startswith("job:")]
            wall = qs["end"] - qs["start"]
            acc["wall"] += wall
            acc["gap"] += driver_gap(qs, jobs)
            # self time of the query's non-job spans: the same gap, by the
            # span tree (phases are driver time, so they count in it)
            acc["self_sum"] += selft[qs["id"]] + sum(selft[s["id"]] for s in sub) + sum(
                selft[c["id"]] for c in leaves if not c["name"].startswith("job:"))
            acc["plan"] += sum(c["end"] - c["start"] for c in leaves
                               if c["name"].startswith("phase:"))
            acc["jobs"] += len(jobs)
            st = stages_by_group.get(f"q{qid}", [])
            acc["stages"] += len(st)
            acc["tasks"] += sum(s["tasks"] for s in st)
            acc["cpu"] += sum(s["cpu_ns"] for s in st) / 1e9
            acc["run"] += sum(s["run_ms"] for s in st) / 1e3
            acc["gc"] += sum(s["gc_ms"] for s in st) / 1e3
            acc["read"] += sum(s["input_bytes"] for s in st)
            acc["write_b"] += sum(s["output_bytes"] for s in st)
            acc["sh_w"] += sum(s["shuffle_write_bytes"] for s in st)
            acc["sh_r"] += sum(s["shuffle_read_bytes"] for s in st)
            acc["fetch"] += sum(s["fetch_wait_ms"] for s in st) / 1e3
            acc["spill"] += sum(s["spill_bytes"] for s in st)
            acc["builds"] += len(q["memo_builds"])
            acc["build_s"] += sum(b["s"] for b in q["memo_builds"])
            lo, hi = q["rdd_lo"], q["rdd_hi"]
            mine = [b for b in blocks if lo < b["rdd"] < hi]
            acc["ckpt_rdds"] += len({b["rdd"] for b in mine})
            acc["ckpt_bytes"] += sum(b["bytes"] for b in mine)
            acc["blocks_max"] = max(acc["blocks_max"], q["persisted"])
            if q["name"] in writes:
                acc["write_s"] += wall
            mod = module_of(q["name"])
            if mod:
                acc[f"mod:{mod}"] += wall
        rows.append(acc)

    def med(k):
        return _med([r[k] for r in rows])

    def m(v, unit):
        return {"value": v, "unit": unit}

    traced_pass_s = med("wall")
    passes = res["passes"]
    scan = trace.get("scan", {})
    out = {
        "driver.gap_s": m(med("gap"), "s"),
        "driver.gap_frac": m(med("gap") / traced_pass_s if traced_pass_s else 0.0, "1"),
        "driver.plan_s": m(med("plan"), "s"),
        "driver.jobs": m(med("jobs"), "count"),
        "driver.stages": m(med("stages"), "count"),
        "driver.tasks": m(med("tasks"), "count"),
        "plans.memo_builds": m(med("builds"), "count"),
        "plans.memo_build_s": m(med("build_s"), "s"),
        "plans.checkpoints": m(med("ckpt_rdds"), "count"),
        "plans.checkpoint_mb": m(med("ckpt_bytes") / 1e6, "MB"),
        "plans.blocks_max": m(med("blocks_max"), "count"),
        "sources.scan_s": m(scan.get("scan_s", 0.0), "s"),
        "sources.read_mb": m(med("read") / 1e6, "MB"),
        "sources.scan_mb_per_s": m(scan.get("scan_bytes", 0.0) / 1e6 / scan["scan_s"]
                                   if scan.get("scan_s") else 0.0, "MB/s"),
        "sources.write_s": m(med("write_s"), "s"),
        "sources.write_mb": m(med("write_b") / 1e6, "MB"),
        "exchange.shuffle_write_mb": m(med("sh_w") / 1e6, "MB"),
        "exchange.shuffle_read_mb": m(med("sh_r") / 1e6, "MB"),
        "exchange.fetch_wait_s": m(med("fetch"), "s"),
        "exchange.spill_mb": m(med("spill") / 1e6, "MB"),
        "tasks.cpu_s": m(med("cpu"), "s"),
        "tasks.run_s": m(med("run"), "s"),
        "tasks.gc_s": m(med("gc"), "s"),
        "jvm.gc_s": m(_med([p["gc_ms"] for p in passes]) / 1e3, "s"),
        "jvm.jit_s": m(_med([p["jit_ms"] for p in passes]) / 1e3, "s"),
        "jvm.codegen_compiles": m(_med([p["codegen_compiles"] for p in passes]), "count"),
        "jvm.setup_jit_s": m(res["setup_jvm"]["jit_ms"] / 1e3, "s"),
        "jvm.setup_codegen_compiles": m(res["setup_jvm"]["codegen_compiles"], "count"),
        "trace.overhead_frac": m(traced_pass_s / untraced_pass_s - 1.0
                                 if untraced_pass_s else 0.0, "1"),
        "trace.self_time_residual_s": m(med("self_sum") - med("gap"), "s"),
    }
    for mod in MODULE_NAMES:
        out[f"{mod}.query_s"] = m(med(f"mod:{mod}"), "s")
    for k, v in trace.get("kernels", {}).items():
        out[k] = m(v, "ns")
    return out
