"""Per-layer metrics and spans of a traced run.

Spans are built from what the harness recorded from outside the
program: a root span per statement, its three timed calls as children
(operators.build = the query function, plans.plan = forcing
executedPlan, exec.run = count()), Spark jobs as children of the
statement running when they started, and micro-batches as children of
the operators.build span they fall in. A layer's self time is its
spans' duration minus the part covered by their children.

Counters are medians over the traced measured passes; reuse.builds is
the cold pass's count and reuse.warm_builds the median over warm passes.
"""
import json
import os
import time

import lib

MB = 1 << 20
GRAFT_PHASES = ("cdf_image_build", "commit_stats_collection", "group_discovery",
                "dv_position_staging", "mv_incremental_merge", "mv_refresh_commit",
                "optimize_compact")
STREAM_PHASES = {"addBatch": "add_batch_ms", "queryPlanning": "query_planning_ms",
                 "getBatch": "get_batch_ms", "latestOffset": "latest_offset_ms",
                 "walCommit": "wal_commit_ms", "commitOffsets": "commit_offsets_ms"}


def pass_builds(passes):
    """Builds recorded during each pass. BuildLog is cumulative and never
    cleared, so a pass's builds are the difference of the counts taken
    before and after it."""
    return [p["builds_after"] - p["builds_before"] for p in passes]


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of intervals."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def spans_of(res):
    spans = []
    stmt_of = {}
    for p in res["passes"]:
        if not p["traced"]:
            continue
        for s in p["stmts"]:
            t = s["t_ms"]
            sid = f"s{s['seq']}"
            stmt_of[s["seq"]] = (p["pass"], t)
            spans.append({"id": sid, "parent": None, "name": "statement", "pass": p["pass"],
                          "row": s["name"], "start_ms": t[0], "end_ms": t[3]})
            for i, n in enumerate(("operators.build", "plans.plan", "exec.run")):
                spans.append({"id": f"{sid}.{i}", "parent": sid, "name": n, "pass": p["pass"],
                              "start_ms": t[i], "end_ms": t[i + 1]})
    ends = {j["job"]: j["end_ms"] for j in res["jobs"] if "end_ms" in j}
    for j in res["jobs"]:
        if "start_ms" in j and j["phase"] != "check" and j["seq"] in stmt_of:
            spans.append({"id": f"j{j['job']}", "parent": f"s{j['seq']}", "name": "spark.job",
                          "pass": j["pass"], "desc": j["desc"], "start_ms": j["start_ms"],
                          "end_ms": ends.get(j["job"], j["start_ms"])})
    for k, b in enumerate(res["batches"]):
        start = b["start_ms"]
        for seq, (pas, t) in stmt_of.items():
            if t[0] <= start <= t[1]:
                spans.append({"id": f"b{k}", "parent": f"s{seq}.0", "name": "streaming.batch",
                              "pass": pas, "start_ms": start,
                              "end_ms": start + b["durations"].get("triggerExecution", 0),
                              "batch": b})
                break
    return spans


def self_times(spans):
    kids = {}
    for s in spans:
        if s["parent"]:
            kids.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    out = {}
    for s in spans:
        d = s["end_ms"] - s["start_ms"]
        c = covered(kids.get(s["id"], []), s["start_ms"], s["end_ms"])
        out.setdefault((s["pass"], s["name"]), 0.0)
        out[(s["pass"], s["name"])] += (d - c) / 1e3
    return out


def per_layer(res):
    settled = res["passes"][1 + res["warmup"]:]
    tp = {p["pass"] for p in settled if p["traced"]}
    m = {}

    def med(f):
        return lib.median([f(p) for p in sorted(tp)])

    def add(name, unit, f):
        m[name] = (med(f), unit)

    by_pass = {p["pass"]: p for p in res["passes"]}

    def call_s(i):
        return lambda pas: sum((s["t_ms"][i + 1] - s["t_ms"][i]) / 1e3
                               for s in by_pass[pas]["stmts"])

    def wall(pas):
        return sum(call_s(i)(pas) for i in range(3))

    add("plans.plan_s", "s", call_s(1))
    add("operators.build_s", "s", call_s(0))
    add("exec.run_s", "s", call_s(2))
    add("plans.codegen_compiles", "count",
        lambda pas: by_pass[pas]["codegen_after"] - by_pass[pas]["codegen_before"])

    counters = [c for c in res["counters"] if c["phase"] != "check"]

    def csum(field, pas, pred=lambda c: True):
        return sum(c[field] for c in counters if c["pass"] == pas and pred(c))

    for f, name, scale, unit in (
            ("jobs", "spark.jobs", 1, "count"), ("stages", "spark.stages", 1, "count"),
            ("tasks", "spark.tasks", 1, "count"), ("task_ms", "spark.task_s", 1e3, "s"),
            ("cpu_ns", "spark.cpu_s", 1e9, "s"), ("gc_ms", "spark.gc_s", 1e3, "s"),
            ("shuffle_write_b", "spark.shuffle_write_mb", MB, "MB"),
            ("shuffle_read_b", "spark.shuffle_read_mb", MB, "MB"),
            ("fetch_wait_ms", "spark.shuffle_fetch_wait_s", 1e3, "s"),
            ("spill_disk_b", "spark.spill_disk_mb", MB, "MB"),
            ("input_b", "spark.input_mb", MB, "MB"), ("output_b", "spark.output_mb", MB, "MB"),
            ("output_records", "spark.output_records", 1, "count")):
        add(name, unit, lambda pas, f=f, scale=scale: csum(f, pas) / scale)
    add("spark.core_util", "frac",
        lambda pas: csum("task_ms", pas) / 1e3 / (wall(pas) * res["cpus"]))

    for prefix, pred in [("sources", lambda c: c["graft"] != "")] + [
            (f"sources.{g}", lambda c, g=g: c["graft"] == g) for g in GRAFT_PHASES]:
        add(f"{prefix}.jobs", "count", lambda pas, pred=pred: csum("jobs", pas, pred))
        add(f"{prefix}.tasks", "count", lambda pas, pred=pred: csum("tasks", pas, pred))
        add(f"{prefix}.task_s", "s", lambda pas, pred=pred: csum("task_ms", pas, pred) / 1e3)

    spans = spans_of(res)
    batches = {pas: [s["batch"] for s in spans if s["name"] == "streaming.batch"
                     and s["pass"] == pas] for pas in tp}
    add("streaming.batches", "count", lambda pas: len(batches[pas]))
    add("streaming.input_rows", "count", lambda pas: sum(b["input_rows"] for b in batches[pas]))
    for k, name in STREAM_PHASES.items():
        add(f"streaming.{name}", "ms",
            lambda pas, k=k: sum(b["durations"].get(k, 0) for b in batches[pas]))
    add("streaming.state_commit_ms", "ms",
        lambda pas: sum(b["state_commit_ms"] for b in batches[pas]))
    add("streaming.state_rows", "count", lambda pas: sum(b["state_rows"] for b in batches[pas]))
    add("streaming.state_mb", "MB",
        lambda pas: max([b["state_b"] for b in batches[pas]], default=0) / MB)
    triggers = [b["durations"].get("triggerExecution", 0) for pas in tp for b in batches[pas]]
    rows = sum(b["input_rows"] for pas in tp for b in batches[pas])
    m["streaming.trigger_p50_ms"] = (lib.percentile(triggers, 0.5) if triggers else 0, "ms")
    m["streaming.trigger_p90_ms"] = (lib.percentile(triggers, 0.9) if triggers else 0, "ms")
    m["streaming.rows_per_s"] = (rows / (sum(triggers) / 1e3) if triggers else 0, "1/s")

    selfs = self_times(spans)
    for layer in ("statement", "operators.build", "plans.plan", "exec.run", "spark.job",
                  "streaming.batch"):
        add(f"self.{layer}_s", "s", lambda pas, layer=layer: selfs.get((pas, layer), 0.0))
    job_wall = {}
    for s in spans:
        if s["name"] == "spark.job":
            job_wall.setdefault((s["pass"], s["parent"]), []).append((s["start_ms"], s["end_ms"]))
    stmt = {s["id"]: s for s in spans if s["name"] == "statement"}
    add("spark.job_wall_s", "s", lambda pas: sum(
        covered(iv, stmt[sid]["start_ms"], stmt[sid]["end_ms"]) / 1e3
        for (p, sid), iv in job_wall.items() if p == pas))

    passes = res["passes"]
    builds = pass_builds(passes)
    m["reuse.builds"] = (builds[0], "count")
    m["reuse.warm_builds"] = (lib.median(builds[1:]), "count")
    m["reuse.tier_mb"] = (passes[-1]["tier_b"] / MB, "MB")
    m["reuse.disk_mb"] = (passes[-1]["disk_b"] / MB, "MB")
    m["spark.storage_mb"] = (passes[-1]["storage_b"] / MB, "MB")
    m["setup.session_s"] = (lib.median([s["session_s"] for s in res["setups"]]), "s")
    m["setup.warmup_s"] = (lib.median([s["warmup_s"] for s in res["setups"]]), "s")
    # the measured passes alternate untraced, traced, traced, untraced
    untraced = [wall(p["pass"]) for p in settled if not p["traced"]]
    m["trace.overhead_frac"] = (med(wall) / lib.median(untraced) - 1, "frac")
    return m, spans


def write(root, workload, seed, spans, metrics):
    d = os.path.join(lib.build_dir(root), "traces")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{workload}-seed{seed}-{int(time.time())}.json")
    with open(path, "w") as f:
        json.dump({"workload": workload, "seed": seed,
                   "per_layer": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
                   "spans": spans}, f)
    return path


def table(metrics):
    lines = [f"{'metric':44} {'value':>14}  unit"]
    lines += [f"{k:44} {v:14.4f}  {u}" for k, (v, u) in metrics.items()]
    return "\n".join(lines)
