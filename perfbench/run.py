#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload writes --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Builds the program from source, runs
the workload's statements as one closed-loop client in one fresh JVM
(pass 1 cold, then warm-up passes, then the measured warm passes;
statement order permuted by the seed in every pass), checks every
output against perfbench/expected.json and prints, as the last stdout
line, one JSON object with the end-to-end metrics (--trace 0) or the
per-layer metrics (--trace 1). The line before it records the run's
conditions. --out FILE also appends both to FILE for
perfbench/compare.py.
"""
import argparse
import json
import os
import subprocess
import sys
import time

import lib
import layers

def stmt_ok(s, expected):
    """A statement counts as failed when it raised or its row count or
    digest differs from the expected value."""
    e = expected.get(s["name"])
    return (not s["error"] and e is not None
            and s["rows"] == e["rows"] and s["digest"] == e["digest"])


def latency(s):
    t = s["t_ms"]
    return (t[3] - t[0]) / 1e3


def measured(res):
    """Warm passes after the warm-up passes that ran without tracing."""
    return [p for p in res["passes"][1 + res["warmup"]:] if not p["traced"]]


def setup_times(res):
    """Each set-up builds the session and runs the warm-up; the first
    also includes JVM launch up to the harness's main."""
    ts = [s["session_s"] + s["warmup_s"] for s in res["setups"]]
    ts[0] += res["jvm_up_s"]
    return ts


def end_to_end(res, expected):
    stmts = [s for p in res["passes"] for s in p["stmts"]]
    failed = sum(not stmt_ok(s, expected) for s in stmts)
    ws = measured(res)
    lat = [latency(s) for p in ws for s in p["stmts"]]
    m = {
        "setup_s": (lib.median(setup_times(res)), "s"),
        "cold_wall_s": (sum(latency(s) for s in res["passes"][0]["stmts"]), "s"),
        "wall_s": (lib.median([sum(latency(s) for s in p["stmts"]) for p in ws]), "s"),
        "latency_p50_s": (lib.percentile(lat, 0.5), "s"),
        "ok_frac": (1 - failed / len(stmts), "frac"),
    }
    return m, len(stmts), failed, len(lat)


def conditions(root, args, res, n_lat):
    rev = None
    if os.path.isdir(os.path.join(root, ".git")):
        rev = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                             text=True).stdout.strip() or None
    return {"workload": args.workload, "seed": args.seed, "trace": args.trace,
            "git_rev": rev, "src_sha256": lib.source_hash(root),
            "nproc": os.cpu_count(), "local_n": res["cpus"], "xmx": lib.XMX,
            "xmx_b": res["xmx_b"], "probe_start_s": res["probe_start_s"],
            "probe_end_s": res["probe_end_s"],
            "pass_walls_s": [round(sum(latency(s) for s in p["stmts"]), 4) for p in res["passes"]],
            "warmup_passes": res["warmup"], "latency_samples": n_lat,
            "highest_supported_percentile": lib.supported_percentile(n_lat), "sf": lib.SF_DIR}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out")
    args = ap.parse_args()
    root = os.getcwd()
    try:
        spec = lib.load_rows()
        rows = spec["workloads"][args.workload]
        expected = lib.load_expected()
        lib.build(root)
        res = lib.harness(root, "run", [
            "--rows", ",".join(rows),
            "--warmup", str(spec["warmup_passes"][args.workload]),
            "--warm", str(spec["measured_passes"][args.workload]),
            "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace)], timeout=170)
    except (lib.BenchError, KeyError, OSError) as e:
        lib.eprint(f"perfbench: {e}")
        sys.exit(1)
    e2e, attempted, failed, n_lat = end_to_end(res, expected)
    for p in res["passes"]:
        for s in p["stmts"]:
            if not stmt_ok(s, expected):
                lib.eprint(f"perfbench: FAILED {s['name']} (pass {p['pass']}): rows={s['rows']} "
                           f"digest={s['digest']} error={s['error']}")
    if args.trace:
        per_layer, spans = layers.per_layer(res)
        path = layers.write(root, args.workload, args.seed, spans, per_layer)
        lib.eprint(layers.table(per_layer))
        lib.eprint(f"perfbench: spans written to {path}")
        metrics = per_layer
    else:
        metrics = e2e
    cond = conditions(root, args, res, n_lat)
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    if args.out:
        with open(args.out, "a") as f:
            f.write(json.dumps({"conditions": cond, "result": result,
                                "time": time.time()}) + "\n")
    print(json.dumps({"conditions": cond}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
