#!/usr/bin/env python3
"""Assign every `SparkEntry.queries` row to a workload by what it does
when run alone in a fresh JVM with an empty artifact tier, in order:

  1. it starts a streaming query or writes files   -> writes
  2. otherwise it records a BuildLog build         -> pipelines
  3. otherwise it is a relational core row         -> adhoc
     (families a f j o p w, and sql1..sql41)
  4. anything else is outside the benchmark.

"Writes files" means new or changed files under the run's tmpdir or
warehouse, not counting the artifact tier (tmpdir/graft_shared) and
checkpoints (tmpdir/graft_ckpt), which are caches.

Usage: python3 perfbench/classify.py > observations.jsonl
then   python3 perfbench/classify.py --assign observations.jsonl
The second form rewrites the "classes" section of perfbench/rows.json.
"""
import argparse
import json
import os
import re
import sys

import lib

CORE = re.compile(r"^([afjopw]\d+[a-z]?_|sql(\d+)_)")


def core(name):
    m = CORE.match(name)
    return bool(m) and (m.group(2) is None or int(m.group(2)) <= 41)


def assign(obs):
    """obs: name -> observation from Harness classify. Returns the
    workload of each row, or "outside"."""
    out = {}
    for name, o in sorted(obs.items()):
        if o["streaming"] or o["written"] > 0:
            out[name] = "writes"
        elif o["builds"]:
            out[name] = "pipelines"
        elif core(name):
            out[name] = "adhoc"
        else:
            out[name] = "outside"
    return out


def observe(root):
    names = lib.harness(root, "list", [], timeout=120)["rows"]
    for o in lib.harness(root, "classify", ["--rows", ",".join(names)], timeout=7200):
        print(json.dumps(o), flush=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--assign")
    a = ap.parse_args()
    root = os.getcwd()
    if not a.assign:
        observe(root)
        return
    obs = {}
    with open(a.assign) as f:
        for line in f:
            o = json.loads(line)
            if o.get("error"):
                sys.exit(f"row {o['name']} failed: {o['error']}")
            obs[o["name"]] = o
    classes = assign(obs)
    path = os.path.join(lib.HERE, "rows.json")
    rows = json.load(open(path)) if os.path.exists(path) else {}
    rows["classes"] = {w: [n for n, c in classes.items() if c == w]
                       for w in ("adhoc", "writes", "pipelines", "outside")}
    with open(path, "w") as f:
        json.dump(rows, f, indent=1)
        f.write("\n")
    for w, ns in rows["classes"].items():
        print(w, len(ns))


if __name__ == "__main__":
    main()
