#!/usr/bin/env python3
"""Generate perfbench/expected.json: the row count and digest of every
benchmarked row's output at sf0.1, taken from the current commit.

A row's output is accepted only after it matches its DuckDB oracle
(`SparkEntry.oracleSql`) exactly, by the method of tools/precheck.py:
columns sorted by name, rows sorted by every column, values compared
exactly. Rows without an oracle are marked "seed" (accepted as the
commit's own output). A row whose output differs from its oracle gets
no expected value, so every run of it counts as a failure.

    python3 perfbench/expect.py          # from the root of a checkout
"""
import json
import math
import os
import shutil
import sys

import lib

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return tuple(norm(x) for x in v)
    return v


def oracle_matches(con, sql, parquet_dir):
    """None when the output equals the oracle's, else the difference."""
    exp = con.sql(sql).df()
    got = con.sql(f"SELECT * FROM read_parquet('{parquet_dir}/*.parquet')").df()
    exp, got = exp[sorted(exp.columns)], got[sorted(got.columns)]
    if list(exp.columns) != list(got.columns):
        return f"columns {list(exp.columns)} != {list(got.columns)}"
    if len(exp) != len(got):
        return f"rows {len(exp)} != {len(got)}"
    exp = exp.sort_values(list(exp.columns)).reset_index(drop=True)
    got = got.sort_values(list(got.columns)).reset_index(drop=True)
    for i in range(len(exp)):
        for c in exp.columns:
            ev, gv = norm(exp[c].iloc[i]), norm(got[c].iloc[i])
            if ev != gv and not (ev is None and gv is None):
                return f"row {i} col {c}: oracle={ev!r} got={gv!r}"
    return None


def main():
    import duckdb
    root = os.getcwd()
    names = sorted({n for ns in lib.load_rows()["workloads"].values() for n in ns})
    oracles = lib.harness(root, "list", [], timeout=120)["oracle_sql"]
    dump = os.path.join(lib.build_dir(root), "expect_dump")
    shutil.rmtree(dump, ignore_errors=True)
    os.makedirs(dump)
    try:
        out = lib.harness(root, "dump", ["--rows", ",".join(names), "--dir", dump],
                          timeout=3600)
        con = duckdb.connect()
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{lib.SF_DIR}/{t}.parquet')")
        expected, bad = {}, []
        for n in names:
            o = out[n]
            if o["error"]:
                bad.append(f"{n}: {o['error']}")
                continue
            if n in oracles:
                diff = oracle_matches(con, oracles[n], os.path.join(dump, n))
                if diff:
                    bad.append(f"{n}: {diff}")
                    continue
            expected[n] = {"rows": o["rows"], "digest": o["digest"],
                           "source": "oracle" if n in oracles else "seed"}
    finally:
        shutil.rmtree(dump, ignore_errors=True)
    with open(os.path.join(lib.HERE, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    for b in bad:
        print("NOT ACCEPTED", b)
    print(f"{len(expected)} accepted ({sum(e['source'] == 'oracle' for e in expected.values())}"
          f" oracle-checked), {len(bad)} not accepted")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
