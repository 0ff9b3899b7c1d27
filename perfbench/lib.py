"""Shared pieces of the benchmark: building the program from source,
launching the JVM harness in an isolated run directory, and the
statistics the metrics use."""
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
# The Spark jars build.sbt compiles against, and the sf0.1 corpus that
# TESTDATA.md declares and graft.Bench reads by default.
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
SF_DIR = os.environ.get("PERFBENCH_SF", "/root/testdata/sf0.1")
XMX = "4g"
# Spark keeps 100 compiled whole-stage-codegen classes by default. One
# pass's statements and their output checks need more, so with the
# default every warm pass recompiled classes the pass before evicted and
# the JIT compiled them again: warm passes ran slow and erratic.
CODEGEN_CACHE = 2000
# Spark 4 on JDK 17 outside spark-submit needs these (as in build.sbt).
ADD_OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


class BenchError(Exception):
    pass


def build_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    own = sorted(glob.glob(os.path.join(HERE, "scala/*.scala")))
    if not main:
        raise BenchError(f"no program sources under {root}/src/main/scala")
    return main + own


def source_hash(root):
    """Identifies the code a run measured (the checkout is not a git
    repository, so there may be no revision to record)."""
    h = hashlib.sha256()
    for s in sources(root):
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(root):
    """Compile the program and the harness with the Scala compiler that
    ships in Spark's jars. Skipped when the sources are unchanged."""
    srcs = sources(root)
    stamp = source_hash(root)
    out = os.path.join(build_dir(root), "classes")
    stamp_file = out + ".stamp"
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return out
    os.makedirs(build_dir(root), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="classes.", dir=build_dir(root))
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", SPARK_JARS + "/*",
         "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", SPARK_JARS + "/*"] + srcs,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BenchError("compile failed:\n" + r.stdout[-4000:])
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return out


def harness(root, mode, args, timeout):
    """Run one harness JVM in a fresh run directory (its own tmpdir,
    Spark local dirs and warehouse, so the staged artifact tier starts
    empty), delete the directory afterwards, return the parsed JSON."""
    classes = build(root)
    if not os.path.isdir(SF_DIR):
        raise BenchError(f"test data not found: {SF_DIR}")
    run_dir = tempfile.mkdtemp(prefix="run.", dir=build_dir(root))
    try:
        tmp, local, wh = (os.path.join(run_dir, d) for d in ("tmp", "local", "warehouse"))
        for d in (tmp, local, wh):
            os.makedirs(d)
        out = os.path.join(run_dir, "out.json")
        env = dict(os.environ, SPARK_LOCAL_DIRS=local)
        cmd = (["java", f"-Xms{XMX}", f"-Xmx{XMX}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
                f"-Dspark.sql.warehouse.dir={wh}", f"-Dspark.local.dir={local}",
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                f"-Dspark.sql.codegen.cache.maxEntries={CODEGEN_CACHE}"]
               + ADD_OPENS
               + ["-cp", os.pathsep.join([classes, os.path.join(root, "src/main/resources"),
                                          SPARK_JARS + "/*"]),
                  "perfbench.Harness", mode, "--sf", SF_DIR, "--out", out] + args)
        log = os.path.join(run_dir, "jvm.log")
        with open(log, "w") as lf:
            try:
                r = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env,
                                   cwd=run_dir, timeout=timeout)
            except subprocess.TimeoutExpired:
                raise BenchError(f"harness {mode} exceeded {timeout} s")
        if r.returncode != 0 or not os.path.isfile(out):
            with open(log) as lf:
                tail = lf.read()[-3000:]
            raise BenchError(f"harness {mode} exited {r.returncode}:\n{tail}")
        with open(out) as f:
            return json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def load_rows():
    with open(os.path.join(HERE, "rows.json")) as f:
        return json.load(f)


def load_expected():
    with open(os.path.join(HERE, "expected.json")) as f:
        return json.load(f)


# ---- statistics -------------------------------------------------------------

def percentile(values, q):
    """Nearest-rank percentile: the smallest value with at least a share
    q of the samples at or below it."""
    if not values:
        raise ValueError("no samples")
    s = sorted(values)
    k = max(1, -(-int(round(q * 1000)) * len(s) // 1000))  # ceil(q * n)
    return s[min(k, len(s)) - 1]


def supported_percentile(n, tail=10):
    """Highest percentile (as a share) that leaves at least `tail`
    samples beyond it, or None when n is too small for any."""
    if n < tail + 1:
        return None
    return (n - tail) / n


def median(values):
    return statistics.median(values)


def quartiles(values):
    """(Q1, median, Q3) as statistics.quantiles(n=4) gives them."""
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Inter-quartile distance as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else float("inf")


def eprint(*a):
    print(*a, file=sys.stderr, flush=True)
