#!/usr/bin/env python3
"""The repository benchmark: the reference's ETL load (batch and paged), a
long-lived snapshot stream and the common-67 query sweep.

Usage, from the repository root:

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
  python3 perfbench/run.py --selftest

Workloads: load_stream, query_common67 (see BENCHMARK.json for why each
is there). The first run in a checkout compiles
src/main/scala and perfbench/src with the Scala compiler that ships in
Spark's jars, and generates the sf0.1 fixture with graft.GenData; both are
cached under .bench_build/perfbench, keyed by a digest of their sources.
Each run then starts one JVM (perfbench.Main), which prints the metrics by
name and, as its last line, the JSON summary. Needs java, python3 with
duckdb, and Spark (SPARK_HOME, or spark-submit on the PATH).
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

BUILD = os.path.join(".bench_build", "perfbench")
WORKLOADS = ["load_stream", "query_common67"]
RUN_TIMEOUT_S = 170
GEN_CORES = min(4, os.cpu_count() or 1)  # for graft.GenData only
# Spark 4 on JDK 17 outside spark-submit (the list build.sbt forks with)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        fail("Spark not found: set SPARK_HOME or put spark-submit on the PATH")
    return jars


def sources(*roots):
    out = []
    for root in roots:
        for d, _, files in os.walk(root):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def run_child(cmd, timeout, **kw):
    """Run cmd in its own process group; on timeout stop the whole group."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"timed out after {timeout} s: {' '.join(cmd[:3])} ...", 3)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def cached(name, key, make):
    """The directory BUILD/<name>-<key>, made once by make(tmp_dir)."""
    final = os.path.join(BUILD, f"{name}-{key}")
    if os.path.isdir(final):
        return final
    os.makedirs(BUILD, exist_ok=True)
    for old in os.listdir(BUILD):
        if old.startswith(name + "-"):
            shutil.rmtree(os.path.join(BUILD, old))
    tmp = final + ".tmp"
    make(tmp)
    os.rename(tmp, final)
    return final


def build(jars):
    srcs = sources("src/main/scala", "perfbench/src")
    key = digest(srcs)

    def compile_to(out):
        os.makedirs(out)
        print(f"perfbench: compiling {len(srcs)} Scala sources", file=sys.stderr)
        cp = os.path.join(jars, "*")
        code = run_child(
            ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
             "-d", out, "-classpath", cp] + srcs,
            900, stdout=sys.stderr)
        if code != 0:
            shutil.rmtree(out)
            fail("compilation failed", code)

    return cached("classes", key, compile_to), key


def jvm(jars, classes, heap="2g"):
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = os.pathsep.join([classes, "src/main/resources", os.path.join(jars, "*")])
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:-UsePerfData", *opens, f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.stream.error.file={os.path.join(BUILD, 'derby.log')}", "-cp", cp]


def fixture(jars, classes):
    key = digest(["src/main/scala/graft/GenData.scala"])

    def generate(out):
        print("perfbench: generating the sf0.1 fixture", file=sys.stderr)
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(GEN_CORES))
        code = run_child(jvm(jars, classes) + ["graft.GenData", "0.1", out], 600,
                         stdout=sys.stderr, env=env)
        if code != 0:
            shutil.rmtree(out, ignore_errors=True)
            fail("fixture generation failed", code)

    return cached("sf0.1", key, generate)


def oracle_counts(base, sf, key):
    """Row counts of the common-67 DuckDB twins over the fixture."""
    def count(out):
        os.makedirs(out)
        sql = os.path.join(out, "oracle_sql.json")
        if run_child(base + ["perfbench.Main", "--oracle-sql", sql], RUN_TIMEOUT_S) != 0:
            fail("could not list the DuckDB twins")
        if run_child([sys.executable, "perfbench/oracle.py", sql, sf,
                      os.path.join(out, "counts.json")], RUN_TIMEOUT_S) != 0:
            fail("DuckDB twin counts failed")

    return os.path.join(cached("oracle", key, count), "counts.json")


def main():
    # a terminated benchmark stops its JVM too (run_child's handler)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=[0, 1])
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and None in (a.workload, a.seed, a.seconds, a.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")
    if not os.path.isdir("src/main/scala") or not os.path.isfile("BENCHMARK.json"):
        fail("run from the repository root: src/main/scala and BENCHMARK.json are needed")
    jars = spark_jars()
    classes, key = build(jars)
    base = jvm(jars, classes) + [f"-Dperfbench.sourceDigest={key}"]
    if a.selftest:
        sys.exit(run_child(base + ["perfbench.SelfTest"], RUN_TIMEOUT_S))
    sf = fixture(jars, classes)
    counts = oracle_counts(base, sf, key)
    work = os.path.join(BUILD, "work")
    for d in (a.workload, "spark-local"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    sys.exit(run_child(
        base + ["perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace), "--sf", sf, "--work", work,
                "--oracle-counts", counts],
        RUN_TIMEOUT_S))


if __name__ == "__main__":
    main()
