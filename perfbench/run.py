#!/usr/bin/env python3
"""Benchmark of the graft Spark engine: NWSS ETL, the reference's
CSV-to-metric-table pipeline, EDA queries and LLM curation.

Usage, from the root of the repository:

    python3 perfbench/run.py --workload etl --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-test

It compiles src/main/scala and perfbench/src with the Scala compiler in
Spark's jar directory ($SPARK_HOME/jars, or the one beside spark-submit) into
perfbench/.build, makes the seeded fixtures under perfbench/.work, runs one
benchmark JVM, checks every result, and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. --trace 1 reports the
per-layer metrics instead of the end-to-end ones and keeps the run's spans
in perfbench/.work/runs/. See perfbench/README.md.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path.insert(0, HERE)

WORKLOADS = ("etl", "pipeline", "eda", "curation")
# fixture scale per workload: TPC-H-ish scale factor / corpus size
EDA_SF = 0.01
CURATION_DOCS = 1000
JVM_TIMEOUT_S = 170
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def jars_dir():
    """Spark's jar directory holding the Scala compiler: $SPARK_HOME/jars,
    else the jars beside a spark-submit on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(p))
        for p in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(p, "spark-submit"))]
    for home in homes:
        d = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(d, "scala-compiler-*.jar")):
            return d
    die("no Spark jar directory with a Scala compiler; set SPARK_HOME")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        die(f"no sources under {ROOT}/src/main/scala; run from the repository root")
    own = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    tests = sorted(glob.glob(os.path.join(HERE, "test/**/*.scala"), recursive=True))
    return main + own + tests


def build():
    """Compiles the sources once per content hash; returns the class dir."""
    jars = jars_dir()
    srcs = sources()
    h = hashlib.sha1()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(HERE, ".build", h.hexdigest()[:16])
    os.makedirs(os.path.join(HERE, ".build"), exist_ok=True)
    with open(os.path.join(HERE, ".build", "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(os.path.join(out, "ok")):
            return out
        for old in glob.glob(os.path.join(HERE, ".build", "*", "")):
            shutil.rmtree(old, ignore_errors=True)
        classes = os.path.join(out, "classes")
        os.makedirs(classes)
        compiler = ":".join(glob.glob(os.path.join(jars, f"scala-{n}-*.jar"))[0]
                            for n in ("compiler", "library", "reflect"))
        with open(os.path.join(out, "sources.txt"), "w") as f:
            f.write("\n".join(srcs))
        t0 = time.time()
        r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
                            "-nowarn", "-d", classes, "-classpath", os.path.join(jars, "*"),
                            "@" + os.path.join(out, "sources.txt")],
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            shutil.rmtree(out, ignore_errors=True)
            die("compilation failed")
        print(f"perfbench: compiled {len(srcs)} files in {time.time() - t0:.0f}s", file=sys.stderr)
        open(os.path.join(out, "ok"), "w").close()
    return out


def java(classes, main, args, log, timeout):
    cp = f"{os.path.join(classes, 'classes')}:{os.path.join(jars_dir(), '*')}"
    tmp = os.path.join(os.path.dirname(log), "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData", "-Xss8m", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           *ADD_OPENS, "-cp", cp, main, *args]
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=os.path.dirname(log))
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return -1


def make_fixture(workload, seed, data):
    """Parquet fixtures for the query workloads, made three times; returns
    the median seconds."""
    import datagen
    times = []
    for _ in range(3):
        shutil.rmtree(data, ignore_errors=True)
        t0 = time.perf_counter()
        if workload == "eda":
            datagen.tpch(data, seed, EDA_SF)
        else:
            datagen.documents(data, seed, CURATION_DOCS)
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def check_oracles(record, data):
    """Compares every digest that has oracle SQL with DuckDB's. An oracle
    that cannot run fails the check of every pass of its query. Returns
    the failure messages and records the queries checked in
    record["oracle_checked"]."""
    import oracle
    sql = record["oracle_sql"]
    if not sql:
        return []
    con = oracle.connect(data)
    want, err, bad = {}, {}, []
    for q, s in sql.items():
        try:
            want[q] = oracle.digest(con, s)
        except Exception as e:
            err[q] = str(e)[:300]
    record["oracle_checked"] = sorted(want)
    for d in record["digests"]:
        q = d["query"]
        if q in err:
            bad.append(f"{q} pass {d['pass']}: oracle failed: {err[q]}")
        elif q in want and not oracle.matches(d["digest"], want[q]):
            bad.append(f"{q} pass {d['pass']}: spark {d['digest']} != duckdb {want[q]}")
    return bad


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def run(a):
    classes = build()
    runs = os.path.join(HERE, ".work", "runs")
    work = os.path.join(HERE, ".work", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(runs, exist_ok=True)
    os.makedirs(work)
    try:
        data = os.path.join(work, "data")
        jargs = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                 "--trace", str(a.trace), "--work", work, "--out", os.path.join(work, "record.json")]
        if a.workload in ("eda", "curation"):
            jargs += ["--fixture-s", repr(make_fixture(a.workload, a.seed, data))]
        log = os.path.join(work, "jvm.log")
        rc = java(classes, "graft.perfbench.Main", jargs, log, JVM_TIMEOUT_S)
        if rc != 0 or not os.path.exists(os.path.join(work, "record.json")):
            with open(log) as f:
                sys.stderr.write(f.read()[-6000:])
            die(f"benchmark JVM exited with {rc}")
        with open(log) as f:
            sys.stderr.write("".join(l for l in f if l.startswith("[perfbench]")))
        with open(os.path.join(work, "record.json")) as f:
            record = json.load(f)
        bad = check_oracles(record, data)
        record["failures"] += bad
        record["failed"] += len(bad)
        name = f"{a.workload}-seed{a.seed}-trace{a.trace}"
        with open(os.path.join(runs, name + ".json"), "w") as f:
            json.dump(record, f, indent=1)
        if os.path.exists(os.path.join(work, "spans.jsonl")):
            shutil.copy(os.path.join(work, "spans.jsonl"), os.path.join(runs, name + ".spans.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for msg in record["failures"][:20]:
        print(f"perfbench: FAILED {msg}", file=sys.stderr)
    got = record["layers"] if a.trace else record["metrics"]
    names = expected_metrics(a.trace)
    missing = [n for n in names if n not in got]
    if missing:
        die(f"metrics missing from the run: {missing}")
    attempted = max(1, record["attempted"])
    failed = min(record["failed"], attempted)
    for n in names:
        print(f"{n} = {got[n]['value']} {got[n]['unit']}", file=sys.stderr)
    print(f"error_rate = {failed / attempted} ({failed}/{attempted})", file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {n: got[n] for n in names}}))


def self_test():
    classes = build()
    work = os.path.join(HERE, ".work", f"selftest-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        log = os.path.join(work, "jvm.log")
        rc = java(classes, "graft.perfbench.SelfTest", [], log, JVM_TIMEOUT_S)
        with open(log) as f:
            sys.stdout.write("".join(l for l in f if l.startswith(("ok ", "FAIL", "all self", "1 self", "2 self"))
                                     or "self-test" in l))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(rc)


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--self-test", action="store_true")
    a = p.parse_args()
    if a.self_test:
        self_test()
    if not a.workload:
        p.error("--workload is required")
    run(a)


if __name__ == "__main__":
    main()
