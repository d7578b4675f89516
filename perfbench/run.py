#!/usr/bin/env python3
"""Benchmark command: builds graft from source, runs one workload in a fresh
JVM, checks every answer and prints one `name value unit` line per metric,
then the result as one JSON line.

    python3 perfbench/run.py --workload query_session --seed 1 --seconds 10 --trace 0

Run from the repository root. `--trace 1` reports the per-layer metrics of
a traced run instead of the end-to-end ones. `--mode selftest` runs the
benchmark's own tests; `--mode record-queries` and `--mode record-pipelines`
rewrite the expected answers under perfbench/expected (see README.md).
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = ".bench_build"
DATA = os.path.join(HERE, "data", "sf0.1")
EXPECTED = os.path.join(HERE, "expected")
JVM_TIMEOUT_S = 170
COLD_BATCHES = 20  # 230 queries / 20 = about one panel's worth per JVM
HEAP = "3g"
# JDK 17 module openings Spark needs outside spark-submit.
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
         "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
         "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
         "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
         "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]


def spark_jars():
    """The Spark jars graft builds against: $SPARK_JARS, else the
    `unmanagedBase` that build.sbt names."""
    if os.environ.get("SPARK_JARS"):
        return os.environ["SPARK_JARS"]
    with open("build.sbt") as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        fail("build.sbt names no unmanagedBase; set SPARK_JARS")
    return m.group(1)


def fail(msg):
    print(f"run.py: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    for top in ("src/main/scala", os.path.join(HERE, "src"), os.path.join(HERE, "build.sh")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles once per source state; later runs reuse the classes."""
    if not os.path.isdir("src/main/scala"):
        fail("no src/main/scala: run from the root of a graft checkout")
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    classes = os.path.join(BUILD, "classes")
    if os.path.isdir(classes) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return classes
    os.makedirs(BUILD, exist_ok=True)
    r = subprocess.run(["bash", os.path.join(HERE, "build.sh"), BUILD, spark_jars()],
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail(f"build failed ({r.returncode})")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def run_jvm(classes, jvm_args, work):
    """Runs graftbench.Main in its own process group and always reaps it."""
    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{spark_jars()}/*", "graftbench.Main"] + jvm_args
    os.makedirs(f"{work}/tmp", exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def record_cold(classes, common, work):
    """Measures every query's cold cost in fresh sessions, in `--of` strided
    batches of about a sample's size (one JVM each), and writes the costs
    into the cold_s column of expected/queries.tsv (the panel in
    Main.scala was chosen by it)."""
    costs = os.path.join(BUILD, "cold_costs.tsv")
    if os.path.exists(costs):
        os.remove(costs)
    for b in range(COLD_BATCHES):
        extra = ["--out", costs, "--batch", str(b), "--of", str(COLD_BATCHES)]
        if run_jvm(classes, ["--mode", "record-cold"] + common + extra, work) != 0:
            print(open(os.path.join(work, "jvm.log")).read()[-4000:], file=sys.stderr)
            return 1
    fresh = dict(line.rstrip("\n").split("\t") for line in open(costs) if line.strip())
    path = os.path.join(EXPECTED, "queries.tsv")
    rows = [line.rstrip("\n").split("\t") for line in open(path)]
    col = rows[0].index("cold_s")
    for r in rows[1:]:
        r[col] = fresh[r[0]]
    with open(path, "w") as f:
        f.writelines("\t".join(r) + "\n" for r in rows)
    return 0


def metric_names():
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    return ([m["name"] for m in spec["end_to_end"]],
            [m["name"] for m in spec["per_layer"]])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--mode", default="run",
                    choices=["run", "selftest", "record-queries", "record-pipelines",
                             "record-cold"])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isdir(DATA):
        fail(f"no benchmark data at {DATA}")
    classes = build()
    cores = len(os.sched_getaffinity(0))
    tag = f"{args.mode}-{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.abspath(os.path.join(BUILD, "runs", tag))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    common = ["--work", work, "--cores", str(cores), "--data", DATA,
              "--corpus", os.path.join(DATA, "documents.parquet")]
    try:
        if args.mode != "run":
            record_out = {"record-queries": os.path.join(EXPECTED, "queries.tsv"),
                          "record-pipelines": os.path.join(EXPECTED, "pipelines.tsv")}
            extra = ["--out", record_out.get(args.mode, out),
                     "--previous", record_out.get(args.mode, "")]
            global JVM_TIMEOUT_S
            JVM_TIMEOUT_S = 3600
            if args.mode == "record-cold":
                sys.exit(record_cold(classes, common, work))
            rc = run_jvm(classes, ["--mode", args.mode] + common + extra, work)
            print(open(os.path.join(work, "jvm.log")).read()[-4000:], file=sys.stderr)
            sys.exit(rc)
        e2e, per_layer = metric_names()
        t0 = time.time() * 1000
        rc = run_jvm(classes, ["--mode", "run", "--workload", args.workload,
                               "--seed", str(args.seed), "--seconds", str(args.seconds),
                               "--trace", str(args.trace), "--t0", repr(t0),
                               "--expected", EXPECTED, "--out", out] + common, work)
        if rc != 0 or not os.path.exists(out):
            sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-6000:])
            fail(f"benchmark JVM exited with {rc}")
        with open(out) as f:
            res = json.load(f)
        wanted = per_layer if args.trace else e2e
        missing = [n for n in wanted if n not in res["metrics"]]
        if missing:
            fail(f"metrics missing from the run: {missing}")
        for f_ in res["failures"]:
            print(f"FAILED {f_}")
        print(f"sample {' '.join(res['sample'])}")
        for name, m in res["metrics"].items():
            print(f"{name} {m['value']} {m['unit']} n={m['n']}")
        for name, m in res["report"].items():
            print(f"{name} {m['value']} {m['unit']} n={m['n']}")
        print(f"failed_ratio {res['failed'] / res['attempted']} ratio n={res['attempted']}")
        keep = os.path.join(BUILD, "results")
        os.makedirs(keep, exist_ok=True)
        for f_ in ("result.json", "spans.jsonl"):
            if os.path.exists(os.path.join(work, f_)):
                shutil.copy(os.path.join(work, f_), os.path.join(keep, f"{tag}.{f_}"))
        print(json.dumps({
            "correct": res["correct"], "attempted": res["attempted"], "failed": res["failed"],
            "metrics": {n: {"value": res["metrics"][n]["value"],
                            "unit": res["metrics"][n]["unit"]} for n in wanted}}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
