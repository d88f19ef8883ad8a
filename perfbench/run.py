#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run compiles the program's
sources (src/main/scala) together with the benchmark's (perfbench/src) in
the benchmark's own sbt project; later runs reuse the classes while the
sources are unchanged. Compilation happens before any measuring JVM starts,
so no metric includes it. A run is one JVM, or for decode_stream three JVMs
one after the other, whose figures are combined into one result. Each JVM
gets a fresh work directory under perfbench/work/, deleted at the end;
trace files go to perfbench/traces/. The last line of standard output is
the result JSON.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSES = os.path.join(TARGET, "scala-2.13", "classes")
STAMP = os.path.join(TARGET, "perfbench.stamp")
WORK = os.path.join(HERE, "work")
TRACES = os.path.join(HERE, "traces")

WORKLOADS = ("decode_stream", "cdc_ingest", "cluster_labels")
# Fixed heap and collector per workload: JIT and GC barriers are the main
# source of JVM-to-JVM spread, so they are never left to ergonomics.
HEAP = {"decode_stream": "1g", "cdc_ingest": "2g", "cluster_labels": "2g"}
# decode_stream's figures differ from JVM to JVM with what the JIT compiled,
# so a run takes the median of several JVMs, each measuring an equal share
# of --seconds after its own warm-up.
JVMS = {"decode_stream": 3}
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def fingerprint():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    fp = fingerprint()
    if os.path.isfile(STAMP) and os.path.isdir(CLASSES):
        with open(STAMP) as fh:
            if fh.read().strip() == fp:
                return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"]
    res = subprocess.run(cmd, cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                         stdin=subprocess.DEVNULL)
    if res.returncode != 0:
        fail(f"build failed ({' '.join(cmd)} exited {res.returncode})")
    with open(STAMP, "w") as fh:
        fh.write(fp + "\n")


def clean_stale_work():
    if not os.path.isdir(WORK):
        return
    for name in os.listdir(WORK):
        try:
            pid = int(name.split("-")[1])
            os.kill(pid, 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(WORK, name), ignore_errors=True)
        except (IndexError, ValueError, PermissionError):
            pass


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no program sources at src/main/scala/graft; run from a checkout root")
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME must name a Spark installation with a jars/ directory")
    build()

    clean_stale_work()
    jvms = JVMS.get(a.workload, 1)
    results = []
    for k in range(jvms):
        res, lines = run_jvm(a, spark_home, k, jvms)
        print("\n".join(lines) if jvms == 1 else "\n".join(f"[jvm {k}] {l}" for l in lines))
        results.append(res)
    result = combine(results)
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


def run_jvm(a, spark_home, k, jvms):
    """Run the workload in one fresh JVM measuring for its share of
    --seconds; returns its result and the lines it printed before it."""
    work = os.path.join(WORK, f"run-{os.getpid()}-{a.workload}-{k}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    heap = HEAP[a.workload]
    cmd = [java, f"-Xms{heap}", f"-Xmx{heap}", "-XX:+UseParallelGC",
           "-XX:-UseAdaptiveSizePolicy",
           f"-Djava.io.tmpdir={work}/tmp",
           f"-Dspark.local.dir={work}/spark-local",
           f"-Dspark.sql.warehouse.dir={work}/warehouse",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", CLASSES + os.pathsep + os.path.join(spark_home, "jars", "*"),
            "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds / jvms), "--trace", a.trace,
            "--work", work, "--traces", TRACES, "--jvm", str(k)]
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            start_new_session=True, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S / jvms)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(work, ignore_errors=True)

    lines = out.rstrip("\n").split("\n")
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError, IndexError):
        print(out, end="")
        fail(f"no result line (JVM exit code {proc.returncode})")
    result["correct"] = result["correct"] and proc.returncode == 0
    return result, lines[:-1]


def combine(results):
    """One result from the JVMs of a run: operations summed, `setup_s` the
    first JVM's cold set-up, every other metric the median over the JVMs."""
    if len(results) == 1:
        return results[0]
    metrics = {}
    for name, m in results[0]["metrics"].items():
        vals = [r["metrics"][name]["value"] for r in results]
        value = vals[0] if name == "setup_s" else statistics.median(vals)
        metrics[name] = {"value": value, "unit": m["unit"]}
    return {"correct": all(r["correct"] for r in results),
            "attempted": sum(r["attempted"] for r in results),
            "failed": sum(r["failed"] for r in results),
            "metrics": metrics}


if __name__ == "__main__":
    main()
