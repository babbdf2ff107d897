#!/usr/bin/env python3
"""Benchmark command.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It compiles the program (src/main) and the
harness (perfbench/harness) with the Scala compiler that ships with Spark, in
the jars directory that build.sbt names as `unmanagedBase`; it
runs one workload in one JVM, checks the outputs, and prints one JSON
result line as the last line of stdout. Build outputs go to .perfbench-build/,
run directories to .perfbench-work/ (the run's own is removed at the end; the
run record is kept under .perfbench-work/records/).
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".perfbench-build")
WORK = os.path.join(ROOT, ".perfbench-work")
WORKLOADS = ["levels_cron", "corpus_vector"]
HEAP = "1g"
# a fixed young generation: the collector then does not resize eden to the
# host's speed, and the heap pages a run touches beyond it are old-generation
# pages, which follow what the program keeps
YOUNG = "256m"
# a run must end within 180 s; the JVM gets what is left of this
RUN_BUDGET_S = 170
BUILD_BUDGET_S = 800
# what spark-submit would pass to a JDK 17 driver
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


class BenchError(Exception):
    """A named cause that stops the run before any result."""


def spark_jars():
    """The jars the program builds against: the directory `build.sbt` names
    as `unmanagedBase`."""
    sbt = os.path.join(ROOT, "build.sbt")
    m = os.path.exists(sbt) and re.search(
        r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    if not m:
        raise BenchError(f"no unmanagedBase in {sbt} to find the Spark jars")
    jars = m.group(1)
    if not os.path.isdir(jars):
        raise BenchError(f"no Spark jars at {jars}, the unmanagedBase of build.sbt")
    names = sorted(os.listdir(jars))
    if not any(n.startswith("scala-compiler") for n in names):
        raise BenchError(f"no scala-compiler jar in {jars}")
    return jars, [os.path.join(jars, n) for n in names if n.endswith(".jar")]


def sources(top):
    out = []
    for d, _, files in os.walk(top):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def program_sources():
    srcs = sources(os.path.join(ROOT, "src", "main"))
    if not srcs:
        raise BenchError(f"no program sources under {os.path.join(ROOT, 'src', 'main')}: "
                         "nothing to benchmark")
    return srcs


def compile_scala(srcs, classpath, out, timeout):
    os.makedirs(out, exist_ok=True)
    cp = os.pathsep.join(classpath)
    # the compiler's JVM runs once per build: quick JIT tiers suit it best
    args = ["java", "-Xss8m", "-Xmx2g", "-XX:TieredStopAtLevel=1", "-XX:-UsePerfData",
            "-cp", cp, "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", cp] + srcs
    r = subprocess.run(args, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       timeout=timeout, text=True)
    if r.returncode != 0:
        raise BenchError(f"compile failed ({out}):\n" + r.stdout[-4000:])


def build():
    """Compile program and harness once per source digest; returns the
    classpath list."""
    if shutil.which("java") is None:
        raise BenchError("no `java` on PATH")
    prog = program_sources()
    _, jars = spark_jars()
    harness = sources(os.path.join(HERE, "harness"))
    if not harness:
        raise BenchError(f"no harness sources under {HERE}/harness")
    h = hashlib.sha256()
    for f in prog + harness:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(os.path.basename(j) for j in jars).encode())
    out = os.path.join(BUILD, h.hexdigest()[:16])
    classes = [os.path.join(out, "harness"), os.path.join(out, "program")]
    if not os.path.exists(os.path.join(out, "ok")):
        if os.path.isdir(BUILD):
            for old in os.listdir(BUILD):
                shutil.rmtree(os.path.join(BUILD, old), ignore_errors=True)
        t0 = time.time()
        compile_scala(prog, jars, classes[1], BUILD_BUDGET_S)
        compile_scala(harness, [classes[1]] + jars, classes[0],
                      max(60, BUILD_BUDGET_S - (time.time() - t0)))
        open(os.path.join(out, "ok"), "w").close()
    return classes + [os.path.join(spark_jars()[0], "*")]


def run_jvm(classpath, work, args, timeout):
    """Run perfbench.Main; returns the parsed record."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    record = os.path.join(work, "record.json")
    # a fixed heap, not pre-touched: resident memory grows with the heap
    # pages the run touches. No perf-data file: the JVM writes only inside
    # the checkout.
    cmd = (["java"] + ADD_OPENS + [
            f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp", "-cp", os.pathsep.join(classpath),
            "perfbench.Main", "--work", work, "--record", record,
            "--launch-ms", str(int(time.time() * 1000))] + args)
    with open(os.path.join(work, "jvm.out"), "w") as out, \
            open(os.path.join(work, "jvm.err"), "w") as err:
        p = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=err)
        try:
            p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise BenchError(f"the JVM did not finish within {timeout:.0f} s")
    if not os.path.exists(record):
        with open(os.path.join(work, "jvm.err")) as f:
            tail = f.read()[-3000:]
        raise BenchError(f"the JVM exited with code {p.returncode} and no record:\n{tail}")
    with open(record) as f:
        out = json.load(f)
    out["jvm_exit_s"] = time.time() - os.path.getmtime(record)
    return out


def levels_checks(rec):
    import levels_check
    return [{"name": n, "ok": ok, "detail": d} for n, ok, d in levels_check.run(rec["info"])]


def load_spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        raise BenchError(f"no {path}")
    with open(path) as f:
        return json.load(f)


def result_line(spec, rec, trace):
    """The result line (correct, attempted, failed, metrics) of a run record."""
    metrics = {}
    if trace:
        for m in spec["per_layer"]:
            v = rec["layer"].get(m["name"])
            metrics[m["name"]] = {"value": 0.0 if v is None else v, "unit": m["unit"]}
    else:
        for m in spec["end_to_end"]:
            v = rec["e2e"].get(m["name"])
            if v is None:
                raise BenchError(f"the run measured no {m['name']}")
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    return {"correct": all(c["ok"] for c in rec["checks"]),
            "attempted": rec["attempted"], "failed": rec["failed"], "metrics": metrics}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    sys.path.insert(0, HERE)
    work = os.path.join(WORK, f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    try:
        spec = load_spec()
        classpath = build()
        t0 = time.time()
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        out = run_jvm(classpath, work, [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace)], RUN_BUDGET_S - 15)
        rec = out["records"][0]
        if "error" in rec:
            raise BenchError(f"{a.workload} failed: {rec['error']}")
        if a.workload == "levels_cron":
            rec["checks"] += levels_checks(rec)
        rec["cpus"] = out["cpus"]
        rec["jvm_exit_s"] = out["jvm_exit_s"]
        rec["wall_s"] = time.time() - t0
        os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
        with open(os.path.join(WORK, "records",
                               f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
            json.dump(rec, f, indent=1)
        for c in rec["checks"]:
            if not c["ok"]:
                print(f"perfbench: check failed: {c['name']}: {c['detail']}", file=sys.stderr)
        line = result_line(spec, rec, a.trace == 1)
    except (BenchError, subprocess.TimeoutExpired, OSError, KeyError, ValueError,
            ImportError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(line))


if __name__ == "__main__":
    main()
