#!/usr/bin/env python3
"""Layered extraction benchmark runner.

    python3 layerbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the program and the benchmark from
source (sbt, offline) when the sources changed since the last build, runs one
benchmark JVM (Spark local[nproc]) and prints, as the last line of standard
output, one JSON object with the keys correct, attempted, failed and metrics:
the end-to-end metrics of BENCHMARK.json with --trace 0, the per-layer ones
with --trace 1. Everything the run writes stays under .bench_build/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BENCH, "target", "bench-classpath.txt")
STAMP = os.path.join(BENCH, "target", "bench-stamp.txt")
WORKLOADS = ("warc-mixed", "sql-extract")
RUN_LIMIT_S = 170
# Spark 4 on JDK 17 outside spark-submit needs these (as the program's build sets them)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"layerbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Digest of every file the build reads."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"), os.path.join(ROOT, "src", "main"),
            os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project"), os.path.join(BENCH, "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, files in os.walk(top)
            if "target" not in os.path.relpath(d, top).split(os.sep) for f in files)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == stamp:
                with open(CLASSPATH) as c:
                    cp = c.read().split("\n")
                if all(os.path.exists(p) for p in cp):
                    return cp, False
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t = time.time()
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                        "writeClasspath"], cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=880)
    if r.returncode != 0 or not os.path.exists(CLASSPATH):
        fail(f"build failed (sbt exit {r.returncode})", 1)
    print(f"layerbench: built in {time.time() - t:.1f} s", file=sys.stderr)
    with open(STAMP, "w") as f:
        f.write(stamp)
    with open(CLASSPATH) as c:
        return c.read().split("\n"), True


def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return ({m["name"]: m["unit"] for m in b["end_to_end"]}, {m["name"]: m["unit"] for m in b["per_layer"]})


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        fail("the program's sources (build.sbt, src/main) are not in this checkout; nothing to build")
    e2e, per_layer = declared()
    want = per_layer if a.trace else e2e

    cp, built = build()
    # a run without a build ends within RUN_LIMIT_S of its start
    deadline = (time.time() if built else t_start) + RUN_LIMIT_S
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(BUILD, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    out = os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    for old in (out, out + ".spans.jsonl", out + ".hist.json"):
        if os.path.exists(old):
            os.remove(old)
    load_before = os.getloadavg()
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join(cp), "layerbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--cores", str(cores), "--work", work, "--out", out])
    log = os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(deadline - time.time(), 1))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"benchmark JVM timed out; log in {log}", 1)
    if rc != 0 or not os.path.exists(out):
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        fail(f"benchmark JVM exited {rc}; log in {log}", 1)
    with open(out) as f:
        res = json.load(f)

    got = res["metrics"]
    missing = [n for n in want if n not in got]
    wrong_unit = [n for n in want if n in got and got[n]["unit"] != want[n]]
    if missing or wrong_unit:
        fail(f"metrics missing from the output: {missing}; units differ from BENCHMARK.json: {wrong_unit}", 3)

    host = res["host"]
    host.update({"git_commit": git_commit(), "loadavg_before": list(load_before),
                 "loadavg_after": list(os.getloadavg()), "result_file": os.path.relpath(out, ROOT)})
    res["host"] = host
    with open(out, "w") as f:
        json.dump(res, f, indent=1)

    for name, m in got.items():
        print(f"{name:36s} {m['value']:>16.6g} {m['unit']}")
    failed_share = res["failed"] / max(res["attempted"], 1)
    print(f"{'failed_share':36s} {failed_share:>16.6g} ratio")
    for flag in res["flags"]:
        print(f"flag: {flag}")
    print(json.dumps({"host": host, "passes": res["passes"]}))
    print(json.dumps({
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {n: {"value": got[n]["value"], "unit": got[n]["unit"]} for n in want},
    }))


if __name__ == "__main__":
    main()
