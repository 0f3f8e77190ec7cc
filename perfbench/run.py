#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. It builds the engine and the runner from
source (sbt, only when the sources changed since the last build),
generates the workload's inputs from the seed, starts the runner JVM, checks
the outputs, and prints the full record followed, as the last line, by
{"correct", "attempted", "failed", "metrics"}. `--trace 0` reports the
end-to-end metrics of BENCHMARK.json, `--trace 1` its per-layer metrics.
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("serve", "refresh", "maintain", "query_mix")
RUN_LIMIT_S = 170
# A fixed heap and young generation keep the resident peak a property of
# the program rather than of the collector's adaptive sizing.
JVM_MEMORY = ["-Xms3g", "-Xmx3g", "-Xmn512m"]
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


def source_stamp(root):
    """Hash of every input of the build, so an unchanged tree skips sbt."""
    h = hashlib.sha256()
    files = ["build.sbt", "project/build.properties",
             "perfbench/build.sbt", "perfbench/project/build.properties"]
    for base in ("src/main", "perfbench/src/main"):
        for d, _, names in os.walk(os.path.join(root, base)):
            files += [os.path.relpath(os.path.join(d, n), root) for n in names]
    for rel in sorted(files):
        h.update(rel.encode())
        with open(os.path.join(root, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(root, state_dir):
    """Compiles the engine and the runner; returns the runtime classpath."""
    stamp = source_stamp(root)
    stamp_file = os.path.join(state_dir, "stamp")
    cp_file = os.path.join(state_dir, "classpath")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f, open(cp_file) as g:
            cp = g.read().strip()
            if f.read().strip() == stamp and all(os.path.exists(p) for p in cp.split(os.pathsep)):
                return cp
    os.makedirs(state_dir, exist_ok=True)
    r = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export perfbench/Runtime/fullClasspath"],
        cwd=os.path.join(root, "perfbench"), capture_output=True, text=True, timeout=840)
    lines = [ln for ln in r.stdout.splitlines() if ln and not ln.startswith("[")]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("build failed", 1)
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def run_runner(cp, args, work, deadline):
    log_path = os.path.join(work, "runner.log")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + JVM_MEMORY + [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main"] + args
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, cwd=work)
        try:
            code = proc.wait(timeout=max(10.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"runner exited with {code}", 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        fail("run from the root of a checkout that holds the engine's sources")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    load_start = os.getloadavg()[0]
    state = os.path.join(root, ".perfbench")
    cp = build(root, os.path.join(state, "build"))

    deadline = time.monotonic() + RUN_LIMIT_S
    work = os.path.join(state, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        inputs = os.path.join(work, "input")
        t0 = time.monotonic()
        gen.generate(a.workload, a.seed, inputs)
        out = os.path.join(work, "record.json")
        t1 = time.monotonic()
        run_runner(cp, [a.workload, inputs, os.path.join(work, "run"), str(a.seconds),
                        str(a.trace), out], work, deadline)
        t2 = time.monotonic()
        with open(out) as f:
            rec = json.load(f)
        if a.workload == "query_mix":
            rec["checks"] += oracle.check(os.path.join(inputs, "tables"), rec["extra"]["results_dir"],
                                          rec["extra"].pop("oracle_sql"))
        rec["harness_s"] = {"generate": t1 - t0, "runner": t2 - t1, "oracle": time.monotonic() - t2}
        rec["load_avg_start"] = load_start
        rec["load_avg_end"] = os.getloadavg()[0]
        result = metrics.summarize(rec, spec, traced=bool(a.trace))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"record": result["record"]}, sort_keys=True))
    print(json.dumps(result["line"]))
    sys.exit(0 if result["line"]["correct"] else 1)


if __name__ == "__main__":
    main()
