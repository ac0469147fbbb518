#!/usr/bin/env python3
"""Benchmark command for the graft engine.

    python3 perfbench/run.py --workload knn_serve --seed 1 --seconds 20 --trace 0

Run from the repository root. Builds the program and the benchmark from
source with sbt on first use (the build is reused while no source file
changes), then runs one workload in one JVM on local[<cpu count>] and
prints one JSON result line as the last line of stdout. The workloads
are those BENCHMARK.json names; perfbench/README.md describes workloads,
metrics, the per-statement limit and the layer map.
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
ROOT = os.path.dirname(HERE)
START = time.monotonic()

# Spark on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}
HEAP = "4g"
RUN_TIMEOUT_S = 170  # the run's own cap, under the 180 s a run may take


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, for the rebuild stamp."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src", "main"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def stamp():
    h = hashlib.sha256()
    for f in sources():
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(out):
    """Compile with sbt unless the recorded build matches the sources;
    return the runtime classpath."""
    cp_file, stamp_file = os.path.join(out, "classpath.txt"), os.path.join(out, "build.stamp")
    want = stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == want:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(out, "build.log")
    with open(log, "w") as lf:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=lf, text=True, timeout=840)
        lf.write(p.stdout)
    lines = [l.strip() for l in p.stdout.splitlines()]
    cps = [l for l in lines if not l.startswith("[") and "perfbench" in l and os.pathsep in l]
    if p.returncode != 0 or not cps:
        fail(f"build failed (rc={p.returncode}); see {log}")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(want)
    return cps[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft", "Engine.scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"program sources not found ({need} missing under {ROOT})")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        workloads = [w["name"] for w in json.load(f)["workloads"]]
    if a.workload not in workloads:
        fail(f"unknown workload {a.workload!r}; have {', '.join(workloads)}")

    out = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build", "perfbench")
    os.makedirs(out, exist_ok=True)
    cp = build(out)
    # per-run scratch: the JVM is halted, so its own exit hooks never
    # clean temp directories; this process removes them
    tmp = os.path.join(out, "tmp")
    spark_dir = os.path.join(out, "spark")
    for d in (tmp, spark_dir):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(tmp)

    run_start = time.monotonic()
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={tmp}",
        "-cp", cp, "graft.perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--out", out]
    log = os.path.join(out, f"run-{a.workload}-{a.seed}-{a.trace}.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=lf, text=True)
        try:
            stdout, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S}s; see {log}", 3)
    for d in (tmp, spark_dir):
        shutil.rmtree(d, ignore_errors=True)
    with open(log) as lf:
        for line in lf:
            if line.startswith("perfbench:") or line.startswith("  "):
                sys.stderr.write(line)
    result = None
    for line in reversed(stdout.splitlines()):
        try:
            cand = json.loads(line)
        except ValueError:
            continue
        if isinstance(cand, dict) and set(cand) == RESULT_KEYS:
            result = cand
            break
    if p.returncode != 0 or result is None:
        fail(f"run failed (rc={p.returncode}); see {log}")
    print(f"perfbench: run took {time.monotonic() - run_start:.1f}s "
          f"(total {time.monotonic() - START:.1f}s)", file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
