#!/usr/bin/env python3
"""graft benchmark: builds graft and the harness from source, runs one workload.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: skymr_anti, sql_skyline_indep, commit_dml (see BENCHMARK.json).
The first run in a checkout builds with sbt (offline) into target/ and
perfbench/target/, and records the classpath under $CARGO_TARGET_DIR
(default .bench_build); later runs reuse it while the sources are unchanged.
Scratch data lives under .bench_work/ and is removed before exit; traced runs
write their spans to .bench_out/. The last stdout line is the result JSON.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("skymr_anti", "sql_skyline_indep", "commit_dml")
RUN_LIMIT_S = 170  # a run after the build must end well inside 180 s
BUILD_LIMIT_S = 840
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    """Digest of everything the build reads from the checkout."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(base):
            files += [os.path.join(base, f) for f in sorted(os.listdir(base))
                      if f.endswith((".sbt", ".properties", ".scala"))]
    for tree in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in sorted(os.walk(tree)):
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, cwd, env, timeout, capture_err):
    """Run cmd in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                         stderr=subprocess.PIPE if capture_err else None,
                         start_new_session=True, text=True)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} exceeded {timeout:.0f} s and was stopped", 1)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out, err


def classpath(build_dir):
    """Build graft and the harness if the sources changed; return the classpath."""
    stamp_file = os.path.join(build_dir, "perfbench.stamp")
    cp_file = os.path.join(build_dir, "perfbench.classpath")
    digest = source_hash()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f, open(cp_file) as g:
            cp = g.read().strip()
            if f.read().strip() == digest and all(os.path.exists(p) for p in cp.split(":")):
                return cp
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    print("perfbench: building graft and the harness (sbt, offline)", file=sys.stderr)
    t0 = time.time()
    rc, out, _ = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        HERE, env, BUILD_LIMIT_S, False)
    lines = [ln.strip() for ln in out.splitlines()]
    cps = [ln for ln in lines if ln.startswith("/") and "perfbench" in ln and ":" in ln]
    if rc != 0 or not cps:
        sys.stderr.write(out[-4000:])
        fail(f"build failed (sbt exit {rc})", 1)
    cp = cps[-1]
    os.makedirs(build_dir, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp + "\n")
    with open(stamp_file, "w") as f:
        f.write(digest + "\n")
    print(f"perfbench: build took {time.time() - t0:.1f} s", file=sys.stderr)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("no graft sources next to the benchmark (need build.sbt and src/main/scala/graft)")

    build_dir = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    if not os.path.isabs(build_dir):
        build_dir = os.path.join(ROOT, build_dir)
    cp = classpath(build_dir)

    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(tmp)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
        "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--work", work, "--out", os.path.join(ROOT, ".bench_out")]
    try:
        # Spark's block manager honours SPARK_LOCAL_DIRS over spark.local.dir
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        rc, out, err = run_group(cmd, ROOT, env, RUN_LIMIT_S, True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(ROOT, ".bench_work"))
        except OSError:
            pass
    lines = out.rstrip("\n").splitlines()
    result = None
    if rc == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.stderr.write(err[-6000:])
        sys.stdout.write("\n".join(lines[:-1]) + "\n" if lines else "")
        fail(f"benchmark JVM exited {rc} without a result", 1)
    print("\n".join(lines[:-1]))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
