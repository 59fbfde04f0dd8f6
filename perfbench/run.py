#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1 [--cpus C]

Run from the root of the checkout. The first run builds the program and the
harness from source with sbt (offline); later runs reuse the build while the
sources are unchanged. Each run gets a fresh JVM and its own directory under
.bench_runs/ (java.io.tmpdir, SPARK_LOCAL_DIRS, lake, checkpoints), which is
deleted afterwards. The harness prints its metrics and, as the last line of
standard output, the result object; the full record of the run (environment,
gates, every metric, spans) is kept in .bench_out/.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads, in a stable order."""
    roots = ["build.sbt", "project/build.properties", "src/main",
             "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src/main"]
    out = []
    for r in roots:
        p = os.path.join(ROOT, r)
        if os.path.isfile(p):
            out.append(p)
        for d, _, fs in sorted(os.walk(p)):
            out += [os.path.join(d, f) for f in sorted(fs)]
    return out


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    tmp = os.path.join(ROOT, ".bench_tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] += f" -Djava.io.tmpdir={tmp}"
    # no hsperfdata files in /tmp from sbt's JVMs (nor from the version
    # probe its launcher script runs)
    env["JAVA_TOOL_OPTIONS"] = (env.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip()
    return env


def build():
    """Compile the program and the harness once per source state; return
    the harness's runtime classpath as the build exported it."""
    marker = os.path.join(BENCH, "target", "build-stamp")
    cp_file = os.path.join(BENCH, "target", "classpath")
    want = stamp()
    if os.path.isfile(marker) and open(marker).read() == want and os.path.isfile(cp_file):
        return open(cp_file).read()
    log = os.path.join(ROOT, ".bench_out", "build.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as fh:
        code = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/compile",
                          "export perfbench/Runtime/fullClasspath"],
                         cwd=BENCH, env=sbt_env(), stdout=fh, stderr=subprocess.STDOUT,
                         timeout=BUILD_TIMEOUT_S)
    if code != 0:
        fail(f"build failed (exit {code}); see {log}")
    with open(log) as fh:
        cps = [l.strip() for l in fh if l.startswith(os.sep) and ".jar" in l]
    if not cps:
        fail(f"the build exported no classpath; see {log}")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(marker, "w") as fh:
        fh.write(want)
    return cps[-1]


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout kill the whole group.
    Returns the exit code (None on timeout) after every process has ended."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
        else:
            try:
                os.killpg(p.pid, signal.SIGKILL)  # stragglers of the group
            except ProcessLookupError:
                pass


def heap():
    """JVM heap from MemTotal: half the memory, between 2 and 8 GB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cpus", type=int, default=os.cpu_count())
    a = ap.parse_args()

    for need in ("build.sbt", "src/main/scala", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the root of a checkout of the program")
    cp = build()

    runs = os.path.join(ROOT, ".bench_runs")
    run_dir = os.path.join(runs, f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, d))
    tag = f"{a.workload}-s{a.seed}-t{a.trace}-c{a.cpus}"
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    cmd = (["java"] + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS] +
           ["-XX:ReservedCodeCacheSize=1g", f"-Xmx{heap()}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cpus", str(a.cpus), "--run-dir", run_dir,
            "--record", os.path.join(out_dir, f"{tag}.json")])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
               PERFBENCH_GIT_SHA=git_sha())
    t0 = time.time()
    try:
        with open(os.path.join(out_dir, f"{tag}.log"), "w") as err, \
                open(os.path.join(run_dir, "stdout"), "w") as so:
            code = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, env=env, stdout=so, stderr=err)
        with open(os.path.join(run_dir, "stdout")) as fh:
            lines = fh.read().splitlines()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if code != 0:
        fail(f"workload {a.workload} {'timed out' if code is None else f'exited {code}'} "
             f"after {time.time() - t0:.0f} s; see .bench_out/{tag}.log")
    if not lines or not lines[-1].startswith("{"):
        fail("the harness printed no result line")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
