#!/usr/bin/env python3
"""Benchmark entry point; run from the repository root.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the library and the benchmark from source with sbt (offline) on
first use, caches the runtime classpath under .bench_build/, then runs
one benchmark JVM (perfbench.Main, local[4]) in a work directory
under .bench_work/ that is deleted afterwards. The last stdout line is
the result JSON. Exits non-zero, printing no result, if the build or
the run fails.
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

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
BENCH = os.path.join(ROOT, "perfbench")
WORKLOADS = ("icu_mortality_dense", "icu_readmission_sparse", "cohort_sweep",
             "curation_walkthrough")
RUN_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 850
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_fingerprint():
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = ["build.sbt", "project", "src", "perfbench/build.sbt",
             "perfbench/project", "perfbench/src"]
    for r in roots:
        p = os.path.join(ROOT, r)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(p)
            for f in fs if "target" not in os.path.relpath(d, ROOT).split(os.sep)
            and "project/project" not in os.path.relpath(d, ROOT))
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None, None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def classpath():
    """Runtime classpath of the benchmark, building it when stale."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no library sources here (build.sbt, src/main/scala); "
             "run from the repository root")
    stamp = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    fp = source_fingerprint()
    if os.path.isfile(stamp) and os.path.isfile(cp_file):
        with open(stamp) as f:
            if f.read().strip() == fp:
                with open(cp_file) as c:
                    return c.read().strip()
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    sbt_opts = ["-Dsbt.offline=true", "-Xmx2g", f"-Djava.io.tmpdir={tmp}",
                "-Dsbt.server.autostart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        sbt_opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(sbt_opts))
    log_path = os.path.join(BUILD, "build.log")
    t0 = time.time()
    with open(log_path, "w") as log:
        code, out = run_group(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export Runtime/fullClasspath"],
            BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=subprocess.PIPE,
            stderr=log, text=True)
    if code != 0:
        with open(log_path, "a") as log:
            log.write(out or "")
        fail(f"build failed (exit {code}); see {log_path}")
    cp = out.strip().splitlines()[-1].strip()
    if not cp or "perfbench" not in cp:
        fail(f"build printed no classpath; see {log_path}")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(fp)
    os.sync()  # flush the build's writes before anything is timed
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    return cp


def heap_size():
    """Half the machine's memory, clamped to 2..8 GiB (the test run's formula)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(max(g, 2), 8)}g"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = classpath()
    work = os.path.join(ROOT, ".bench_work",
                        f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xmx{heap_size()}", f"-Djava.io.tmpdir={work}/tmp",
              "-Duser.timezone=UTC", "-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work])
    log_path = os.path.join(ROOT, ".bench_work", f"last-{a.workload}.log")
    if a.trace:
        cmd += ["--spans", os.path.join(ROOT, ".bench_work", f"last-{a.workload}-spans.jsonl")]
    try:
        with open(log_path, "w") as log:
            code, out = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT,
                                  stdout=subprocess.PIPE, stderr=log, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        fail(f"benchmark JVM {'timed out' if code is None else f'exited {code}'}; "
             f"see {log_path}")
    lines = [l for l in out.splitlines() if l.strip()]
    try:
        res = json.loads(lines[-1])
        assert set(res) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        fail(f"no result line; see {log_path}")
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
