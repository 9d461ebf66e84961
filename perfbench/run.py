#!/usr/bin/env python3
"""Build the engine and the benchmark from source, then run one workload.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run builds with sbt (the engine in the checkout plus the harness
under perfbench/) and caches the classpath in perfbench/.build; later runs
start the JVM directly. The last line of standard output is the result JSON.
Everything the run writes stays under perfbench/.build.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORKLOADS = ("serve-graph", "scan-exact", "dedup-batch")
RUN_LIMIT_S = 170  # the whole run, build excluded
BUILD_LIMIT_S = 600

# Spark on JDK 17 outside spark-submit needs these (as in the engine's build.sbt)
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


CHILD = None  # the running sbt or JVM process, in its own process group


def stop_child(*_):
    """Kill the child's process group and wait for it; on a signal, exit."""
    if CHILD is not None and CHILD.poll() is None:
        os.killpg(CHILD.pid, signal.SIGKILL)
        CHILD.wait()
    if _:
        sys.exit(3)


def run_child(cmd, timeout, **kw):
    """Run cmd in its own process group; returns (returncode, stdout)."""
    global CHILD
    CHILD = subprocess.Popen(cmd, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                             text=True, start_new_session=True, **kw)
    try:
        out, _ = CHILD.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        stop_child()
        return None, ""
    return CHILD.returncode, out


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads, relative to the checkout root."""
    files = ["build.sbt", "project/build.properties",
             "perfbench/build.sbt", "perfbench/project/build.properties"]
    for base in ("src/main", "perfbench/src/main"):
        for d, _, names in os.walk(os.path.join(ROOT, base)):
            files += [os.path.relpath(os.path.join(d, n), ROOT) for n in names]
    return sorted(files)


def fingerprint():
    h = hashlib.sha256()
    for rel in sources():
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt unless the cached classpath matches the sources."""
    fp = fingerprint()
    cp_file = os.path.join(BUILD, "classpath.txt")
    fp_file = os.path.join(BUILD, "fingerprint.txt")
    if os.path.exists(cp_file) and os.path.exists(fp_file):
        with open(fp_file) as f:
            if f.read().strip() == fp:
                with open(cp_file) as c:
                    return c.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx3g")
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        code, out = run_child(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            BUILD_LIMIT_S, cwd=HERE, env=env, stderr=log)
        log.write(out)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if code != 0 or not lines or "perfbench" not in lines[-1]:
        fail(f"build failed (exit {code}); see {os.path.relpath(log_path, ROOT)}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(fp_file, "w") as f:
        f.write(fp)
    return cp


def heap_mb():
    """A quarter of physical memory, between 2 and 6 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
        return max(2048, min(6144, kb // 4096))
    except (OSError, StopIteration, ValueError):
        return 3072


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, choices=("0", "1"))
    a = p.parse_args()
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, stop_child)

    if not os.path.exists(os.path.join(ROOT, "src/main/scala/graft/api/Vicinity.scala")):
        fail("engine sources not found next to perfbench/; run from a full checkout")
    cp = build()

    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    out = os.path.join(BUILD, "results")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    cmd = (["java", f"-Xmx{heap_mb()}m", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for m in ADD_OPENS for x in ("--add-opens", f"java.base/{m}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace,
              "--work", work, "--out", out])
    t0 = time.time()
    code, stdout = run_child(cmd, RUN_LIMIT_S, cwd=ROOT, env=env)
    shutil.rmtree(work, ignore_errors=True)
    if code is None:
        fail(f"run exceeded {RUN_LIMIT_S} s")
    print(f"perfbench: JVM ran {time.time() - t0:.1f} s", file=sys.stderr)
    if code != 0:
        fail(f"benchmark exited with {code}")
    sys.stdout.write(stdout)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
