#!/usr/bin/env python3
"""Run one benchmark workload of the graft engine.

usage: python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the library and the
benchmark with sbt (offline) and records the runtime classpath in
perfbench/.work; later runs launch the JVM directly. The last line of
stdout is the result JSON; the line before it is the full run record.
Workloads: seismic_survey, store_slices, operator_mix (see README.md).
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("seismic_survey", "store_slices", "operator_mix")

BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170

# the JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads, as paths relative to the checkout."""
    out = []
    for base, top in ((ROOT, ["build.sbt", "project/build.properties"]),
                      (HERE, ["build.sbt", "project/build.properties"])):
        out += [os.path.join(base, t) for t in top]
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for dirpath, _, files in os.walk(d):
            out += [os.path.join(dirpath, f) for f in files]
    return sorted(os.path.relpath(p, ROOT) for p in out)


def fingerprint():
    h = hashlib.sha256()
    for rel in source_files():
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def driver_mem():
    """The tier-1 SPARK_DRIVER_MEM rule: half of MemTotal, 2..8 GiB."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(max(g, 2), 8)}g"


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} exceeded {timeout} s", 3)
    return p.returncode, out


def build(fp):
    """Compile library + benchmark and record the classpath, once per
    source fingerprint."""
    stamp = os.path.join(WORK, "build.json")
    cp_file = os.path.join(WORK, "classpath.txt")
    try:
        with open(stamp) as f:
            if json.load(f).get("fingerprint") == fp and os.path.exists(cp_file):
                return False
    except (OSError, ValueError):
        pass
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if not env.get("SBT_OPTS"):
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts = ["-Dsbt.override.build.repos=true",
                    f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    with open(os.path.join(WORK, "build.log"), "w") as log:
        code, _ = run_bounded(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
            BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=log,
            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if code != 0 or not os.path.exists(cp_file):
        fail(f"build failed (exit {code}); see {os.path.join(WORK, 'build.log')}", 3)
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "build_s": time.time() - t0}, f)
    return True


def commit():
    head = os.path.join(ROOT, ".git")
    if not os.path.exists(head):
        return "unknown"
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("no graft sources next to the benchmark (build.sbt, src/main/scala/graft)")

    fp = fingerprint()
    build(fp)
    with open(os.path.join(WORK, "classpath.txt")) as f:
        cp = f.read().strip()
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    mem = driver_mem()
    cmd = (["java"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xmx{mem}", "-Xms2g", "-XX:+AlwaysPreTouch",
            f"-Djava.io.tmpdir={tmp}", "-Duser.timezone=UTC",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--root", ROOT, "--work", WORK,
            "--commit", commit(), "--source", fp])
    code, out = run_bounded(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True)
    lines = out.splitlines()
    if code != 0 or not lines or not lines[-1].startswith("{"):
        sys.stdout.write("\n".join(l for l in lines if not l.startswith("{")) + "\n")
        fail(f"workload {a.workload} failed (exit {code})", 1)
    sys.stdout.write(out)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
