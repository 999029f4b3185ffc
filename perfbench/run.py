#!/usr/bin/env python3
"""Run one benchmark workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first call builds the library and
the harness from source with sbt (perfbench/build.sbt) into
.bench_build/; later calls reuse that build until a source file
changes. The harness then runs in a plain JVM, and its last stdout line
is the result object. Exits non-zero, without a result, if the
checkout lacks the library's sources or the build fails.
"""

import argparse
import fcntl
import hashlib
import os
import signal
import subprocess
import sys

WORKLOADS = ("wcc_batch_stream", "rounds_vectors")
BUILD = ".bench_build"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

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
    sys.exit(2)


def source_files():
    roots = ["src/main/scala", "perfbench/src/main"]
    files = ["perfbench/build.sbt", "perfbench/project/build.properties"]
    for root in roots:
        for d, _, names in os.walk(root):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt unless .bench_build already holds this source tree's build."""
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    want = stamp()
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(cp_file) and os.path.exists(stamp_file):
            with open(stamp_file) as fh:
                if fh.read().strip() == want:
                    return cp_file
        for f in (cp_file, stamp_file):
            if os.path.exists(f):
                os.remove(f)
        # sbt's log goes to stderr so stdout carries only the result
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                           cwd="perfbench", stdout=sys.stderr, stderr=sys.stderr,
                           stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
        if r.returncode != 0 or not os.path.exists(cp_file):
            fail(f"build failed (sbt exit {r.returncode})")
        with open(stamp_file, "w") as fh:
            fh.write(want)
    return cp_file


def heap():
    """JVM heap: half the host memory in GiB, clamped to [2, 8]."""
    try:
        with open("/proc/meminfo") as fh:
            kib = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kib // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    for need in ("src/main/scala", "perfbench/build.sbt"):
        if not os.path.exists(need):
            fail(f"run from the root of a checkout: {need} is missing")
    with open(build()) as fh:
        classpath = fh.read().strip()
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", f"-Xmx{heap()}", "-XX:+UseG1GC", "-XX:MaxGCPauseMillis=200",
            "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.abspath(tmp)}", "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work-dir", BUILD, "--pinned", "perfbench/pinned.json"])
    p = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        code = p.wait(timeout=RUN_TIMEOUT_S)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"harness did not finish within {RUN_TIMEOUT_S} s")
    if code != 0:
        fail(f"harness exited with {code}")


if __name__ == "__main__":
    main()
