#!/usr/bin/env python3
"""Run one benchmark workload on one seed and print its metrics.

    python3 perfbench/run.py --workload scan --seed 1 --seconds 16 --trace 0

Run from the repository root. The first run builds the program and the
benchmark with sbt (about a minute); later runs reuse the build until a
source file changes. The last stdout line is the JSON result; lines
starting with `#` before it are informational. The exit code is 0 only
when every op's result matched its oracle.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("scan", "lookup", "ingest", "pipeline")
LAUNCH = os.path.join(HERE, "target", "launch.txt")
STAMP = os.path.join(HERE, "target", "launch.sha256")
JVM_TIMEOUT_S = 170
# A 2 GB heap of fixed size with a fixed 256 MB young generation: the
# collector neither grows the heap nor sizes the young generation by pause
# times, which made the peak resident size vary by a quarter from run to
# run. No page is touched before the program uses it, so the peak follows
# the regions the program fills. No hsperfdata file outside the checkout.
JVM_FLAGS = ["-Xms2g", "-Xmx2g", "-Xmn256m", "-XX:-UsePerfData"]
# the sf0.1 test tables the workloads cut their inputs from
DATA = os.path.join(HERE, "data")


def source_digest():
    """Digest of every file the build compiles or is configured by."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files.extend(os.path.join(d, n) for n in names)
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    digest = source_digest()
    if os.path.exists(LAUNCH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    print("# building with sbt", file=sys.stderr, flush=True)
    rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                         "-J-XX:-UsePerfData", "launchFile"],
                        cwd=HERE, stdout=sys.stderr, stderr=sys.stderr).returncode
    if rc != 0 or not os.path.exists(LAUNCH):
        sys.exit(f"perfbench: build failed (sbt exit {rc})")
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    # the program is built from the enclosing checkout; without it there
    # is nothing to measure
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        sys.exit("perfbench: run from a checkout of the repository (no build.sbt or src/main/scala)")
    build()
    with open(LAUNCH) as fh:
        flags = [l for l in fh.read().splitlines() if l]

    work = os.path.join(HERE, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # one core fewer than the machine has, at most four: the driver
    # thread, the JIT compilers (busy through the whole loop) and the
    # collector then do not take a core from one of the op's tasks, which
    # made each op wait on a straggler by a varying amount
    cores = max(1, min(4, len(os.sched_getaffinity(0)) - 1))
    cmd = (["java"] + JVM_FLAGS + ["-Djava.io.tmpdir=" + os.path.join(work, "tmp")] + flags +
           ["perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", work, "--data", DATA,
            "--cores", str(cores)])
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.exit(f"perfbench: {a.workload} did not finish in {JVM_TIMEOUT_S} s")
        except BaseException:
            proc.kill()
            proc.wait()
            raise
    lines = out.rstrip("\n").splitlines()
    result = lines[-1] if lines and lines[-1].startswith("{") else None
    if result is None:
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        sys.exit(f"perfbench: {a.workload} exited {proc.returncode} without a result")
    sys.stdout.write("\n".join(lines) + "\n")
    if proc.returncode != 0:
        with open(log_path) as fh:
            sys.stderr.write("".join(l for l in fh if l.startswith("op ")))
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
