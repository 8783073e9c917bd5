#!/usr/bin/env python3
"""Run one workload of the pipeline benchmark and print its result.

Usage, from the root of the repository:

    python3 perfbench/run.py --workload compact_day --seed 1 --seconds 6 --trace 0

The first run builds the program from the sources in the repository, through
perfbench/build.sbt, and records the classpath; later runs reuse the build
while the sources are unchanged. Each run starts one JVM (Spark on local[4],
one client thread), which generates its inputs from --seed, runs the
workload, checks every output, and prints one JSON object as the last line of
standard output. With --trace 1 the metrics are the per-layer ones and the
run's spans are written under the build directory (.bench_build, or
$CARGO_TARGET_DIR when set).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("compact_day", "compact_small_objects")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 880


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Digest of everything the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src", "main"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))
                      or "resources" in d]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """sbt-compile the program and the benchmark; return the launch lines."""
    target = os.path.join(HERE, "target")
    launch = os.path.join(target, "launch.txt")
    stamp = os.path.join(target, "launch.digest")
    digest = source_digest()
    if os.path.exists(launch) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                with open(launch) as fh:
                    return fh.read().splitlines()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "launchFile"]
    try:
        done = subprocess.run(cmd, cwd=HERE, env=env, stdout=sys.stderr,
                              stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}", 3)
    if done.returncode != 0 or not os.path.exists(launch):
        fail(f"build failed with code {done.returncode}", 3)
    with open(stamp, "w") as fh:
        fh.write(digest + "\n")
    with open(launch) as fh:
        return fh.read().splitlines()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("the program's sources (build.sbt, src/main/scala) are not next to "
             "perfbench/; run from a checkout of the repository", 4)

    launch = build()
    classpath, jvm_opts = launch[0], launch[1:]
    build_dir = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    build_dir = os.path.join(ROOT, build_dir) if not os.path.isabs(build_dir) else build_dir
    work = os.path.join(build_dir, f"work-{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, *jvm_opts, f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-cp", classpath, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work]
    if args.trace:
        cmd += ["--spans", os.path.join(
            build_dir, "spans", f"{args.workload}-seed{args.seed}.jsonl")]
    # a terminated run takes its JVM down with it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(7))
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 5)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stdout.write(out)
        fail(f"benchmark JVM exited with code {proc.returncode}", 6)
    result = json.loads(lines[-1])
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
