#!/usr/bin/env python3
"""Build the engine together with the benchmark, then run one workload.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first call builds with sbt: the
engine through its own build (into target/), the benchmark on top of it
(into .bench_build/), a few minutes at most; later calls reuse the
build while no source or build file changed. Options other than the four above
(--data, --expected, --record, --spans, --work) are passed to
graft.perfbench.Main unchanged. The last line of stdout is the result
object; the exit code is the benchmark's (0 only when every output
checked out).
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.realpath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
LAUNCH = os.path.join(BUILD, "launch.txt")
STAMP = os.path.join(BUILD, "stamp.txt")
ENGINE_SRC = os.path.join(ROOT, "src", "main")
# Heap of the benchmark JVM, passed to the engine's build, which turns
# it into -Xmx among its javaOptions.
HEAP = "4g"
# A run may take this long plus four times --seconds: JVM start, three
# set-ups and the warm-up, then a timed phase that finishes whole passes
# past --seconds (and in lakehouse starts with the ingest loop).
SETUP_ALLOWANCE_S = 100


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Digest of every file the build reads from the checkout."""
    h = hashlib.sha256()
    inputs = []
    for d in (ROOT, HERE):
        inputs.append(os.path.join(d, "build.sbt"))
        proj = os.path.join(d, "project")
        inputs += [os.path.join(proj, f) for f in sorted(os.listdir(proj))
                   if f.endswith((".sbt", ".scala", ".properties"))]
    for top in (ENGINE_SRC, os.path.join(HERE, "src", "main")):
        for d, dirs, files in os.walk(top):
            dirs.sort()
            inputs += [os.path.join(d, f) for f in sorted(files)]
    h.update(HEAP.encode())
    for p in inputs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile the engine and the benchmark; sbt writes the JVM options
    and classpath to LAUNCH."""
    stamp = source_stamp()
    if os.path.exists(LAUNCH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == stamp:
                return
    log("building engine + benchmark with sbt")
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_DRIVER_MEM=HEAP)
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.override.build.repos=true"
                           f" -Dsbt.repository.config={repos} -Dsbt.offline=true").strip()
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false", "launchFile"],
        cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr, stdin=subprocess.DEVNULL)
    if out.returncode != 0 or not os.path.exists(LAUNCH):
        sys.exit(f"build failed (sbt exit {out.returncode})")
    with open(STAMP, "w") as f:
        f.write(stamp)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    args, extra = ap.parse_known_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        sys.exit(f"no engine sources under {ENGINE_SRC}: run from a full checkout")
    for tool in ("sbt", "java"):
        if shutil.which(tool) is None:
            sys.exit(f"{tool} not found on PATH")
    build()
    with open(LAUNCH) as f:
        jvm_args = [l for l in f.read().splitlines() if l]

    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Djava.io.tmpdir={tmp}"] + jvm_args +
           ["graft.perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace] + extra)
    limit_s = SETUP_ALLOWANCE_S + 4 * args.seconds
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(f"benchmark did not finish within {limit_s} s")
    lines = out.splitlines()
    result = lines[-1] if lines and lines[-1].startswith('{"correct":') else None
    for line in lines[:-1] if result else lines:
        print(line, file=sys.stderr)
    if result is None:
        sys.exit(f"benchmark exited {proc.returncode} without a result")
    print(result, flush=True)
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
