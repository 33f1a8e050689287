#!/usr/bin/env python3
"""Run one perfbench workload against the engine in this checkout.

    python3 perfbench/run.py --workload lakehouse --seed 1 --seconds 6 --trace 0

Builds the engine and the benchmark program from source with sbt the first
time (and whenever a source file changes), then runs the benchmark in one JVM.
The last line on stdout is the result: a JSON object with `correct`,
`attempted`, `failed` and `metrics`. `--trace 1` reports the per-layer
metrics instead of the end-to-end ones. `--record FILE` also writes the
full run record (environment stamp, sample summaries, spans and per-span
engine counters). Generated inputs, warehouses and checkpoints live in a
temporary directory under the build directory that is removed at exit.
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
WORKLOADS = ("lakehouse", "live_ingest", "llm_curation")

# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit; the engine's build.sbt passes the same set to its tests.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
HEAP = "4g"
# live_ingest measures a long-running service after its warm-up. On four
# cores the optimizing (C2) compiler's threads took cores from the stream
# and the client for longer than a run lasts, so its timings followed the
# compiler's progress; with the client compiler alone the same runs were
# faster and steadier. Its heap also starts at a working size, so the
# warm-up does not end part-way through heap growth. The batch workloads
# run cold, as a scheduled batch does, and keep the JVM's defaults:
# without C2 a lakehouse build ran about a fifth slower.
JVM_FLAGS = {"live_ingest": ["-XX:TieredStopAtLevel=1", "-Xms1g"]}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def source_sha():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def git_sha():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "none"
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=30)
        return out.stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def ensure_built(build_dir, sha):
    """Compile with sbt when the sources differ from the last build."""
    stamp = os.path.join(build_dir, "source.sha")
    cp_file = os.path.join(build_dir, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read().strip() == sha:
                with open(cp_file) as fh:
                    return fh.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx3g")
    log("building engine and benchmark with sbt")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "writeClasspath"],
        cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if proc.returncode != 0:
        raise SystemExit(f"sbt build failed with exit code {proc.returncode}")
    with open(os.path.join(HERE, "target", "runtime-classpath.txt")) as fh:
        cp = fh.read().strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp, "w") as fh:
        fh.write(sha)
    return cp


def main():
    with open(os.path.join(HERE, "seeds.json")) as fh:
        seeds = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=seeds["default"])
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="also write the full run record to this file")
    args = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            log(f"no engine sources here: {need} is missing")
            return 2

    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    sha = source_sha()
    cp = ensure_built(build_dir, sha)

    tmp = os.path.join(build_dir, "tmp", f"run-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = (["java", f"-Xmx{HEAP}"] + JVM_FLAGS.get(args.workload, [])
           + [f"-Djava.io.tmpdir={tmp}",
              f"-Dperfbench.git_sha={git_sha()}", f"-Dperfbench.source_sha={sha}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--tmp", tmp])
    if args.record:
        cmd += ["--record", os.path.abspath(args.record)]
    child = subprocess.Popen(cmd, cwd=tmp)

    def stop(signum, _frame):
        child.kill()
        child.wait()
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        code = child.wait(timeout=args.seconds + 150)
    except subprocess.TimeoutExpired:
        log("run exceeded its time limit")
        child.kill()
        child.wait()
        code = 3
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
