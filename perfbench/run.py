#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload frontier_wave --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the program and the
harness from source with sbt (perfbench/build.sbt depends on the root
build); later runs reuse the build while the sources are unchanged. The
harness runs in one JVM with Spark local[4]. Every metric is printed by name
and unit; the last line of standard output is the JSON result
{"correct", "attempted", "failed", "metrics"}. The full report (input
properties, checks, environment record, spans) is written under
.bench_build/perfbench/results/, where compare.py reads it.
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
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("frontier_wave", "crawl_loop", "text_corpus", "near_dup")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
HEAP = "4g"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads, relative to the repository root."""
    files = ["build.sbt", "project/build.properties",
             "perfbench/build.sbt", "perfbench/project/build.properties"]
    for top in ("src/main", "perfbench/src"):
        for d, _, names in os.walk(os.path.join(ROOT, top)):
            files += [os.path.relpath(os.path.join(d, n), ROOT) for n in names]
    return sorted(f for f in files if os.path.isfile(os.path.join(ROOT, f)))


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(digest):
    """Compile with sbt unless the last build used the same sources."""
    stamp = os.path.join(BUILD, "build-stamp")
    cp_file = os.path.join(HERE, "target", "bench-classpath.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                return
    sbt = shutil.which("sbt")
    if sbt is None:
        raise RuntimeError("sbt not found on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building program and harness with sbt")
    t0 = time.time()
    p = subprocess.run([sbt, "--batch", "-Dsbt.log.noformat=true", "benchLaunchFiles"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=BUILD_LIMIT_S)
    if p.returncode != 0 or not os.path.exists(cp_file):
        raise RuntimeError(f"sbt build failed (exit {p.returncode})")
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp, "w") as fh:
        fh.write(digest)
    log(f"build done in {time.time() - t0:.0f} s")


def source_label(digest):
    head = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            head = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                                  text=True, timeout=10).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            head = None
    return f"git={head or 'none'} sources-sha256={digest[:16]}"


def clean_stale_work():
    """Remove work directories of earlier runs whose process is gone."""
    if not os.path.isdir(BUILD):
        return
    for name in os.listdir(BUILD):
        if not name.startswith("work-"):
            continue
        try:
            os.kill(int(name[5:]), 0)
        except (ValueError, ProcessLookupError):
            shutil.rmtree(os.path.join(BUILD, name), ignore_errors=True)
        except PermissionError:
            pass


def java_command(args, work, report):
    with open(os.path.join(HERE, "target", "bench-classpath.txt")) as fh:
        cp = os.pathsep.join(line.strip() for line in fh if line.strip())
    with open(os.path.join(HERE, "target", "bench-javaopts.txt")) as fh:
        # the program's own JVM options; the heap is the benchmark's choice
        opts = [o.strip() for o in fh if o.strip() and not o.strip().startswith("-Xmx")]
    java = shutil.which("java") or "java"
    return ([java] + opts + [
        f"-Xmx{HEAP}",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        f"-Dperfbench.source={args.source}",
        "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--report", report])


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [p for p in ("build.sbt", "src/main/scala") if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        log(f"program sources not found next to perfbench/: missing {', '.join(missing)}")
        return 2
    try:
        digest = source_digest()
        build(digest)
    except (RuntimeError, OSError, subprocess.SubprocessError) as e:
        log(f"build failed: {e}")
        return 3
    args.source = source_label(digest)

    clean_stale_work()
    work = os.path.join(BUILD, f"work-{os.getpid()}")
    results = os.path.join(BUILD, "results")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(results, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    report = os.path.join(results, f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}-{os.getpid()}.json")
    cmd = java_command(args, work, report)
    # a build (first run only) is not part of the run's time limit
    limit = RUN_LIMIT_S
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        log(f"run exceeded {limit} s and was stopped")
        return 4
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").split("\n") if out else []
    if proc.returncode != 0 or not lines:
        log(f"harness exited with {proc.returncode}")
        return 5
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError):
        log("harness printed no result line")
        return 5
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
