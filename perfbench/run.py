#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload serve|replay --seed N --seconds S --trace 0|1

Run from the root of the repository. The first run builds the engine and
the benchmark from source with sbt (into target/ directories and
.bench_build/, both ignored by git); later runs reuse that build while
neither the sources nor the compiled classes have changed since. The measurement itself runs in one JVM at
local[<cores>]. Its human-readable report goes to stdout; the last line of
stdout is the result as one JSON object. Spark's log goes to
.bench_build/logs/. With --trace 1 the span trace is written to
.bench_build/traces/.
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

BENCH = "perfbench"
DEFS = f"{BENCH}/workloads.json"
BUILD_DIR = ".bench_build"
WORKLOADS = ("serve", "replay")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
HEAP = "2g"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def sources(root):
    """Every file the build reads, as paths relative to the root."""
    out = []
    for top in ("build.sbt", "project", "src/main", f"{BENCH}/build.sbt",
                f"{BENCH}/project", f"{BENCH}/src"):
        p = os.path.join(root, top)
        if os.path.isfile(p):
            out.append(top)
        for d, dirs, files in os.walk(p):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            out += sorted(os.path.relpath(os.path.join(d, f), root) for f in files)
    return out


def hash_files(h, root, rels):
    for rel in rels:
        h.update(rel.encode())
        with open(os.path.join(root, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())


def class_dirs(args_file):
    """The directories on the classpath of the java argument file: the
    compiled classes of the engine and of the benchmark."""
    with open(args_file) as f:
        cp = f.read().splitlines()[1]
    cp = cp[1:-1].replace('\\"', '"').replace("\\\\", "\\")
    return [d for d in cp.split(os.pathsep) if os.path.isdir(d)]


def fingerprint(root, args_file):
    """Hash of every source file, and of every compiled class the last build
    put on the classpath: an sbt call elsewhere (tests of another commit, say)
    that rewrites the classes makes the build run again."""
    h = hashlib.sha256()
    hash_files(h, root, sources(root))
    if os.path.exists(args_file):
        for d in class_dirs(args_file):
            rels = []
            for dd, dirs, files in os.walk(d):
                dirs.sort()
                rels += sorted(os.path.relpath(os.path.join(dd, f), root) for f in files)
            hash_files(h, root, rels)
    return h.hexdigest()


def run_group(cmd, cwd, timeout, stdout, stderr):
    """Runs cmd in its own process group; kills the group on timeout and
    waits until every process of it has ended."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=stderr,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return None
    finally:
        for sig in (signal.SIGTERM, signal.SIGKILL):
            try:
                os.killpg(p.pid, sig)
            except ProcessLookupError:
                break
            deadline = time.time() + 10
            while time.time() < deadline:
                try:
                    os.killpg(p.pid, 0)
                except ProcessLookupError:
                    break
                time.sleep(0.1)
        p.wait()


def build(root):
    """Compiles engine + benchmark unless neither the sources nor the
    compiled classes have changed since the last build; returns the java
    argument file."""
    args_file = os.path.join(root, BUILD_DIR, "launch.args")
    stamp = os.path.join(root, BUILD_DIR, "fingerprint")
    if os.path.exists(args_file) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read().strip() == fingerprint(root, args_file):
                return args_file
    os.makedirs(os.path.join(root, BUILD_DIR, "logs"), exist_ok=True)
    log = os.path.join(root, BUILD_DIR, "logs", "build.log")
    t0 = time.time()
    with open(log, "w") as out:
        code = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "launcher"],
                         os.path.join(root, BENCH), BUILD_TIMEOUT_S, out, out)
    if code != 0:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"build failed (exit {code}); log in {log}")
    shutil.copyfile(os.path.join(root, BENCH, "target", "launch.args"), args_file)
    with open(stamp, "w") as f:
        f.write(fingerprint(root, args_file))
    print(f"built in {time.time() - t0:.1f} s", file=sys.stderr)
    return args_file


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt")) and
            os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")) and
            os.path.isfile(os.path.join(root, DEFS))):
        fail("run from the repository root: the engine sources "
             f"(build.sbt, src/main/scala/graft) or {DEFS} are not here")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    args_file = build(root)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(root, BUILD_DIR, "run", f"{tag}-{os.getpid()}")
    for d in ("logs", "traces"):
        os.makedirs(os.path.join(root, BUILD_DIR, d), exist_ok=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    log = os.path.join(root, BUILD_DIR, "logs", f"{tag}.log")
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", f"@{args_file}", f"-Xmx{HEAP}", f"-Xms{HEAP}",
           "-XX:+AlwaysPreTouch", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
           "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", a.trace,
           "--defs", os.path.join(root, DEFS), "--work", work,
           "--result", result, "--trace-out",
           os.path.join(root, BUILD_DIR, "traces", f"{tag}.json")]
    try:
        sys.stdout.flush()
        with open(log, "w") as err:
            code = run_group(cmd, root, RUN_TIMEOUT_S, sys.stdout, err)
        if code != 0 or not os.path.exists(result):
            with open(log) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            fail("run timed out" if code is None else f"run failed (exit {code}); log in {log}")
        with open(result) as f:
            res = json.load(f)
        if set(res) != {"correct", "attempted", "failed", "metrics"}:
            fail(f"malformed result {res}")
        print(json.dumps(res))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
