#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. The first run builds
the engine and the benchmark from source with sbt (the benchmark's own
build in perfbench/ depends on the root build) and records the runtime
classpath under .bench_build/perfbench/; later runs reuse it while the
sources are unchanged. Each run then starts one JVM that generates the
workload's inputs from the seed, sets up, measures for --seconds, checks
every output and prints one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 the per-layer ones. The exit code is 0 only when every
check passed; it is 2 for a malformed argument or a checkout without the
engine's sources. Everything the run writes stays under .bench_build/.
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
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("tpcdi_batch1", "ops_corpus")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 177
# Spark on JDK 17 needs these when the session is created outside
# spark-submit; the list matches the root build.sbt's javaOptions.
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
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def int_in(lo, hi):
    def parse(text):
        try:
            v = int(text, 10)
        except ValueError:
            raise argparse.ArgumentTypeError(f"not an integer: {text!r}")
        if not lo <= v <= hi:
            raise argparse.ArgumentTypeError(f"{v} is outside [{lo}, {hi}]")
        return v
    return parse


def parse_args():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0], allow_abbrev=False)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int_in(0, 2**31 - 1))
    p.add_argument("--seconds", required=True, type=int_in(1, 600))
    p.add_argument("--trace", required=True, type=int_in(0, 1))
    return p.parse_args()


def source_files():
    """Every file the build reads, relative to the checkout root."""
    roots = ["build.sbt", "project", "src/main", "perfbench/build.sbt",
             "perfbench/project", "perfbench/src"]
    files = []
    for r in roots:
        path = os.path.join(ROOT, r)
        if os.path.isfile(path):
            files.append(r)
        for d, dirs, names in os.walk(path):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files.extend(os.path.relpath(os.path.join(d, n), ROOT) for n in sorted(names))
    return files


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode() + b"\0")
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_process(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the whole group on timeout
    and wait until it is gone."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{cmd[0]} exceeded {timeout} s and was killed", 1)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def classpath():
    """Build if the sources changed since the last build; return the runtime
    classpath."""
    for need in ("build.sbt", "src/main/scala", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from a checkout of the repository")
    cp_file = os.path.join(OUT, "classpath.txt")
    stamp_file = os.path.join(OUT, "build.stamp")
    want = stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == want:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(OUT, exist_ok=True)
    log = os.path.join(OUT, "build.log")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    with open(log, "w") as fh:
        code = run_process(
            ["sbt", "--batch", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
             f"-Dsbt.global.base={os.path.join(OUT, 'sbt-global')}",
             "compile", "export Runtime/fullClasspath"],
            BUILD_TIMEOUT_S, cwd=HERE, stdout=fh, stderr=subprocess.STDOUT, env=env)
    with open(log) as fh:
        lines = [l.strip() for l in fh if l.strip()]
    if code != 0 or not lines:
        fail(f"build failed (exit {code}); see {log}", 1)
    cp = lines[-1]
    entries = cp.split(os.pathsep)
    if not all(os.path.isabs(e) for e in entries):
        fail(f"could not read the classpath from {log}", 1)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return cp


def heap():
    """Half the machine's memory, between 2 and 4 GiB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        gib = kb // (2 * 1024 * 1024)
    except (OSError, StopIteration, ValueError):
        gib = 2
    return f"{min(4, max(2, gib))}g"


def java_binary():
    """$JAVA_HOME/bin/java when JAVA_HOME is set (it must hold one), else
    the java on PATH."""
    home = os.environ.get("JAVA_HOME")
    if home is None:
        return "java"
    java = os.path.join(home, "bin", "java")
    if not os.access(java, os.X_OK):
        fail(f"JAVA_HOME={home!r} has no executable bin/java")
    return java


def main():
    args = parse_args()
    java = java_binary()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    cp = classpath()
    work = os.path.join(OUT, "work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, f"-Xmx{heap()}", f"-Djava.io.tmpdir={tmp}", "-cp", cp]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["graft.perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--trace-dir", os.path.join(OUT, "traces")]
    try:
        with open(os.path.join(OUT, f"last-{args.workload}.out"), "w+") as out:
            code = run_process(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=out)
            out.seek(0)
            lines = [l.rstrip("\n") for l in out if l.strip()]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if not lines:
        fail(f"the benchmark printed nothing (exit {code})", 1)
    for l in lines[:-1]:
        print(l)
    result = json.loads(lines[-1])
    kind = "per_layer" if args.trace else "end_to_end"
    want = {m["name"]: m["unit"] for m in spec[kind]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        print(lines[-1])
        fail(f"metrics differ from BENCHMARK.json {kind}: "
             f"missing {sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}, "
             f"units {sorted(k for k in want if k in got and got[k] != want[k])}", 1)
    print(json.dumps(result))
    sys.exit(code if code != 0 else (0 if result["correct"] else 1))


if __name__ == "__main__":
    main()
