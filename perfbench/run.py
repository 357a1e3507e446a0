#!/usr/bin/env python3
"""Benchmark of featureboxspark: three seeded closed-loop workloads.

Run from the root of the repository:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Workloads: pit_features, ingest_dedup, feature_search (see README.md here).
The first run builds the program and the benchmark from source with sbt
(the repository's own build plus perfbench/build.sbt) and caches the
classpath under perfbench/.build; later runs start the JVM directly.
Every file a run writes stays under perfbench/. The last line of stdout is
one JSON object with the keys correct, attempted, failed and metrics.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = HERE / ".build"
WORKLOADS = ("pit_features", "ingest_dedup", "feature_search")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170

# Spark on JDK 17 needs these when the session starts outside spark-submit;
# the same list the repository's build.sbt passes to its forked JVMs.
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


def build_inputs():
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def classpath():
    """Builds with sbt unless the sources match the cached build."""
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir() \
            or not (ROOT / "build.sbt").is_file():
        fail(f"no program sources next to {HERE.name}/; run from a full checkout")
    digest = hashlib.sha256()
    for f in build_inputs():
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    stamp, cp_file = BUILD / "stamp", BUILD / "classpath"
    if stamp.is_file() and cp_file.is_file() \
            and stamp.read_text() == digest.hexdigest():
        return cp_file.read_text().strip()
    try:
        out = subprocess.run(
            ["sbt", "-batch", "-Dsbt.server.autostart=false",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    sys.stderr.write(out.stdout)
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines or "classes" not in lines[-1]:
        fail("build failed")
    BUILD.mkdir(parents=True, exist_ok=True)
    cp_file.write_text(lines[-1].strip())
    stamp.write_text(digest.hexdigest())
    return lines[-1].strip()


def run(workload, seed, seconds, trace, size="full"):
    """Runs one benchmark process; returns (exit code, stdout lines)."""
    cp = classpath()
    work = HERE / ".work" / f"{workload}-{seed}-{trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    env = dict(os.environ,
               SPARK_GRAFT_LOCAL_DIR=str(work / "spark-local"),
               SPARK_GRAFT_CHECKPOINT_DIR=str(work / "checkpoints"))
    cmd = ["java", *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-Xms2g", "-Xmx2g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", cp, "perfbench.Main",
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace), "--cpus", str(len(os.sched_getaffinity(0))),
           "--size", size,
           "--spans", str(HERE / "out" / f"spans-{workload}-seed{seed}.jsonl")]
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, text=True)
    watchdog = threading.Timer(RUN_TIMEOUT_S, proc.kill)
    watchdog.start()
    lines = []
    try:
        for line in proc.stdout:
            lines.append(line.rstrip("\n"))
            print(line, end="", flush=True)
        proc.wait()
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        watchdog.cancel()
        shutil.rmtree(work, ignore_errors=True)
    return proc.returncode, lines


def self_test():
    """Toy-size run of every workload, traced and untraced: each must pass
    its checks and print every metric BENCHMARK.json and README.md name."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    layer_names = {}
    for line in (HERE / "README.md").read_text().splitlines():
        cells = [c.strip(" `") for c in line.split("|")]
        if len(cells) > 3 and cells[2] in WORKLOADS:
            layer_names.setdefault(cells[2], []).extend(
                n.strip(" `") for n in cells[1].split(","))
    problems = []
    for w in WORKLOADS:
        for trace, want in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            code, lines = run(w, 1, 1, trace, size="toy")
            result = json.loads(lines[-1]) if code == 0 and lines else {}
            if not result.get("correct") or result.get("failed") != 0:
                problems.append(f"{w} trace={trace}: exit {code}, result {result}")
                continue
            for m in want:
                got = result["metrics"].get(m["name"])
                if got is None or got["unit"] != m["unit"]:
                    problems.append(f"{w} trace={trace}: metric {m['name']} missing")
            printed = {l.split()[1] for l in lines if l.startswith("metric ")}
            if trace == 1:
                for n in layer_names.get(w, []):
                    if n not in printed:
                        problems.append(f"{w}: per-layer metric {n} not printed")
    for p in problems:
        print("SELF-TEST FAIL", p)
    print("self-test", "failed" if problems else "passed")
    return 1 if problems else 0


def main():
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if a.self_test:
        sys.exit(self_test())
    if a.workload is None:
        ap.error("--workload is required")
    code, lines = run(a.workload, a.seed, a.seconds, a.trace)
    if code != 0 or not lines or not lines[-1].startswith("{"):
        print(f"perfbench: benchmark process exited with {code}", file=sys.stderr)
        sys.exit(code or 1)


if __name__ == "__main__":
    main()
