#!/usr/bin/env python3
"""Layered benchmark of the graft extraction engine.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a source checkout. The first run compiles the engine
(src/main/scala) together with the benchmark (perfbench/src) with the Scala
compiler that ships in the Spark distribution; later runs reuse the build
while the sources are unchanged. Everything is written under .bench_build/.

Workloads: extract_batch, turn_incremental (see BENCHMARK.json).
The last line of standard output is one JSON object with `correct`,
`attempted`, `failed` and `metrics`; the line before it carries the run
context. With --trace 1 the per-layer metrics are reported and the spans are
written to .bench_build/traces/.
"""
import argparse
import fcntl
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = Path(__file__).resolve().parent
OUT = ROOT / ".bench_build"
WORKLOADS = ("extract_batch", "turn_incremental")
JVM_TIMEOUT_S = 165
# Fixed, not derived from the host's memory: Spark's memory page size, and so
# mem_peak_mb, follows from the heap.
HEAP_MB = 3072
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark jars: $SPARK_HOME/jars, else the sbt build's `unmanagedBase`."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(Path(os.environ["SPARK_HOME"]) / "jars")
    build_sbt = ROOT / "build.sbt"
    if build_sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', build_sbt.read_text())
        if m:
            candidates.append(Path(m.group(1)))
    for jars in candidates:
        if any(jars.glob("scala-compiler-*.jar")):
            return jars
    fail("no Spark distribution with a Scala compiler: set SPARK_HOME")


def sources():
    engine = ROOT / "src" / "main" / "scala"
    files = sorted(engine.rglob("*.scala")) if engine.is_dir() else []
    if not files:
        fail(f"no engine sources under {engine}: run from a source checkout")
    own = sorted((BENCH / "src").rglob("*.scala"))
    resources = ROOT / "src" / "main" / "resources"
    extra = sorted(p for p in resources.rglob("*") if p.is_file()) if resources.is_dir() else []
    return files + own, extra


def build(jars):
    """Compile engine + benchmark unless an up-to-date build exists."""
    scala, extra = sources()
    digest = hashlib.sha256()
    for p in scala + extra:
        digest.update(str(p.relative_to(ROOT)).encode())
        digest.update(p.read_bytes())
    stamp = digest.hexdigest()
    classes = OUT / "classes"
    OUT.mkdir(exist_ok=True)
    with open(OUT / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = OUT / "classes.stamp"
        if classes.is_dir() and stamp_file.exists() and stamp_file.read_text() == stamp:
            return classes, stamp
        tmp = OUT / "classes.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir()
        argfile = OUT / "sources.txt"
        argfile.write_text("\n".join(str(p) for p in scala) + "\n")
        t0 = time.time()
        r = subprocess.run(
            ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*",
             "scala.tools.nsc.Main",
             "-d", str(tmp), "-classpath", f"{jars}/*", f"@{argfile}"],
            stdout=sys.stderr, stderr=sys.stderr, timeout=800)
        if r.returncode != 0:
            fail(f"compilation failed ({r.returncode})")
        shutil.rmtree(classes, ignore_errors=True)
        tmp.rename(classes)
        stamp_file.write_text(stamp)
        print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
        return classes, stamp


def git_sha():
    """The checkout's commit, or "none" where the sources are not a git clone."""
    if not (ROOT / ".git").exists():
        return "none"
    r = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                       capture_output=True, text=True)
    return r.stdout.strip() if r.returncode == 0 else "none"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")

    jars = spark_jars()
    classes, stamp = build(jars)
    nproc = len(os.sched_getaffinity(0))
    work = OUT / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xms{HEAP_MB}m", f"-Xmx{HEAP_MB}m", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false",
            "-cp", f"{classes}:{ROOT / 'src' / 'main' / 'resources'}:{jars}/*",
            "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--nproc", str(nproc), "--work", str(work),
            "--trace-out", str(OUT / "traces" / f"{a.workload}-seed{a.seed}.json"),
            "--source", stamp[:16], "--git-sha", git_sha()])
    try:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                           timeout=JVM_TIMEOUT_S, cwd=str(work))
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {JVM_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in r.stdout.decode("utf-8", "replace").splitlines() if l.strip()]
    if r.returncode != 0 or not lines:
        fail(f"benchmark JVM exited with {r.returncode}")
    try:
        result = json.loads(lines[-1])
    except ValueError:
        fail("benchmark JVM printed no result")
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        fail("malformed result")
    for l in lines:
        print(l)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
