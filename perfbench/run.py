#!/usr/bin/env python3
"""Builds the benchmark from source and runs one workload.

    python3 perfbench/run.py --workload lda_k10 --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run compiles the repository's
main sources together with the harness (sbt, offline); later runs reuse
the classes until a source file changes. The last stdout line is the
result object: {"correct", "attempted", "failed", "metrics"}.
Scratch files (generated corpora, Spark local dirs, spans, summaries)
go to .perfbench/ under the repository root.

    python3 perfbench/run.py --record

re-records perfbench/expected_rows.tsv from the current sources.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
WORK = os.path.join(ROOT, ".perfbench")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
FIXTURE = os.path.join(HERE, "fixture", "sf0.01")
EXPECTED = os.path.join(HERE, "expected_rows.tsv")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
RECORD_TIMEOUT_S = 1800
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}

# Spark on JDK 17 needs these outside spark-submit (same list as the
# root build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    """The Spark installation whose jars the program builds and runs with."""
    home = os.environ.get("SPARK_HOME", "")
    if not os.path.isdir(os.path.join(home, "jars")):
        fail("Spark not found: set SPARK_HOME to a Spark installation")
    return home


def source_digest():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (PROGRAM_SRC, os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles when the sources changed; returns their digest."""
    stamp = os.path.join(WORK, "build.stamp")
    digest = source_digest()
    if os.path.isdir(CLASSES) and os.path.exists(stamp) and os.path.exists(jar_path()):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                return digest
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    print("[perfbench] building (sbt compile)", file=sys.stderr, flush=True)
    try:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                           cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out", 3)
    if r.returncode != 0:
        fail(f"build failed with code {r.returncode}", 3)
    # the JVM's class-data sharing archives classes from jars only
    with zipfile.ZipFile(jar_path(), "w") as z:
        for d, _, names in os.walk(CLASSES):
            for n in names:
                f = os.path.join(d, n)
                z.write(f, os.path.relpath(f, CLASSES))
    for f in os.listdir(WORK):  # archives of earlier builds
        if f.startswith("classes-") and f.endswith(".jsa"):
            os.remove(os.path.join(WORK, f))
    with open(stamp, "w") as fh:
        fh.write(digest + "\n")
    return digest


def jar_path():
    return os.path.join(WORK, "perfbench.jar")


def java_cmd(main, args, digest):
    """The JVM command. The first run after a build dumps a class-data
    sharing archive at exit; later runs map it, which cuts JVM and Spark
    start-up. JVM log lines go to stderr, keeping stdout for results."""
    archive = os.path.join(WORK, f"classes-{digest[:16]}.jsa")
    cds = (f"-XX:SharedArchiveFile={archive}" if os.path.exists(archive)
           else f"-XX:ArchiveClassesAtExit={archive}")
    return (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-Xmx3g", "-Xlog:disable", "-Xlog:all=warning:stderr", cds,
               f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
               "-cp", f"{jar_path()}{os.pathsep}{os.path.join(spark_home(), 'jars', '*')}",
               main] + args)


def run_jvm(cmd, timeout=RUN_TIMEOUT_S):
    """Runs the JVM to completion (killed at the time limit); returns
    (exit code, stdout lines)."""
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.communicate()
        fail(f"run exceeded {timeout} s", 4)
    return p.returncode, out.splitlines()


def trace_overhead(workload, seed):
    """Traced minus untraced end-to-end metrics of the same workload and
    seed, when an untraced summary of it is in the work directory."""
    def load(t):
        path = os.path.join(WORK, f"summary-{workload}-seed{seed}-trace{t}.json")
        if not os.path.exists(path):
            return None
        with open(path) as fh:
            return json.load(fh)["end_to_end"]
    plain, traced = load(0), load(1)
    if plain is None or traced is None:
        return None
    return {k: traced[k]["value"] - plain[k]["value"] for k in plain
            if k in traced and plain[k]["value"] is not None
            and traced[k]["value"] is not None}


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    if not a.record and not a.workload:
        ap.error("--workload is required")
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        fail(f"program sources not found under {PROGRAM_SRC}; run from a full checkout")
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    digest = build()

    if a.record:
        code, lines = run_jvm(java_cmd("perfbench.Record", [WORK, FIXTURE, EXPECTED], digest),
                              RECORD_TIMEOUT_S)
        print("\n".join(lines))
        sys.exit(code)

    code, lines = run_jvm(java_cmd("perfbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", WORK, "--fixture", FIXTURE,
        "--expected", EXPECTED], digest))
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if code != 0 or not isinstance(result, dict) or set(result) != RESULT_KEYS:
        print("\n".join(lines), file=sys.stderr)
        fail(f"run failed (exit code {code}, no result line)", code or 5)
    print("\n".join(lines[:-1]))
    if a.trace:
        overhead = trace_overhead(a.workload, a.seed)
        if overhead is not None:
            print("[perfbench] trace_overhead (traced - untraced) " + json.dumps(overhead))
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
