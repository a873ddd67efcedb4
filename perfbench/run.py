#!/usr/bin/env python3
"""Benchmark entry point: builds the program and the benchmark driver from
source when they changed, runs one workload in a fresh JVM, and prints the
result JSON as the last line of standard output.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload hourly_etl --seed 1 --seconds 20 --trace 0

Workloads: hourly_etl, query_mix (see perfbench/README.md).
Everything the run leaves behind stays under .bench_build/perfbench/ in
the checkout; per-run results and traces land in its results/ directory.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
STAMP = os.path.join(BUILD, "classpath.stamp")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
JDK_OPENS = [
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


def source_files():
    """Every file the build reads, in a stable order."""
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")):
        for d, _, names in sorted(os.walk(top)):
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_child(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout
    or interrupt, and always wait for it to end."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build(digest):
    """Compile with sbt when the sources changed; cache the classpath."""
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                with open(CLASSPATH) as f:
                    return f.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "wb") as fh:
        code, out = run_child(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            BUILD_TIMEOUT_S, cwd=BENCH, stdout=subprocess.PIPE, stderr=fh, stdin=subprocess.DEVNULL)
        fh.write(out)
    if code != 0:
        fail(f"build failed (exit {code}); see {log}")
    lines = [l for l in out.decode("utf-8", "replace").splitlines() if l.strip()]
    cp = lines[-1].strip() if lines else ""
    if "classes" not in cp or cp.startswith("["):
        fail(f"could not read the classpath from sbt; see {log}")
    with open(CLASSPATH, "w") as f:
        f.write(cp)
    with open(STAMP, "w") as f:
        f.write(digest)
    return cp


def commit_id(digest):
    head = os.path.join(ROOT, ".git", "HEAD")
    if os.path.exists(head):
        try:
            return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                  text=True, timeout=10).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            pass
    return "src-sha256:" + digest[:16]


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=["hourly_etl", "query_mix"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    for need in ("src/main/scala/graft", "perfbench/src/main/scala/perfbench",
                 "perfbench/expected.tsv", "perfbench/data/sf0.1"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} is missing; run from the root of a full checkout")

    digest = source_digest()
    cp = build(digest)
    work = os.path.join(BUILD, "work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={work}", f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
            f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--root", ROOT, "--work", work,
              "--out", os.path.join(BUILD, "results"), "--commit", commit_id(digest)])
    try:
        code, out = run_child(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=subprocess.PIPE,
                              stdin=subprocess.DEVNULL)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.decode("utf-8", "replace").splitlines()
    result = None
    for line in reversed(lines):
        try:
            doc = json.loads(line)
        except ValueError:
            continue
        if isinstance(doc, dict) and set(doc) == {"correct", "attempted", "failed", "metrics"}:
            result = line
            break
    if code != 0 or result is None:
        sys.stdout.write("\n".join(l for l in lines if l != result) + "\n")
        fail(f"benchmark process exited with {code}" + ("" if result else " and printed no result"))
    for line in lines:
        if line != result:
            print(line)
    print(result, flush=True)


if __name__ == "__main__":
    main()
