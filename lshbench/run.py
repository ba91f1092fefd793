#!/usr/bin/env python3
"""Run one workload of the engine's benchmark.

    python3 lshbench/run.py --workload lsh-serve --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the engine from the
checkout's sources with sbt (the build in this directory compiles the
parent directory's engine through its own build definition) and caches the
classpath under lshbench/work/; later runs reuse it until a source file
changes. Everything a run writes stays under lshbench/work/ and the sbt
target directories.

Standard output carries `metric`, `extra` and `detail` lines, and as its
last line the result object. The exit code is 0 only when every output
check passed.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / "work"
WORKLOADS = ("lsh-serve", "exact-scan", "lsh-churn")
HEAP = "3g"
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 175

# Spark on JDK 17 needs these when started outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def sources_digest():
    """Digest of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [ROOT / "build.sbt", ROOT / "project", ROOT / "src" / "main",
             HERE / "build.sbt", HERE / "project", HERE / "src" / "main"]
    for r in roots:
        files = [r] if r.is_file() else sorted(
            p for p in r.rglob("*") if p.is_file() and "target" not in p.parts)
        for p in files:
            if p.suffix in (".scala", ".sbt", ".properties", ".java"):
                h.update(str(p.relative_to(ROOT)).encode())
                h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile engine + benchmark; return the runtime classpath."""
    stamp, cp_file = WORK / "build.stamp", WORK / "classpath.txt"
    digest = sources_digest()
    if stamp.is_file() and cp_file.is_file() and stamp.read_text() == digest:
        return cp_file.read_text().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    log = WORK / "build.log"
    with open(log, "w") as out:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out,
            stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "[" in lines[-1][:1]:
        sys.stderr.write(proc.stdout[-4000:])
        sys.exit(f"lshbench: build failed (see {log})")
    cp = lines[-1].strip()
    cp_file.write_text(cp)
    stamp.write_text(digest)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", default=0, type=int, choices=(0, 1))
    a = ap.parse_args()
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        sys.exit(f"lshbench: no engine sources under {ROOT}; run from the root of a full checkout")
    WORK.mkdir(parents=True, exist_ok=True)
    cp = build()
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    run_dir = WORK / "runs" / tag
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "lshbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", str(run_dir)])
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    # keep Spark's scratch files and the JVM's temp files in the checkout
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(run_dir / "spark-local"))
    cmd.insert(1, f"-Djava.io.tmpdir={run_dir / 'tmp'}")
    with open(run_dir / "jvm.log", "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=err,
                                stdin=subprocess.DEVNULL, text=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    # the run's data (index, store, corpus copies) is not needed afterwards
    for d in ("lsh-index", "lsh-store", "flat", "prebuild", "spark-local", "warehouse", "tmp"):
        shutil.rmtree(run_dir / d, ignore_errors=True)
    sys.stdout.write(out)
    if proc.returncode != 0:
        sys.stderr.write(f"lshbench: run failed with code {proc.returncode}; "
                         f"log in {run_dir / 'jvm.log'}\n")
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
