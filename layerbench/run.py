#!/usr/bin/env python3
"""Build and run the layer-attributed benchmark.

    python3 layerbench/run.py --workload pdi_experiment --seed 1 --seconds 20 --trace 0

Builds the harness together with the engine's sources (sbt, this
directory's build.sbt) on the first run in a checkout, or when a source
changed since the last build, then runs one workload in a single JVM. The
JVM's last stdout line is the result JSON. Exits non-zero without a result
when the engine's sources are missing or the build or run fails.
"""
import argparse
import hashlib
import os
import pathlib
import shutil
import signal
import subprocess
import sys
import time

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / "work"
WORKLOADS = ("pdi_experiment", "ann_serve", "doc_ingest")
RUN_TIMEOUT_S = 170
HEAP = "3g"
# A fixed-size heap and the stop-the-world parallel collector: no heap
# resizing, and no concurrent GC threads competing with the 4 task threads.
JVM_OPTS = [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC"]
# Spark on JDK 17 outside spark-submit needs these (JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[layerbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    return files


def source_stamp():
    h = hashlib.sha256()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile with sbt unless the last build saw the same sources; return the classpath."""
    stamp, cp_file, stamp_file = source_stamp(), WORK / "classpath.txt", WORK / "build.stamp"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    WORK.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    repos = pathlib.Path.home() / ".sbt" / "repositories"
    if "SBT_OPTS" not in env and repos.exists():
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    env.setdefault("COURSIER_MODE", "offline")
    spark_submit = shutil.which("spark-submit")
    if "SPARK_HOME" not in env and spark_submit:
        env["SPARK_HOME"] = str(pathlib.Path(spark_submit).resolve().parent.parent)
    log("building (sbt compile)")
    t0 = time.time()
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, check=False)
    sys.stderr.write(out.stdout[-4000:])
    lines = [l for l in out.stdout.splitlines() if l and not l.startswith("[")]
    if out.returncode != 0 or not lines:
        log(f"build failed (exit {out.returncode})")
        sys.exit(3)
    cp_file.write_text(lines[-1])
    stamp_file.write_text(stamp)
    log(f"built in {time.time() - t0:.0f}s")
    return lines[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        log(f"engine sources not found under {ROOT / 'src/main/scala'}")
        sys.exit(2)
    cp = build()
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    java = pathlib.Path(os.environ["JAVA_HOME"]) / "bin" / "java" if "JAVA_HOME" in os.environ else "java"
    cmd = [str(java), *JVM_OPTS, f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "layerbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", str(WORK)]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        log(f"run exceeded {RUN_TIMEOUT_S}s; killed")
        sys.exit(4)
    lines = out.splitlines()
    result = next((l for l in reversed(lines) if l.startswith('{"correct"')), None)
    if proc.returncode != 0 or result is None:
        sys.stdout.write("".join(l + "\n" for l in lines if l != result))
        log(f"run failed (exit {proc.returncode})")
        sys.exit(proc.returncode or 5)
    sys.stdout.write("".join(l + "\n" for l in lines if l != result))
    print(result, flush=True)


if __name__ == "__main__":
    main()
