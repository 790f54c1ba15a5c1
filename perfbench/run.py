#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. On first use it builds the program and
the benchmark from source with sbt into .bench_build/; later runs reuse
that build while the sources are unchanged. It then runs the benchmark
JVM, which writes the result; the last line printed here is that result
as one JSON object. Everything else goes to stderr, apart from one
settings line before the result.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
PROGRAM = ROOT / "src" / "main" / "scala" / "graft"
RESOURCES = ROOT / "src" / "main" / "resources"
BUILD = ROOT / ".bench_build"
MAIN = "graft.perfbench.Main"

# Spark 4 on JDK 17 needs these outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        fail("no Spark distribution: set SPARK_HOME")
    return home


def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    files = sorted([f for d in (PROGRAM, RESOURCES, BENCH / "src" / "main")
                    for f in d.rglob("*") if f.is_file()]
                   + [BENCH / "build.sbt", BENCH / "project" / "build.properties"])
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build(env):
    """Compile with sbt; return the runtime classpath."""
    stamp_file, cp_file = BUILD / "stamp", BUILD / "classpath.txt"
    stamp = source_stamp()
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    BUILD.mkdir(exist_ok=True)
    print("perfbench: building program and benchmark with sbt", file=sys.stderr)
    try:
        out = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
            text=True, timeout=800)
    except FileNotFoundError:
        fail("sbt is not on PATH")
    except subprocess.TimeoutExpired:
        fail("the build took longer than 800 s")
    if out.returncode != 0:
        sys.stderr.write(out.stdout)
        fail(f"the build failed (exit {out.returncode})")
    lines = [l.strip() for l in out.stdout.splitlines() if "sbt-target" in l and ":" in l]
    if not lines:
        sys.stderr.write(out.stdout)
        fail("the build printed no classpath")
    cp_file.write_text(lines[-1])
    stamp_file.write_text(stamp)
    return lines[-1]


def heap_mb():
    """A fifth of the machine's memory, between 1 and 3 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        kb = 8 << 20
    return max(1024, min(3072, kb // 1024 // 5))


def jvm_timeout(seconds):
    """Seconds the benchmark JVM may run: about 60 s of fixed start-up,
    warm-up chain and checks, the measured --seconds, and headroom for
    the chains and serve phase overrunning their share."""
    return 110 + 3 * seconds


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", choices=["0", "1"], default="0")
    p.add_argument("--pin", action="store_true",
                   help="print the gold digests of this seed for pins.txt")
    a = p.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    if not PROGRAM.is_dir():
        fail(f"the program's sources are missing ({PROGRAM.relative_to(ROOT)})")

    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    env = dict(os.environ, SPARK_HOME=spark_home(), SPARK_GRAFT_CPUS=str(cpus))
    env.setdefault("COURSIER_MODE", "offline")
    classpath = build(env)

    work = BUILD / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out = BUILD / f"result-{os.getpid()}.json"
    out.unlink(missing_ok=True)
    heap = heap_mb()
    settings = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                "trace": int(a.trace), "master": f"local[{cpus}]",
                "SPARK_GRAFT_CPUS": cpus, "heap_mb": heap,
                "warehouse_and_lake": "fresh per chain under .bench_build/run-<pid>"}
    java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{heap}m", f"-Xms{heap}m", "-XX:+UseG1GC", "-XX:-UsePerfData"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={work / 'tmp'}", f"-Dspark.local.dir={work / 'tmp'}",
            f"-Dspark.sql.warehouse.dir={(work / 'warehouse').as_uri()}",
            f"-Dderby.system.home={work}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, MAIN,
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", str(work / "data"), "--out", str(out),
            "--pins", str(BENCH / "pins.txt")] + (["--pin"] if a.pin else [])
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr, stderr=sys.stderr)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"stopped by signal {signum}", 128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        code = proc.wait(timeout=jvm_timeout(a.seconds))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail("the benchmark JVM overran its time and was stopped", 3)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if not out.exists():
        fail(f"the benchmark JVM exited {code} without a result", code or 4)
    result = out.read_text().strip()
    out.unlink()
    if a.pin:
        print(result)
        sys.exit(code)
    print(json.dumps({"settings": settings}))
    print(result)
    sys.exit(code)


if __name__ == "__main__":
    main()
