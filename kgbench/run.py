#!/usr/bin/env python3
"""Benchmark entry point: builds the program and the benchmark from source
(sbt, cached under .bench_build/), runs one workload in a fresh JVM, and
prints the result JSON as the last line of stdout.

    python3 kgbench/run.py --workload build|serve|append --seed N \
        --seconds S --trace 0|1

Run it from the root of a checkout. See kgbench/README.md.
"""
import argparse
import hashlib
import json
import os
import pathlib
import shutil
import signal
import subprocess
import sys
import time

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
PROGRAM = ROOT / "src" / "main" / "scala" / "graft"
RUN_LIMIT_S = 170  # a run must end within 180 s, build time excluded
# A fixed-size heap under the parallel collector keeps peak RSS a property
# of the program rather than of the collector's resizing decisions.
JVM_FLAGS = ["-XX:+UseParallelGC", "-Xms3g", "-Xmx3g"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[kgbench] {msg}", file=sys.stderr, flush=True)


def host_sample():
    """1- and 5-minute loadavg and the aggregate CPU counters of /proc/stat."""
    with open("/proc/loadavg") as f:
        load = f.read().split()
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return {"t": time.time(), "load1": float(load[0]), "load5": float(load[1]),
            "cpu_total": sum(cpu[:8]), "cpu_steal": cpu[7] if len(cpu) > 7 else 0}


def sources():
    files = sorted(PROGRAM.parent.rglob("*.scala")) + sorted((HERE / "src" / "main").rglob("*.scala"))
    return files + [HERE / "build.sbt", HERE / "project" / "build.properties"]


def run_group(cmd, cwd, limit_s, what, **kw):
    """Runs `cmd` in a process group of its own and returns the process and
    its stdout; kills the whole group if it runs longer than `limit_s`."""
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True, **kw)
    try:
        stdout, _ = proc.communicate(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"{what} exceeded {limit_s} s")
    return proc, stdout


def build():
    """Compiles with sbt unless the sources are unchanged since the last
    build; returns the runtime classpath and the sources' stamp."""
    digest = hashlib.sha256()
    for f in sources():
        digest.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes())
    stamp = digest.hexdigest()[:16]
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip(), stamp
    log("building with sbt")
    t = time.time()
    proc, stdout = run_group(
        ["sbt", "--batch", "-Dsbt.offline=true", "-Dsbt.log.noformat=true",
         "compile", "export Runtime/fullClasspath"],
        HERE, 850, "the sbt build", stderr=subprocess.STDOUT,
        env={**os.environ, "COURSIER_MODE": "offline"})
    lines = stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(stdout[-4000:])
        raise SystemExit("sbt build failed")
    BUILD.mkdir(exist_ok=True)
    for old in BUILD.glob("fixed-*"):
        shutil.rmtree(old)
    cp_file.write_text(lines[-1])
    stamp_file.write_text(stamp)
    log(f"built in {time.time() - t:.1f} s")
    return lines[-1], stamp


def jvm(classpath, mode, fixed, limit_s, extra=()):
    """Runs kgbench.Main in a fresh JVM; returns the process and its stdout.
    The JVM is killed if it runs longer than `limit_s`."""
    tmp = BUILD / "tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cmd = ["java", *JVM_FLAGS, f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "kgbench.Main", "--mode", mode,
            "--cores", str(len(os.sched_getaffinity(0))), "--work", str(BUILD / "work"),
            "--fixed", str(fixed), "--expected", str(HERE / "expected.tsv"), *extra]
    proc, stdout = run_group(cmd, ROOT, limit_s, mode)
    if mode == "prepare" and proc.returncode != 0:
        raise SystemExit(f"prepare failed (exit code {proc.returncode})")
    return proc, stdout


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["build", "serve", "append"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--record", action="store_true",
                    help="record the expected row counts into kgbench/expected.tsv")
    args = ap.parse_args()

    if not PROGRAM.is_dir():
        raise SystemExit(f"program sources not found under {PROGRAM.relative_to(ROOT)}: "
                         "run from the root of a full checkout")
    if "SPARK_HOME" not in os.environ:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("SPARK_HOME is not set and spark-submit is not on PATH")
        os.environ["SPARK_HOME"] = str(pathlib.Path(submit).resolve().parent.parent)

    start = host_sample()
    classpath, stamp = build()
    fixed = BUILD / f"fixed-{stamp}"
    if not (fixed / "_DONE").exists():
        log("preparing the fixed corpus and its committed core stages")
        jvm(classpath, "prepare", fixed, 850)
    t_run = time.time()
    out = BUILD / "out"
    out.mkdir(parents=True, exist_ok=True)
    sidecar = out / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    mode = "record" if args.record else args.workload
    proc, stdout = jvm(classpath, mode, fixed, RUN_LIMIT_S,
                       ["--seed", str(args.seed), "--seconds", str(args.seconds),
                        "--trace", args.trace, "--sidecar", str(sidecar)])
    if args.record:
        sys.exit(proc.returncode)
    lines = [l for l in stdout.splitlines() if l.startswith('{"correct"')]
    if not lines:
        raise SystemExit(f"no result line (exit code {proc.returncode})")

    end = host_sample()
    if sidecar.exists():
        side = json.loads(sidecar.read_text())
        busy = end["cpu_total"] - start["cpu_total"]
        side["host"] = {"start": start, "end": end,
                        "steal_share": (end["cpu_steal"] - start["cpu_steal"]) / busy if busy else 0.0,
                        "run_s": time.time() - t_run}
        sidecar.write_text(json.dumps(side, indent=1) + "\n")
        log(f"sidecar: {sidecar.relative_to(ROOT)}; load1 {start['load1']} -> {end['load1']}")
    print(lines[-1], flush=True)
    sys.exit(0 if proc.returncode == 0 else 1)


if __name__ == "__main__":
    main()
