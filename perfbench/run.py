"""Benchmark entry point. Run from the repository root:

  python3 perfbench/run.py --workload pit_hot --seed 1 --seconds 10 --trace 0

Builds the library and the benchmark program (perfbench/build.py), then
runs one JVM with local[nproc], GC threads pinned to nproc and a heap
derived from MemTotal (half of it, clamped to 2..8 GiB). The program prints
one line per metric and, as its last stdout line, one JSON object. Working
files live under .bench_build/ and are removed when the run ends; the full
report is kept in .bench_build/perfbench/reports/.
"""
import argparse
import json
import os
import pathlib
import shutil
import subprocess
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("pit_hot", "backfill_upsert", "curate_pack")
TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these opens
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def heap_gib():
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return max(2, min(8, int(line.split()[1]) // 2097152))
    except OSError:
        pass
    return 2


def jvm_command(classpath, nproc, work, jvm_extra, workload, seed, seconds, trace, report, expect):
    # -UsePerfData: no hsperfdata file in the system temp directory
    cmd = ["java", f"-Xmx{heap_gib()}g", f"-XX:ParallelGCThreads={nproc}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false"] + jvm_extra
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    return cmd + ["-cp", classpath, "perfbench.Main", "--workload", workload,
                  "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
                  "--cores", str(nproc), "--work", str(work), "--report", str(report),
                  "--expect", str(expect)]


def fresh(work):
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    return work


def class_archive(classpath, nproc, bench):
    """Class-data sharing archive of the classes a run loads. Made once per
    build by a short run; every measured JVM maps it, which takes seconds
    off start-up and makes start-up cost the same on every run."""
    archive = bench / "classes.jsa"
    if archive.is_file():
        return archive
    work = fresh(bench / "work" / f"archive-{os.getpid()}")
    cmd = jvm_command(classpath, nproc, work, [f"-XX:ArchiveClassesAtExit={archive}"],
                      "curate_pack", 0, 1, 1, work / "report.json", work / "expect")
    try:
        res = subprocess.run(cmd, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                             timeout=TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if res.returncode != 0 or not archive.is_file():
        sys.exit(f"perfbench: class archive run failed (exit {res.returncode})")
    return archive


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = p.parse_args()

    root = pathlib.Path(".").resolve()
    classpath, stamp = build.build(root)
    nproc = len(os.sched_getaffinity(0))
    bench = root / build.OUT
    archive = class_archive(classpath, nproc, bench)
    work = fresh(bench / "work" / str(os.getpid()))
    report = bench / "reports" / f"{a.workload}-seed{a.seed}-trace{a.trace}.json"
    report.parent.mkdir(parents=True, exist_ok=True)
    cmd = jvm_command(classpath, nproc, work, [f"-XX:SharedArchiveFile={archive}"], a.workload,
                      a.seed, a.seconds, a.trace, report, bench / "expect" / stamp[:16])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit(f"perfbench: run exceeded {TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").split("\n") if out else []
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        result = None
    if proc.returncode != 0 or not isinstance(result, dict) or result.get("correct") is not True:
        # the failure lines, without a result line
        sys.stdout.write("\n".join(lines[:-1] if result is not None else lines) + "\n")
        sys.exit(f"perfbench: run failed (exit {proc.returncode}); report: {report}")
    sys.stdout.write(out)


if __name__ == "__main__":
    main()
