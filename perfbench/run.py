"""GTFS pipeline benchmark: one run of one workload in a fresh JVM.

    python3 perfbench/run.py --workload live_poll --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --selftest

Builds the program and the driver if needed (perfbench/build.py), starts
`perfbench.Main` on local[nproc], and prints its result as the last line
of stdout: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones of BENCHMARK.json, with --trace 1 the
per-layer ones. Exits non-zero on a build failure, a crash, a timeout or
any output mismatch. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True  # leave nothing behind in the checkout but .bench_build
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
DEADLINE_S = 175  # a run must end within 180 s

# What spark-submit adds for Spark 4 on JDK 17 when the JVM is started directly.
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def declared(kind: str) -> list:
    """Names of the workloads or metrics BENCHMARK.json declares."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return [m["name"] for m in spec[kind]]


def jvm(classes: Path, main: str, args: list, work: Path, timeout: float) -> subprocess.CompletedProcess:
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cp = f"{classes}{os.pathsep}{build.spark_jars() / '*'}"
    cmd = ["java", "-Xms1536m", "-Xmx1536m", "-XX:+UseSerialGC", "-Xss8m", *ADD_OPENS, f"-Djava.io.tmpdir={tmp}",
           "-cp", cp, main, *args]
    # stderr passes through; stdout is captured for the result line.
    return subprocess.run(cmd, cwd=work, stdout=subprocess.PIPE, text=True, timeout=timeout)


def run(args) -> int:
    classes = build.build()
    launch_ms = int(time.time() * 1000)  # set-up is timed from here: JVM start to first sample
    work = build.BUILD / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    cpus = len(os.sched_getaffinity(0))
    # A run that had to build first gets its own full budget after the build.
    budget = DEADLINE_S - (time.time() - launch_ms / 1000)
    try:
        proc = jvm(classes, "perfbench.Main",
                   [args.workload, str(args.seed), str(args.seconds), str(args.trace),
                    str(launch_ms), str(work), str(cpus)], work, budget)
    except subprocess.TimeoutExpired:
        print("perfbench: run timed out", file=sys.stderr)
        return 1
    finally:
        trace = work / "trace.json"
        if trace.is_file():
            keep = build.BUILD / "traces" / f"{args.workload}-seed{args.seed}.json"
            keep.parent.mkdir(parents=True, exist_ok=True)
            shutil.move(str(trace), keep)
            print(f"perfbench: trace written to {keep.relative_to(ROOT)}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        print(f"perfbench: benchmark JVM exited with code {proc.returncode}", file=sys.stderr)
        return 1
    result = json.loads(lines[-1])
    want = declared("per_layer" if args.trace else "end_to_end")
    metrics = result["metrics"]
    if list(metrics) != want:
        print(f"perfbench: metrics {list(metrics)} differ from BENCHMARK.json {want}", file=sys.stderr)
        return 1
    bad = [n for n, m in metrics.items() if not isinstance(m["value"], (int, float))]
    if bad:
        print(f"perfbench: no value for {bad}", file=sys.stderr)
        return 1
    print(json.dumps(result))
    if not result["correct"]:
        print("perfbench: OUTPUT MISMATCH, see the MISMATCH lines above", file=sys.stderr)
        return 1
    return 0


def selftest() -> int:
    """Checks the benchmark itself: generator determinism and sizes, the
    tail rule, and the metric names declared in BENCHMARK.json."""
    import re
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in spec[k]]
    bad = [n for n in names if not re.fullmatch(r"[A-Za-z0-9_.-]+", n)]
    print(f"{'ok  ' if not bad else 'FAIL'} every name matches [A-Za-z0-9_.-]+ {bad or ''}")
    print(f"{'ok  ' if len(names) == len(set(names)) else 'FAIL'} no name is used twice")
    if bad or len(names) != len(set(names)):
        return 1
    classes = build.build()
    work = build.BUILD / "work" / f"selftest-{os.getpid()}"
    work.mkdir(parents=True, exist_ok=True)
    try:
        proc = jvm(classes, "perfbench.SelfTest", [*declared("end_to_end"), "--", *declared("per_layer")],
                   work, DEADLINE_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(proc.stdout, end="")
    print(f"selftest {'passed' if proc.returncode == 0 else 'FAILED'}")
    return proc.returncode


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=declared("workloads"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if args.selftest:
        return selftest()
    if not args.workload:
        ap.error("--workload is required")
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
