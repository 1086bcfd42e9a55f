"""Build file of the benchmark.

Compiles the program (src/main/scala plus its resources) and the benchmark
driver (perfbench/src) in one pass, with the Scala compiler that ships in
the Spark distribution's jars, into .bench_build/classes. A build is
reused while no source file changes.

    python3 perfbench/build.py
"""
import fcntl
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "classes"
MAIN = ROOT / "src" / "main"
BENCH_SRC = ROOT / "perfbench" / "src"


def spark_jars() -> Path:
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    one beside the spark-submit found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    jars = Path(home or "") / "jars"
    if not home or not jars.is_dir():
        sys.exit("perfbench: no Spark distribution found; set SPARK_HOME")
    return jars


def sources() -> list:
    if not (MAIN / "scala").is_dir():
        sys.exit(f"perfbench: program sources not found under {MAIN / 'scala'}")
    return sorted((MAIN / "scala").rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))


def resources() -> list:
    res = MAIN / "resources"
    return sorted(p for p in res.rglob("*") if p.is_file()) if res.is_dir() else []


def build() -> Path:
    """Returns the classes directory, compiling first if any source changed.
    Concurrent callers wait for one another."""
    BUILD.mkdir(exist_ok=True)
    with open(BUILD / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        return _build()


def _build() -> Path:
    srcs, res = sources(), resources()
    digest = hashlib.sha256()
    for p in srcs + res:
        digest.update(str(p.relative_to(ROOT)).encode())
        digest.update(p.read_bytes())
    stamp = digest.hexdigest()
    if (CLASSES / ".stamp").is_file() and (CLASSES / ".stamp").read_text() == stamp:
        return CLASSES

    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(p.relative_to(ROOT)) for p in srcs) + "\n")
    cp = str(spark_jars() / "*")
    print(f"perfbench: compiling {len(srcs)} Scala files", file=sys.stderr)
    done = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
                           "-d", str(tmp), "-classpath", cp, f"@{argfile}"], cwd=ROOT, timeout=780)
    if done.returncode != 0:
        sys.exit("perfbench: compilation failed")
    for p in res:
        dst = tmp / p.relative_to(MAIN / "resources")
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(p, dst)
    (tmp / ".stamp").write_text(stamp)
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)
    return CLASSES


if __name__ == "__main__":
    print(build())
