"""The benchmark's build: compiles the program's sources (src/main/scala)
together with the harness (perfbench/src) with the Scala compiler that
ships in the Spark distribution, into .bench_build/classes-<hash>, where
the hash covers every source file, so a checkout rebuilds only when a
source changes. Spark is found through SPARK_HOME or spark-submit on
PATH.

    python3 perfbench/build.py        # prints the classes directory
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def spark_home() -> Path:
    """SPARK_HOME, or the distribution whose spark-submit is on PATH."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"])
    submit = shutil.which("spark-submit")
    if not submit:
        sys.exit("build: set SPARK_HOME or put spark-submit on PATH")
    return Path(submit).resolve().parent.parent


SPARK_HOME = spark_home()
SOURCE_DIRS = ["src/main/scala", "perfbench/src"]
SCALAC = ["-deprecation:false", "-nowarn"]


BUILD_DIR = ROOT / ".bench_build"


def sources() -> list:
    files = []
    for d in SOURCE_DIRS:
        base = ROOT / d
        if not base.is_dir():
            sys.exit(f"build: missing source directory {d}")
        files += sorted(p for p in base.rglob("*") if p.suffix in (".scala", ".java"))
    java = [f for f in files if f.suffix == ".java"]
    if java:
        sys.exit(f"build: Java sources are not supported: {java[0]}")
    return files


def build() -> Path:
    files = sources()
    h = hashlib.sha256(" ".join(SCALAC).encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes() + b"\0")
    out = BUILD_DIR / f"classes-{h.hexdigest()[:16]}"
    if out.is_dir():
        return out
    tmp = out.with_name(out.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", str(SPARK_HOME / "jars" / "*"), "scala.tools.nsc.Main",
           "-usejavacp", *SCALAC, "-d", str(tmp), *map(str, files)]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit(f"build: scalac failed with code {r.returncode}")
    tmp.rename(out)
    return out


if __name__ == "__main__":
    print(build())
