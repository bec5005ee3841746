"""Build file of the benchmark: compiles the engine (src/main/scala) together
with the harness (perfbench/src) into one class directory.

The Scala 2.13 compiler and every runtime jar ship in the Spark
distribution's jars directory ($SPARK_HOME/jars), so no dependency resolution
is needed. The output goes to .bench_build/classes under the checkout root
and is reused while the sources are unchanged.

    python3 perfbench/build.py        # build (or confirm up to date), print the class dir
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src"]
BUILD_DIR = ROOT / ".bench_build"
SCALAC_FLAGS = ["-nowarn", "-release", "17"]


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        raise SystemExit("build: SPARK_HOME must name the Spark distribution")
    return Path(home) / "jars"


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def sources() -> list:
    files = []
    for d in SOURCE_DIRS:
        if not d.is_dir():
            raise SystemExit(f"build: missing source directory {d.relative_to(ROOT)}")
        files += sorted(p for p in d.rglob("*.scala") if p.is_file())
    return files


def digest(files: list) -> str:
    """Hash of every source file and the compiler settings."""
    h = hashlib.sha256()
    h.update(" ".join(SCALAC_FLAGS).encode())
    h.update("\n".join(sorted(p.name for p in spark_jars().glob("*.jar"))).encode())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build() -> Path:
    """Compiles when the sources changed; returns the class directory."""
    files = sources()
    stamp = digest(files)
    out = BUILD_DIR / "classes"
    stamp_file = BUILD_DIR / "classes.sha256"
    if out.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return out
    tmp = BUILD_DIR / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cp = str(spark_jars() / "*")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-usejavacp", "-d", str(tmp), *SCALAC_FLAGS, *map(str, files)]
    print(f"build: compiling {len(files)} Scala sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed with exit code {r.returncode}")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    stamp_file.write_text(stamp)
    return out


if __name__ == "__main__":
    print(build())
