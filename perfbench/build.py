#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the library (``src/main/scala``) together with the benchmark's own
sources (``perfbench/src``) with the Scala compiler that ships in Spark's
``jars`` directory, so the build needs no dependency resolution and writes
only under the output directory. Spark is found through ``SPARK_HOME``.

    python3 perfbench/build.py [OUT_DIR]      # default: .bench_build

The output directory gets ``classes/`` (compiled classes plus the library's
resources) and a ``BUILT`` stamp naming the sources' digest; an up-to-date
stamp makes the build a no-op.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src"]
RESOURCES = ROOT / "src" / "main" / "resources"


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home or not (Path(home) / "jars").is_dir():
        raise BuildError("SPARK_HOME must point at a Spark distribution with a jars/ directory")
    return Path(home) / "jars"


def sources() -> list:
    files = sorted(p for d in SOURCE_DIRS if d.is_dir() for p in d.rglob("*.scala"))
    if not any(str(p).startswith(str(SOURCE_DIRS[0])) for p in files):
        raise BuildError(f"no library sources under {SOURCE_DIRS[0].relative_to(ROOT)}")
    return files


def digest(files) -> str:
    h = hashlib.sha256()
    resources = sorted(RESOURCES.rglob("*")) if RESOURCES.is_dir() else []
    for p in files + resources:
        if p.is_file():
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build(out: Path) -> Path:
    """Compile into ``out/classes`` unless the stamp is current; return it."""
    jars = spark_jars()
    files = sources()
    stamp = out / "BUILT"
    classes = out / "classes"
    want = digest(files)
    if stamp.is_file() and stamp.read_text() == want and classes.is_dir():
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    cp = f"{jars}/*"
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(classes), "-classpath", cp] + [str(f) for f in files]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        raise BuildError("scalac failed:\n" + res.stdout[-4000:])
    if RESOURCES.is_dir():
        shutil.copytree(RESOURCES, classes, dirs_exist_ok=True)
    stamp.write_text(want)
    return classes


if __name__ == "__main__":
    try:
        print(build(ROOT / (sys.argv[1] if len(sys.argv) > 1 else ".bench_build")))
    except BuildError as e:
        sys.exit(f"build failed: {e}")
