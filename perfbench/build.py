"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark's JVM side (perfbench/scala) into one class directory with the
Scala compiler that ships in Spark's jars (the `unmanagedBase` of the
project's build.sbt). Nothing is fetched.

    python3 perfbench/build.py          # prints the class directory

The output goes to .bench_build/classes under the checkout root and is
rebuilt only when a source file changes.
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "scala"]
RESOURCES = ROOT / "src" / "main" / "resources"
BUILD_DIR = ROOT / ".bench_build"


def spark_jars():
    """The Spark jars the project builds against: the `unmanagedBase` of
    its build.sbt."""
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.exists() else None
    if not m:
        raise SystemExit("perfbench: no build.sbt naming the Spark jars (unmanagedBase); "
                         "run from a checkout of the repository")
    return Path(m.group(1))


def sources():
    return sorted(p for d in SOURCE_DIRS for p in d.rglob("*.scala"))


def resources():
    return sorted(p for p in RESOURCES.rglob("*") if p.is_file()) if RESOURCES.is_dir() else []


def classpath(classes):
    return f"{classes}{os.pathsep}{spark_jars()}/*"


def build():
    """Returns the class directory, compiling it first if it is stale."""
    missing = [str(d.relative_to(ROOT)) for d in SOURCE_DIRS if not d.is_dir()]
    if missing:
        raise SystemExit(f"perfbench: no sources at {', '.join(missing)}; "
                         "run from a checkout of the repository")
    jars = spark_jars()
    if not any(jars.glob("scala-compiler-*.jar")):
        raise SystemExit(f"perfbench: no Spark jars with a Scala compiler at {jars}")
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs + resources():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = h.hexdigest()
    classes = BUILD_DIR / "classes"
    stamp_file = BUILD_DIR / "classes.stamp"
    if stamp_file.exists() and stamp_file.read_text() == stamp and classes.is_dir():
        return classes
    if classes.exists():
        shutil.rmtree(classes)
    classes.mkdir(parents=True)
    argfile = BUILD_DIR / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-nowarn", "-classpath", f"{jars}/*",
           "-d", str(classes), f"@{argfile}"]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=600)
    if r.returncode != 0:
        shutil.rmtree(classes, ignore_errors=True)
        raise SystemExit(f"perfbench: compilation failed ({r.returncode})")
    for p in resources():  # e.g. the data source registration of format "osm"
        dest = classes / p.relative_to(RESOURCES)
        dest.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(p, dest)
    stamp_file.write_text(stamp)
    return classes


if __name__ == "__main__":
    print(build())
