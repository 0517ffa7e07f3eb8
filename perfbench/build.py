"""Build file of the benchmark: compiles graft's main sources and the
benchmark's own Scala sources with the Scala compiler that ships among the
Spark jars, into one class directory under the build directory.

The build is skipped when a stamp over every source file's path and
content matches the last successful build. Run directly to build:

    python3 perfbench/build.py
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
MAIN_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = BENCH / "src"


def build_dir() -> Path:
    """Build outputs go under CARGO_TARGET_DIR when it is set, else
    under .bench_build."""
    d = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return (d if d.is_absolute() else ROOT / d) / "perfbench"


def spark_jars() -> Path:
    """SPARK_HOME/jars, else the jar directory build.sbt names as its
    unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = (ROOT / "build.sbt").read_text()
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
    if not m:
        raise SystemExit("cannot locate the Spark jars: set SPARK_HOME")
    return Path(m.group(1))


def sources():
    files = sorted(MAIN_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))
    if not files or not MAIN_SRC.is_dir():
        raise FileNotFoundError(f"no Scala sources under {MAIN_SRC}")
    return files


def stamp(files) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def classpath() -> str:
    return f"{build_dir() / 'classes'}{os.pathsep}{spark_jars()}/*"


def build(log=sys.stderr) -> Path:
    files = sources()
    out = build_dir()
    classes = out / "classes"
    want = stamp(files)
    stamp_file = out / "STAMP"
    if classes.is_dir() and stamp_file.exists() and stamp_file.read_text() == want:
        return classes
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    jars = f"{spark_jars()}/*"
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", jars, "-d", str(tmp), f"@{argfile}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    if r.returncode != 0:
        log.write(r.stdout[-4000:])
        raise RuntimeError("compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(want)
    return classes


if __name__ == "__main__":
    print(build())
