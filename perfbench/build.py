"""Build file of the benchmark: compiles the engine's sources
(src/main/scala) together with the benchmark client (perfbench/scala)
into one class directory, with the Scala compiler that ships in the
Spark distribution's jars. A stamp over every source file's path and
contents makes an unchanged tree skip the compile.

    python3 perfbench/build.py      # prints the class directory
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
REPO = BENCH.parent
ENGINE_SRC = REPO / "src" / "main" / "scala"
BENCH_SRC = BENCH / "scala"


def build_dir() -> Path:
    return REPO / os.environ.get("CARGO_TARGET_DIR", ".bench_build") / "perfbench"


def spark_jars() -> Path:
    """The jars of the Spark distribution at $SPARK_HOME."""
    home = os.environ.get("SPARK_HOME")
    jars = Path(home) / "jars" if home else None
    if jars is None or not any(jars.glob("scala-compiler-*.jar")):
        sys.exit("perfbench: set SPARK_HOME to a Spark distribution whose "
                 "jars include the Scala compiler")
    return jars


def sources() -> list:
    if not ENGINE_SRC.is_dir():
        sys.exit(f"perfbench: engine sources not found at {ENGINE_SRC}")
    files = sorted(ENGINE_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))
    if not files:
        sys.exit("perfbench: no sources to compile")
    return files


def build() -> Path:
    """Compile if any source changed; return the class directory."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256(str(jars).encode())
    for f in srcs:
        h.update(str(f.relative_to(REPO)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    out = build_dir()
    classes = out / "classes"
    stamp_file = out / "classes.stamp"
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return classes
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cp = f"{jars}/*"
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={out}", "-cp", cp,
           "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", cp, f"@{argfile}"]
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    proc = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if proc.returncode != 0:
        sys.exit(f"perfbench: compile failed ({proc.returncode})")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(stamp)
    return classes


if __name__ == "__main__":
    print(build())
