"""Builds the benchmark: graft's main sources plus perfbench/scala, compiled
together with the Scala compiler that ships in Spark's jars directory.

    python3 perfbench/build.py          # prints the classpath to run with

Output goes to .bench_build/ at the repository root. A build is skipped when
a stamp over every source file and the compiler's classpath is unchanged.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "classes"
STAMP = BUILD / "classes.stamp"
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "scala"]
RESOURCES = ROOT / "src" / "main" / "resources"


class BuildError(RuntimeError):
    pass


def spark_jars() -> Path:
    """The Spark distribution's jars directory: $SPARK_HOME/jars, else the
    one beside `spark-submit` on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(os.path.realpath(submit)).parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise BuildError("Spark not found: set SPARK_HOME")
    return Path(home) / "jars"


def _sources():
    files = []
    for d in SOURCE_DIRS:
        if not d.is_dir():
            raise BuildError(f"missing source directory {d.relative_to(ROOT)}")
        files += sorted(d.rglob("*.scala"))
    if RESOURCES.is_dir():
        files += sorted(p for p in RESOURCES.rglob("*") if p.is_file())
    return files


def _stamp(files, jars: Path) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    for j in sorted(jars.glob("*.jar")):
        h.update(j.name.encode())
    return h.hexdigest()


def source_id() -> str:
    """A short content hash of everything the build compiles."""
    return _stamp(_sources(), spark_jars())[:16]


def build(log=sys.stderr) -> str:
    """Compiles if needed; returns the runtime classpath."""
    jars = spark_jars()
    files = _sources()
    stamp = _stamp(files, jars)
    classpath = f"{CLASSES}{os.pathsep}{jars}/*"
    if STAMP.is_file() and STAMP.read_text() == stamp and CLASSES.is_dir():
        return classpath
    print("graftbench: compiling graft and the benchmark ...", file=log, flush=True)
    if CLASSES.exists():
        shutil.rmtree(CLASSES)
    CLASSES.mkdir(parents=True)
    STAMP.unlink(missing_ok=True)
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files if f.suffix == ".scala") + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-classpath", f"{jars}/*", "-d", str(CLASSES), f"@{argfile}"]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=840)
    if proc.returncode != 0:
        print(proc.stdout[-4000:], file=log)
        raise BuildError("compilation failed")
    if RESOURCES.is_dir():
        shutil.copytree(RESOURCES, CLASSES, dirs_exist_ok=True)
    STAMP.write_text(stamp)
    return classpath


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"graftbench: {e}", file=sys.stderr)
        sys.exit(2)
