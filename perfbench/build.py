"""Build file of the benchmark: compiles graft and the harness.

The engine's sources (``src/main/scala``) and the harness's
(``perfbench/src``) are compiled together with the Scala compiler that
ships in the Spark distribution's ``jars`` directory, against the same
jars, into ``.bench_build/<hash>/classes``. The engine's resources
(``src/main/resources``: the ``META-INF/services`` registrations of the
``graft-topic`` data source and the rawdata client provider) go on the
classpath beside the classes (``classpath()``). The hash covers every
source and resource file and this file, so an unchanged checkout reuses
its build and any edit rebuilds. After compiling, ``DumpOracles`` writes the queries'
oracle SQL next to the classes.

Usage: python3 perfbench/build.py   (prints the build directory)
"""
import fcntl
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = ROOT / ".bench_build"
RESOURCES = ROOT / "src" / "main" / "resources"

# JDK 17 module opens Spark needs outside spark-submit (the list the
# engine's own build passes to forked JVMs)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    """``$SPARK_HOME/jars``, or the distribution whose ``spark-submit`` is on the PATH"""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    jars = Path(home or ".") / "jars"
    if not home or not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError(f"no Spark distribution with a Scala compiler found (SPARK_HOME={home})")
    return jars


def sources() -> list:
    engine = ROOT / "src" / "main" / "scala"
    if not engine.is_dir():
        raise BuildError(f"graft sources not found at {engine}")
    files = sorted(engine.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    if not files:
        raise BuildError("no Scala sources")
    return files


def resources() -> list:
    return sorted(f for f in RESOURCES.rglob("*") if f.is_file()) if RESOURCES.is_dir() else []


def classpath(target: Path) -> str:
    """the harness's runtime classpath: classes, engine resources, Spark jars"""
    return f"{target / 'classes'}:{RESOURCES}:{spark_jars()}/*"


def java_opts() -> list:
    # no hsperfdata files in the system temp directory
    return ["-XX:-UsePerfData", *(f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS)]


def build() -> Path:
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256()
    for f in files + resources() + [Path(__file__).resolve()]:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    target = OUT / h.hexdigest()[:16]
    if (target / "oracles.json").is_file():
        return target
    OUT.mkdir(exist_ok=True)
    # one build at a time per checkout; a second caller waits, then finds
    # the finished build
    with open(OUT / ".lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not (target / "oracles.json").is_file():
            for old in OUT.iterdir():
                if old.is_dir():
                    shutil.rmtree(old, ignore_errors=True)
            compile_into(jars, files, target)
    return target


def compile_into(jars: Path, files: list, target: Path) -> None:
    tmp = OUT / f".tmp-{os.getpid()}"
    classes = tmp / "classes"
    classes.mkdir(parents=True)
    cp = f"{jars}/*"
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
         "-d", str(classes), "-classpath", cp, f"@{argfile}"],
        capture_output=True, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + (r.stdout + r.stderr)[-6000:])
    r = subprocess.run(
        ["java", *java_opts(), "-cp", f"{classes}:{RESOURCES}:{cp}", "graft.perfbench.DumpOracles",
         str(tmp / "oracles.json")], capture_output=True, text=True)
    if r.returncode != 0:
        raise BuildError("oracle dump failed:\n" + (r.stdout + r.stderr)[-6000:])
    tmp.rename(target)


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(1)
