#!/usr/bin/env python3
"""Build file of the benchmark.

Compiles the program (src/main/scala, plus src/main/resources) together
with the benchmark harness (perfbench/src) into one jar, using the Scala
compiler that ships in Spark's jar directory, so the build needs neither
sbt nor a network. It then records a class-data archive (the JVM's
AppCDS) from one session start, so that every run loads Spark's classes
from the archive instead of parsing them again.

    python3 perfbench/build.py            # prints the jar's path

The output goes to .bench_build/perfbench/<source hash>/ under the
repository root and is reused while no source changes. A file lock
makes concurrent builds of one checkout wait for each other.
"""
import fcntl
import hashlib
import os
import shutil
import subprocess
import sys
import tempfile
import zipfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
OUT = REPO / ".bench_build" / "perfbench"
SOURCES = [REPO / "src" / "main" / "scala", HERE / "src"]
RESOURCES = REPO / "src" / "main" / "resources"
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def spark_jars():
    """Spark's jars (the program's only dependencies): $SPARK_HOME/jars,
    or the jars of a Spark install whose spark-submit is on PATH."""
    homes = [os.environ.get("SPARK_HOME")] + [
        (Path(d) / "spark-submit").resolve().parent.parent
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if (Path(d) / "spark-submit").is_file()]
    for d in homes:
        if d and (Path(d) / "jars").is_dir():
            return sorted(str(p) for p in (Path(d) / "jars").glob("*.jar"))
    sys.exit("perfbench: no Spark jar directory (set SPARK_HOME)")


def java(jar, run_root, archive_flag):
    """The JVM command line of a run up to its main class: fixed heap,
    Spark's module opens, every scratch directory under `run_root`, and
    `archive_flag` to use or to record the class-data archive."""
    return ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", archive_flag,
            *[a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
            "-Dspark.ui.enabled=false",
            f"-Dspark.local.dir={run_root / 'spark-local'}",
            f"-Dspark.sql.warehouse.dir={run_root / 'warehouse'}",
            f"-Djava.io.tmpdir={run_root / 'tmp'}",
            f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
            "-cp", ":".join([str(jar), *spark_jars()])]


def source_files():
    missing = [str(d) for d in SOURCES if not d.is_dir()]
    if missing:
        sys.exit(f"perfbench: source directory missing: {', '.join(missing)}")
    files = sorted(p for d in SOURCES for p in d.rglob("*.scala"))
    res = sorted(p for p in RESOURCES.rglob("*") if p.is_file()) if RESOURCES.is_dir() else []
    return files, res


def build():
    """Returns (jar, class-data archive), building them first if needed."""
    files, res = source_files()
    h = hashlib.sha256(Path(__file__).read_bytes())
    for p in files + res:
        h.update(str(p.relative_to(REPO)).encode())
        h.update(p.read_bytes())
    target = OUT / h.hexdigest()[:16]
    jar = target / "perfbench.jar"
    archive = target / "classes.jsa"
    OUT.mkdir(parents=True, exist_ok=True)
    with open(OUT / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if archive.is_file():
            return jar, archive
        jars = ":".join(spark_jars())
        tmp = Path(tempfile.mkdtemp(prefix="build-", dir=OUT))
        try:
            classes = tmp / "classes"
            classes.mkdir()
            argfile = tmp / "sources.txt"
            argfile.write_text("\n".join(str(p) for p in files) + "\n")
            print(f"perfbench: compiling {len(files)} Scala files", file=sys.stderr)
            code = subprocess.run(
                ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", jars,
                 "scala.tools.nsc.Main", "-nowarn", "-d", str(classes),
                 "-classpath", jars, f"@{argfile}"],
                cwd=tmp, stdout=sys.stderr).returncode
            if code != 0:
                sys.exit(f"perfbench: compile failed with code {code}")
            for p in res:
                dst = classes / p.relative_to(RESOURCES)
                dst.parent.mkdir(parents=True, exist_ok=True)
                shutil.copyfile(p, dst)
            # the archive only takes classes from jars, and it is tied to
            # the jar's path, so the jar goes to its final place first
            target.mkdir(exist_ok=True)
            with zipfile.ZipFile(tmp / "perfbench.jar", "w", zipfile.ZIP_STORED) as z:
                for p in sorted(classes.rglob("*")):
                    if p.is_file():
                        z.write(p, p.relative_to(classes).as_posix())
            (tmp / "perfbench.jar").replace(jar)
            run_root = tmp / "run"
            (run_root / "tmp").mkdir(parents=True)
            print("perfbench: recording the class-data archive", file=sys.stderr)
            code = subprocess.run(
                java(jar, run_root, f"-XX:ArchiveClassesAtExit={tmp / 'classes.jsa'}") +
                ["perfbench.Main", "--workload", "session",
                 "--cores", str(len(os.sched_getaffinity(0)))],
                cwd=run_root, stdout=sys.stderr,
                env=dict(os.environ, SPARK_LOCAL_DIRS=str(run_root / "spark-local"))).returncode
            if code != 0 or not (tmp / "classes.jsa").is_file():
                sys.exit(f"perfbench: class-data archive run failed with code {code}")
            (tmp / "classes.jsa").replace(archive)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    return jar, archive


if __name__ == "__main__":
    print(build()[0])
