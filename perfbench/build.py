#!/usr/bin/env python3
"""Build file of the benchmark: compiles the library (src/main of the
checkout) together with the benchmark's own sources (perfbench/src)
with the Scala compiler that ships in the Spark distribution, packs
them into perfbench/.build/bench.jar, and records a class-data-sharing
archive of the classes one smoke run loads (it cuts JVM and Spark
start-up, which every run pays, by several seconds). A stamp of every
source's content skips all of it when nothing changed.

    python3 perfbench/build.py          # prints the runtime classpath
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = BENCH / ".build"
JAR = BUILD / "bench.jar"
ARCHIVE = BUILD / "classes.jsa"
STAMP = BUILD / "stamp"
# Spark on JDK 17 outside spark-submit needs these (Spark's launcher
# JavaModuleOptions).
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def spark_jars() -> Path:
    """The jars of a Spark distribution that ships the Scala compiler:
    $SPARK_HOME, else the distribution of a spark-submit on the PATH,
    else the jars of the pyspark package."""
    homes = [os.environ.get("SPARK_HOME", "")]
    homes += [str(Path(d).resolve().parent) for d in os.environ.get("PATH", "").split(os.pathsep)
              if d and (Path(d) / "spark-submit").is_file()]
    candidates = [Path(h) / "jars" for h in homes if h]
    try:
        import pyspark
        candidates.append(Path(pyspark.__file__).parent / "jars")
    except ImportError:
        pass
    for jars in candidates:
        if any(jars.glob("scala-compiler-*.jar")) and any(jars.glob("scala-library-*.jar")):
            return jars
    raise SystemExit("build: no Spark distribution with a Scala compiler found; set SPARK_HOME")


def sources() -> list:
    lib = ROOT / "src" / "main" / "scala"
    if not lib.is_dir():
        raise SystemExit(f"build: library sources not found at {lib}")
    return sorted(lib.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))


def stamp(files: list) -> str:
    h = hashlib.sha256()
    for f in files + [Path(__file__).resolve()]:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def classpath(jars: Path) -> str:
    return f"{JAR}{os.pathsep}{jars}/*"


def java(cp: str, work: Path, args: list, archive_flag: str = None) -> list:
    """The JVM command line every benchmark run uses."""
    if archive_flag is None and ARCHIVE.is_file():
        archive_flag = f"-XX:SharedArchiveFile={ARCHIVE}"
    cmd = ["java", "-Xmx3g", "-Xss4m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}",
           "-Dspark.sql.session.timeZone=UTC",
           f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}"]
    if archive_flag:
        cmd.append(archive_flag)
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "perfbench.Main"] + args


def record_archive(cp: str) -> None:
    """Class-data-sharing archive of the classes a smoke run of the
    incremental workload loads (the widest set of code paths)."""
    work = BUILD / "train"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    ARCHIVE.unlink(missing_ok=True)
    res = subprocess.run(java(cp, work, ["--workload", "medallion_incremental", "--seed", "1",
                                         "--seconds", "1", "--trace", "0", "--smoke",
                                         "--work", str(work), "--out", str(work / "out")],
                              archive_flag=f"-XX:ArchiveClassesAtExit={ARCHIVE}"),
                         stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    shutil.rmtree(work, ignore_errors=True)
    if res.returncode != 0:
        ARCHIVE.unlink(missing_ok=True)
        print("build: class-data-sharing archive not recorded", file=sys.stderr)


def build() -> str:
    """Compile if any source changed; return the runtime classpath."""
    jars = spark_jars()
    files = sources()
    digest = stamp(files)
    if JAR.is_file() and STAMP.is_file() and STAMP.read_text() == digest:
        return classpath(jars)
    STAMP.unlink(missing_ok=True)
    staging = BUILD / "classes"
    shutil.rmtree(staging, ignore_errors=True)
    staging.mkdir(parents=True)
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={BUILD}",
           "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", str(staging), "-cp", f"{jars}/*", f"@{argfile}"]
    print(f"build: compiling {len(files)} sources", file=sys.stderr, flush=True)
    res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if res.returncode != 0:
        raise SystemExit(f"build: scalac failed with code {res.returncode}")
    resources = ROOT / "src" / "main" / "resources"
    if resources.is_dir():
        shutil.copytree(resources, staging, dirs_exist_ok=True)
    with zipfile.ZipFile(JAR, "w") as z:
        for f in sorted(staging.rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(staging).as_posix())
    shutil.rmtree(staging)
    record_archive(classpath(jars))
    STAMP.write_text(digest)
    return classpath(jars)


if __name__ == "__main__":
    print(build())
