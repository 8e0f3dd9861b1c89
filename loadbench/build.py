"""Build definition of the loader benchmark.

Compiles the program's sources (src/main/scala) together with the
benchmark's own (loadbench/src) with the Scala compiler that ships in
$SPARK_HOME/jars, into .bench_build/loadbench/classes. A digest of every
source file's path and contents decides whether a rebuild is needed.

Then, once per checkout, it writes a class-data sharing archive of the
Spark, Derby and JDK classes a run loads (.bench_build/loadbench/spark.jsa),
from the class list of one short bulk_merge run. Every run maps it, which
halves the JVM and Spark start. It holds no program classes, so a change
to the program does not make it stale.

    python3 loadbench/build.py        # build (or confirm up to date)
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
PROGRAM_SOURCES = ROOT / "src" / "main" / "scala"
BENCH_SOURCES = ROOT / "loadbench" / "src"
OUT = ROOT / ".bench_build" / "loadbench"
ARCHIVE = OUT / "spark.jsa"
HEAP = ["-Xms2g", "-Xmx2g"]
# Spark 4 on JDK 17 outside spark-submit needs these module openings
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def java():
    home = os.environ.get("JAVA_HOME")
    exe = pathlib.Path(home, "bin", "java") if home else shutil.which("java")
    if not exe or not pathlib.Path(exe).exists():
        sys.exit("loadbench: no java found (set JAVA_HOME or put java on PATH)")
    return str(exe)


def spark_classpath():
    home = os.environ.get("SPARK_HOME")
    if not home or not pathlib.Path(home, "jars").is_dir():
        sys.exit("loadbench: SPARK_HOME must point at a Spark 4 distribution")
    return str(pathlib.Path(home, "jars", "*"))


def build():
    """Compile if the sources changed since the last build; return the classes dir."""
    if not PROGRAM_SOURCES.is_dir():
        sys.exit(f"loadbench: program sources not found at {PROGRAM_SOURCES.relative_to(ROOT)}")
    files = sorted(p for d in (PROGRAM_SOURCES, BENCH_SOURCES) for p in d.rglob("*.scala"))
    digest = hashlib.sha256()
    for f in files:
        digest.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes())
    classes, stamp = OUT / "classes", OUT / "classes.sha256"
    if stamp.exists() and stamp.read_text() == digest.hexdigest():
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    tmp = OUT / "tmp"
    tmp.mkdir(exist_ok=True)
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cp = spark_classpath()
    done = subprocess.run(
        [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
         "-cp", cp, "scala.tools.nsc.Main", "-nowarn", "-d", str(classes),
         "-classpath", cp, f"@{argfile}"],
        stdout=sys.stderr, stderr=sys.stderr)
    if done.returncode != 0:
        sys.exit(f"loadbench: compile failed (exit {done.returncode})")
    stamp.write_text(digest.hexdigest())
    return classes


def bench_command(classes, work, args, flags=()):
    """The JVM command that runs loadbench.Main with `args` in `work`. The
    Spark jars come first on the class path: the archive must match it."""
    share = [f"-XX:SharedArchiveFile={ARCHIVE}", "-Xshare:auto"] if ARCHIVE.exists() else []
    return [java(), *HEAP, "-XX:-UsePerfData", *share, *flags, *ADD_OPENS,
            f"-Djava.io.tmpdir={work / 'tmp'}", f"-Dderby.system.home={work}",
            f"-Dderby.stream.error.file={work / 'derby.log'}",
            "-cp", f"{spark_classpath()}{os.pathsep}{classes}", "loadbench.Main", *args,
            "--work", str(work), "--results", str(OUT / "results")]


def archive(classes):
    """Write the class-data sharing archive if it is missing. A failure only
    costs speed: runs then start without it, and it is not tried again."""
    failed = OUT / "spark.jsa.failed"
    if ARCHIVE.exists() or failed.exists():
        return
    work = OUT / "work" / "classlist"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    listing, tmp = OUT / "classes.lst", OUT / "spark.jsa.tmp"
    try:
        run = subprocess.run(
            bench_command(classes, work, ["--workload", "bulk_merge", "--seed", "0", "--seconds", "1",
                                          "--trace", "0"], [f"-XX:DumpLoadedClassList={listing}"]),
            cwd=work, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=300)
        dump = subprocess.run(
            [java(), "-Xmx1g", "-Xshare:dump", f"-XX:SharedClassListFile={listing}",
             f"-XX:SharedArchiveFile={tmp}", "-cp", spark_classpath()],
            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=300)
    except subprocess.TimeoutExpired:
        run = dump = None
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if run and run.returncode == 0 and dump.returncode == 0 and tmp.exists():
        tmp.rename(ARCHIVE)
    else:
        failed.touch()
        print("loadbench: no class-data sharing archive; runs start without it", file=sys.stderr)


if __name__ == "__main__":
    archive(build())
    print(OUT)
