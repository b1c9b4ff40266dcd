#!/usr/bin/env python3
"""Build file of the perfbench package.

Compiles graft (the repository's `src/main/scala`) and the benchmark's own
Scala sources (`perfbench/src`) with the Scala compiler that ships in the
Spark distribution's jar directory, so no sbt project, network or global
cache is involved. Outputs land under `$CARGO_TARGET_DIR/perfbench` (default
`.bench_build/perfbench`), keyed by a hash of the sources, so an unchanged
tree is compiled once. The build ends with a class-data archive (AppCDS) of
the classes a Spark session and the workloads load, which roughly halves
JVM and session start. Every run uses the archive (`-Xshare:on`: a JVM that
cannot map it fails instead of starting slower), and a build that cannot dump
it fails, so both sides of a comparison start the same way:

    python3 perfbench/build.py          # prints the runtime classpath

Run from the repository root.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
PROGRAM_RESOURCES = ROOT / "src" / "main" / "resources"
BENCH_SRC = BENCH_DIR / "src"


def spark_jars() -> Path:
    """The Spark distribution's jars: $SPARK_HOME/jars, else the directory
    the repository's build.sbt takes them from (its unmanagedBase)."""
    if "SPARK_HOME" in os.environ:
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = ROOT / "build.sbt"
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.exists() else None
        jars = Path(m.group(1) if m else "jars")
    if not any(jars.glob("spark-sql_2.13-*.jar")):
        raise SystemExit(f"perfbench: no Spark 4 jars under {jars}")
    return jars


def build_root() -> Path:
    base = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    if not base.is_absolute():
        base = ROOT / base
    return base / "perfbench"


def sources(d: Path) -> list:
    files = sorted(p for p in d.rglob("*.scala") if p.is_file())
    if not files:
        raise SystemExit(f"perfbench: no Scala sources under {d}")
    return files


def digest(files: list, extra: str = "") -> str:
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def scalac(out: Path, files: list, classpath: str, resources: Path = None) -> None:
    """Compile `files` into the jar `out`, with the files under `resources`."""
    tmp = out.with_name(out.name + ".classes")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = tmp.with_name(tmp.name + ".args")
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", str(spark_jars() / "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp), "-cp", classpath, "@" + str(argfile)]
    r = subprocess.run(cmd, cwd=ROOT)
    argfile.unlink(missing_ok=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"perfbench: compile of {out.name} failed")
    if resources is not None and resources.is_dir():
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    part = out.with_name(out.name + ".part")
    with zipfile.ZipFile(part, "w", zipfile.ZIP_STORED) as z:
        for f in sorted(tmp.rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(tmp).as_posix())
    shutil.rmtree(tmp, ignore_errors=True)
    part.rename(out)


def jvm_flags(work: Path) -> list:
    """JVM settings of every benchmark JVM (the archive dump included)."""
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    flags = ["-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:ParallelGCThreads=3", "-Xss4m",
             "-Xlog:disable", "-Xlog:all=error:stderr",
             f"-Djava.io.tmpdir={work / 'tmp'}",
             f"-Dlog4j2.configurationFile={BENCH_DIR / 'log4j2.properties'}",
             "-Dsun.net.httpserver.nodelay=true", "-Dspark.ui.enabled=false"]
    for p in opens:
        flags += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return flags


def archive(cp: str, jsa: Path) -> None:
    """Dump the class-data archive from a JVM that loads the workloads' classes."""
    work = build_root() / "work" / "classes"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    part = jsa.with_name(jsa.name + ".part")
    cmd = ["java", f"-XX:ArchiveClassesAtExit={part}"] + jvm_flags(work) + [
        "-cp", cp, "perfbench.Main", "--workload", "classes", "--seed", "1", "--seconds", "1",
        "--work", str(work)]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.DEVNULL)
    shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0 or not part.exists():
        part.unlink(missing_ok=True)
        raise SystemExit("perfbench: dumping the class-data archive failed")
    part.rename(jsa)


def build() -> tuple:
    """Compile what is stale; return the runtime classpath and the
    class-data archive."""
    if not PROGRAM_SRC.is_dir():
        raise SystemExit(f"perfbench: program sources not found at {PROGRAM_SRC}")
    jars = str(spark_jars() / "*")
    root = build_root()
    root.mkdir(parents=True, exist_ok=True)
    prog_files = sources(PROGRAM_SRC)
    res_files = sorted(p for p in PROGRAM_RESOURCES.rglob("*") if p.is_file()) if PROGRAM_RESOURCES.is_dir() else []
    prog = root / f"program-{digest(prog_files + res_files)}.jar"
    if not prog.is_file():
        for old in root.glob("program-*"):
            old.unlink()
        print(f"perfbench: compiling program ({len(prog_files)} files)", file=sys.stderr)
        scalac(prog, prog_files, jars, PROGRAM_RESOURCES)
    bench_files = sources(BENCH_SRC)
    bench = root / f"bench-{digest(bench_files, prog.name)}.jar"
    if not bench.is_file():
        for old in root.glob("bench-*"):
            old.unlink()
        print(f"perfbench: compiling benchmark ({len(bench_files)} files)", file=sys.stderr)
        scalac(bench, bench_files, os.pathsep.join([jars, str(prog)]))
    cp = os.pathsep.join([str(bench), str(prog), jars])
    jsa = bench.with_suffix(".jsa")
    if not jsa.exists():
        for old in root.glob("bench-*.jsa"):
            old.unlink()
        archive(cp, jsa)
    return cp, jsa


if __name__ == "__main__":
    print(build()[0])
