#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark's own sources (perfbench/src) into <build dir>/classes.

    python3 perfbench/build.py [<build dir>]

It uses the Scala compiler that ships in Spark's jars directory (found
through SPARK_HOME, else through spark-submit on PATH), so it needs no
network and no sbt. A stamp of the source and jar set skips the compile
when nothing changed. Exit code 0 on success, 2 when the sources or the
toolchain are missing, 1 when the compile fails.
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        exe = shutil.which("spark-submit")
        if exe:
            home = str(pathlib.Path(exe).resolve().parent.parent)
    jars = pathlib.Path(home) / "jars" if home else None
    found = sorted(jars.glob("*.jar")) if jars and jars.is_dir() else []
    if not any(j.name.startswith("scala-compiler-") for j in found):
        sys.exit("build: Spark jars with scala-compiler not found; set SPARK_HOME")
    return found


def java():
    home = os.environ.get("JAVA_HOME")
    exe = pathlib.Path(home) / "bin" / "java" if home else None
    if exe and exe.exists():
        return str(exe)
    found = shutil.which("java")
    if not found:
        sys.exit("build: java not found")
    return found


def sources():
    main = ROOT / "src" / "main" / "scala"
    bench = ROOT / "perfbench" / "src"
    if not main.is_dir() or not bench.is_dir():
        print(f"build: program sources not found under {ROOT}", file=sys.stderr)
        sys.exit(2)
    return sorted(main.rglob("*.scala")) + sorted(bench.rglob("*.scala"))


def build(build_dir):
    """Compile if needed; return (classes dir, spark jar list)."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    for j in jars:
        h.update(j.name.encode())
    classes = build_dir / "classes"
    stamp = build_dir / "classes.stamp"
    if classes.is_dir() and stamp.exists() and stamp.read_text() == h.hexdigest():
        return classes, jars
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    stamp.unlink(missing_ok=True)
    argfile = build_dir / "sources.txt"
    argfile.write_text("\n".join(f'"{p}"' for p in srcs) + "\n")
    cp = os.pathsep.join(str(j) for j in jars)
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(classes), "-classpath", cp, f"@{argfile}"]
    rc = subprocess.run(cmd).returncode
    if rc != 0:
        print(f"build: scalac failed with exit code {rc}", file=sys.stderr)
        sys.exit(1)
    stamp.write_text(h.hexdigest())
    return classes, jars


if __name__ == "__main__":
    out = pathlib.Path(sys.argv[1]) if len(sys.argv) > 1 else ROOT / ".bench_build"
    out.mkdir(parents=True, exist_ok=True)
    build(out.resolve())
