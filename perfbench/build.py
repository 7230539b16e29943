#!/usr/bin/env python3
"""Build file of the graft benchmark.

Compiles graft's main sources (`src/main/scala`) together with the
benchmark's own Scala code (`perfbench/scala`) into one class directory,
with the Scala compiler that ships inside the Spark distribution. No sbt, no
dependency resolution: the only inputs are the sources and Spark's jars.

    python3 perfbench/build.py            # prints the class directory

The output lives under `$CARGO_TARGET_DIR/perfbench` (default
`.bench_build/perfbench`) and is reused while the sources are unchanged.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "scala"]


def out_dir() -> Path:
    base = Path(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    if not base.is_absolute():
        base = ROOT / base
    return base / "perfbench"


def spark_jars() -> Path:
    """Spark's jar directory: $SPARK_HOME/jars, else beside spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise SystemExit("build: no Spark distribution (set SPARK_HOME)")
    return Path(home) / "jars"


def sources() -> list:
    missing = [d for d in SOURCE_DIRS if not d.is_dir()]
    if missing:
        raise SystemExit(f"build: source directory missing: {missing[0]}")
    return sorted(p for d in SOURCE_DIRS for p in d.rglob("*.scala"))


def stamp(files: list, jars: Path) -> str:
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    h.update("\n".join(sorted(j.name for j in jars.glob("*.jar"))).encode())
    return h.hexdigest()


def build() -> Path:
    """Compile when the sources changed; return the class directory."""
    files = sources()
    jars = spark_jars()
    out = out_dir()
    classes = out / "classes"
    want = stamp(files, jars)
    stamp_file = classes / "BUILD_STAMP"
    if stamp_file.is_file() and stamp_file.read_text() == want:
        return classes
    out.mkdir(parents=True, exist_ok=True)
    tmp = out / f"classes.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    compiler = [str(jars / n) for n in sorted(os.listdir(jars))
                if n.startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        raise SystemExit("build: Spark distribution lacks the Scala compiler jars")
    argfile = out / f"scalac-args-{os.getpid()}.txt"
    argfile.write_text("\n".join(str(p) for p in files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp:false",
           "-classpath", str(jars / "*"), "-d", str(tmp), f"@{argfile}"]
    print(f"build: compiling {len(files)} Scala files", file=sys.stderr, flush=True)
    try:
        rc = subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr).returncode
    finally:
        argfile.unlink(missing_ok=True)
    if rc != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"build: scalac exited with {rc}")
    (tmp / "BUILD_STAMP").write_text(want)
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    return classes


if __name__ == "__main__":
    print(build())
