#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark's JVM harness (perfbench/harness) with the Scala compiler
that ships with the Spark jars. No sbt, no network.

    python3 perfbench/build.py        # prints the runtime classpath

Outputs go to $CARGO_TARGET_DIR (default .bench_build) under the
checkout. A stamp of every input's bytes skips the build when nothing
changed.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def out_dir() -> Path:
    return (ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")).resolve()


def spark_jars() -> Path:
    """The Spark jars the sbt build compiles against (build.sbt's
    `unmanagedBase`), else $SPARK_HOME/jars."""
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  sbt.read_text()) if sbt.is_file() else None
    if m:
        return Path(m.group(1))
    if "SPARK_HOME" in os.environ:
        return Path(os.environ["SPARK_HOME"]) / "jars"
    raise SystemExit("build: no unmanagedBase in build.sbt and no SPARK_HOME")


def _inputs():
    prog = sorted((ROOT / "src/main/scala").rglob("*.scala"))
    harness = sorted((HERE / "harness").glob("*.scala"))
    res = sorted(p for p in (ROOT / "src/main/resources").rglob("*") if p.is_file())
    return prog, harness, res


def _stamp(files) -> str:
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def _scalac(jars: Path, classpath: str, dest: Path, sources) -> None:
    dest.mkdir(parents=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", str(jars / "*"),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath,
           "-d", str(dest)] + [str(s) for s in sources]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"build: scalac failed for {dest.name}")


def build() -> str:
    """Compiles what changed and returns the runtime classpath."""
    prog, harness, res = _inputs()
    if not prog:
        raise SystemExit("build: no program sources under src/main/scala")
    jars = spark_jars()
    if not any(jars.glob("scala-compiler-*.jar")):
        raise SystemExit(f"build: no Scala compiler in {jars}")
    out = out_dir()
    classes, hclasses = out / "classes", out / "harness"
    stamp = _stamp(prog + harness + res)
    stamp_file = out / "build.stamp"
    if not (stamp_file.is_file() and stamp_file.read_text() == stamp):
        stamp_file.unlink(missing_ok=True)
        for d in (classes, hclasses):
            shutil.rmtree(d, ignore_errors=True)
        cp = str(jars / "*")
        _scalac(jars, cp, classes, prog)
        _scalac(jars, f"{classes}{os.pathsep}{cp}", hclasses, harness)
        stamp_file.write_text(stamp)
    return os.pathsep.join([str(classes), str(ROOT / "src/main/resources"),
                            str(hclasses), str(jars / "*")])


if __name__ == "__main__":
    print(build())
