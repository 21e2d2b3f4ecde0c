"""Builds the engine and the benchmark harness from source with scalac.

The engine's sources (src/main/scala) and the harness (perfbench/scala) are
compiled together into <build>/perfbench.jar against the jars of the Spark
distribution ($SPARK_HOME, else the one whose spark-submit is on PATH), which
also carry the Scala 2.13 compiler. A stamp of every source file's
contents skips the compile when nothing changed. A rebuild drops the class
data sharing archive (see run.py), which is only valid for the jar it was
made with. Run directly to build:

    python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

SOURCES = ("src/main/scala", "perfbench/scala")
COMPILE_TIMEOUT_S = 800


class BuildError(Exception):
    pass


def spark_jars():
    submit = shutil.which("spark-submit")
    home = Path(os.environ.get("SPARK_HOME") or (Path(submit).parent.parent if submit else "."))
    jars = sorted((home / "jars").glob("*.jar"))
    if not any(j.name.startswith("scala-compiler") for j in jars):
        raise BuildError(f"no Spark distribution with a Scala compiler under {home}/jars")
    return jars


def build_dir(root):
    return root / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def archive_path(root):
    """The JVM class data sharing archive of the harness's classes."""
    return build_dir(root) / "perfbench.jsa"


def sources(root):
    files = []
    for d in SOURCES:
        base = root / d
        if not base.is_dir():
            raise BuildError(f"missing source directory {d}")
        files += sorted(base.rglob("*.scala"))
    return files


def build(root):
    """Returns the classpath (list of paths) to run perfbench.Main with."""
    root = Path(root).resolve()
    jars = spark_jars()
    files = sources(root)
    digest = hashlib.sha256()
    for f in files + jars:
        digest.update(str(f.relative_to(root) if f.is_relative_to(root) else f).encode())
        if f.suffix == ".scala":
            digest.update(f.read_bytes())
    stamp = digest.hexdigest()
    out = build_dir(root)
    jar, stamp_file = out / "perfbench.jar", out / "perfbench.stamp"
    if jar.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return [jar] + jars
    staging = out / "classes.tmp"
    shutil.rmtree(staging, ignore_errors=True)
    staging.mkdir(parents=True)
    cp = os.pathsep.join(str(j) for j in jars)
    args_file = out / "scalac.args"
    args_file.write_text("\n".join(str(f) for f in files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(staging), "-classpath", cp, f"@{args_file}"]
    try:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           timeout=COMPILE_TIMEOUT_S, text=True)
    except subprocess.TimeoutExpired:
        raise BuildError(f"scalac did not finish within {COMPILE_TIMEOUT_S} s")
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    archive_path(root).unlink(missing_ok=True)
    tmp = out / "perfbench.jar.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for f in sorted(staging.rglob("*.class")):
            z.write(f, f.relative_to(staging).as_posix())
    tmp.replace(jar)
    shutil.rmtree(staging)
    stamp_file.write_text(stamp)
    return [jar] + jars


if __name__ == "__main__":
    try:
        build(Path.cwd())
    except BuildError as e:
        sys.exit(f"build failed: {e}")
