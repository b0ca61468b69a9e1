"""Build file of the benchmark package.

Compiles the engine's sources (src/main/scala) together with the
benchmark's own (perfbench/src) using the Scala compiler that ships in
Spark's jar directory (the jars build.sbt compiles against), into
.bench_build/classes-<source hash>. A build whose output already exists is
reused, so each checkout compiles once.

Usage: python3 perfbench/build.py   (prints the classes directory)
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src"]


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    """$SPARK_HOME/jars, else the jars of the first Spark distribution whose
    bin/spark-submit is on the PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        str(Path(d).resolve().parent) for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and (Path(d) / "spark-submit").exists()]
    for home in filter(None, homes):
        jars = Path(home) / "jars"
        if any(jars.glob("scala-compiler-*.jar")):
            return jars
    raise BuildError("no Spark jar directory with a Scala compiler "
                     "(set SPARK_HOME or put spark-submit on the PATH)")


def sources() -> list:
    for d in SOURCE_DIRS:
        if not d.is_dir():
            raise BuildError(f"source directory {d.relative_to(ROOT)} is missing")
    return sorted(p for d in SOURCE_DIRS for p in d.rglob("*.scala"))


def build() -> Path:
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    out_root = ROOT / ".bench_build"
    out = out_root / f"classes-{h.hexdigest()[:16]}"
    if (out / "BUILD_OK").exists():
        return out
    out_root.mkdir(exist_ok=True)
    tmp = out_root / f"{out.name}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    args = tmp / "sources.txt"
    args.write_text("\n".join(str(p) for p in srcs) + "\n")
    cp = str(spark_jars() / "*")
    proc = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
         "-d", str(tmp), "-classpath", cp, f"@{args}"],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    (tmp / "BUILD_OK").write_text("ok\n")
    for old in out_root.glob("classes-*"):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    tmp.rename(out)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
