"""Builds the program and the benchmark from source.

Compiles the repository's `src/main/scala` together with the benchmark's
own `perfbench/src` with the Scala compiler that ships in Spark's jar
directory, into `<build dir>/classes`. A build is skipped when no source
changed since the last one.

Usage: python3 perfbench/build.py [build_dir]
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME", "/opt/spark")
    jars = Path(home) / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError(f"no Spark jar directory with a Scala compiler at {jars}")
    return jars


def sources(root=ROOT):
    program = root / "src" / "main" / "scala"
    if not (program / "graft").is_dir():
        raise BuildError(f"program sources not found under {program}")
    return (sorted(program.rglob("*.scala")) +
            sorted((root / "perfbench" / "src").glob("*.scala")))


def build_dir(root=ROOT):
    d = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return d if d.is_absolute() else root / d


def build(out=None, root=ROOT):
    """Returns the classes directory, compiling first if sources changed."""
    out = Path(out) if out else build_dir(root)
    srcs = sources(root)
    jars = spark_jars()
    digest = hashlib.sha256(str(jars).encode())
    for s in srcs:
        digest.update(str(s.relative_to(root)).encode())
        digest.update(s.read_bytes())
    stamp = digest.hexdigest()
    classes = out / "classes"
    stamp_file = out / "classes.stamp"
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", str(classes)] + [str(s) for s in srcs]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if p.returncode != 0:
        shutil.rmtree(classes, ignore_errors=True)
        raise BuildError("scalac failed:\n" + p.stdout[-4000:])
    stamp_file.write_text(stamp)
    return classes


if __name__ == "__main__":
    try:
        print(build(sys.argv[1] if len(sys.argv) > 1 else None))
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
