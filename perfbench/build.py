"""Build file of the benchmark: compiles the program (src/main/scala) and the
harness (perfbench/src) with the Scala compiler that ships with Spark, the
same Scala 2.13 and /opt/spark/jars classpath build.sbt uses. Outputs go to
.bench_build/ and are rebuilt only when a source changes.

Usage: python3 perfbench/build.py   (run.py calls it before every run)
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build"
SPARK_JARS = Path(os.environ.get("SPARK_HOME", "/opt/spark")) / "jars"


def jvm_classpath(*dirs):
    return os.pathsep.join([str(d) for d in dirs] + [str(SPARK_JARS / "*")])


def _sources(src):
    files = sorted(src.rglob("*.scala"))
    if not files:
        raise SystemExit(f"build: no Scala sources under {src}")
    return files


def _compile(name, src, deps):
    """Compile `src` into OUT/name unless its sources (and deps) are unchanged."""
    files = _sources(src)
    digest = hashlib.sha256()
    for f in files:
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    for d in deps:
        digest.update((d.parent / "stamp").read_bytes())
    stamp = digest.hexdigest()
    classes = OUT / name / "classes"
    stamp_file = OUT / name / "stamp"
    if stamp_file.exists() and stamp_file.read_text() == stamp and classes.is_dir():
        return classes
    tmp = OUT / name / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    args = OUT / name / "sources.txt"
    args.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jvm_classpath(*deps),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(tmp), f"@{args}"]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit(f"build: compiling {name} failed")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(stamp)
    return classes


def build():
    """Returns the class directories to run the harness with."""
    program = _compile("program", ROOT / "src" / "main" / "scala", [])
    harness = _compile("harness", ROOT / "perfbench" / "src", [program])
    return [harness, program]


if __name__ == "__main__":
    print(jvm_classpath(*build()))
