#!/usr/bin/env python3
"""Build file of the benchmark: compiles the library sources
(src/main/scala) together with the benchmark's own sources
(perfbench/src) into .bench_build/classes, with the Scala compiler that
ships in the Spark distribution. Nothing is downloaded.

    python3 perfbench/build.py        # from the repository root

Rebuilds only when a source file changed. Exits non-zero, printing why,
when the library sources or Spark are missing.
"""
import hashlib
import os
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build"
CLASSES = OUT / "classes"
STAMP = OUT / "classes.sha256"


def spark_jars() -> Path:
    """The jars directory of the Spark installation: $SPARK_HOME, else the
    installation that provides `spark-submit` on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        sys.exit("perfbench build: no Spark installation (set SPARK_HOME)")
    return Path(home) / "jars"


def sources() -> list:
    lib = ROOT / "src" / "main" / "scala"
    own = ROOT / "perfbench" / "src"
    lib_files = sorted(lib.rglob("*.scala")) if lib.is_dir() else []
    if not lib_files:
        sys.exit(f"perfbench build: no library sources under {lib.relative_to(ROOT)}")
    return lib_files + sorted(own.rglob("*.scala"))


def ensure() -> Path:
    """Compiles if needed; returns the classes directory."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    h.update(" ".join(sorted(p.name for p in jars.glob("scala-*.jar"))).encode())
    digest = h.hexdigest()
    if CLASSES.is_dir() and STAMP.is_file() and STAMP.read_text() == digest:
        return CLASSES
    OUT.mkdir(exist_ok=True)
    tmp = Path(tempfile.mkdtemp(prefix="classes-", dir=OUT))
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files))
    classes = tmp / "out"
    classes.mkdir()
    cp = f"{jars}/*"
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-deprecation:false",
           "-d", str(classes), "-classpath", cp, f"@{argfile}"]
    print(f"perfbench build: compiling {len(files)} files", file=sys.stderr, flush=True)
    res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if res.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit(f"perfbench build: scalac failed ({res.returncode})")
    shutil.rmtree(CLASSES, ignore_errors=True)
    classes.rename(CLASSES)
    shutil.rmtree(tmp, ignore_errors=True)
    STAMP.write_text(digest)
    return CLASSES


if __name__ == "__main__":
    print(ensure())
