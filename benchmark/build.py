#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the repository's main sources (src/main/scala) together with
the benchmark harness (benchmark/src) with the Scala compiler that ships
in the Spark distribution's jars/ directory, into
.bench_build/classes-<digest>/ at the repository root. The digest covers
every source file, so an unchanged tree is not rebuilt.

    python3 benchmark/build.py          # prints the classes directory
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

def spark_home() -> Path:
    """The Spark distribution whose jars/ the program builds against (the
    same directory build.sbt names): $SPARK_HOME, else the one holding
    spark-submit on PATH."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"])
    submit = shutil.which("spark-submit")
    if submit is None:
        raise FileNotFoundError("no Spark distribution: set SPARK_HOME")
    return Path(submit).resolve().parent.parent


SPARK_JARS = spark_home() / "jars"
BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build"


def sources(root: Path = ROOT) -> list:
    main = root / "src" / "main" / "scala"
    if not main.is_dir():
        raise FileNotFoundError(f"no main sources at {main}")
    found = sorted(main.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    return [p for p in found if p.is_file()]


def digest(files: list) -> str:
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(b"\0")
        h.update(p.read_bytes())
    return h.hexdigest()


def classpath(classes: Path) -> str:
    return os.pathsep.join([str(classes), str(SPARK_JARS / "*")])


def build(log=sys.stderr) -> Path:
    files = sources()
    out = BUILD / f"classes-{digest(files)[:16]}"
    if (out / ".complete").exists():
        return out
    if not (SPARK_JARS / "scala-compiler-2.13.17.jar").exists():
        raise FileNotFoundError(f"no Scala compiler under {SPARK_JARS}")
    tmp = BUILD / f"tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", str(SPARK_JARS / "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-cp", str(SPARK_JARS / "*"), f"@{argfile}"]
    print(f"[bench] compiling {len(files)} sources", file=log, flush=True)
    res = subprocess.run(cmd, stdout=log, stderr=log)
    if res.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError(f"scalac failed with exit code {res.returncode}")
    argfile.unlink()
    resources = ROOT / "src" / "main" / "resources"
    if resources.is_dir():
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    (tmp / ".complete").write_text("")
    # keep one build: older trees are stale
    for old in BUILD.glob("classes-*"):
        shutil.rmtree(old, ignore_errors=True)
    tmp.rename(out)
    return out


if __name__ == "__main__":
    print(build())
