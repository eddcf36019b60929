#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark's own sources (perfbench/src) into one class directory with
the Scala compiler that ships in Spark's jar directory. No sbt, no network,
nothing written outside the build directory.

    python3 perfbench/build.py [BUILD_DIR]

BUILD_DIR defaults to $CARGO_TARGET_DIR, else .bench_build, relative to the
current directory. The class directory is reused while no source changed.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent


def spark_jars():
    jars = Path(os.environ.get("SPARK_HOME", "/opt/spark")) / "jars"
    if not jars.is_dir():
        raise SystemExit(f"no Spark jar directory at {jars}")
    return jars


def sources():
    srcs = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not srcs:
        raise SystemExit(f"no program sources under {ROOT / 'src' / 'main' / 'scala'}")
    return srcs + sorted((BENCH / "src").rglob("*.scala"))


def build(build_dir=None):
    """Compile if needed; return the class directory."""
    build_dir = Path(build_dir or os.environ.get("CARGO_TARGET_DIR") or ".bench_build").resolve()
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(str(s.relative_to(ROOT)).encode())
        h.update(s.read_bytes())
    stamp = h.hexdigest()[:16]
    classes = build_dir / f"classes-{stamp}"
    if (classes / "perfbench" / "Main.class").is_file():
        return classes
    jars = spark_jars()
    # the compiler that matches the Scala library Spark was built with
    compiler = [min(jars.glob(f"scala-{m}-2.13.*.jar")) for m in ("compiler", "library", "reflect")]
    tmp = build_dir / f"classes-{stamp}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(map(str, compiler)),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp:false",
           "-classpath", ":".join(str(j) for j in sorted(jars.glob("*.jar"))),
           "-d", str(tmp)] + [str(s) for s in srcs]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"compilation failed ({r.returncode})")
    tmp.rename(classes)
    return classes


if __name__ == "__main__":
    print(build(sys.argv[1] if len(sys.argv) > 1 else None))
