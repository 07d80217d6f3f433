"""Build file of the benchmark: compiles the engine's sources and the
harness in `perfbench/scala` into `.bench_build/classes` with the Scala
compiler that ships in Spark's jars (no sbt, no network).

A stamp holding the hash of every source file makes later calls free;
any source change rebuilds from scratch.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent


def spark_jars(root: Path) -> Path:
    """$SPARK_HOME/jars, defaulting to the jar directory build.sbt compiles
    against (its `unmanagedBase`)."""
    if "SPARK_HOME" in os.environ:
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = root / "build.sbt"
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.exists() else None
        if m is None:
            sys.exit(f"perfbench: no unmanagedBase in {sbt} (set SPARK_HOME)")
        jars = Path(m.group(1))
    if not (jars / "spark-core_2.13-4.1.2.jar").exists():
        sys.exit(f"perfbench: Spark 4.1.2 jars not found in {jars} (set SPARK_HOME)")
    return jars


def sources(root: Path) -> list:
    engine = root / "src" / "main" / "scala"
    if not engine.is_dir():
        sys.exit(f"perfbench: no engine sources at {engine}")
    return sorted(engine.rglob("*.scala")) + sorted((BENCH / "scala").glob("*.scala"))


def build(root: Path) -> str:
    """Returns the runtime classpath, compiling first if a source changed."""
    jars = spark_jars(root)
    out = root / ".bench_build" / "classes"
    stamp = root / ".bench_build" / "stamp"
    srcs = sources(root)
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(str(s.relative_to(root)).encode())
        digest.update(s.read_bytes())
    want = digest.hexdigest()
    if not (stamp.exists() and stamp.read_text() == want):
        shutil.rmtree(out, ignore_errors=True)
        out.mkdir(parents=True)
        # an explicit -classpath: scalac's default of "." would read
        # perfbench/scala as a package named perfbench.scala
        cp = ":".join(str(j) for j in sorted(jars.glob("*.jar")))
        cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", f"{jars}/*",
               "scala.tools.nsc.Main",
               "-classpath", cp, "-nowarn", "-d", str(out)] + [str(s) for s in srcs]
        r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0:
            sys.exit(f"perfbench: compile failed (exit {r.returncode})")
        stamp.write_text(want)
    return f"{out}:{jars}/*"


if __name__ == "__main__":
    print(build(Path.cwd()))
