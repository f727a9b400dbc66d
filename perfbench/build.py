"""Build file of the benchmark: compiles the program's sources
(src/main/scala) together with the benchmark's own (perfbench/src) into
one jar, using the Scala compiler that ships with Spark.

    python3 perfbench/build.py          # prints the build directory

Output goes under .bench_build/ at the checkout root, keyed by a hash of
every source file, so an unchanged tree is never built twice.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = Path(__file__).resolve().parent
OUT = ROOT / ".bench_build" / "perfbench"
# only a ceiling: with the serial collector the heap is resized after
# each full collection to what the program keeps live, so resident
# memory follows the program's demand rather than a collector's sizing
# policy (it runs the workloads no slower than G1 on four cores)
MAX_HEAP = "2g"
# Spark on JDK 17 outside spark-submit needs these (as in the repo's build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spark_jars() -> Path:
    """$SPARK_HOME/jars, else the jar directory the repo's build.sbt names."""
    if "SPARK_HOME" in os.environ:
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = ROOT / "build.sbt"
        m = re.search(r'unmanagedBase := file\("([^"]+)"\)', sbt.read_text()) if sbt.exists() else None
        if m is None:
            raise SystemExit("set SPARK_HOME: build.sbt names no Spark jar directory")
        jars = Path(m.group(1))
    if not any(jars.glob("spark-core_*.jar")):
        raise SystemExit(f"no Spark jars under {jars}; set SPARK_HOME")
    return jars


def sources() -> list:
    program = ROOT / "src" / "main" / "scala"
    if not program.is_dir():
        raise SystemExit(f"program sources not found at {program}")
    return sorted(program.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))


def java_cmd(built: Path, main: str, args: list, tmpdir: Path) -> list:
    """The JVM command line of every benchmark process."""
    # -XX:-UsePerfData: no hsperfdata file in /tmp; every file a run
    # writes stays in the checkout
    return (["java", f"-Xmx{MAX_HEAP}", "-XX:+UseSerialGC", "-XX:-UsePerfData", "-Xlog:disable",
             "-Xlog:all=error:stderr", f"-Djava.io.tmpdir={tmpdir}"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", f"{built / 'graftbench.jar'}{os.pathsep}{spark_jars()}/*", main] + args)


def build() -> Path:
    """Build if needed; return the build directory."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256(str(jars).encode())
    for p in srcs + [Path(__file__).resolve()]:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    built = OUT / f"build-{h.hexdigest()[:16]}"
    if (built / ".complete").exists():
        return built
    # .complete marks a finished build
    for old in OUT.glob("build-*"):
        shutil.rmtree(old, ignore_errors=True)
    built.mkdir(parents=True)
    argfile = built / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cp = os.pathsep.join(str(j) for j in sorted(jars.glob("*.jar")))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", str(built / "graftbench.jar"), "-classpath", cp, f"@{argfile}"]
    print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    argfile.unlink()
    if r.returncode != 0:
        shutil.rmtree(built, ignore_errors=True)
        raise SystemExit(f"compilation failed ({r.returncode})")
    (built / ".complete").touch()
    return built


if __name__ == "__main__":
    print(build())
