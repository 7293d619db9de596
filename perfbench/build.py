"""Build file of the benchmark: compiles graft's main sources together
with the benchmark's JVM harness (`harness/*.scala`) using the Scala
compiler that ships with Spark, into `.bench_build/classes` at the
repository root. A content stamp skips the compile when no source
changed.

    python3 perfbench/build.py          # build (or confirm up to date)
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
BUILD = ROOT / ".bench_build"

# Spark 4.x on JDK 17 outside spark-submit needs these (the same list
# as build.sbt's javaOptions).
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
]


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise BuildError("Spark not found: set SPARK_HOME")
        home = str(Path(os.path.realpath(submit)).parents[1])
    jars = Path(home) / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError(f"no Spark jars with a Scala compiler under {jars}")
    return jars


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise BuildError(f"graft sources missing: {main}")
    srcs = sorted(main.rglob("*.scala")) + sorted((ROOT / "perfbench" / "harness").glob("*.scala"))
    return srcs


def build() -> Path:
    """Compile if needed; return the classes directory."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256(str(jars).encode())
    for s in srcs:
        h.update(str(s.relative_to(ROOT)).encode())
        h.update(s.read_bytes())
    stamp = h.hexdigest()
    out = BUILD / "classes"
    if (out / ".stamp").is_file() and (out / ".stamp").read_text() == stamp:
        return out
    tmp = BUILD / f"classes.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(s) for s in srcs))
    cp = f"{jars}/*"
    r = subprocess.run(
        [java(), "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
         "-classpath", cp, "-d", str(tmp), "-nowarn", f"@{argfile}"],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    argfile.unlink()
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    (tmp / ".stamp").write_text(stamp)
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build failed: {e}")
