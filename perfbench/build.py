"""Builds the program and the JVM harness into perfbench/.build.

Compiles the program's main sources (src/main/scala) together with the
harness (perfbench/src) with the Scala compiler that ships in Spark's
jar directory. The build is keyed by a hash of every source file, so a
checkout builds once and later runs reuse the classes.

    python3 perfbench/build.py        # prints the classpath
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / "perfbench" / ".build"
SOURCES = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src"]


def spark_jars():
    """$SPARK_HOME/jars, or the jars of the spark-submit on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = Path(shutil.which("spark-submit")).resolve().parent.parent
    jars = Path(home or ".") / "jars"
    if not (jars / "scala-compiler-2.13.17.jar").exists():
        sys.exit(f"build: no Spark 4 / Scala 2.13.17 jars under {jars}")
    return jars


def sources():
    if not (ROOT / "src" / "main" / "scala").is_dir():
        sys.exit("build: the program's sources (src/main/scala) are missing")
    return sorted(p for d in SOURCES for p in d.rglob("*.scala"))


def build():
    """Returns the runtime classpath, compiling first if needed."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    classes = BUILD / f"classes-{h.hexdigest()[:16]}"
    if not (classes / "BUILT").exists():
        shutil.rmtree(BUILD, ignore_errors=True)
        (classes).mkdir(parents=True)
        argfile = BUILD / "sources.txt"
        argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
        compiler = os.pathsep.join(str(jars / f"scala-{m}-2.13.17.jar")
                                   for m in ("compiler", "library", "reflect"))
        tmp = BUILD / "tmp"
        tmp.mkdir()
        subprocess.run(
            ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-cp", compiler,
             "scala.tools.nsc.Main", "-nowarn", "-d", str(classes),
             "-cp", f"{jars}/*", f"@{argfile}"],
            check=True, stdout=sys.stderr, timeout=850)
        (classes / "BUILT").write_text("ok\n")
    return f"{classes}{os.pathsep}{jars}/*"


if __name__ == "__main__":
    print(build())
