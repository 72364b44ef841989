"""Build file of the pipeline benchmark.

Compiles the program (`src/main/scala` of the checkout) together with the
harness (`pipebench/src`) with the Scala compiler that ships among Spark's
jars, into `.bench_build/classes-<hash>` at the checkout root. The hash
covers every source file, so an unchanged tree is never rebuilt and a
changed one always is. Trees built earlier stay, so switching back to
one needs no rebuild; delete `.bench_build` to reclaim the space.

    python3 pipebench/build.py          # prints the classes directory
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(HERE, "src")]

# Spark 4 on JDK 17 needs these outside spark-submit (the same list as
# org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


class BuildFailure(Exception):
    pass


def spark_jars():
    """The jars directory of the Spark install (`SPARK_HOME`, else the
    one holding `spark-submit` on PATH)."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildFailure("no Spark install with a Scala compiler found; "
                           "set SPARK_HOME")
    return jars


def sources():
    files = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise BuildFailure(
                f"missing source directory {os.path.relpath(d, ROOT)}")
        for dirpath, _, names in os.walk(d):
            files += [os.path.join(dirpath, n) for n in names
                      if n.endswith((".scala", ".java"))]
    return sorted(files)


def build(log=sys.stderr):
    """Compile if needed; return the classes directory."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(f'"{f}"' for f in files))
    cp = os.path.join(jars, "*")
    print(f"[pipebench] compiling {len(files)} sources", file=log, flush=True)
    r = subprocess.run(
        ["java", "-Xmx3g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", out, "-classpath", cp, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=840)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise BuildFailure("compile failed:\n" + r.stdout[-4000:])
    open(os.path.join(out, ".complete"), "w").close()
    return out


def classpath(classes):
    return classes + os.pathsep + os.path.join(spark_jars(), "*")


if __name__ == "__main__":
    try:
        print(build())
    except BuildFailure as e:
        print(f"[pipebench] {e}", file=sys.stderr)
        sys.exit(1)
