"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark (perfbench/src) with the Scala compiler that ships among the Spark
jars, into .bench_build/ at the repository root, then runs the decorator test.

The Spark jar directory is the one the main build compiles against
(`unmanagedBase` in build.sbt), or $SPARK_HOME/jars when that is set. A build
is reused while no source file changed.

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")

JDK17_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


class BuildError(Exception):
    pass


def spark_jars():
    if os.environ.get("SPARK_HOME"):
        d = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            sbt = open(os.path.join(ROOT, "build.sbt")).read()
        except OSError:
            raise BuildError("no build.sbt at the repository root")
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
        if not m:
            raise BuildError("build.sbt names no unmanagedBase and SPARK_HOME is unset")
        d = m.group(1)
    if not glob.glob(os.path.join(d, "scala-compiler-*.jar")):
        raise BuildError(f"no Scala compiler among the jars in {d}")
    return d


def sources(*dirs):
    out = []
    for d in dirs:
        out += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(out)


def scalac(jars, classpath, dest, files):
    os.makedirs(dest, exist_ok=True)
    argfile = dest + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(f'"{p}"' for p in files))
    compiler = ":".join(glob.glob(os.path.join(jars, f"scala-{n}-*.jar"))[0]
                        for n in ("compiler", "library", "reflect"))
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
                        "-nowarn", "-usejavacp:false", "-classpath", classpath, "-d", dest,
                        "@" + argfile], stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])


def build():
    """Returns the runtime classpath, compiling first if a source changed."""
    engine_dir = os.path.join(ROOT, "src", "main", "scala")
    main_files = sources(engine_dir, os.path.join(HERE, "src", "main"))
    test_files = sources(os.path.join(HERE, "src", "test"))
    if not sources(engine_dir):
        raise BuildError(f"no engine sources under {engine_dir}")
    jars = spark_jars()
    classes = os.path.join(OUT, "classes")
    test_classes = os.path.join(OUT, "test-classes")
    runtime_cp = f"{classes}:{os.path.join(jars, '*')}"
    h = hashlib.sha256(jars.encode())
    for f in main_files + test_files + [os.path.abspath(__file__)]:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(OUT, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return runtime_cp
    for d in (classes, test_classes):
        shutil.rmtree(d, ignore_errors=True)
    if os.path.exists(stamp):
        os.remove(stamp)
    scalac(jars, os.path.join(jars, "*"), classes, main_files)
    scalac(jars, runtime_cp, test_classes, test_files)
    r = subprocess.run(["java", *JDK17_OPENS, "-cp", f"{test_classes}:{runtime_cp}",
                        "perfbench.DecoratorsSpec"], stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("decorator test failed:\n" + r.stdout[-4000:])
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return runtime_cp


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"perfbench build: {e}", file=sys.stderr)
        sys.exit(2)
