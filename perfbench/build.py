"""Builds the engine and the benchmark harness from source with scalac.

The engine (src/main/scala) and the harness (perfbench/scala) are compiled
together against the jars of the Spark distribution ($SPARK_HOME, else the
one holding spark-submit on PATH), which bundle the Scala 2.13 compiler,
so no build tool and no download is needed. Output goes to
<build_dir>/classes-<hash of the sources>; a finished build is reused.

Usage: python3 perfbench/build.py [build_dir]
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys


def _spark_home():
    """$SPARK_HOME, else the distribution that holds spark-submit on PATH."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else ""


SPARK_JARS = os.path.join(_spark_home(), "jars")


def sources(root="."):
    engine = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                            "scala/**/*.scala"), recursive=True))
    return engine, harness


def classpath_jars():
    return os.path.join(SPARK_JARS, "*")


def build(build_dir=".bench_build", root="."):
    """Returns the classes directory, compiling first if needed. Raises
    RuntimeError when sources or the compiler are missing or do not compile."""
    engine, harness = sources(root)
    if not engine:
        raise RuntimeError("no engine sources under src/main/scala")
    if not harness:
        raise RuntimeError("no harness sources under perfbench/scala")
    h = hashlib.sha256()
    for f in engine + harness:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(build_dir, "classes-" + h.hexdigest()[:16])
    stamp = os.path.join(out, "_BUILT")
    if os.path.exists(stamp):
        return out
    compiler = [os.path.join(SPARK_JARS, j) for j in
                ("scala-compiler-2.13.17.jar", "scala-library-2.13.17.jar",
                 "scala-reflect-2.13.17.jar")]
    missing = [j for j in compiler if not os.path.exists(j)]
    if missing:
        raise RuntimeError(f"scala compiler jars not found: {missing}")
    for old in glob.glob(os.path.join(build_dir, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(out)
    cmd = ["java", "-Xmx3g", "-Xss8m", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-classpath", classpath_jars(), "-d", out] + engine + harness
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        raise RuntimeError("scalac failed:\n" + p.stdout[-4000:])
    open(stamp, "w").close()
    return out


if __name__ == "__main__":
    print(build(sys.argv[1] if len(sys.argv) > 1 else ".bench_build"))
