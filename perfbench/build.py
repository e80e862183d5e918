"""Build file of the benchmark package: compiles the engine sources
(src/main/scala) together with the benchmark's own sources (perfbench/src)
into one class directory, using the Scala compiler that ships with Spark.

The result is cached under the build directory, keyed by a digest of every
source file, so only the first run in a checkout pays for the compile.

Usage: python3 perfbench/build.py   (prints the class directory)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")
BUILD_DIR = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark distribution's jar directory (SPARK_HOME, else spark-submit's)."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars"))
    for c in candidates:
        if glob.glob(os.path.join(c, "spark-sql_*.jar")):
            return c
    raise BuildError("no Spark distribution found: set SPARK_HOME")


def sources():
    engine = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True))
    if not engine:
        raise BuildError(f"no engine sources under {os.path.relpath(ENGINE_SRC, ROOT)}")
    bench = sorted(glob.glob(os.path.join(BENCH_SRC, "**", "*.scala"), recursive=True))
    return engine + bench


def build():
    """Compile if needed; return the class directory."""
    jars = spark_jars()
    srcs = sources()
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            digest.update(hashlib.sha256(f.read()).digest())
    out = os.path.join(BUILD_DIR, "classes-" + digest.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".done")):
        return out
    compiler = [glob.glob(os.path.join(jars, f"scala-{m}-2.13*.jar")) for m in ("compiler", "library", "reflect")]
    if not all(compiler):
        raise BuildError("the Spark distribution has no Scala 2.13 compiler jars")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = os.path.join(BUILD_DIR, "scalac-args.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = [
        "java", "-Xss8m", "-Xmx2g",
        "-cp", os.pathsep.join(c[0] for c in compiler),
        "scala.tools.nsc.Main", "-nowarn",
        "-d", out,
        # scalac does not expand classpath wildcards: list the jars
        "-classpath", os.pathsep.join(sorted(glob.glob(os.path.join(jars, "*.jar")))),
        "@" + argfile,
    ]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise BuildError("compile failed")
    open(os.path.join(out, ".done"), "w").close()
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build: {e}")
