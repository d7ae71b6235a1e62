"""Build file of the benchmark package: compiles the engine (`src/main/scala`)
and the benchmark's own Scala sources (`perfbench/src`) with the Scala
compiler that ships in Spark's jar directory, into `.bench_build/`.

A build is keyed by a hash of every source file, so an unchanged tree is
compiled once per checkout. Run directly to build: `python3 perfbench/build.py`.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """Directory of the Spark distribution's jars (it carries the Scala
    compiler and library the engine is built against)."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        cands.append(os.path.join(os.path.dirname(os.path.dirname(
            os.path.realpath(submit))), "jars"))
    try:
        import pyspark
        cands.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for c in cands:
        if glob.glob(os.path.join(c, "scala-compiler-*.jar")):
            return c
    raise SystemExit("build: no Spark jar directory with a Scala compiler "
                     "(set SPARK_HOME)")


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**",
                                           "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(ROOT, "perfbench", "src", "**",
                                          "*.scala"), recursive=True))
    if not engine:
        raise SystemExit("build: no engine sources under src/main/scala")
    return engine, bench


def scalac(jars, classpath, out, files):
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", classpath] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("build: scalac failed")


def build():
    """Compile if needed; return the runtime classpath."""
    jars = spark_jars()
    engine, bench = sources()
    h = hashlib.sha256()
    for f in engine + bench:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    key = h.hexdigest()[:16]
    out = os.path.join(BUILD, "classes", key)
    app, mine = os.path.join(out, "engine"), os.path.join(out, "bench")
    cp = os.pathsep.join([mine, app, os.path.join(jars, "*")])
    if not os.path.exists(os.path.join(out, "_DONE")):
        shutil.rmtree(os.path.join(BUILD, "classes"), ignore_errors=True)
        scalac(jars, os.path.join(jars, "*"), app, engine)
        scalac(jars, os.pathsep.join([app, os.path.join(jars, "*")]), mine,
               bench)
        open(os.path.join(out, "_DONE"), "w").close()
    return cp


if __name__ == "__main__":
    print(build())
