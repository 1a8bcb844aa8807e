"""Build file of the perfbench harness.

Compiles the engine (src/main/scala of the checkout) and the harness
(perfbench/harness) with the Scala compiler that ships in Spark's jars
directory, into perfbench/.build/<fingerprint>/. The fingerprint covers
every compiled source, so an unchanged tree is built once and reused.

Usage: python3 perfbench/build.py   (prints the run classpath)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError("no Spark installation with a Scala compiler found "
                         "(set SPARK_HOME)")
    return jars


def sources(root=ROOT):
    engine = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**",
                                           "*.scala"), recursive=True))
    if not engine:
        raise BuildError(f"no engine sources under {root}/src/main/scala")
    harness = sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    return engine, harness


def fingerprint(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def scalac(jars, out, classpath, files):
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={out}", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", classpath, *files]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])


def build():
    """Returns the classpath entries of the built engine + harness."""
    jars = spark_jars()
    engine, harness = sources()
    out = os.path.join(HERE, ".build", fingerprint(engine + harness))
    done = os.path.join(out, "ok")
    classes = os.path.join(out, "engine")
    hclasses = os.path.join(out, "harness")
    if not os.path.exists(done):
        shutil.rmtree(out, ignore_errors=True)
        scalac(jars, classes, os.path.join(jars, "*"), engine)
        scalac(jars, hclasses,
               os.pathsep.join([classes, os.path.join(jars, "*")]), harness)
        open(done, "w").close()
    return [hclasses, classes, os.path.join(jars, "*")]


if __name__ == "__main__":
    try:
        print(os.pathsep.join(build()))
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
