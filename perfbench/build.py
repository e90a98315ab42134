"""Builds graft and the benchmark's JVM harness from source with scalac.

graft's main sources (`src/main/scala`) and the harness
(`perfbench/scala`) compile against the Spark distribution's jars, which
carry the Scala 2.13 compiler. Output goes to `.bench_build/classes`
under the checkout and is rebuilt only when a source file changes.
"""
import glob
import hashlib
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")

# Spark 4 on JDK 17 needs these when a SparkSession is created outside
# spark-submit (the list build.sbt passes to forked runs).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


class BuildError(Exception):
    pass


def spark_jars():
    """The directory of the Spark distribution's jars."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    try:
        import pyspark
        cands.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for c in cands:
        if glob.glob(os.path.join(c, "spark-sql_2.13-*.jar")):
            return c
    raise BuildError("no Spark 2.13 distribution found (set SPARK_HOME)")


def _sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def _digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def _scalac(jars, classpath, out, files):
    os.makedirs(out, exist_ok=True)
    argfile = out + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={BUILD}",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", classpath, "-d", out, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])


def _stage(name, srcs, jars, classpath):
    """Compile one source set unless its stamp matches; returns its dir."""
    if not srcs:
        raise BuildError(f"no Scala sources for {name}")
    out = os.path.join(BUILD, "classes", name)
    stamp = out + ".stamp"
    digest = _digest(srcs)
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return out
    if os.path.isdir(out):
        subprocess.run(["rm", "-rf", out], check=True)
    _scalac(jars, classpath, out, srcs)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return out


def build():
    """Compile what changed; return the runtime classpath."""
    jars = spark_jars()
    base = os.path.join(jars, "*")
    graft = _stage("graft", _sources(os.path.join(ROOT, "src", "main", "scala")), jars, base)
    harness = _stage("harness", _sources(os.path.join(HERE, "scala")), jars,
                     os.pathsep.join([base, graft]))
    return os.pathsep.join([harness, graft, base])


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(str(e))
