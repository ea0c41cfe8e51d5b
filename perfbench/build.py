"""Build file of the benchmark: compiles the program (`src/main/scala`) and
the benchmark's JVM side (`perfbench/src`) with the Scala compiler that
ships in Spark's jar directory, into a content-addressed directory under the
build root. A second build of unchanged sources is a no-op.
"""
import glob
import hashlib
import os
import shutil
import subprocess


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the pyspark package's."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    try:
        import pyspark
        candidates.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for d in candidates:
        if glob.glob(os.path.join(d, "scala-compiler-*.jar")):
            return d
    raise BuildError("no Spark jar directory with a Scala compiler (set SPARK_HOME)")


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not main:
        raise BuildError("no program sources under src/main/scala")
    bench = sorted(glob.glob(os.path.join(root, "perfbench", "src", "*.scala")))
    return main + bench


def build(root, build_dir):
    """Returns the JVM classpath of the built program plus Spark."""
    jars = spark_jars()
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(build_dir, "classes-" + h.hexdigest()[:16])
    classpath = out + os.pathsep + os.path.join(jars, "*")
    if os.path.exists(os.path.join(out, ".done")):
        return classpath
    tmp = "%s.tmp-%d" % (out, os.getpid())
    os.makedirs(tmp)
    try:
        cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
               "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
               "-classpath", os.path.join(jars, "*")] + srcs
        p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=600)
        if p.returncode != 0:
            raise BuildError("scalac failed:\n" + p.stdout[-4000:])
        open(os.path.join(tmp, ".done"), "w").close()
        if os.path.exists(out):
            shutil.rmtree(tmp)
        else:
            os.rename(tmp, out)
    finally:
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
    return classpath
