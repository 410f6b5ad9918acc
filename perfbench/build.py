#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine's main sources
(`src/main/scala`) together with the benchmark's own sources
(`perfbench/src`) with the Scala compiler that ships in Spark's `jars`
directory, into the jar `.bench_build/perfbench-<source hash>.jar` under
the current directory. A build whose sources are unchanged is reused.

    python3 perfbench/build.py        # prints the jar's path
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD_DIR = ".bench_build"


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark distribution's jars directory: $SPARK_HOME/jars, else
    the one beside `spark-submit` on PATH."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(os.path.join(os.path.dirname(os.path.dirname(
            os.path.realpath(submit))), "jars"))
    for c in candidates:
        if glob.glob(os.path.join(c, "scala-compiler-*.jar")):
            return c
    raise BuildError("no Spark jars directory with a Scala compiler "
                     "(set SPARK_HOME)")


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("no java executable (set JAVA_HOME)")
    return exe


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not main:
        raise BuildError("no engine sources under src/main/scala")
    own = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return main + own


def ensure(root):
    """Return the jar for the current sources, compiling them first if
    no complete build of them exists."""
    jars = spark_jars()
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    base = os.path.join(root, BUILD_DIR)
    out = os.path.join(base, "perfbench-%s.jar" % h.hexdigest()[:16])
    if os.path.exists(out):
        return out
    os.makedirs(base, exist_ok=True)
    tmp = os.path.join(base, "classes.tmp-%d" % os.getpid())
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(base, "sources.tmp-%d" % os.getpid())
    with open(argfile, "w") as f:
        f.write("\n".join('"%s"' % s for s in srcs))
    cp = os.path.join(jars, "*")
    try:
        proc = subprocess.run(
            [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
             "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
        if proc.returncode != 0:
            raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
        # a jar, not a directory: the JVM's class-data sharing archives
        # classes from jars only
        with zipfile.ZipFile(out + ".tmp", "w", zipfile.ZIP_STORED) as z:
            for d, _, files in os.walk(tmp):
                for f in sorted(files):
                    p = os.path.join(d, f)
                    z.write(p, os.path.relpath(p, tmp))
        os.rename(out + ".tmp", out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        os.remove(argfile)
    for old in glob.glob(os.path.join(base, "perfbench-*")):
        if not old.startswith(out[:-len(".jar")]):
            os.remove(old)
    return out


if __name__ == "__main__":
    try:
        print(ensure(os.getcwd()))
    except BuildError as e:
        print("build failed: %s" % e, file=sys.stderr)
        sys.exit(2)
