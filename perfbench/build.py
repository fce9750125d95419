"""Build file of the benchmark: compiles the program (``src/main/scala``)
together with the benchmark driver (``perfbench/src``) with the Scala
compiler that ships in the Spark distribution, into
``.bench_build/perfbench/perfbench.jar``. A stamp of the sources skips the
compile when nothing changed; a rebuild drops the class-data archives that
``run.py`` keeps next to the jar.

    python3 perfbench/build.py        # prints the classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


class BuildError(Exception):
    pass


def spark_jars():
    """Directory of the Spark jars: ``$SPARK_HOME/jars``, else the jars of
    the installed pyspark package."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    try:
        import pyspark
        cands.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for c in cands:
        if glob.glob(os.path.join(c, "scala-compiler-*.jar")):
            return c
    raise BuildError("no Spark jars with a Scala compiler (set SPARK_HOME)")


def sources():
    prog = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(prog):
        raise BuildError(f"program sources not found under {prog}")
    files = []
    for d in (prog, os.path.join(HERE, "src")):
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(files)


def build():
    """Compile if needed; return the classpath as a list of jars."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256(jars.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    jar = os.path.join(OUT, "perfbench.jar")
    stamp_file = os.path.join(OUT, "stamp")
    classpath = [jar] + sorted(glob.glob(os.path.join(jars, "*.jar")))
    if os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return classpath
    shutil.rmtree(OUT, ignore_errors=True)
    tmp = os.path.join(OUT, "classes")
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    proc = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", tmp, "-classpath", cp] + files,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    if proc.returncode != 0:
        raise BuildError("compile failed:\n" + proc.stdout[-4000:])
    # a jar, not a directory: class-data sharing archives only jars
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for d, _, names in sorted(os.walk(tmp)):
            for n in sorted(names):
                z.write(os.path.join(d, n), os.path.relpath(os.path.join(d, n), tmp))
    os.rename(jar + ".tmp", jar)
    shutil.rmtree(tmp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classpath


if __name__ == "__main__":
    try:
        print(os.pathsep.join(build()))
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
