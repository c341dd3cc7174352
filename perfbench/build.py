"""Build file of the benchmark: compiles the engine's sources
(`src/main/scala` of the repository) together with the benchmark's own
Scala sources (`perfbench/src`) with the Scala compiler that ships in the
Spark distribution, into `perfbench/.work/classes`. A stamp of the
sources' content hash skips the compile when nothing changed.

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CLASSES = os.path.join(WORK, "classes")
SCALA = "2.13.17"


def spark_jars():
    home = os.environ.get("SPARK_HOME", "/opt/spark")
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    if not jars:
        raise SystemExit(f"perfbench: no Spark jars under {home}/jars")
    return jars


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        raise SystemExit(f"perfbench: engine sources not found at {engine}")
    files = []
    for base in (engine, os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def ensure_built(log=sys.stderr):
    """Compile if the sources changed since the last build; return the
    run-time classpath."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp_path = os.path.join(WORK, "classes.stamp")
    jars = spark_jars()
    if not (os.path.exists(stamp_path) and open(stamp_path).read() == h.hexdigest()):
        shutil.rmtree(CLASSES, ignore_errors=True)
        os.makedirs(CLASSES)
        compiler = [j for j in jars if os.path.basename(j) in (
            f"scala-compiler-{SCALA}.jar", f"scala-library-{SCALA}.jar",
            f"scala-reflect-{SCALA}.jar")]
        argfile = os.path.join(WORK, "scalac.args")
        with open(argfile, "w") as fh:
            fh.write("\n".join(files))
        cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", ":".join(compiler),
               "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
               "-classpath", ":".join(jars), "@" + argfile]
        r = subprocess.run(cmd, stdout=log, stderr=log)
        if r.returncode != 0:
            raise SystemExit("perfbench: compile failed")
        with open(stamp_path, "w") as fh:
            fh.write(h.hexdigest())
    return [CLASSES] + jars


if __name__ == "__main__":
    os.makedirs(WORK, exist_ok=True)
    ensure_built(sys.stdout)
