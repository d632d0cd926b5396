#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala, plus its
resources) and the benchmark's own sources (graftbench/src) into one class
directory.

Usage: python3 graftbench/build.py      (prints the class directory)

The output, one jar, is cached under graftbench/.work/build/<hash of every
source and of the compiler>/, so repeated runs in one checkout compile once.
The compiler is the Scala 2.13 compiler that ships in Spark's jars
directory, the same jars the engine's sbt build compiles against.
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
WORK = os.path.join(HERE, ".work")


def spark_jars():
    """Spark's jars directory: $SPARK_HOME's, else that of the spark-submit on
    PATH, else the one inside the pyspark package."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(os.path.join(os.path.dirname(os.path.dirname(
            os.path.realpath(submit))), "jars"))
    try:
        import pyspark
        candidates.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for jars in candidates:
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise SystemExit("graftbench: no Spark jars with a Scala compiler found (set SPARK_HOME)")


def resources():
    base = os.path.join(ROOT, "src", "main", "resources")
    return sorted(f for f in glob.glob(os.path.join(base, "**", "*"), recursive=True)
                  if os.path.isfile(f))


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    if not engine:
        raise SystemExit("graftbench: engine sources (src/main/scala) not found")
    own = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return engine + own


def build():
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256()
    for f in files + resources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    out = os.path.join(WORK, "build", h.hexdigest()[:16], "graftbench.jar")
    if os.path.isfile(out):
        return out
    tmp = f"{out}.classes-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    argfile = f"{tmp}.args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    try:
        r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", cp,
                            "scala.tools.nsc.Main",
                            "-classpath", cp, "-d", tmp, "-nowarn", f"@{argfile}"],
                           stdout=sys.stderr, stderr=sys.stderr, timeout=840)
        if r.returncode != 0:
            raise SystemExit(f"graftbench: compile failed (exit {r.returncode})")
        for f in resources():
            rel = os.path.relpath(f, os.path.join(ROOT, "src", "main", "resources"))
            os.makedirs(os.path.dirname(os.path.join(tmp, rel)), exist_ok=True)
            shutil.copyfile(f, os.path.join(tmp, rel))
        # a jar, not a class directory: the JVM's class-data sharing archive
        # (run.py) only covers classes loaded from jars
        with zipfile.ZipFile(f"{out}.part", "w", zipfile.ZIP_STORED) as z:
            for d, _, names in os.walk(tmp):
                for n in sorted(names):
                    z.write(os.path.join(d, n), os.path.relpath(os.path.join(d, n), tmp))
        os.replace(f"{out}.part", out)
        # keep only this build (and its class archives) in the cache
        for old in os.listdir(os.path.join(WORK, "build")):
            if old != os.path.basename(os.path.dirname(out)):
                shutil.rmtree(os.path.join(WORK, "build", old), ignore_errors=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        if os.path.exists(argfile):
            os.remove(argfile)
    return out


if __name__ == "__main__":
    print(build())
