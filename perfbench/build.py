"""Build file of the benchmark: compiles graft's sources (`src/main/scala`)
and the harness (`perfbench/harness`) with the Scala compiler that ships
among Spark's jars, the same jars `build.sbt` compiles against.

    python3 perfbench/build.py      # prints the classpath to run with

The classes go to `.bench_build/classes-<digest>`, keyed by a digest of
every source file and jar name, so an unchanged tree builds once.
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def jars_dir():
    """The jars `build.sbt` compiles against (its `unmanagedBase`), else
    $SPARK_HOME/jars."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            found = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        found = None
    if found:
        return found.group(1)
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    raise RuntimeError("no Spark jars: build.sbt sets no unmanagedBase and SPARK_HOME is unset")


def spark_jars():
    jars = sorted(glob.glob(os.path.join(jars_dir(), "*.jar")))
    if not any("scala-compiler" in os.path.basename(j) for j in jars):
        raise RuntimeError("no Scala compiler among the Spark jars in %s" % jars_dir())
    return jars


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not main:
        raise RuntimeError("graft sources not found under src/main/scala")
    return main + sorted(glob.glob(os.path.join(ROOT, "perfbench", "harness", "*.scala")))


def build():
    jars = spark_jars()
    srcs = sources()
    digest = hashlib.sha256()
    for path in srcs:
        digest.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    for jar in jars:
        digest.update(os.path.basename(jar).encode())
    out = os.path.join(ROOT, ".bench_build", "classes-" + digest.hexdigest()[:16])
    classpath = os.pathsep.join([out] + jars)
    if os.path.exists(os.path.join(out, ".complete")):
        return classpath
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.pathsep.join(jars),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", os.pathsep.join(jars)] + srcs
    done = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          timeout=800)
    if done.returncode != 0:
        sys.stderr.write(done.stdout.decode(errors="replace")[-4000:])
        raise RuntimeError("scalac failed with code %d" % done.returncode)
    open(os.path.join(out, ".complete"), "w").close()
    return classpath


if __name__ == "__main__":
    print(build())
