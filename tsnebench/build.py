"""Build file of the benchmark: compiles the program (src/main/scala) and the
benchmark harness (tsnebench/src) in one pass with the Scala compiler that
ships in Spark's jar directory, the same 2.13 line the sbt build pins.

Output goes to .bench_build/classes-<hash of every source>/ at the root of
the checkout, so an unchanged tree is compiled once and a changed one is
never run stale. Usage: python3 tsnebench/build.py  (prints the directory).
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spark_home():
    """$SPARK_HOME, else the first spark-submit on PATH that sits in a Spark
    installation with a jars/ directory."""
    candidates = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        if os.path.isfile(os.path.join(d, "spark-submit")):
            candidates.append(os.path.dirname(os.path.realpath(d)))
    for home in candidates:
        if home and glob.glob(os.path.join(home, "jars", "*.jar")):
            return home
    raise SystemExit("no Spark installation with jars/ found: set SPARK_HOME")


SPARK_HOME = spark_home()


def spark_jars():
    return sorted(glob.glob(os.path.join(SPARK_HOME, "jars", "*.jar")))


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                            recursive=True))
    if not prog:
        raise SystemExit("program sources src/main/scala not found")
    return prog + sorted(glob.glob(os.path.join(ROOT, "tsnebench/src/*.scala")))


def build():
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    for j in jars:
        h.update(os.path.basename(j).encode())
    out = os.path.join(ROOT, ".bench_build", "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".ok")):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(jars),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.pathsep.join(jars),
           "-d", tmp] + srcs
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"compile failed with exit code {r.returncode}")
    open(os.path.join(tmp, ".ok"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(build())
