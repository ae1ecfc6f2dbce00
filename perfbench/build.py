"""Build file of the benchmark harness.

Compiles graft's library sources (src/main/scala) together with the harness
(perfbench/harness) into one class directory with the Scala compiler that
ships in Spark's jar directory, so the benchmark builds from a plain source
checkout without sbt. The build is skipped when a stamp of every source
file's contents matches the previous build.

Usage: python3 perfbench/build.py
"""
import glob
import hashlib
import importlib.util
import os
import subprocess

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build", "classes")


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the one inside the
    installed pyspark package."""
    pyspark = importlib.util.find_spec("pyspark")
    homes = [os.environ.get("SPARK_HOME"),
             pyspark and pyspark.submodule_search_locations[0]]
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
            return os.path.join(home, "jars")
    raise SystemExit("perfbench: no Spark installation found (set SPARK_HOME)")


def sources():
    found = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                             recursive=True))
    if not found:
        raise SystemExit("perfbench: graft sources (src/main/scala) not found")
    return found + sorted(glob.glob(os.path.join(ROOT, "perfbench", "harness", "*.scala")))


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile if needed; return (classpath, source_digest, built)."""
    files = sources()
    jars = os.path.join(spark_jars(), "*")
    stamp = digest(files)
    stamp_file = OUT + ".stamp"
    classpath = OUT + os.pathsep + jars
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classpath, stamp, False
    tmp = OUT + ".tmp"
    subprocess.run(["rm", "-rf", tmp], check=True)
    os.makedirs(tmp)
    proc = subprocess.run(["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
                           "-nowarn", "-classpath", jars, "-d", tmp] + files,
                          capture_output=True, text=True)
    if proc.returncode != 0:
        raise RuntimeError("perfbench: compile failed:\n" + (proc.stdout + proc.stderr)[-4000:])
    subprocess.run(["rm", "-rf", OUT], check=True)
    os.rename(tmp, OUT)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classpath, stamp, True


if __name__ == "__main__":
    print(build())
