"""Build file of the benchmark: compiles the engine (src/main/scala) and the
harness (perfbench/scala) with the Scala compiler that ships in Spark's jar
directory, into ``.bench_build/classes-<source hash>``. Nothing is fetched.

    python3 perfbench/build.py          # prints the class directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not jars:
        raise SystemExit("build: no Spark jars found; set SPARK_HOME")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise SystemExit("build: no java executable found; set JAVA_HOME")
    return exe


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not main:
        raise SystemExit(f"build: no engine sources under {os.path.join(ROOT, 'src', 'main', 'scala')}")
    return main + sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compiles unless the current sources are already built; returns the
    class directory."""
    files = sources()
    digest = source_hash(files)
    dest = os.path.join(BUILD, f"classes-{digest}")
    if os.path.exists(os.path.join(dest, "BUILD_OK")):
        return dest
    os.makedirs(BUILD, exist_ok=True)
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        shutil.rmtree(old)
    tmp = dest + ".tmp"
    os.makedirs(tmp)
    cp = os.pathsep.join(spark_jars())
    jtmp = os.path.join(BUILD, "tmp")
    os.makedirs(jtmp, exist_ok=True)
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={jtmp}",
           "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", tmp, "-classpath", cp] + files
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-20000:])
        raise SystemExit(f"build: scalac failed with exit code {res.returncode}")
    open(os.path.join(tmp, "BUILD_OK"), "w").close()
    os.rename(tmp, dest)
    return dest


if __name__ == "__main__":
    print(build())
