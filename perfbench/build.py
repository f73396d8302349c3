"""Build file of the benchmark: compiles the engine (`src/main/scala`)
and the benchmark harness (`perfbench/scala`) with the Scala compiler
that ships in the Spark distribution, into `.perfbench/classes`.

The build is skipped when a stamp of every source file's path and
content matches the last build.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

WORK = ".perfbench"
CLASSES = os.path.join(WORK, "classes")
STAMP = os.path.join(WORK, "classes.stamp")


def spark_jars():
    """The Spark distribution's jar directory, which also holds the Scala
    compiler: from SPARK_HOME, else the `unmanagedBase` build.sbt
    declares, else next to `spark-submit` on the PATH."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    if os.path.exists("build.sbt"):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open("build.sbt").read())
        if m:
            candidates.append(m.group(1))
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(os.path.join(
            os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars"))
    for jars in candidates:
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise SystemExit("build: no Spark jars with a Scala compiler; set SPARK_HOME")


def sources():
    files = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not files:
        raise SystemExit("build: no engine sources under src/main "
                         "(run from the repository root)")
    return files + sorted(glob.glob("perfbench/scala/*.scala"))


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile if the sources changed; returns the classpath to run with."""
    files = sources()
    cp = f"{CLASSES}:{spark_jars()}/*"
    s = stamp(files)
    if os.path.exists(STAMP) and open(STAMP).read() == s:
        return cp
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    tmp = os.path.abspath(os.path.join(WORK, "tmp"))
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-cp", f"{spark_jars()}/*",
           # an explicit classpath: scalac's default (".") would see the
           # repository's directories as packages
           "scala.tools.nsc.Main", "-classpath", f"{spark_jars()}/*",
           "-nowarn", "-d", CLASSES] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"build: scalac failed ({r.returncode})")
    with open(STAMP, "w") as f:
        f.write(s)
    return cp


if __name__ == "__main__":
    print(build())
