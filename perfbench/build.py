"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the harness (`perfbench/scala`) with the Scala compiler that ships among
the Spark jars, into the jar `.bench_build/harness-<source digest>.jar`.

    python3 perfbench/build.py      # prints the jar's path

A build is reused while no source file changes. The classes go into a jar,
not a directory, because the JVM's class-data sharing archive (see
`run.py`) accepts only jars on the class path.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _spark_jars():
    """`$SPARK_HOME/jars`, else the jar directory build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    m = os.path.exists(sbt) and re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                                          open(sbt).read())
    if not m:
        raise SystemExit("set SPARK_HOME: no build.sbt naming an unmanagedBase")
    return m.group(1)


SPARK_JARS = _spark_jars()
BUILD = os.path.join(ROOT, ".bench_build")


def sources():
    srcs = sorted(glob.glob(f"{ROOT}/src/main/scala/**/*.scala", recursive=True))
    if not srcs:
        raise SystemExit(f"no engine sources under {ROOT}/src/main/scala")
    return srcs + sorted(glob.glob(f"{HERE}/scala/**/*.scala", recursive=True))


def build():
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = f"{BUILD}/harness-{h.hexdigest()[:16]}.jar"
    if os.path.exists(out):
        return out
    tmp = f"{BUILD}/classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = f"{SPARK_JARS}/*"
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", tmp, "-classpath", cp] + srcs,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        raise SystemExit("build failed")
    with zipfile.ZipFile(out + ".tmp", "w") as z:
        for d, _, files in sorted(os.walk(tmp)):
            for f in sorted(files):
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), tmp))
    os.replace(out + ".tmp", out)
    shutil.rmtree(tmp)
    # older builds and the class-data archives made from them
    stem = os.path.basename(out)[:-len(".jar")]
    for old in glob.glob(f"{BUILD}/harness-*") + glob.glob(f"{BUILD}/cds-*"):
        if stem not in os.path.basename(old):
            os.remove(old)
    return out


if __name__ == "__main__":
    print(build())
