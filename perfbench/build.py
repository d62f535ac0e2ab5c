"""Build file of the benchmark: compiles the engine's sources and the
benchmark harness with the Scala compiler shipped among the Spark jars.

    python3 perfbench/build.py

Output goes to $CARGO_TARGET_DIR/perfbench, else .bench_build/perfbench.
A stamp over every source file skips the compile when nothing changed.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spark_jars():
    """The Spark jar directory: $SPARK_JARS, else the `unmanagedBase` the
    repository's build.sbt compiles against, else $SPARK_HOME/jars."""
    if os.environ.get("SPARK_JARS"):
        return os.environ["SPARK_JARS"]
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', read(sbt))
        if m:
            return m.group(1)
    return os.path.join(os.environ.get("SPARK_HOME", ""), "jars")


def sources():
    return sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True) +
                  glob.glob(os.path.join(ROOT, "perfbench/src/**/*.scala"), recursive=True))


def file_digest(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


def source_stamp():
    """sha256 over every source file the build compiles."""
    h = hashlib.sha256()
    for p in sources():
        h.update(p[len(ROOT):].encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def out_dir():
    base = os.environ.get("CARGO_TARGET_DIR", os.path.join(ROOT, ".bench_build"))
    return os.path.join(os.path.abspath(base), "perfbench")


def classpath(classes):
    return f"{classes}:{spark_jars()}/*"


def read(path):
    with open(path) as f:
        return f.read()


def build():
    """Compile if needed; returns the classes directory."""
    out = out_dir()
    classes = os.path.join(out, "classes")
    srcs = sources()
    if not any(p.startswith(os.path.join(ROOT, "src/main/scala")) for p in srcs):
        raise SystemExit("perfbench: engine sources (src/main/scala) not found")
    digest = source_stamp()
    stamp = os.path.join(out, "stamp")
    if os.path.exists(stamp) and read(stamp) == digest:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={out}",
           "-cp", f"{spark_jars()}/*", "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", classes] + srcs
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        raise SystemExit("perfbench: compile failed")
    with open(stamp, "w") as f:
        f.write(digest)
    return classes


if __name__ == "__main__":
    print(build())
