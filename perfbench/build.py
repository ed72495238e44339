"""Build file of the benchmark package.

Compiles the engine's main sources (src/main/scala) together with the
benchmark's own Scala sources (perfbench/src) with the Scala compiler that
ships in the Spark distribution, into a directory named after a hash of every
source file, so an unchanged tree is built once. Run from the repository root:

    python3 perfbench/build.py [build_dir]
"""
import hashlib
import os
import shutil
import subprocess
import sys

SOURCE_DIRS = ["src/main/scala", "perfbench/src"]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("perfbench: SPARK_HOME must point at a Spark distribution")
    return os.path.join(home, "jars", "*")


def sources(root):
    found = []
    for d in SOURCE_DIRS:
        for base, _, files in os.walk(os.path.join(root, d)):
            found += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    if not any(f.startswith(os.path.join(root, SOURCE_DIRS[0])) for f in found):
        raise SystemExit(f"perfbench: no Scala sources under {SOURCE_DIRS[0]}")
    return sorted(found)


def build(root, build_dir):
    """Return the classes directory for the current sources, compiling if needed."""
    files = sources(root)
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    classes = os.path.join(build_dir, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, ".complete")):
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jars = spark_jars()
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", jars] + files
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit("perfbench: compilation failed")
    open(os.path.join(tmp, ".complete"), "w").close()
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    return classes


if __name__ == "__main__":
    root = os.getcwd()
    print(build(root, os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else ".bench_build")))
