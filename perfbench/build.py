"""Build file of the benchmark: compiles the program (src/main/scala) together
with the benchmark's JVM harness (perfbench/src) using the Scala compiler in
Spark's jars, the directory the program's build.sbt names as unmanagedBase.

The classes go to .bench_build/classes and are reused while no source file
changes. `python3 perfbench/build.py` builds and prints the classpath.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"
SOURCE_DIRS = ("src/main/scala", "perfbench/src")


def sources(root):
    found = []
    for d in SOURCE_DIRS:
        for base, _, files in os.walk(os.path.join(root, d)):
            found += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def spark_jars(root):
    """The jar directory of build.sbt's `unmanagedBase := file("...")`."""
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        sys.exit("perfbench: build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def build(root):
    """Compiles if any source changed; returns the JVM classpath."""
    jars = spark_jars(root)
    srcs = sources(root)
    digest = hashlib.sha256()
    for path in srcs:
        digest.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    out = os.path.join(root, BUILD_DIR)
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    classpath = f"{classes}:{jars}/*"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classpath
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    args_file = os.path.join(out, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
         "-nowarn", "-d", classes, "-classpath", f"{jars}/*", f"@{args_file}"],
        check=True, timeout=600)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


if __name__ == "__main__":
    print(build(os.getcwd() if len(sys.argv) < 2 else sys.argv[1]))
