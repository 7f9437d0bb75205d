"""Build file of the benchmark: compiles the repository's main sources and
the benchmark's JVM runner (perfbench/scala) with the Scala compiler that
ships in Spark's jars (the directory build.sbt names as `unmanagedBase`),
into <out>/classes. Skips the compile when no source changed since the
last build.

    python3 perfbench/build.py [out_dir]
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

SOURCE_DIRS = [os.path.join("src", "main", "scala"), os.path.join("perfbench", "scala")]


def spark_jars(root):
    """The jar directory the repository's own build compiles against."""
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def sources(root):
    out = []
    for d in SOURCE_DIRS:
        for dirpath, _, files in os.walk(os.path.join(root, d)):
            out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(root, out_dir):
    """Returns the classes directory, compiling first if needed."""
    srcs = sources(root)
    digest = hashlib.sha256()
    for path in srcs:
        digest.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    classes = os.path.join(out_dir, "classes")
    stamp_file = os.path.join(out_dir, "classes.stamp")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    staging = classes + ".tmp"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    argfile = os.path.join(out_dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(spark_jars(root), "*")
    subprocess.run(["java", "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main",
                    "-nowarn", "-d", staging, "-classpath", cp, "@" + argfile],
                   check=True, timeout=840, stdout=sys.stderr)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(staging, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(".bench_build", "perfbench")
    os.makedirs(out, exist_ok=True)
    print(build(os.getcwd(), out))
