"""Build file of the benchmark: compiles the program's main sources and the
benchmark's own Scala sources into one class directory, with the Scala
compiler that ships in the Spark distribution's jars.

    python3 perfbench/build.py            # from the repository root

The output goes to `$CARGO_TARGET_DIR/perfbench/classes` (default
`.bench_build`). A stamp over every source file's path and content skips
the compile when nothing changed.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise RuntimeError(f"SPARK_HOME must name a Spark distribution; no Scala compiler in {jars}")
    return jars


def target_dir(root):
    """Where the classes go: the build directory the caller names, if any."""
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")


def work_dir(root):
    """Where the table roots go: always the same place in the checkout, so
    the tables stay on the checkout's disk whatever the build directory."""
    return os.path.join(root, ".bench_build", "perfbench", "work")


def sources(root):
    main = os.path.join(root, "src", "main", "scala")
    own = os.path.join(HERE, "src")
    if not os.path.isdir(main):
        raise RuntimeError(f"program sources not found: {main}")
    found = []
    for d in (main, own):
        for dirpath, _, files in os.walk(d):
            found += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build(root):
    """Compile if needed; return the class directory."""
    jars = spark_jars()
    srcs = sources(root)
    digest = hashlib.sha256()
    for f in srcs:
        digest.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    out = target_dir(root)
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "classes.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return classes
    staging = classes + ".new"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    args_file = os.path.join(out, "sources.txt")
    with open(args_file, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", staging, "-classpath", cp, "@" + args_file]
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(staging, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp + "\n")
    return classes


if __name__ == "__main__":
    print(build(os.getcwd()))
