#!/usr/bin/env python3
"""Build file of the benchmark: compiles the repository's main sources
(src/main/scala) together with the harness (pipebench/scala) with the Scala
compiler that ships in Spark's jar directory. No sbt, no network.

    python3 pipebench/build.py            # from the repository root

Classes go to <build dir>/classes, where the build dir is $CARGO_TARGET_DIR
when set, else .bench_build. A stamp of the source contents skips the
compile when nothing changed. Prints the classes directory on success.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

SOURCE_DIRS = ["src/main/scala", "pipebench/scala"]


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the jars bundled with
    the pyspark package. It must hold the Scala compiler."""
    homes = [os.environ.get("SPARK_HOME")]
    try:
        import pyspark
        homes.append(os.path.dirname(pyspark.__file__))
    except ImportError:
        pass
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
            return os.path.join(home, "jars")
    sys.exit("pipebench: no Spark jar directory with a Scala compiler "
             "(set SPARK_HOME)")


def sources():
    files = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            sys.exit(f"pipebench: source directory {d} is missing")
        for root, _, names in os.walk(d):
            files += [os.path.join(root, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build_dir():
    return os.environ.get("CARGO_TARGET_DIR") or ".bench_build"


def build():
    srcs = sources()
    jars = spark_jars()
    digest = hashlib.sha256(jars.encode())
    for f in srcs:
        digest.update(f.encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    out = os.path.join(build_dir(), "pipebench")
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = ":".join(sorted(glob.glob(os.path.join(jars, "*.jar"))))
    args_file = os.path.join(out, "scalac.args")
    with open(args_file, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", cp,
           "@" + args_file]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-8000:])
        sys.exit(f"pipebench: compile failed ({proc.returncode})")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


if __name__ == "__main__":
    print(build())
