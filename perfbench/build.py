"""Compile the engine (src/main/scala) and the benchmark's JVM side from source.

The classes go to `.bench_build/perfbench/classes` in the checkout and are
reused while no source file changed (a content hash is kept beside them).
The compiler and the Spark jars come from the Spark distribution the build
file points at: `$SPARK_HOME/jars`, else the `unmanagedBase` of build.sbt.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = os.path.join(".bench_build", "perfbench")


def spark_jars(root):
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    raise SystemExit("perfbench: no Spark jars (set SPARK_HOME)")


def sources(root):
    out = []
    for base in ("src/main/scala", "perfbench/scala"):
        for d, _, files in os.walk(os.path.join(root, base)):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(root):
    """Return the classes directory, compiling first if a source changed."""
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        raise SystemExit("perfbench: no src/main/scala here; run from a checkout of the repo")
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    out = os.path.join(root, BUILD_DIR)
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    jars = spark_jars(root)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-classpath", cp, "-nowarn", "-d", tmp, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: compile failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes
