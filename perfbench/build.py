"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark (perfbench/src) with the Scala compiler that ships in Spark's
jars, into a class directory under the build directory.

The build is keyed by a hash of every source file, so a checkout compiles
once and later runs reuse the classes. Run it alone with
`python3 perfbench/build.py`; `perfbench/run.py` calls it before each run.
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

SCALA_SOURCES = ("src/main/scala", "perfbench/src")


def spark_jars():
    jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"perfbench: no Scala compiler among the Spark jars in {jars}")
    return jars


def build_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")


def sources(root):
    found = []
    for d in SCALA_SOURCES:
        base = os.path.join(root, d)
        if not os.path.isdir(base):
            raise SystemExit(f"perfbench: source directory {d} is missing; run from a full checkout")
        found += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(found)


def build(root):
    """Compile if the sources changed; return the class path of the program."""
    jars = spark_jars()
    srcs = sources(root)
    resources = os.path.join(root, "src", "main", "resources")
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()

    out = build_dir(root)
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    classpath = os.pathsep.join([classes, resources, os.path.join(jars, "*")])
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classpath

    os.makedirs(out, exist_ok=True)
    staging = os.path.join(out, "classes.new")
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    print(f"perfbench: compiling {len(srcs)} Scala files", file=sys.stderr, flush=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={out}",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", staging, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-20000:])
        raise SystemExit(f"perfbench: compilation failed (exit {r.returncode})")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(staging, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


if __name__ == "__main__":
    build(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
