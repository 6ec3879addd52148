"""Build step of the benchmark: compiles graft's main sources together with
the harness in perfbench/scala into one class directory, with the Scala
compiler shipped among the Spark jars graft builds against.

A stamp (hash of every source file and of the jar list) skips the compile
when nothing changed since the last build in this checkout.

    python3 perfbench/build.py            # build into .bench_build/perfbench
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_TIMEOUT_S = 600  # the first run, which builds, has 900 s in all


def jars_dir(root=ROOT):
    """The Spark jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    the project's build.sbt compiles against."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    raise SystemExit("perfbench: no Spark jars (set SPARK_HOME)")


def sources(root=ROOT):
    main = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not main:
        raise SystemExit("perfbench: no graft sources under src/main/scala")
    return main + sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))


def out_dir(root=ROOT):
    return os.path.join(root, ".bench_build", "perfbench")


def build(root=ROOT, log=sys.stderr):
    """Compile if stale; returns (class directory, whether it compiled)."""
    jars = jars_dir(root)
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    out = out_dir(root)
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    if os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return classes, False
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes, "@" + argfile]
    print("perfbench: compiling %d sources" % len(srcs), file=log, flush=True)
    # cwd = the empty class dir: scalac puts "." on its class path, and the
    # checkout root would expose perfbench/scala as a package
    proc = subprocess.run(cmd, cwd=classes, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout.decode(errors="replace")[-6000:])
        raise SystemExit("perfbench: compile failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes, True


if __name__ == "__main__":
    print(build()[0])
