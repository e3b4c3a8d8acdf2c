"""Build file of the benchmark package: compiles graft's sources and the
benchmark's own Scala sources with the Scala compiler that ships in
Spark's jar directory, without sbt and without touching the root build.

    python3 perfbench/build.py            # prints the classpath it built

Outputs go to .perfbench/build/ under the repository root, one
directory per content hash of the sources, so an unchanged tree is
never compiled twice. Set GRAFT_CLASSES to an existing directory of
compiled graft classes (for example sbt's target/scala-2.13/classes)
to compile only the benchmark against it.
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
BUILD = os.path.join(ROOT, ".perfbench", "build")
SCALA = "2.13.17"


def spark_jars():
    """The jars of the Spark named by SPARK_HOME, else the jar directory
    the root build declares as its `unmanagedBase`."""
    if os.environ.get("SPARK_HOME"):
        where = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        where = m.group(1) if m else ""
    jars = sorted(glob.glob(os.path.join(where, "*.jar"))) if where else []
    if not jars:
        raise SystemExit(f"build: no Spark jars in '{where}' (set SPARK_HOME)")
    return jars


def sources(top):
    out = []
    for d, _, files in os.walk(top):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def compile_into(out, srcs, classpath, log):
    """scalac `srcs` into `out` (atomically: a failed build leaves nothing)."""
    if os.path.isdir(out):
        return
    jars = spark_jars()
    compiler = [j for j in jars if os.path.basename(j) in (
        f"scala-compiler-{SCALA}.jar", f"scala-library-{SCALA}.jar", f"scala-reflect-{SCALA}.jar")]
    if len(compiler) != 3:
        raise SystemExit(f"build: Scala {SCALA} compiler jars not found among the Spark jars")
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", ":".join(classpath), "@" + argfile]
    with open(log, "w") as f:
        rc = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT).returncode
    os.remove(argfile)
    if rc != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"build: scalac failed (log {log})")
    os.rename(tmp, out)


def build():
    """Compile what changed; return the classpath that runs the benchmark."""
    graft_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(graft_src):
        raise SystemExit("build: src/main/scala not found: run from a graft checkout")
    jars = spark_jars()
    os.makedirs(BUILD, exist_ok=True)
    graft = os.environ.get("GRAFT_CLASSES")
    if graft:
        graft = os.path.abspath(graft)
    else:
        srcs = sources(graft_src)
        graft = os.path.join(BUILD, "graft-" + digest(srcs, SCALA))
        compile_into(graft, srcs, jars, os.path.join(BUILD, "graft.log"))
    bench_srcs = sources(os.path.join(HERE, "src"))
    bench = os.path.join(BUILD, "bench-" + digest(bench_srcs, graft))
    compile_into(bench, bench_srcs, jars + [graft], os.path.join(BUILD, "bench.log"))
    return [bench, graft] + jars


if __name__ == "__main__":
    print(":".join(build()))
