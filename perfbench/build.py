"""Builds the graft engine and the benchmark harness from source.

Both are compiled with the Scala compiler that ships in the Spark
distribution's jars (the engine's build declares no other main
dependency), straight into `.bench_build/` of the checkout, so nothing
outside the checkout is written. A build is skipped when a stamp of its
sources is unchanged.

Run alone:  python3 perfbench/build.py
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD = ".bench_build"
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
ENGINE_SRC = "src/main/scala"
ENGINE_RES = "src/main/resources"
HARNESS_SRC = "perfbench/harness"


def sources(root, top):
    out = []
    for d, _, files in os.walk(os.path.join(root, top)):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def scalac(root, srcs, out, classpath):
    """Compiles `srcs` into the directory `out`; raises on a compile error."""
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", SPARK_JARS + "/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", classpath] + srcs
    r = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise RuntimeError("scalac failed:\n" + r.stdout[-4000:])


def ensure(root):
    """Builds what is stale and returns the engine's runtime classpath."""
    engine = os.path.join(root, BUILD, "engine")
    harness = os.path.join(root, BUILD, "harness")
    spark_cp = SPARK_JARS + "/*"
    e_src = sources(root, ENGINE_SRC)
    if not e_src:
        raise RuntimeError(f"no engine sources under {ENGINE_SRC}")
    e_stamp = stamp(e_src)
    h_stamp = stamp(sources(root, HARNESS_SRC), e_stamp)
    for out, srcs, cp, st in (
            (engine, e_src, spark_cp, e_stamp),
            (harness, sources(root, HARNESS_SRC), engine + "/classes:" + spark_cp, h_stamp)):
        stamp_file = os.path.join(out, "stamp")
        if os.path.exists(stamp_file) and open(stamp_file).read() == st:
            continue
        shutil.rmtree(out, ignore_errors=True)
        scalac(root, srcs, os.path.join(out, "classes"), cp)
        with open(stamp_file, "w") as f:
            f.write(st)
    return ":".join([harness + "/classes", engine + "/classes",
                     os.path.join(root, ENGINE_RES), spark_cp])


def jvm_opens(root):
    """The `--add-opens` flags the engine's own build passes to forked
    JVMs (Spark on JDK 17 needs them outside spark-submit)."""
    text = open(os.path.join(root, "build.sbt")).read()
    m = re.search(r"val jdk17AddOpens = Seq\((.*?)\)", text, re.S)
    if not m:
        raise RuntimeError("build.sbt: no jdk17AddOpens list")
    flags = []
    for p in re.findall(r'"([^"]+)"', m.group(1)):
        flags += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return flags


if __name__ == "__main__":
    print(ensure(os.getcwd()))
    sys.exit(0)
