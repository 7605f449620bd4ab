#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's main sources together with
the benchmark's own Scala sources into one class directory.

It calls the Scala compiler that ships with Spark (``$SPARK_HOME/jars``, or
the jar directory graft's build.sbt names), so it needs no build tool and no
network. The output goes to
``$CARGO_TARGET_DIR`` (default ``.bench_build``) under the checkout root and
is rebuilt only when a source file changed.

    python3 perfbench/build.py        # from the root of a checkout
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")


class BuildError(Exception):
    pass


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory graft's build.sbt names."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        text = ""
        if os.path.isfile(os.path.join(ROOT, "build.sbt")):
            with open(os.path.join(ROOT, "build.sbt")) as f:
                text = f.read()
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', text)
        jars = m.group(1) if m else ""
    if not os.path.isdir(jars):
        raise BuildError(f"no Spark jars at '{jars}'; set SPARK_HOME")
    return jars


def sources():
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        raise BuildError(f"graft sources not found under {ENGINE_SRC}; "
                         "run from the root of a graft checkout")
    out = []
    for top in (ENGINE_SRC, BENCH_SRC):
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def classpath():
    return os.path.join(build_dir(), "classes") + os.pathsep + os.path.join(spark_jars(), "*")


def build():
    """Compiles when the sources changed; returns the class directory."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    out = os.path.join(build_dir(), "classes")
    stamp_file = os.path.join(out, ".stamp")
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.path.join(spark_jars(), "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", tmp] + srcs
    print(f"compiling {len(srcs)} sources ...", file=sys.stderr)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    if os.path.isdir(ENGINE_RES):
        shutil.copytree(ENGINE_RES, tmp, dirs_exist_ok=True)
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(stamp)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
