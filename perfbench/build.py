"""Builds graft's main classes and the benchmark harness with scalac.

The Scala compiler and every runtime dependency ship in the Spark jar
directory that the repository's build.sbt names as `unmanagedBase`, so the
benchmark needs neither sbt nor a network. Classes go under `.bench_build/`
in the checkout and are rebuilt only when their sources change.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD = ".bench_build"
HERE = os.path.dirname(os.path.abspath(__file__))


class BuildError(Exception):
    pass


def spark_jars(root):
    """The jar directory build.sbt declares, or $SPARK_HOME/jars."""
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    raise BuildError("no Spark jar directory: build.sbt names none and SPARK_HOME is unset")


def _sources(d):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def _digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _scalac(jars, classpath, out, srcs, log):
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-cp", classpath, "-d", out] + srcs
    with open(log, "w") as lf:
        rc = subprocess.call(cmd, stdout=lf, stderr=subprocess.STDOUT)
    if rc != 0:
        raise BuildError(f"scalac failed (exit {rc}), see {log}")


def _stage(root, name, srcs, jars, classpath):
    """Compiles `srcs` into .bench_build/classes/<name> unless up to date."""
    out = os.path.join(root, BUILD, "classes", name)
    stamp = out + ".stamp"
    digest = _digest(srcs, classpath)
    if os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == digest:
                return out
    shutil.rmtree(out, ignore_errors=True)
    print(f"[perfbench] compiling {len(srcs)} {name} sources", file=sys.stderr)
    _scalac(jars, classpath, out, srcs, out + ".log")
    with open(stamp, "w") as f:
        f.write(digest)
    return out


def build(root):
    """Returns the runtime classpath, compiling what is out of date."""
    main_src = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(main_src):
        raise BuildError(f"no graft sources under {main_src}")
    jars = spark_jars(root)
    jar_cp = os.path.join(jars, "*")
    main = _stage(root, "main", _sources(main_src), jars, jar_cp)
    bench = _stage(root, "bench", _sources(HERE), jars,
                   os.pathsep.join([main, jar_cp]))
    resources = os.path.join(root, "src", "main", "resources")
    return os.pathsep.join([bench, main, resources, jar_cp])
