#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program and the benchmark.

The program (`src/main/scala`) and the benchmark's own Scala sources
(`perfbench/src`) are compiled with the Scala compiler that ships in
the Spark jar directory `build.sbt` names as its unmanaged base, so the
build needs neither sbt nor a dependency resolver. Classes go to
`$CARGO_TARGET_DIR` (default `.bench_build`) under the checkout root; a
source digest skips the compile when nothing changed.

    python3 perfbench/build.py        # from the checkout root
"""
import glob
import hashlib
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class BuildError(Exception):
    pass


def build_sbt():
    path = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(path):
        raise BuildError("build.sbt not found at the checkout root")
    with open(path) as f:
        return f.read()


def spark_jars():
    """The jar directory of build.sbt's `unmanagedBase := file(...)`."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', build_sbt())
    if not m or not os.path.isdir(m.group(1)):
        raise BuildError("build.sbt names no usable unmanagedBase jar directory")
    return m.group(1)


def add_opens():
    """build.sbt's JDK-17 `--add-opens` list, as JVM flags."""
    block = re.search(r"jdk17AddOpens\s*=\s*Seq\((.*?)\)", build_sbt(), re.S)
    if not block:
        raise BuildError("build.sbt has no jdk17AddOpens list")
    out = []
    for p in re.findall(r'"([^"]+)"', block.group(1)):
        out += ["--add-opens", p + "=ALL-UNNAMED"]
    return out


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def _sources(base):
    return sorted(glob.glob(os.path.join(base, "**", "*.scala"), recursive=True))


def _digest(files, extra):
    h = hashlib.sha256(extra.encode())
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _scalac(jars, classpath, out, files, log):
    compiler = [glob.glob(os.path.join(jars, "scala-%s-*.jar" % k)) for k in ("compiler", "library", "reflect")]
    if not all(compiler):
        raise BuildError("no Scala compiler jars in %s" % jars)
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(c[0] for c in compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", classpath] + files
    with open(log, "w") as f:
        rc = subprocess.call(cmd, stdout=f, stderr=subprocess.STDOUT)
    if rc != 0:
        with open(log) as f:
            raise BuildError("compile failed (%s):\n%s" % (log, f.read()[-4000:]))


def build():
    """Compile what changed; return (program classes, bench classes)."""
    jars = spark_jars()
    bdir = build_dir()
    os.makedirs(bdir, exist_ok=True)
    prog_src = _sources(os.path.join(ROOT, "src", "main", "scala"))
    if not prog_src:
        raise BuildError("no program sources under src/main/scala")
    bench_src = _sources(os.path.join(HERE, "src"))
    prog_out, bench_out = os.path.join(bdir, "classes"), os.path.join(bdir, "bench-classes")
    prog_key = _digest(prog_src, jars)
    bench_key = _digest(bench_src, prog_key)
    stamp = os.path.join(bdir, "stamp")
    old = open(stamp).read().split() if os.path.exists(stamp) else []
    if old[:1] != [prog_key]:
        subprocess.call(["rm", "-rf", prog_out, bench_out])
        _scalac(jars, os.path.join(jars, "*"), prog_out, prog_src, os.path.join(bdir, "compile-program.log"))
        old = []
    if old[1:2] != [bench_key]:
        subprocess.call(["rm", "-rf", bench_out])
        _scalac(jars, prog_out + ":" + os.path.join(jars, "*"), bench_out, bench_src,
                os.path.join(bdir, "compile-bench.log"))
    with open(stamp, "w") as f:
        f.write(prog_key + " " + bench_key + "\n")
    return prog_out, bench_out


if __name__ == "__main__":
    try:
        print("\n".join(build()))
    except BuildError as e:
        sys.exit("build: %s" % e)
