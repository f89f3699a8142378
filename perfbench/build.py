"""Build file of the benchmark: compiles graft and the benchmark with scalac.

The program (``src/main/scala``) and the benchmark (``perfbench/src``) are
compiled in two stages into ``.bench_build/``, each cached under a hash of its
sources, so an unchanged tree is never compiled twice. The Scala compiler and
the Spark jars come from the jar directory the repository's ``build.sbt``
names (``unmanagedBase``), or from ``$SPARK_HOME/jars``.

    python3 perfbench/build.py          # build, print the run classpath
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD_DIR = ".bench_build"


class BuildError(Exception):
    pass


def jar_dir(root):
    """The directory holding the Spark and Scala jars the program builds against."""
    candidates = []
    sbt = os.path.join(root, "build.sbt")
    if os.path.isfile(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            candidates.append(m.group(1))
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for c in candidates:
        if os.path.isdir(c) and any(n.startswith("spark-sql_") for n in os.listdir(c)):
            return c
    raise BuildError("no Spark jar directory: set SPARK_HOME or unmanagedBase in build.sbt")


def _sources(top):
    out = []
    for d, _, names in os.walk(top):
        out.extend(os.path.join(d, n) for n in names if n.endswith((".scala", ".java")))
    return sorted(out)


def _digest(paths, extra):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _compile(jars, classpath, sources, out):
    compiler = [os.path.join(jars, n) for n in sorted(os.listdir(jars))
                if re.match(r"scala-(compiler|library|reflect)-2\.13.*\.jar$", n)]
    if len(compiler) != 3:
        raise BuildError("scala 2.13 compiler jars not found in " + jars)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = tmp + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", classpath, "@" + argfile]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    os.remove(argfile)
    if res.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + res.stdout[-4000:])
    os.rename(tmp, out)


def build(root):
    """Compiles what changed; returns the classpath a benchmark JVM runs with."""
    program_src = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(program_src):
        raise BuildError("no program sources under " + program_src)
    jars = jar_dir(root)
    jar_cp = os.pathsep.join(os.path.join(jars, n) for n in sorted(os.listdir(jars))
                             if n.endswith(".jar"))
    base = os.path.join(root, BUILD_DIR)
    os.makedirs(base, exist_ok=True)

    prog = _sources(program_src)
    prog_out = os.path.join(base, "program-" + _digest(prog, jar_cp))
    if not os.path.isdir(prog_out):
        _compile(jars, jar_cp, prog, prog_out)
    resources = os.path.join(root, "src", "main", "resources")

    bench = _sources(os.path.join(HERE, "src"))
    bench_out = os.path.join(base, "bench-" + _digest(bench, prog_out))
    if not os.path.isdir(bench_out):
        _compile(jars, os.pathsep.join([prog_out, jar_cp]), bench, bench_out)
    parts = [bench_out, prog_out] + ([resources] if os.path.isdir(resources) else [])
    return os.pathsep.join(parts + [os.path.join(jars, "*")])


if __name__ == "__main__":
    try:
        print(build(os.getcwd()))
    except BuildError as e:
        print("build: " + str(e), file=sys.stderr)
        sys.exit(1)
