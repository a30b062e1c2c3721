"""Build file of the benchmark's harness package.

Compiles the program (`src/main/scala` and `src/main/resources` of the
checkout) together with the harness (`graftbench/harness/src`) using the
Scala compiler that ships in the Spark distribution's jar directory, the same
directory the repo's build.sbt names as `unmanagedBase`. Output goes to
`.bench_build/graftbench-<hash>/classes` in the checkout; the hash covers
every input file, so an unchanged tree is not rebuilt.

Usage: python3 graftbench/harness/build.py   (prints the classpath)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
BUILD_DIR = os.path.join(ROOT, ".bench_build")


class BuildError(Exception):
    pass


def spark_jars():
    """The jar directory build.sbt compiles against, else $SPARK_HOME/jars."""
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    raise BuildError("no Spark jar directory (build.sbt unmanagedBase or $SPARK_HOME/jars)")


def _files(top, suffix=None):
    out = []
    for d, _, fs in os.walk(top):
        out += [os.path.join(d, f) for f in fs if suffix is None or f.endswith(suffix)]
    return sorted(out)


def build(log=sys.stderr):
    main_src = os.path.join(ROOT, "src", "main", "scala")
    resources = os.path.join(ROOT, "src", "main", "resources")
    if not os.path.isdir(main_src):
        raise BuildError(f"program sources not found at {main_src}")
    sources = _files(main_src, ".scala") + _files(os.path.join(HERE, "src"), ".scala")
    res = _files(resources) if os.path.isdir(resources) else []
    jars = spark_jars()
    h = hashlib.sha256()
    for f in sources + res + [os.path.abspath(__file__)]:
        h.update(f.encode())
        h.update(open(f, "rb").read())
    out = os.path.join(BUILD_DIR, "graftbench-" + h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    cp = classes + os.pathsep + os.path.join(jars, "*")
    if os.path.exists(os.path.join(out, "OK")):
        return cp
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    print(f"[graftbench] compiling {len(sources)} sources", file=log, flush=True)
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes] + sources
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise BuildError(f"scalac failed with code {r.returncode}")
    for f in res:
        dst = os.path.join(classes, os.path.relpath(f, resources))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    open(os.path.join(out, "OK"), "w").write(cp + "\n")
    return cp


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[graftbench] build failed: {e}", file=sys.stderr)
        sys.exit(1)
