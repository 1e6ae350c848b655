"""Build file of the benchmark: compiles the engine (src/main) and the
harness (perfbench/src) from source with the Scala compiler that ships
among the Spark jars the project builds against (build.sbt's
`unmanagedBase`). Output goes to `.bench_build/` at the checkout root; each
tree is recompiled only when its sources change.

Usage: python3 perfbench/build.py   (prints the run-time classpath)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """The jar directory build.sbt compiles against."""
    with open(os.path.join(ROOT, "build.sbt"), encoding="utf-8") as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        raise RuntimeError("build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def _sources(tree):
    return sorted(glob.glob(os.path.join(ROOT, tree, "**", "*.scala"), recursive=True))


def _compile(name, sources, classpath, jars):
    out = os.path.join(OUT, name)
    h = hashlib.sha256(classpath.encode())
    for s in sources:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(out, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    if not sources:
        raise RuntimeError(f"no Scala sources for {name}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = os.path.join(OUT, f"{name}.args")
    with open(argfile, "w") as f:
        f.write("\n".join(["-nowarn", "-d", out, "-classpath", classpath] + sources))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "@" + argfile]
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return out


def build():
    """Compile both trees if needed; return the run-time classpath."""
    os.makedirs(OUT, exist_ok=True)
    jars = spark_jars()
    jar_cp = os.path.join(jars, "*")
    main = _compile("main-classes", _sources("src/main/scala"), jar_cp, jars)
    resources = os.path.join(ROOT, "src", "main", "resources")
    if os.path.isdir(resources):
        shutil.copytree(resources, main, dirs_exist_ok=True)
    bench = _compile("bench-classes", _sources("perfbench/src"),
                     main + os.pathsep + jar_cp, jars)
    return os.pathsep.join([bench, main, jar_cp])


if __name__ == "__main__":
    print(build())
