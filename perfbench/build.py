"""Build file of the benchmark: compiles the program's main sources and the
JVM harness (perfbench/harness) with the Scala compiler that ships among
Spark's jars. No sbt, no downloads.

    python3 perfbench/build.py          # prints the runtime classpath

Outputs go to `.bench_build/` at the checkout root and are reused while
the sources and jars are unchanged.
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
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    the program's own build.sbt compiles against, else the one beside
    `spark-submit` on the PATH."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            cands.append(m.group(1))
    submit = shutil.which("spark-submit")
    if submit:
        cands.append(os.path.join(os.path.dirname(os.path.realpath(submit)), "..", "jars"))
    for c in cands:
        if glob.glob(os.path.join(c, "scala-compiler-*.jar")):
            return os.path.abspath(c)
    raise BuildError("no Spark jar directory with a Scala compiler found")


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise BuildError("program sources not found under src/main/scala")
    def walk(d):
        return sorted(os.path.join(dp, f) for dp, _, fs in os.walk(d) for f in fs
                      if f.endswith((".scala", ".java")))
    return walk(main), walk(os.path.join(HERE, "harness"))


def scalac(jars, classpath, out, files):
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", classpath] + files
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        raise BuildError("scalac failed:\n" + p.stdout[-4000:])


def digest(jars, files):
    h = hashlib.sha256(jars.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def compiled(out, stamp, compile_fn):
    """Compiles into `out` unless its stamp matches; a cut build leaves no
    stamp behind."""
    stamp_file = out + ".stamp"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    shutil.rmtree(out, ignore_errors=True)
    compile_fn()
    with open(stamp_file, "w") as f:
        f.write(stamp)


def build():
    """Compiles when needed; returns the runtime classpath."""
    jars = spark_jars()
    main_src, bench_src = sources()
    main_out = os.path.join(BUILD, "main-classes")
    bench_out = os.path.join(BUILD, "bench-classes")
    main_stamp = digest(jars, main_src)
    res = os.path.join(ROOT, "src", "main", "resources")

    def compile_main():
        scalac(jars, os.path.join(jars, "*"), main_out, main_src)
        if os.path.isdir(res):
            shutil.copytree(res, main_out, dirs_exist_ok=True)

    compiled(main_out, main_stamp, compile_main)
    # the harness stamp covers the program too: it compiles against it
    compiled(bench_out, digest(jars, bench_src) + main_stamp, lambda: scalac(
        jars, os.pathsep.join([main_out, os.path.join(jars, "*")]), bench_out, bench_src))
    return os.pathsep.join([bench_out, main_out, os.path.join(jars, "*")])


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
