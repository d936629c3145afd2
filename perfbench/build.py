"""Build file of the graft benchmark package.

Compiles graft's main sources (src/main/scala at the root of the checkout)
together with the benchmark's own sources (perfbench/src/main/scala) using
the Scala compiler that ships in the Spark distribution, so no dependency
resolution and no network are needed, and packs them into one jar. Output
goes to .bench_build/graftbench/ at the root of the checkout and is reused
while no source changes.

    python3 perfbench/build.py          # build
    python3 perfbench/build.py test     # build, then run the self-tests
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "graftbench")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        exe = shutil.which("spark-submit")
        if exe:
            home = os.path.dirname(os.path.dirname(os.path.realpath(exe)))
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not any(os.path.basename(j).startswith("scala-compiler") for j in jars):
        raise BuildError("no Spark distribution with a Scala compiler found; set SPARK_HOME")
    return jars


def scala_files(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def _stamp(files, classpath):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    for j in classpath:
        h.update(os.path.basename(j).encode())
    return h.hexdigest()


def _compile(files, classpath, dest, reuse=True):
    """scalac files into dest unless dest already holds this exact input."""
    stamp_file = dest + ".stamp"
    stamp = _stamp(files, classpath)
    if reuse and os.path.isdir(dest) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return False
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args = os.path.join(OUT, os.path.basename(dest) + ".args")
    with open(args, "w") as fh:
        fh.write("\n".join(['"%s"' % f for f in files]))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(spark_jars()), "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", ":".join(classpath), "@" + args]
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        raise BuildError("scalac failed for " + os.path.basename(dest))
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(tmp, dest)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return True


JAR = os.path.join(OUT, "graftbench.jar")
# class-data-sharing archive of a warm benchmark JVM (see run.py); it is
# only valid for the jar it was made with
ARCHIVE = os.path.join(OUT, "graftbench.jsa")


def ensure_built():
    """Compile when needed; returns the run classpath."""
    graft = scala_files(os.path.join(ROOT, "src", "main", "scala"))
    if not graft:
        raise BuildError("graft sources not found under src/main/scala at " + ROOT)
    jars = spark_jars()
    os.makedirs(OUT, exist_ok=True)
    classes = os.path.join(OUT, "classes")
    fresh = _compile(graft + scala_files(os.path.join(HERE, "src", "main", "scala")), jars, classes)
    if fresh or not os.path.exists(JAR):
        if os.path.exists(ARCHIVE):
            os.remove(ARCHIVE)
        with zipfile.ZipFile(JAR + ".tmp", "w", zipfile.ZIP_STORED) as z:
            for d, _, names in os.walk(classes):
                for n in sorted(names):
                    f = os.path.join(d, n)
                    z.write(f, os.path.relpath(f, classes))
        os.replace(JAR + ".tmp", JAR)
    return [JAR] + jars


def run_tests():
    cp = ensure_built()
    tests = os.path.join(OUT, "test-classes")
    _compile(scala_files(os.path.join(HERE, "src", "test", "scala")), cp, tests, reuse=False)
    return subprocess.run(["java", "-cp", ":".join([tests] + cp), "graftbench.SelfTest",
                           os.path.join(ROOT, "BENCHMARK.json")]).returncode


if __name__ == "__main__":
    try:
        if sys.argv[1:] == ["test"]:
            sys.exit(run_tests())
        ensure_built()
    except BuildError as e:
        print("build failed: %s" % e, file=sys.stderr)
        sys.exit(2)
