"""Compiles the engine (``src/main/scala``) and the benchmark's JVM side
(``perfbench/scala``) into one class directory with the Scala compiler
that ships in the Spark distribution's jars.

Usage: ``python3 perfbench/build.py [build_dir]`` from the repository
root. The class directory is reused while no source file changes.
"""
import glob
import hashlib
import os
import subprocess
import sys

SCALA = "2.13.17"


def spark_jars() -> str:
    """The jars of ``$SPARK_HOME``, or of a Spark installation whose
    ``bin`` directory is on the PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        d = os.path.join(home, "jars")
        if os.path.isfile(os.path.join(d, f"scala-compiler-{SCALA}.jar")):
            return d
    raise SystemExit("no Spark distribution with the Scala compiler found "
                     "(set SPARK_HOME)")


def sources(root: str) -> list:
    engine = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                              recursive=True))
    if not engine:
        raise SystemExit(f"no engine sources under {root}/src/main/scala")
    bench = sorted(glob.glob(os.path.join(root, "perfbench/scala/**/*.scala"),
                             recursive=True))
    return engine + bench


def runtime_classpath(root: str, build_dir: str) -> str:
    return os.pathsep.join([os.path.join(build_dir, "classes"),
                            os.path.join(root, "src/main/resources"),
                            os.path.join(spark_jars(), "*")])


def build(root: str, build_dir: str) -> str:
    """Returns the runtime classpath, compiling first when needed."""
    jars = spark_jars()
    srcs = sources(root)
    digest = hashlib.sha256(SCALA.encode())
    for path in srcs:
        digest.update(path.encode())
        with open(path, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return runtime_classpath(root, build_dir)
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    subprocess.run(["rm", "-rf", classes], check=True)
    os.makedirs(classes)
    compiler = os.pathsep.join(os.path.join(jars, f"scala-{m}-{SCALA}.jar")
                               for m in ("compiler", "library", "reflect"))
    libs = os.pathsep.join(sorted(glob.glob(os.path.join(jars, "*.jar"))))
    res = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", compiler,
         "scala.tools.nsc.Main",
         "-nowarn", "-classpath", libs, "-d", classes] + srcs,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout)
        raise SystemExit(f"compilation failed (exit {res.returncode})")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return runtime_classpath(root, build_dir)


if __name__ == "__main__":
    here = os.getcwd()
    print(build(here, sys.argv[1] if len(sys.argv) > 1
                else os.path.join(here, ".bench_build")))
