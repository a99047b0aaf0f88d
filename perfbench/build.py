"""Build file of the benchmark package: compiles the engine's main sources
(`src/main/scala`) together with the benchmark driver (`perfbench/scala`)
with the Scala compiler that ships in Spark's jar directory, so no build
tool or network is needed. The output is reused while a stamp over every
source file still matches; a new build lands in place by an atomic rename.

    python3 perfbench/build.py [BUILD_DIR]
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the one beside a
    `spark-submit` on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for p in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(p, "spark-submit")
        if p and os.path.isfile(submit):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for h in homes:
        d = os.path.join(h, "jars")
        if h and glob.glob(os.path.join(d, "scala-compiler-*.jar")):
            return d
    raise SystemExit("no Spark jar directory with a Scala compiler found "
                     "(set SPARK_HOME)")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                            recursive=True))
    if not main:
        raise SystemExit("engine sources missing: src/main/scala is empty")
    return main + sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))


def build(build_dir):
    """Returns the classes directory, compiling it when stale."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256(jars.encode())
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(classes, "_STAMP")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    os.makedirs(build_dir, exist_ok=True)
    tmp = os.path.join(build_dir, f".classes-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    scala = [os.path.join(jars, f"{n}.jar") for n in
             ("scala-compiler-2.13.17", "scala-library-2.13.17",
              "scala-reflect-2.13.17")]
    scala = [p if os.path.isfile(p) else
             glob.glob(os.path.join(jars, os.path.basename(p).rsplit("-", 1)[0]
                                    + "-*.jar"))[0] for p in scala]
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(scala),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp:false",
           "-classpath", os.path.join(jars, "*"), "-d", tmp] + srcs
    print(f"[build] compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("compilation failed")
    with open(os.path.join(tmp, "_STAMP"), "w") as f:
        f.write(stamp)
    old = classes + f".old-{os.getpid()}"
    if os.path.exists(classes):
        os.rename(classes, old)
    os.rename(tmp, classes)
    shutil.rmtree(old, ignore_errors=True)
    return classes


if __name__ == "__main__":
    print(build(sys.argv[1] if len(sys.argv) > 1
                else os.path.join(ROOT, ".bench_build")))
