"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark's own Scala sources (perfbench/src) with the Scala compiler
that ships in the Spark distribution, into .bench_build/classes.

A stamp of every source's path and content skips the compile when
nothing changed. Run from the repository root:  python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD = ".bench_build"
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.stamp")

# Every JVM keeps its files inside the work tree; HotSpot's perf-data file
# would go to the system temp directory whatever java.io.tmpdir says.
NO_PERF_DATA = "-XX:-UsePerfData"

# Spark 4 on JDK 17 needs these outside spark-submit (build.sbt's list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("perfbench: SPARK_HOME unset and spark-submit not on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"perfbench: no Scala compiler among the Spark jars in {jars}")
    return os.path.join(jars, "*")


def sources():
    main = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not main:
        raise SystemExit("perfbench: no program sources under src/main/scala")
    own = sorted(glob.glob("perfbench/src/**/*.scala", recursive=True))
    return main + own


def classpath():
    return os.pathsep.join([CLASSES, "src/main/resources", spark_jars()])


def java_cmd(main_class, args, tmpdir):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", "-Xmx2g", NO_PERF_DATA, f"-Djava.io.tmpdir={tmpdir}"] + opens
            + ["-cp", classpath(), main_class] + list(args))


def build():
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    jars = spark_jars()
    cmd = ["java", "-Xss8m", "-Xmx3g", NO_PERF_DATA, f"-Djava.io.tmpdir={tmp}", "-cp", jars,
           "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-classpath", jars] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-20000:])
        raise SystemExit("perfbench: compile failed")
    with open(STAMP, "w") as f:
        f.write(stamp)


if __name__ == "__main__":
    build()
