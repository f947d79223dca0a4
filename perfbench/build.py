"""Build file of the benchmark: compiles the repository's Scala sources
(src/main/scala) together with the benchmark code (perfbench/src) into
.bench_build/perfbench/perfbench.jar, using the Scala compiler that ships in
Spark's jars directory, then records a class-data-sharing archive from a
small training run. Without the archive every run spends 5-10 s
loading and verifying Spark's classes. A build is reused while the sources
and jars are unchanged (content hash in the stamp file).

    python3 perfbench/build.py        # prints the jar path
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
JAR = os.path.join(BUILD_DIR, "perfbench.jar")
ARCHIVE = os.path.join(BUILD_DIR, "classes.jsa")
STAMP = os.path.join(BUILD_DIR, "stamp")
YOUNG_GEN = "1g"
COMPILE_TIMEOUT_S = 600
TRAIN_TIMEOUT_S = 240

# Spark 4 on JDK 17 outside spark-submit needs these (as in the repo's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise BuildError("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    return home


def spark_jars():
    return os.path.join(spark_home(), "jars")


def _one(jars, pattern):
    hits = sorted(glob.glob(os.path.join(jars, pattern)))
    if len(hits) != 1:
        raise BuildError(f"expected one {pattern} in {jars}, found {len(hits)}")
    return hits[0]


def sources():
    if not os.path.isfile(os.path.join(PROGRAM_SRC, "graft", "pipeline", "Pipeline.scala")):
        raise BuildError(f"program sources missing under {PROGRAM_SRC}")
    found = []
    for base in (PROGRAM_SRC, BENCH_SRC):
        for dirpath, _, files in os.walk(base):
            found += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def _stamp_inputs(srcs):
    """Everything a build depends on: the sources and this file."""
    return srcs + [os.path.abspath(__file__)]


def _stamp(srcs, jars):
    h = hashlib.sha256()
    for path in _stamp_inputs(srcs):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    for name in sorted(os.listdir(jars)):
        h.update(name.encode())
    return h.hexdigest()


def jvm_command(heap, tmpdir, main_args, archive_opt=None):
    """The benchmark JVM's command line; `archive_opt` is the CDS flag."""
    jars = spark_jars()
    if archive_opt is None and os.path.isfile(ARCHIVE):
        archive_opt = f"-XX:SharedArchiveFile={ARCHIVE}"
    # a fixed young generation: G1 otherwise resizes eden from run to run,
    # and eden's size, not the job, would set the heap peak
    return (["java", f"-Xmx{heap}", f"-Xmn{YOUNG_GEN}", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmpdir}",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
             "-Dspark.ui.enabled=false"]
            + ([archive_opt] if archive_opt else [])
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", os.pathsep.join([JAR, os.path.join(jars, "*")]), "perfbench.Main"]
            + main_args)


def jvm_env(heap, local_dir):
    """The JVM's environment: the heap passed as SPARK_DRIVER_MEM (as the
    Tier-1 test command does), and SPARK_LOCAL_DIRS, which Spark prefers to
    spark.local.dir, pointed into the run's scratch root."""
    return dict(os.environ, SPARK_DRIVER_MEM=heap, SPARK_LOCAL_DIRS=local_dir)


def _compile(srcs, jars, tmp):
    compiler_cp = os.pathsep.join(
        _one(jars, f"scala-{lib}-2.13.*.jar") for lib in ("compiler", "library", "reflect"))
    argfile = os.path.join(BUILD_DIR, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", compiler_cp, "scala.tools.nsc.Main", "-nowarn", "-d", JAR,
           "-classpath", os.path.join(jars, "*"), f"@{argfile}"]
    print(f"[perfbench] compiling {len(srcs)} Scala files", file=sys.stderr, flush=True)
    if subprocess.run(cmd, stdout=sys.stderr, timeout=COMPILE_TIMEOUT_S).returncode != 0:
        raise BuildError("scalac failed")


def _train(tmp):
    """A run over a tiny input, recording the classes it loads."""
    scratch = os.path.join(tmp, "scratch")
    os.makedirs(os.path.join(scratch, "tmp"))
    cmd = jvm_command("2g", os.path.join(scratch, "tmp"), [
        "--workload", "mixed_commit", "--seed", "0", "--seconds", "1", "--trace", "0",
        "--convs", "202", "--scratch", scratch, "--out", os.path.join(tmp, "out"),
        "--slots", "2", "--mem-total-mb", "0"], archive_opt=f"-XX:ArchiveClassesAtExit={ARCHIVE}")
    print("[perfbench] recording the class-data-sharing archive", file=sys.stderr, flush=True)
    res = subprocess.run(cmd, cwd=scratch, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                         env=jvm_env("2g", os.path.join(scratch, "spark-local")),
                         timeout=TRAIN_TIMEOUT_S)
    if res.returncode != 0 or not os.path.isfile(ARCHIVE):
        raise BuildError(f"training run exited with {res.returncode}")


def build():
    """Compile and record the archive if needed; return the jar path."""
    jars = spark_jars()
    srcs = sources()
    stamp = _stamp(srcs, jars)
    if os.path.isfile(STAMP) and open(STAMP).read() == stamp and os.path.isfile(JAR):
        return JAR
    tmp = os.path.join(BUILD_DIR, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for f in (STAMP, JAR, ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    try:
        _compile(srcs, jars, tmp)
        _train(tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    with open(STAMP, "w") as f:
        f.write(stamp)
    return JAR


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
