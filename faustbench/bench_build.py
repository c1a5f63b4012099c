"""Build step shared by the benchmark's entry points.

Compiles the program (``src/main/scala``) and the benchmark
(``faustbench/src``) straight with the Scala compiler that ships in
the Spark distribution (``$SPARK_HOME/jars``, or the distribution that
holds ``spark-submit`` on the PATH), into ``.bench_build/`` at the
repository root. A build is reused while the hash of every source file
is unchanged.
"""

import glob
import hashlib
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "faustbench")
BUILD = os.path.join(ROOT, ".bench_build")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(BENCH, "src")
TEST_SRC = os.path.join(BENCH, "tests")

# The heap is fixed so that peak RSS and GC time compare across runs.
HEAP = "2g"

# What spark-submit injects on JDK 17 (same list as scripts/run_main.sh).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/jdk.internal.ref", "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def _spark_homes():
    if os.environ.get("SPARK_HOME"):
        yield os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        if os.path.exists(os.path.join(d, "spark-submit")):
            yield os.path.dirname(os.path.realpath(d))


def spark_jars():
    """The jars of the first Spark distribution that carries the Scala compiler."""
    for home in _spark_homes():
        jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
        if any(os.path.basename(j).startswith("scala-compiler") for j in jars):
            return jars
    raise BuildError("no Spark distribution with jars/scala-compiler-*.jar "
                     "(set SPARK_HOME)")


def _sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def _digest(files, base=""):
    h = hashlib.sha256(base.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def _scalac(jars, classpath, out, files):
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(jars),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-cp", os.pathsep.join(classpath + jars)] + files
    done = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, cwd=ROOT)
    if done.returncode != 0:
        raise BuildError(f"scalac failed for {out}:\n{done.stdout[-4000:]}")


def _stage(name, files, deps, jars):
    """Compile one stage unless its stamp matches.

    `deps` are earlier (classdir, digest) stages; a stage's digest covers
    its own sources and its dependencies' digests. Returns (classdir, digest).
    """
    if not files:
        raise BuildError(f"no sources for {name}")
    out = os.path.join(BUILD, name)
    stamp = os.path.join(BUILD, name + ".sha256")
    digest = _digest(files, "".join(d for _, d in deps))
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return out, digest
    if os.path.exists(stamp):
        os.remove(stamp)
    subprocess.run(["rm", "-rf", out], check=True)
    _scalac(jars, [c for c, _ in deps], out, files)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return out, digest


def build(with_tests=False):
    """Build what is stale; returns the runtime classpath as a list."""
    jars = spark_jars()
    os.makedirs(BUILD, exist_ok=True)
    program = _stage("program", _sources(PROGRAM_SRC), [], jars)
    bench = _stage("bench", _sources(BENCH_SRC), [program], jars)
    stages = [bench, program]
    if with_tests:
        stages.insert(0, _stage("tests", _sources(TEST_SRC), stages, jars))
    return [c for c, _ in stages] + jars


def source_digest():
    """Digest of the program and benchmark sources (recorded in the output)."""
    return _digest(_sources(PROGRAM_SRC) + _sources(BENCH_SRC))[:16]


def java_command(classpath, main, args, cores):
    """The JVM command line: fixed heap, JVM scratch inside the checkout."""
    tmp = os.path.join(ROOT, ".bench_run", "tmp")
    os.makedirs(tmp, exist_ok=True)
    flags = [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        flags += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return (["java"] + flags + ["-cp", os.pathsep.join(classpath), main]
            + list(args) + ["--cores", str(cores)])


def cores():
    return len(os.sched_getaffinity(0))


if __name__ == "__main__":
    try:
        build(with_tests="--tests" in sys.argv)
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
