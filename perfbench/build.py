"""Build step of the benchmark: compiles the program's sources together
with the harness (perfbench/src) straight with the Scala compiler that
ships in the Spark distribution, and generates the input tables. Both are
cached under the build dir, keyed by a digest of their sources."""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
def _spark_home():
    """$SPARK_HOME, else the distribution `spark-submit` on the PATH
    belongs to."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else ""


SPARK_JARS = os.path.join(_spark_home(), "jars")
SCALE = 0.01                # lineitem ~60k rows
ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


class BuildError(Exception):
    pass


def _sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        raise BuildError("no program sources under src/main/scala")
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    res = sorted(p for p in glob.glob(os.path.join(ROOT, "src/main/resources/**"),
                                      recursive=True) if os.path.isfile(p))
    return main + bench, res


def source_digest():
    h = hashlib.sha256()
    srcs, res = _sources()
    for p in srcs + res:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def java_cmd(classes, heap, tmp):
    """JVM command line for a main class of the build. The parallel
    collector runs no concurrent GC threads beside the timed work, and
    -XX:-UsePerfData keeps the JVM from writing its perf-data file outside
    the checkout; every other temporary file goes under `tmp`."""
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["java", *opens, f"-Xmx{heap}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}",
            "-cp", f"{classes}{os.pathsep}{os.path.join(SPARK_JARS, '*')}"]


def compile_program(build_dir):
    """Class directory of the program plus harness, compiled if needed."""
    if not os.path.isdir(SPARK_JARS):
        raise BuildError(f"Spark jars not found at {SPARK_JARS}")
    srcs, res = _sources()
    out = os.path.join(build_dir, "classes", source_digest()[:20])
    if os.path.isdir(out):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(SPARK_JARS, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp, *srcs]
    p = subprocess.run(cmd, capture_output=True, text=True)
    if p.returncode != 0:
        raise BuildError("scalac failed:\n" + (p.stdout + p.stderr)[-4000:])
    base = os.path.join(ROOT, "src/main/resources")
    for f in res:
        dst = os.path.join(tmp, os.path.relpath(f, base))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    for old in set(glob.glob(os.path.join(build_dir, "classes", "*"))) - {tmp}:
        shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, out)
    return out


def input_data(build_dir):
    """Directory of the generated input tables, generated if needed."""
    sys.path.insert(0, HERE)
    import gen_data
    with open(gen_data.__file__, "rb") as f:
        tag = hashlib.sha256(f.read() + str(SCALE).encode()).hexdigest()[:16]
    out = os.path.join(build_dir, "data", tag)
    if os.path.isdir(out):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    gen_data.generate(tmp, SCALE)
    for old in set(glob.glob(os.path.join(build_dir, "data", "*"))) - {tmp}:
        shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, out)
    return out
