"""Build of the benchmark, run from the root of a checkout:

    python3 perfbench/build.py

Compiles the engine (`src/main`) and the benchmark's harness
(`perfbench/src`) with the Scala compiler jar that ships in the Spark
distribution, against the Spark jars, into `.bench_build/perfbench/`. The
repository's `build.sbt` compiles the engine the same way (Scala 2.13.17,
the distribution's jars as the unmanaged classpath); the harness is not part
of it. `run.py` calls `build()` before every run, which recompiles only when
a source changed.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def _spark_jars():
    """The jars `build.sbt` names as its unmanaged classpath, else
    `$SPARK_HOME/jars`."""
    try:
        with open("build.sbt") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            return m.group(1)
    except OSError:
        pass
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"] + "/jars"
    raise SystemExit("no Spark jars: run from the root of a checkout, or set SPARK_HOME")


SPARK_JARS = _spark_jars()
SCALA_JARS = [f"{SPARK_JARS}/scala-{n}-2.13.17.jar" for n in ("compiler", "library", "reflect")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest(dirs):
    h = hashlib.sha256()
    for d in dirs:
        for path in sorted(glob.glob(f"{d}/**/*", recursive=True)):
            if os.path.isfile(path):
                h.update(path.encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def scalac(out, classpath, sources):
    """Compile with the Scala compiler jar of the Spark distribution."""
    if os.path.isdir(out):
        shutil.rmtree(out)
    os.makedirs(out)
    cmd = ["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss8m", "-cp", ":".join(SCALA_JARS),
           "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-cp", ":".join(classpath), "-d", out] + sources
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit(f"compile failed: {out}")


def build(build_dir):
    """(Re)build the engine and the harness when their sources changed."""
    engine_src = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True) +
                        glob.glob("src/main/java/**/*.java", recursive=True))
    bench_src = sorted(glob.glob(f"{HERE}/src/**/*.scala", recursive=True))
    if not engine_src or not bench_src:
        raise SystemExit("no engine sources under src/main: run from the root of a checkout")
    jars = f"{SPARK_JARS}/*"
    stamp = f"{build_dir}/stamp"
    digest = sources_digest(["src/main", f"{HERE}/src"])
    engine, harness = f"{build_dir}/engine-classes", f"{build_dir}/harness-classes"
    if not (os.path.exists(stamp) and open(stamp).read() == digest):
        t0 = time.time()
        scalac(engine, [jars], engine_src)
        scalac(harness, [engine, jars], bench_src)
        with open(stamp, "w") as f:
            f.write(digest)
        log(f"built engine and harness in {time.time() - t0:.1f} s")
    return [harness, engine, "src/main/resources", jars]


if __name__ == "__main__":
    build(os.path.abspath(".bench_build/perfbench"))
