"""Build file of the benchmark.

Compiles the program's sources together with the benchmark's own, using
the Scala compiler that ships among Spark's jars ($SPARK_HOME/jars),
packs them into one jar, and records a class-data-sharing archive of the
classes a workload run loads (one short training run), so every measured
run starts from the same class-loading state. Output goes to
.bench_build/perfbench/<source digest>/ at the root of the checkout; a
build is reused while no source file changes.

    python3 perfbench/build.py
"""

import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")

JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


class BuildError(Exception):
    pass


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def spark_jars() -> str:
    home = os.environ.get("SPARK_HOME")
    jars = os.path.join(home, "jars") if home else ""
    if not home or not os.path.isdir(jars):
        raise BuildError("SPARK_HOME must point at a Spark installation")
    return jars


def cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def cores() -> int:
    """Spark local[N] parallelism of every run."""
    return min(4, cpus())


def sources() -> list:
    if not os.path.isdir(PROGRAM_SRC):
        raise BuildError(f"program sources not found at {PROGRAM_SRC}")
    found = []
    for top in (PROGRAM_SRC, BENCH_SRC):
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def jvm(build_dir: str, work: str, record_classes: bool = False) -> list:
    """The driver JVM's command line up to the main class."""
    cmd = [java()]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    archive = os.path.join(build_dir, "classes.jsa")
    cmd += [
        # a fixed heap keeps the resident set, and so peak_rss_mb, steady
        "-Xms2g", "-Xmx2g", "-Xss8m",
        ("-XX:ArchiveClassesAtExit=" if record_classes else "-XX:SharedArchiveFile=")
        + archive,
        "-Xlog:cds*=off",
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-cp", os.path.join(build_dir, "perfbench.jar") + os.pathsep
        + os.path.join(spark_jars(), "*"),
    ]
    return cmd


def run_main(build_dir: str, work: str, args: list, timeout: int,
             record_classes: bool = False) -> bool:
    """Run perfbench.BenchMain in a fresh work directory; True on success."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # Spark's scratch space stays inside the run's own directory
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    cmd = jvm(build_dir, work, record_classes) + ["perfbench.BenchMain"] + args + [
        "--cores", str(cores()), "--work", work]
    try:
        done = subprocess.run(cmd, cwd=ROOT, env=env, stdout=sys.stderr,
                              stderr=sys.stderr, timeout=timeout)
        return done.returncode == 0
    except subprocess.TimeoutExpired:
        return False


def build() -> str:
    """Return the build directory, building it if needed."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(BUILD_DIR, h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, "classes.jsa")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes] + srcs
    if subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr).returncode:
        raise BuildError("compilation failed")
    with zipfile.ZipFile(os.path.join(out, "perfbench.jar"), "w") as z:
        for d, _, files in os.walk(classes):
            for f in files:
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))
    shutil.rmtree(classes)
    work = os.path.join(out, "training")
    if not run_main(out, work, ["--workload", "tail", "--seed", "0", "--seconds", "1",
                                "--trace", "0", "--out", os.path.join(work, "out.json")],
                    timeout=600, record_classes=True):
        raise BuildError("class-data-sharing training run failed")
    shutil.rmtree(work, ignore_errors=True)
    for old in os.listdir(BUILD_DIR):
        if old != os.path.basename(out) and os.path.isdir(os.path.join(BUILD_DIR, old)) \
                and len(old) == 16:
            shutil.rmtree(os.path.join(BUILD_DIR, old), ignore_errors=True)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build: {e}")
