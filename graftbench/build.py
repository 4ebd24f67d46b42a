"""Builds the benchmark: graft's own sources and the benchmark harness under
`src/`, compiled together with scalac against Spark's jars, then a
class-data-sharing archive of the classes a run loads.

    python3 graftbench/build.py        # from the repository root

The classes land in `.bench_build/classes` and, packed, in
`.bench_build/graft.jar`; a stamp of every source's path, size and mtime
skips the build when nothing changed. The archive (`graft.jsa`) is dumped
at the exit of a fixed training run of commit_mix (seed 0, set-up and one
measured operation) right after the jar is packed; every measured run of
every workload maps it (the workloads share Spark's and graft's core
classes), so no run's JVM start depends on an earlier run.
"""
import glob
import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCALA_VERSION = "2.13.17"
BUILD = os.path.join(ROOT, ".bench_build")
OUT = os.path.join(BUILD, "classes")
JAR = os.path.join(BUILD, "graft.jar")

WORKLOADS = ("commit_mix", "lake_reads")
CORES = 4
HEAP = "2g"
# operations run in whole blocks of this size (gen.py's mixes are per 100)
BLOCK = 100
JVM_OPTS = [
    "--add-opens=java.base/java.lang=ALL-UNNAMED",
    "--add-opens=java.base/java.lang.invoke=ALL-UNNAMED",
    "--add-opens=java.base/java.lang.reflect=ALL-UNNAMED",
    "--add-opens=java.base/java.io=ALL-UNNAMED",
    "--add-opens=java.base/java.net=ALL-UNNAMED",
    "--add-opens=java.base/java.nio=ALL-UNNAMED",
    "--add-opens=java.base/java.util=ALL-UNNAMED",
    "--add-opens=java.base/java.util.concurrent=ALL-UNNAMED",
    "--add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED",
    "--add-opens=java.base/sun.nio.ch=ALL-UNNAMED",
    "--add-opens=java.base/sun.nio.cs=ALL-UNNAMED",
    "--add-opens=java.base/sun.security.action=ALL-UNNAMED",
    "--add-opens=java.base/sun.util.calendar=ALL-UNNAMED",
    f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:ParallelGCThreads=2",
    "-XX:ConcGCThreads=1", "-Dspark.ui.enabled=false",
]


def spark_jars():
    """The Spark jar directory graft's own build.sbt compiles against
    (`unmanagedBase`); SPARK_JARS overrides it."""
    if "SPARK_JARS" in os.environ:
        return os.environ["SPARK_JARS"]
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("build: no unmanagedBase in build.sbt; set SPARK_JARS")
    return m.group(1)


def sources():
    found = []
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        found += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
        found += glob.glob(os.path.join(base, "**", "*.java"), recursive=True)
    return sorted(found)


def scala_compiler():
    """The scala-compiler, -library and -reflect jars of SCALA_VERSION from
    the local coursier or ivy caches."""
    jars = []
    for name in ("scala-compiler", "scala-library", "scala-reflect"):
        hits = []
        for cache in (os.path.expanduser("~/.cache/coursier"), os.path.expanduser("~/.ivy2"),
                      os.path.expanduser("~/.sbt/boot")):
            hits += glob.glob(f"{cache}/**/{name}-{SCALA_VERSION}.jar", recursive=True)
        if not hits:
            raise SystemExit(f"build: {name}-{SCALA_VERSION}.jar not found in local caches")
        jars.append(sorted(hits)[0])
    return jars


def classpath():
    return [JAR, os.path.join(spark_jars(), "*")]


JSA = os.path.join(BUILD, "graft.jsa")
CDS_USE = [f"-XX:SharedArchiveFile={JSA}", "-Xlog:cds=off", "-Xlog:cds+dynamic=off"]


def run_jvm(cp, workload, seconds, trace, block, run_dir, deadline, extra):
    """Runs the harness JVM on the inputs under `run_dir/in`, writing under
    `run_dir/out`; its log goes to `run_dir/jvm.log`, and to stderr if it
    fails or outlives `deadline`."""
    log = open(os.path.join(run_dir, "jvm.log"), "w")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", *JVM_OPTS, *extra, f"-Djava.io.tmpdir={tmp}", "-cp", ":".join(cp),
           "graft.bench.Main", "--workload", workload, "--seconds", str(seconds),
           "--trace", str(trace), "--in", os.path.join(run_dir, "in"),
           "--out", os.path.join(run_dir, "out"), "--cores", str(CORES),
           "--block", str(block)]
    p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir,
                         start_new_session=True)
    try:
        code = p.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        code = "timeout"
    finally:
        log.close()
    if code != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"graftbench: the benchmark JVM ended with {code}")


def train(cp):
    """Dumps the class-data-sharing archive at the exit of a fixed
    training run."""
    import gen
    d = os.path.join(BUILD, "train")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    gen.generate("commit_mix", 0, os.path.join(d, "in"), BLOCK)
    run_jvm(cp, "commit_mix", 0, 0, 1, d, time.time() + 600,
            [f"-XX:ArchiveClassesAtExit={JSA}"])
    shutil.rmtree(d)
    if not os.path.exists(JSA):
        raise SystemExit("build: the training run left no class-data-sharing archive")


def build():
    """Compiles if any source changed; returns the runtime classpath."""
    srcs = sources()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) or not srcs:
        raise SystemExit("build: graft sources (src/main/scala) not found")
    h = hashlib.sha256()
    for s in srcs:
        st = os.stat(s)
        h.update(f"{s}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    stamp = os.path.join(BUILD, "classes.stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest() and \
            os.path.exists(JSA):
        return classpath()
    if os.path.exists(stamp):
        os.remove(stamp)
    os.makedirs(OUT, exist_ok=True)
    for old in glob.glob(os.path.join(OUT, "*")):
        subprocess.run(["rm", "-rf", old], check=True)
    args_file = os.path.join(BUILD, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", ":".join(scala_compiler()),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp",
           "-classpath", os.path.join(spark_jars(), "*"), "-d", OUT, "@" + args_file]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    subprocess.run(["jar", "cf", JAR, "-C", OUT, "."], check=True)
    if os.path.exists(JSA):
        os.remove(JSA)
    train(classpath())
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classpath()


if __name__ == "__main__":
    build()
