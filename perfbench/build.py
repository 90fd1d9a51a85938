"""Compile the graft library and the benchmark into one jar.

The library is built from its sources in the checkout (src/main/scala)
with the Scala compiler that ships in the Spark distribution, so the build
needs neither sbt nor a dependency cache. The build then records the
classes one step of every workload loads in a class-data-sharing archive,
which cuts JVM start-up (Spark loads ~19k classes) from seconds to under
one. Output goes under .bench_build/, keyed by a hash of every source
file, and is reused while the sources are unchanged.
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
BUILD_DIR = ".bench_build"
HEAP = "4g"
# Spark 4 on JDK 17 needs these outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def _sources(root):
    out = []
    for top in ("src/main/scala", "perfbench/src"):
        for d, _, files in os.walk(os.path.join(root, top)):
            out += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def java_command(build, work, args, archive_flag=None):
    """The JVM command line of a benchmark run with its scratch under `work`."""
    here = os.path.dirname(os.path.abspath(__file__))
    archive = os.path.join(build, "classes.jsa")
    if archive_flag is None and os.path.isfile(archive):
        archive_flag = f"-XX:SharedArchiveFile={archive}"
    # a fixed heap keeps collections alike from run to run; no perf data
    # file, so nothing is written outside the checkout
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp", f"-Dlog4j2.configurationFile={here}/log4j2.properties"]
    cmd += [archive_flag] if archive_flag else []
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cores = len(os.sched_getaffinity(0))
    return cmd + ["-cp", f"{build}/perfbench.jar:{SPARK_JARS}/*", "perfbench.Main",
                  "--work", work, "--cores", str(cores)] + args


def ensure_built(root):
    """Return the build directory for the current sources, building if needed."""
    if not os.path.isdir(os.path.join(root, "src/main/scala/graft")):
        sys.exit("perfbench: no graft sources under src/main/scala; "
                 "run from the root of a repository checkout")
    if not os.path.isdir(SPARK_JARS):
        sys.exit("perfbench: no Spark distribution at $SPARK_HOME")
    srcs = _sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    out = os.path.join(root, BUILD_DIR, "build-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(out, ".complete")):
        return out
    tmp = f"{out}.tmp-{os.getpid()}"
    classes = os.path.join(tmp, "classes")
    os.makedirs(classes)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    print(f"perfbench: compiling {len(srcs)} source files", file=sys.stderr, flush=True)
    try:
        subprocess.run(
            ["java", "-Xss16m", "-Xmx2g", "-cp", f"{SPARK_JARS}/*", "scala.tools.nsc.Main",
             "-usejavacp", "-nowarn", "-d", classes, "@" + argfile],
            check=True, stdout=sys.stderr, timeout=800)
        # class-data sharing archives classes from jars only
        with zipfile.ZipFile(os.path.join(tmp, "perfbench.jar"), "w") as jar:
            for d, _, files in os.walk(classes):
                for f in files:
                    p = os.path.join(d, f)
                    jar.write(p, os.path.relpath(p, classes))
        shutil.rmtree(classes)
        os.remove(argfile)
        # the archive records the jar's path, so it is made at the final one
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
        print("perfbench: recording the class-data-sharing archive", file=sys.stderr, flush=True)
        work = os.path.join(out, "work")
        os.makedirs(os.path.join(work, "tmp"))
        subprocess.run(
            java_command(out, work, ["--workload", "classes", "--seed", "0", "--seconds", "0",
                                     "--trace", "0"],
                         archive_flag=f"-XX:ArchiveClassesAtExit={out}/classes.jsa"),
            check=True, stdout=sys.stderr, stderr=subprocess.DEVNULL, timeout=600)
        shutil.rmtree(work)
    except subprocess.SubprocessError as e:
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)
        sys.exit(f"perfbench: building failed: {e}")
    open(os.path.join(out, ".complete"), "w").close()
    return out


if __name__ == "__main__":
    print(ensure_built(os.getcwd()))
