"""Build file of the benchmark: compiles graft (src/main/scala) together with
the benchmark's driver (perfbench/src) with the Scala compiler that ships in
Spark's jars directory, packs the classes into one jar, and records a
class-data-sharing archive of the classes a short training run loads, so
that every run's JVM starts from it.

A stamp records the SHA-256 of every compiled source. A build is reused only
while the stamp matches the sources, and `ensure` refuses classes older than
the newest source: a stale build measures a different program.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

BUILD = ".bench_build"
CLASSES = f"{BUILD}/classes"
JAR = f"{BUILD}/perfbench.jar"
ARCHIVE = f"{BUILD}/perfbench.jsa"
STAMP = f"{BUILD}/classes.sha256"
CPUS = min(4, os.cpu_count() or 1)
HEAP = "3g"
# Spark 4 on JDK 17 outside spark-submit needs these (as build.sbt sets)
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]
SOURCES = ("src/main/scala", "perfbench/src")
RESOURCES = "src/main/resources"


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError("no Spark jars with a Scala compiler found "
                         "(set SPARK_HOME)")
    return jars


def sources():
    files = []
    for root in SOURCES + (RESOURCES,):
        for dirpath, _, names in os.walk(root):
            files += [os.path.join(dirpath, n) for n in names]
    scala = sorted(f for f in files if f.endswith(".scala")
                   and not f.startswith(RESOURCES))
    if not any(f.startswith(SOURCES[0]) for f in scala):
        raise BuildError(f"no Scala sources under {SOURCES[0]}")
    return scala, sorted(f for f in files if f.startswith(RESOURCES))


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath(jars):
    return [os.path.abspath(JAR)] + sorted(glob.glob(os.path.join(jars, "*.jar")))


def jvm_command(cp, tmp, args, share=None):
    """The benchmark's JVM: pinned heap, code cache as build.sbt, no
    perf-data file, scratch files under `tmp`, the class-data archive."""
    if share is None:
        share = f"-XX:SharedArchiveFile={ARCHIVE}"
    cmd = ["java", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m", share,
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    for p in OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + ["-cp", ":".join(cp), "perfbench.PerfBench"] + args


def train(cp):
    """Record the archive from one short eda_notebook run on tiny inputs."""
    import gen
    root = os.path.abspath(f"{BUILD}/train")
    shutil.rmtree(root, ignore_errors=True)
    data, out, tmp = (f"{root}/{d}" for d in ("data", "out", "tmp"))
    for d in (out, tmp):
        os.makedirs(d)
    gen.generate("eda_notebook", 0, data, {"sf": 0.001})
    try:
        subprocess.run(
            jvm_command(cp, tmp, ["eda_notebook", data, out, "0", "0", "0",
                                  str(CPUS), "0"],
                        f"-XX:ArchiveClassesAtExit={os.path.abspath(ARCHIVE)}"),
            check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
            timeout=600)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def build(jars, scala, resources, sha):
    for f in (STAMP, JAR, ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = f"{BUILD}/sources.txt"
    with open(argfile, "w") as fh:
        fh.write("\n".join(scala))
    cp = os.path.join(jars, "*")
    subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp,
         "scala.tools.nsc.Main",
         "-nowarn", "-d", CLASSES, "-classpath", cp, f"@{argfile}"],
        check=True, stdout=sys.stderr, timeout=800)
    with zipfile.ZipFile(JAR, "w") as z:
        for dirpath, _, names in os.walk(CLASSES):
            for n in sorted(names):
                f = os.path.join(dirpath, n)
                z.write(f, os.path.relpath(f, CLASSES))
        for f in resources:
            z.write(f, os.path.relpath(f, RESOURCES))
    train(classpath(jars))
    with open(STAMP, "w") as fh:
        fh.write(sha)


def ensure():
    """Return (classpath of the benchmark's JVM, source sha); build if
    needed."""
    jars = spark_jars()
    scala, resources = sources()
    sha = digest(scala + resources + [os.path.abspath(__file__)])
    os.makedirs(BUILD, exist_ok=True)
    newest = max(os.path.getmtime(f) for f in scala + resources)

    def fresh():
        return (all(os.path.exists(f) for f in (STAMP, JAR, ARCHIVE))
                and open(STAMP).read() == sha
                and os.path.getmtime(STAMP) >= newest)
    if not fresh():
        build(jars, scala, resources, sha)
    if not fresh():
        raise BuildError("compiled classes are older than the sources")
    return classpath(jars), sha


if __name__ == "__main__":
    try:
        ensure()
        print(JAR)
    except (BuildError, subprocess.CalledProcessError) as e:
        sys.exit(f"build failed: {e}")
