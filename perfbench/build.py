"""Build file of the graft benchmark.

Compiles graft's sources (src/main/scala) together with the benchmark's
own (perfbench/src) with the Scala compiler that ships in Spark's jars, into
.bench_build/classes under the repository root. A rebuild happens only when
the sources change (a digest of every source file is kept beside the
classes).

    python3 perfbench/build.py          # from the repository root
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")

# Spark 4 on JDK 17 outside spark-submit needs these (the list Spark's own
# launcher passes; the same as build.sbt's javaOptions).
ADD_OPENS = [
    a for p in (
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar")
    for a in ("--add-opens", p + "=ALL-UNNAMED")]


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    homes = [os.environ.get("SPARK_HOME", "")]
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for h in homes:
        jars = os.path.join(h, "jars") if h else ""
        if jars and glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise BuildError("Spark jars with the Scala compiler not found "
                     "(set SPARK_HOME)")


def classpath():
    """Runtime classpath: the compiled classes, graft's resources (the
    `graft-hub` data source registration) and Spark's jars."""
    return os.pathsep.join([CLASSES,
                            os.path.join(ROOT, "src", "main", "resources"),
                            os.path.join(spark_jars(), "*")])


def java():
    home = os.environ.get("JAVA_HOME", "")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("no java on PATH or JAVA_HOME")
    return exe


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    bench = os.path.join(ROOT, "perfbench", "src")
    files = []
    for d in (main, bench):
        if not os.path.isdir(d):
            raise BuildError(f"missing source directory {os.path.relpath(d, ROOT)}")
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(files)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure(log=sys.stderr):
    """Compile unless the classes match the sources; returns the digest."""
    files = sources()
    sha = digest(files)
    stamp = os.path.join(BUILD, "classes.sha256")
    if os.path.exists(stamp) and open(stamp).read().strip() == sha:
        return sha
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(CLASSES)
    os.makedirs(tmp, exist_ok=True)
    argfile = os.path.join(BUILD, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cp = os.path.join(spark_jars(), "*")
    cmd = [java(), "-Xmx3g", "-Xss16m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-classpath", cp, "@" + argfile]
    print(f"[build] compiling {len(files)} sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=log, stderr=log, timeout=800)
    if r.returncode != 0:
        raise BuildError(f"scalac exited with {r.returncode}")
    with open(stamp, "w") as fh:
        fh.write(sha + "\n")
    return sha


if __name__ == "__main__":
    try:
        print(ensure())
    except BuildError as e:
        print(f"[build] {e}", file=sys.stderr)
        sys.exit(2)
