"""Build file of the benchmark: compiles the program (src/main/scala) and
the harness (loopbench/scala) with the Scala compiler that ships among
Spark's jars, so a plain checkout builds without sbt or network access.

Classes land in .loopbench/classes-<hash of every source>; a finished
build is reused until a source file changes.

    python3 loopbench/build.py        # prints the classes directory
"""
import glob
import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".loopbench")


# processes started here and still running; a signal handler stops them
CHILDREN = []


class BuildError(Exception):
    pass


def stop(proc):
    """Kill a child started in its own session, and wait for it."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, or else the jar directory build.sbt
    names as its unmanagedBase, where the sbt build finds them too."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as f:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        except OSError:
            m = None
        if not m:
            raise BuildError("SPARK_HOME is not set and build.sbt names no unmanagedBase")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError("no Scala compiler among the Spark jars in %s (set SPARK_HOME)" % jars)
    return jars


def sources():
    program = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(ROOT, "loopbench", "scala", "*.scala")))
    if not program:
        raise BuildError("no program sources under src/main/scala")
    if not harness:
        raise BuildError("no harness sources under loopbench/scala")
    return program + harness


def classpath(classes):
    return os.pathsep.join([classes, os.path.join(ROOT, "src", "main", "resources"),
                            os.path.join(spark_jars(), "*")])


def build(timeout=850):
    """Compile if needed; return the classes directory."""
    srcs = sources()
    digest = hashlib.sha256()
    for path in srcs:
        digest.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    classes = os.path.join(OUT, "classes-" + digest.hexdigest()[:16])
    if os.path.isfile(os.path.join(classes, "BUILD_OK")):
        return classes
    jars = os.path.join(spark_jars(), "*")
    tmp = "%s.tmp-%d" % (classes, os.getpid())
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join('"%s"' % s for s in srcs))
    # -UsePerfData and the temp dir keep the compiler's files inside the build dir
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
           "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", jars, "@" + argfile]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                            cwd=ROOT, start_new_session=True)
    CHILDREN.append(proc)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        stop(proc)
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("compile did not finish within %d s" % timeout)
    finally:
        CHILDREN.remove(proc)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("compile failed:\n" + out.decode(errors="replace")[-4000:])
    os.remove(argfile)
    open(os.path.join(tmp, "BUILD_OK"), "w").close()
    if os.path.isdir(classes):  # a concurrent build finished first
        shutil.rmtree(tmp, ignore_errors=True)
    else:
        os.rename(tmp, classes)
    for stale in glob.glob(os.path.join(OUT, "classes-*")):
        if stale != classes and ".tmp-" not in stale:
            shutil.rmtree(stale, ignore_errors=True)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(1)
