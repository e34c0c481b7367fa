"""Build file of the benchmark package.

Compiles the program (src/main/scala) together with the benchmark's own
sources (perfbench/src) into .bench_build/perfbench.jar, using the Scala
compiler that ships in Spark's jars directory, so a build needs no
dependency resolution. It then runs perfbench.Preload once under
-XX:ArchiveClassesAtExit to write .bench_build/classes.jsa, the
class-data-sharing archive every benchmark JVM starts from. The build is
stamped with a hash of every input; a checkout whose sources are
unchanged is not rebuilt.

    python3 perfbench/build.py        # build (or confirm up to date)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
JAR = os.path.join(BUILD, "perfbench.jar")
CDS = os.path.join(BUILD, "classes.jsa")
STAMP = os.path.join(BUILD, "build.stamp")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "src")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")


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
    if not home or not os.path.isdir(jars):
        raise BuildError("Spark jars not found: set SPARK_HOME")
    return jars


def _files(d, suffix=""):
    out = []
    for base, _, names in os.walk(d):
        out.extend(os.path.join(base, n) for n in names if n.endswith(suffix))
    return sorted(out)


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main) or not _files(main, ".scala"):
        raise BuildError("program sources missing: %s" % os.path.relpath(main, ROOT))
    return [f for d in SOURCE_DIRS for f in _files(d, ".scala")]


def stamp(files):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def _jar(jars, prefix):
    found = sorted(glob.glob(os.path.join(jars, prefix + "-2.13.*.jar")))
    if not found:
        raise BuildError("%s jar not found in %s" % (prefix, jars))
    return found[-1]


def _jar_up(classes, jar):
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for f in _files(classes):
            z.write(f, os.path.relpath(f, classes))


def classpath():
    return JAR + os.pathsep + os.path.join(spark_jars(), "*")


def build(jvm_opts, log=sys.stderr):
    """Returns the runtime classpath, building first if needed.

    `jvm_opts` are the options benchmark JVMs run with; the class-data
    archive is written under the same options so the JVMs can map it.
    """
    jars = spark_jars()
    files = sources() + (_files(RESOURCES) if os.path.isdir(RESOURCES) else [])
    digest = stamp(files)
    if os.path.exists(STAMP) and open(STAMP).read() == digest and os.path.exists(JAR):
        return classpath()
    print("[perfbench] compiling %d sources" % len(sources()), file=log, flush=True)
    for f in (STAMP, JAR, CDS):
        if os.path.exists(f):
            os.remove(f)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(sources()))
    compiler_cp = os.pathsep.join(_jar(jars, p) for p in
                                  ("scala-compiler", "scala-library", "scala-reflect"))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler_cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-classpath", os.path.join(jars, "*"), "@" + argfile]
    if subprocess.run(cmd, stdout=log, stderr=log).returncode != 0:
        raise BuildError("scalac failed")
    if os.path.isdir(RESOURCES):
        shutil.copytree(RESOURCES, CLASSES, dirs_exist_ok=True)
    _jar_up(CLASSES, JAR)
    scratch = os.path.join(BUILD, "preload")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    cmd = (["java"] + jvm_opts + ["-XX:ArchiveClassesAtExit=" + CDS,
                                  "-Djava.io.tmpdir=" + scratch, "-cp", classpath(),
                                  "perfbench.Preload", scratch])
    if subprocess.run(cmd, cwd=scratch, stdout=log, stderr=log).returncode != 0:
        raise BuildError("class-data archive run failed")
    shutil.rmtree(scratch, ignore_errors=True)
    with open(STAMP, "w") as fh:
        fh.write(digest)
    return classpath()


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from run import JVM_OPTS
    try:
        print(build(JVM_OPTS))
    except BuildError as e:
        print("[perfbench] build failed: %s" % e, file=sys.stderr)
        sys.exit(2)
