"""Build file of the benchmark harness.

Compiles the program's sources (src/main/scala) together with the
harness (perfbench/src) with the Scala compiler that ships among the Spark
jars, so no build tool or network is needed, and packs the classes into
one jar. It then runs perfbench.Archive once under
-XX:ArchiveClassesAtExit, so every measured JVM starts from the same
class-data archive of the program and Spark classes; the build fails
when that pass fails. A stamp over every
source's path and bytes skips all of this when nothing changed.

Usage: python3 perfbench/build.py [build_dir]   (default .bench_build)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spark_jars():
    """The Spark jars: $SPARK_HOME/jars, else the directory the sbt build
    names as its unmanagedBase."""
    if "SPARK_HOME" in os.environ:
        where = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = open(os.path.join(ROOT, "build.sbt")).read() if os.path.exists(os.path.join(ROOT, "build.sbt")) else ""
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
        if not m:
            raise SystemExit("perfbench: no Spark jars: set SPARK_HOME or run from the repository root")
        where = m.group(1)
    jars = sorted(glob.glob(os.path.join(where, "*.jar")))
    if not any(os.path.basename(j).startswith("scala-compiler-") for j in jars):
        raise SystemExit(f"perfbench: no Spark/Scala jars under {where}")
    return jars


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(ROOT, "perfbench/src/**/*.scala"), recursive=True))
    if not prog:
        raise SystemExit("perfbench: program sources (src/main/scala) not found")
    return prog + harness


def stamp_of(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


class Build:
    def __init__(self, build_dir):
        self.dir = build_dir
        self.jar = os.path.join(build_dir, "graft-bench.jar")
        self.archive = os.path.join(build_dir, "classes.jsa")
        self.classpath = os.pathsep.join([self.jar] + spark_jars())

    def java(self, main, args, tmp, dump=False):
        """The JVM command every workload runs with: it maps the class-data
        archive, or with `dump` writes it at exit."""
        flags = [f"-XX:ArchiveClassesAtExit={self.archive}" if dump else f"-XX:SharedArchiveFile={self.archive}"]
        return (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
                 "-Dspark.sql.session.timeZone=UTC"] + flags
                + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
                + ["-cp", self.classpath, main] + list(args))


def compile_jar(b, files):
    classes = os.path.join(b.dir, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(b.dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    jars = os.pathsep.join(spark_jars())
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main", "-nowarn",
                        "-d", classes, "-classpath", jars, "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    entries = sorted(os.path.relpath(os.path.join(d, f), classes)
                     for d, _, fs in os.walk(classes) for f in fs)
    with zipfile.ZipFile(b.jar, "w", zipfile.ZIP_STORED) as z:
        for e in entries:
            z.write(os.path.join(classes, e), e)
    shutil.rmtree(classes)


def dump_archive(b):
    scratch = os.path.join(b.dir, "archive-run")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(scratch, "local"))
    env.pop("SPARK_GRAFT_MASTER", None)
    log_path = os.path.join(b.dir, "archive.log")
    with open(log_path, "w") as log:
        r = subprocess.run(b.java("perfbench.Archive", [scratch], scratch, dump=True),
                           stdout=log, stderr=subprocess.STDOUT, env=env, cwd=scratch, timeout=600)
    ok = r.returncode == 0 and os.path.exists(os.path.join(scratch, "done")) and os.path.exists(b.archive)
    shutil.rmtree(scratch, ignore_errors=True)
    if not ok:
        # without the archive every run would start seconds slower, and
        # setup_s would compare two different start-up paths
        if os.path.exists(b.archive):
            os.remove(b.archive)
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: class-data archive pass failed ({r.returncode}); see {log_path}")


def build(build_dir):
    """Compile and archive if needed; return (Build, source stamp)."""
    os.makedirs(build_dir, exist_ok=True)
    b = Build(build_dir)
    files = sources()
    stamp = stamp_of(files)
    stamp_file = os.path.join(build_dir, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp \
            and os.path.exists(b.jar) and os.path.exists(b.archive):
        return b, stamp
    for f in (stamp_file, b.archive):
        if os.path.exists(f):
            os.remove(f)
    compile_jar(b, files)
    dump_archive(b)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return b, stamp


if __name__ == "__main__":
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, ".bench_build")
    print(build(out)[0].jar)
