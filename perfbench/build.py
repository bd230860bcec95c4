"""Build step of the benchmark: compile the checked-out program with the
repo's own offline sbt settings, then the benchmark's JVM harness against
those classes with the Scala compiler that ships in the Spark jars.

Both builds are skipped when a stamp of their sources matches the last
build, so only the first run in a checkout pays for them, and a changed
source tree is never measured with stale classes.
"""
import glob
import hashlib
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def program_sources(root):
    files = [os.path.join(root, "build.sbt")]
    files += sorted(glob.glob(os.path.join(root, "project", "*.properties")))
    files += sorted(glob.glob(os.path.join(root, "project", "*.sbt")))
    for d, _, names in sorted(os.walk(os.path.join(root, "src", "main"))):
        files += [os.path.join(d, n) for n in sorted(names)]
    return files


def stamp(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, HERE).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classes_dir(root):
    return os.path.join(root, "target", "scala-2.13", "classes")


def spark_classpath(root):
    """The Spark jars the program compiles against: build.sbt's
    unmanagedBase, else $SPARK_HOME/jars."""
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    jars = m.group(1) if m else os.path.join(os.environ["SPARK_HOME"], "jars")
    return sorted(glob.glob(os.path.join(jars, "*.jar")))


def _fresh(stamp_file, want, out_dir):
    if not os.path.isdir(out_dir) or not os.path.exists(stamp_file):
        return False
    with open(stamp_file) as f:
        return f.read().strip() == want


def build(root, work, log):
    """Returns the JVM classpath (program + harness + Spark jars)."""
    os.makedirs(work, exist_ok=True)
    prog = stamp(program_sources(root))
    prog_stamp = os.path.join(work, "program.stamp")
    if not _fresh(prog_stamp, prog, classes_dir(root)):
        env = dict(os.environ, COURSIER_MODE="offline")
        env["SBT_OPTS"] = env.get("SBT_OPTS") or (
            "-Dsbt.override.build.repos=true "
            f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')} "
            "-Dsbt.offline=true -Xmx3g")
        log("building the program (sbt compile, offline)")
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "compile"], cwd=root, env=env, timeout=850,
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            raise SystemExit("program build failed")
        with open(prog_stamp, "w") as f:
            f.write(prog)
    harness_src = sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    hcls = os.path.join(work, "harness-classes")
    want = stamp(harness_src, prog)
    h_stamp = os.path.join(work, "harness.stamp")
    jars = spark_classpath(root)
    if not _fresh(h_stamp, want, hcls):
        log("building the harness (scalac)")
        os.makedirs(hcls, exist_ok=True)
        cp = os.pathsep.join([classes_dir(root)] + jars)
        r = subprocess.run(
            ["java", "-Xmx1g", "-cp", os.pathsep.join(jars),
             "scala.tools.nsc.Main", "-nowarn", "-classpath", cp,
             "-d", hcls] + harness_src,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, text=True, timeout=600)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            raise SystemExit("harness build failed")
        with open(h_stamp, "w") as f:
            f.write(want)
    return os.pathsep.join([hcls, classes_dir(root)] + jars)
