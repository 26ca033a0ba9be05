"""Build file of the benchmark: compiles graft's main sources together
with the harness in perfbench/scala into one class directory, using the
Scala compiler that ships in the Spark distribution's jars (no sbt, no
network). The output is keyed by a hash of every source file, so an
unchanged tree is compiled once.

    python3 perfbench/build.py            # prints the class directory
"""
import fcntl
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))
def _spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against
    (its `unmanagedBase`)."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        return m.group(1) if m else ""
    except OSError:
        return ""


SPARK_JARS = _spark_jars()

# the module opens build.sbt passes to a forked Spark JVM on JDK 17
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(ROOT, "perfbench/scala/**/*.scala"), recursive=True))
    res = sorted(p for p in glob.glob(os.path.join(ROOT, "src/main/resources/**/*"), recursive=True)
                 if os.path.isfile(p))
    return main, bench, res


def classpath(classes):
    return os.pathsep.join([classes, os.path.join(SPARK_JARS, "*")])


def build():
    """Compile if the sources changed; return the class directory."""
    main, bench, res = sources()
    if not main or not bench:
        raise SystemExit("perfbench build: graft sources (src/main/scala) or the "
                         "harness (perfbench/scala) are missing")
    if not os.path.isdir(SPARK_JARS):
        raise SystemExit(f"perfbench build: no Spark jars at '{SPARK_JARS}' "
                         "(set SPARK_HOME or put spark-submit on PATH)")
    h = hashlib.sha256()
    for p in main + bench + res:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    key = h.hexdigest()[:16]
    out = os.path.join(build_dir(), f"classes-{key}")
    if os.path.isdir(out):
        return out
    os.makedirs(build_dir(), exist_ok=True)
    # one build at a time per checkout; a waiter finds the finished output
    with open(os.path.join(build_dir(), "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.isdir(out):
            compile_into(out, main + bench, res)
    return out


def compile_into(out, scala, res):
    tmp = out + "-partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xmx2g", "-Xss8m", f"-Djava.io.tmpdir={tmp}",
           "-cp", os.path.join(SPARK_JARS, "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", tmp] + scala
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit("perfbench build: scalac failed")
    res_root = os.path.join(ROOT, "src/main/resources")
    for p in res:
        dst = os.path.join(tmp, os.path.relpath(p, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    # older class dirs of this checkout are stale once the tree changed
    for old in glob.glob(os.path.join(build_dir(), "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, out)


if __name__ == "__main__":
    print(build())
