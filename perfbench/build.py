"""Build file of the benchmark: compiles the program's main sources and the
benchmark's JVM harness with the Scala compiler that ships among the Spark
jars, and packs the classes and the program's resources into
``<out>/perfbench.jar``. A stamp over every input skips rebuilds.

The JVM's class-data sharing only maps archives of jar class paths; the
archive (``<out>/perfbench.jsa``) is dumped by the first run after a build
and mapped by every later one, which cuts each run's cold JVM start.

    python3 perfbench/build.py [out_dir]     # default: .bench_build
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars(root):
    """The Spark jars the repository's own build compiles against
    (``unmanagedBase`` in build.sbt), unless PERFBENCH_SPARK_JARS is set."""
    if "PERFBENCH_SPARK_JARS" in os.environ:
        return os.environ["PERFBENCH_SPARK_JARS"]
    with open(f"{root}/build.sbt") as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("build.sbt names no unmanagedBase for the Spark jars")
    return m.group(1)


def sources(root):
    main = sorted(glob.glob(f"{root}/src/main/scala/**/*.scala", recursive=True))
    harness = sorted(glob.glob(f"{HERE}/scala/**/*.scala", recursive=True))
    return main, harness


def resources(root):
    return sorted(f for f in glob.glob(f"{root}/src/main/resources/**", recursive=True)
                  if os.path.isfile(f))


def classpath(root, out):
    return os.pathsep.join([f"{out}/perfbench.jar", f"{spark_jars(root)}/*"])


def archive(out):
    """The class-data archive of the current jar (may not exist yet)."""
    return f"{out}/perfbench.jsa"


def _jar(classes, res_root, res, path):
    with zipfile.ZipFile(path, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in sorted(os.walk(classes)):
            for f in sorted(files):
                full = os.path.join(d, f)
                z.write(full, os.path.relpath(full, classes))
        for f in res:
            z.write(f, os.path.relpath(f, res_root))


def build(root, out):
    """Compile and pack if any input changed; returns the jar."""
    main, harness = sources(root)
    if not main:
        raise SystemExit(f"no program sources under {root}/src/main/scala")
    res = resources(root)
    h = hashlib.sha256()
    for f in main + harness + res:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(sorted(os.listdir(spark_jars(root)))).encode())
    stamp = h.hexdigest()
    jar, stamp_file = f"{out}/perfbench.jar", f"{out}/stamp"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return jar
    tmp = f"{out}/classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = f"{spark_jars(root)}/*"
    cmd = ["java", "-Xmx3g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-cp", cp] + main + harness
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("build failed")
    for stale in (stamp_file, archive(out)):
        if os.path.exists(stale):
            os.remove(stale)
    _jar(tmp, f"{root}/src/main/resources", res, f"{jar}.tmp")
    os.replace(f"{jar}.tmp", jar)
    shutil.rmtree(tmp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return jar


if __name__ == "__main__":
    root = os.path.dirname(HERE)
    out = os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else f"{root}/.bench_build")
    print(build(root, out))
