"""Build file of the benchmark: compiles the program's main sources and
the benchmark harness with the Scala compiler that ships in Spark's
jars, and packages both as jars.

    python3 perfbench/build.py            # prints the build directory

The build lands in `.bench_build/<source hash>/` (or under
`$CARGO_TARGET_DIR` when that is set) and is reused while the sources
are unchanged. No network, no sbt: everything needed is the JDK and
`$SPARK_HOME/jars`.
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HARNESS = os.path.join(ROOT, "perfbench", "harness")
MAIN = os.path.join(ROOT, "src", "main", "scala")


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        exe = shutil.which("spark-submit")
        if not exe:
            raise SystemExit("spark-submit not found: set SPARK_HOME")
        home = os.path.dirname(os.path.dirname(os.path.realpath(exe)))
    return home


def spark_classpath():
    return os.path.join(spark_home(), "jars", "*")


def sources(d):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def _hash(files):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def _scalac(dst, classpath, srcs):
    os.makedirs(dst)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", spark_classpath(), "scala.tools.nsc.Main",
           "-nowarn", "-d", dst, "-classpath", classpath] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("scalac failed for %s" % dst)


def _jar(classes, jar):
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_DEFLATED) as z:
        for base, _, files in os.walk(classes):
            for f in files:
                p = os.path.join(base, f)
                z.write(p, os.path.relpath(p, classes))


def build():
    """Return the build dir holding `program.jar` and `harness.jar`."""
    main_srcs, harness_srcs = sources(MAIN), sources(HARNESS)
    if not main_srcs:
        raise SystemExit("no program sources under %s" % MAIN)
    root = os.environ.get("CARGO_TARGET_DIR") or os.path.join(ROOT, ".bench_build")
    root = os.path.join(ROOT, root) if not os.path.isabs(root) else root
    out = os.path.join(root, _hash(main_srcs + harness_srcs))
    if os.path.exists(os.path.join(out, "harness.jar")):
        return out
    tmp = out + ".tmp%d" % os.getpid()
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        _scalac(os.path.join(tmp, "main"), spark_classpath(), main_srcs)
        _scalac(os.path.join(tmp, "harness"),
                os.path.join(tmp, "main") + os.pathsep + spark_classpath(), harness_srcs)
        _jar(os.path.join(tmp, "main"), os.path.join(tmp, "program.jar"))
        _jar(os.path.join(tmp, "harness"), os.path.join(tmp, "harness.jar"))
        for d in ("main", "harness"):
            shutil.rmtree(os.path.join(tmp, d))
        os.replace(tmp, out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


if __name__ == "__main__":
    print(build())
