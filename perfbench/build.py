"""Builds graft and the benchmark into class directories.

The program's Scala sources (src/main/scala) and then the benchmark's
(perfbench/src) compile with the Scala compiler that ships in the Spark
distribution, straight into `<build dir>/prog-<digest>` and
`<build dir>/bench-<digest>`; no build tool runs and no build file of the
repository is read or changed. Each digest covers the sources that go into
the directory (the benchmark's also covers the program's), so a changed
program builds afresh and an unchanged one is reused.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys


def _spark_home():
    """SPARK_HOME, else the first Spark distribution on the PATH that ships
    its jars (a pip-installed launcher on the PATH does not)."""
    candidates = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in candidates:
        if home and glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
            return home
    raise SystemExit("build: no Spark distribution; set SPARK_HOME")


SPARK_JARS = os.path.join(_spark_home(), "jars")


def build_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def _compile(root, kind, srcs, digest, extra_cp):
    out = os.path.join(build_dir(root), "%s-%s" % (kind, digest[:16]))
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.pathsep.join(extra_cp + [os.path.join(SPARK_JARS, "*")])
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", cp] + srcs
    if subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr).returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit("build: scalac failed on the %s sources" % kind)
    open(os.path.join(tmp, ".complete"), "w").close()
    os.replace(tmp, out)
    return out


def _digest(root, srcs, seed=""):
    h = hashlib.sha256(seed.encode())
    for path in srcs:
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(root):
    """Returns the run-time class path, compiling what is missing first."""
    prog = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench/src/**/*.scala"), recursive=True))
    if not prog:
        raise SystemExit("build: no program sources under src/main/scala")
    prog_digest = _digest(root, prog)
    prog_dir = _compile(root, "prog", prog, prog_digest, [])
    bench_dir = _compile(root, "bench", bench, _digest(root, bench, prog_digest), [prog_dir])
    return os.pathsep.join([bench_dir, prog_dir])


if __name__ == "__main__":
    print(build(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
