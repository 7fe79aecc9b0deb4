"""Build file of the benchmark: compiles the program's sources
(src/main/scala) together with the benchmark's own (perfbench/src) with the
Scala compiler that ships in the Spark distribution, into
.bench_build/classes-<source hash>. A tree whose sources are unchanged is
not compiled again.

    python3 perfbench/build.py          # prints the classes directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
COMPILE_TIMEOUT_S = 600


class BuildError(Exception):
    pass


def spark_jars():
    """The jars of the Spark distribution: $SPARK_HOME, else the first
    distribution with a Scala compiler whose bin/ is on the PATH."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep) if d]
    for home in homes:
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise BuildError("no Spark distribution with a Scala compiler found (set SPARK_HOME)")


def sources():
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    if not files:
        raise BuildError("no program sources under src/main/scala: run from a checkout of the repository")
    own = sorted(glob.glob(os.path.join(ROOT, "perfbench", "src", "**", "*.scala"), recursive=True))
    return files + own


def digest(paths, extra=b""):
    h = hashlib.sha256(extra)
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def build(log=sys.stderr):
    """Returns (classes directory, source hash), compiling if needed."""
    srcs = sources()
    jars = spark_jars()
    key = digest(srcs)
    out = os.path.join(BUILD, f"classes-{key}")
    if os.path.exists(os.path.join(out, ".ok")):
        return out, key
    os.makedirs(BUILD, exist_ok=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, f"sources-{key}.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    print(f"[perfbench] compiling {len(srcs)} sources", file=log)
    proc = subprocess.run(
        ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={BUILD}",
         "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
         "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=COMPILE_TIMEOUT_S)
    os.remove(argfile)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("compilation failed:\n" + proc.stdout[-4000:])
    open(os.path.join(tmp, ".ok"), "w").close()
    os.rename(tmp, out)
    prune("classes-", keep=out)
    return out, key


def prune(prefix, keep):
    """Removes the outputs of older builds next to `keep`."""
    for d in glob.glob(os.path.join(BUILD, prefix + "*")):
        if d != keep:
            shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        sys.exit(2)
