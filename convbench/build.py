"""Build file of the conversion benchmark.

Compiles the engine (`src/main/scala` at the repository root) together
with the benchmark's own Scala sources (`convbench/src`) into
`<build dir>/classes`, using the Scala compiler jar that ships among
Spark's jars, so no build tool and no download is needed. A stamp holding
the hash of every source file makes an up-to-date build a no-op.

    python3 convbench/build.py            # build if any source changed

The build directory is `$CARGO_TARGET_DIR` when set, else `.bench_build`,
relative to the repository root.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    the repository's build.sbt points at."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise SystemExit("build: Spark jars not found (set SPARK_HOME)")


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        raise SystemExit(f"build: engine sources missing ({engine}); run from a repository checkout")
    found = sorted(glob.glob(os.path.join(engine, "**", "*.scala"), recursive=True))
    found += sorted(glob.glob(os.path.join(BENCH_DIR, "src", "**", "*.scala"), recursive=True))
    return found


def classpath(jars):
    return sorted(glob.glob(os.path.join(jars, "*.jar")))


def build():
    """Returns the runtime classpath (a list), compiling first if needed:
    the classes, the engine's resources, then Spark's jars."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp_text = h.hexdigest()
    out = os.path.join(build_dir(), "classes")
    stamp = os.path.join(build_dir(), "classes.stamp")
    cp = classpath(jars)
    runtime = [out, os.path.join(ROOT, "src", "main", "resources")] + cp
    if os.path.exists(stamp) and open(stamp).read() == stamp_text:
        return runtime
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    compiler = [j for j in cp if re.search(r"/scala-(compiler|library|reflect)-[0-9.]+\.jar$", j)]
    if len(compiler) != 3:
        raise SystemExit("build: scala-compiler/library/reflect jars not found among Spark's jars")
    argfile = os.path.join(build_dir(), "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    tmp = os.path.join(build_dir(), "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", ":".join(compiler), "scala.tools.nsc.Main", "-nowarn",
           "-classpath", ":".join(cp), "-d", out, "@" + argfile]
    print(f"build: compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    with open(stamp, "w") as f:
        f.write(stamp_text)
    return runtime


if __name__ == "__main__":
    build()
