"""Build file of the benchmark: compiles the engine (src/main/scala) and
then the benchmark driver (bench/scala) against it, with the Scala
compiler that ships in Spark's jar directory. Classes land in
.bench_build/<part>-<hash>/ at the root of the checkout; the hash covers
the part's sources (and, for the driver, the engine's hash), so an
unchanged tree reuses its classes and an edited one rebuilds.

    python3 bench/build.py          # builds, prints the classpath
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD_DIR = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """The Spark jars to compile and run against: $SPARK_HOME/jars, else
    the directory the project's build.sbt names as its unmanagedBase."""
    dirs = []
    if os.environ.get("SPARK_HOME"):
        dirs.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if m:
            dirs.append(m.group(1))
    except OSError:
        pass
    for d in dirs:
        jars = sorted(glob.glob(os.path.join(d, "*.jar")))
        if jars:
            return jars
    raise SystemExit("build: no Spark jars found (set SPARK_HOME)")


def sources(rel_dir):
    files = sorted(glob.glob(os.path.join(ROOT, rel_dir, "**", "*.scala"),
                             recursive=True))
    if not files:
        raise SystemExit(f"build: no Scala sources under {rel_dir}")
    return files


def digest(files, salt=""):
    h = hashlib.sha256(salt.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def compile_part(name, files, classpath, salt=""):
    """Compiles `files` into .bench_build/<name>-<hash>/ unless a finished
    build of the same sources is already there."""
    key = digest(files, salt)
    out = os.path.join(BUILD_DIR, f"{name}-{key}")
    if os.path.exists(os.path.join(out, "DONE")):
        return out, key
    tmp = out + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = ":".join(classpath)
    argfile = os.path.join(BUILD_DIR, f"{name}.scalac-args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(["-d", tmp, "-classpath", cp, "-nowarn"] + files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
           "scala.tools.nsc.Main", "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: compiling {name} failed ({r.returncode})")
    open(os.path.join(tmp, "DONE"), "w").close()
    for stale in glob.glob(os.path.join(BUILD_DIR, f"{name}-*")):
        if stale != tmp:
            shutil.rmtree(stale, ignore_errors=True)
    os.rename(tmp, out)
    return out, key


def build():
    """Returns the runtime classpath: driver classes, engine classes and
    the Spark jars."""
    jars = spark_jars()
    engine, engine_key = compile_part("engine", sources("src/main/scala"), jars)
    driver, _ = compile_part("driver", sources("bench/scala"),
                             [engine] + jars, salt=engine_key)
    return [driver, engine] + jars


if __name__ == "__main__":
    print(":".join(build()))
