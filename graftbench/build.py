"""Build file of the graft benchmark: compiles graft's main sources and the
benchmark's own sources with the Scala compiler that ships in Spark's jars.

    python3 graftbench/build.py        # from the repository root

Classes go to .bench_build/classes. The build is skipped when a stamp of
the sources and the Spark jar list matches the last build.
"""
import hashlib
import os
import shutil
import subprocess
import sys
import time

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
SOURCE_DIRS = [os.path.join("src", "main", "scala"), os.path.join("graftbench", "src")]


def spark_jars():
    """Directory of the Spark distribution's jars: $SPARK_HOME/jars, else
    next to the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        raise SystemExit("build: no Spark jars found (set SPARK_HOME)")
    return jars


def sources():
    out = []
    for d in SOURCE_DIRS:
        for base, _, files in os.walk(os.path.join(ROOT, d)):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp(srcs, jars):
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()


def build():
    """Compile if needed; return (classpath entries, seconds spent)."""
    srcs = sources()
    if not any(p.startswith(os.path.join(ROOT, "src")) for p in srcs):
        raise SystemExit("build: graft sources (src/main/scala) not found")
    jars = spark_jars()
    os.makedirs(BUILD, exist_ok=True)
    want = stamp(srcs, jars)
    stamp_file = os.path.join(BUILD, "stamp")
    cp = [CLASSES, os.path.join(jars, "*")]
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return cp, 0.0
    t0 = time.time()
    tmp = os.path.join(BUILD, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    jar_cp = os.pathsep.join(os.path.join(jars, j) for j in sorted(os.listdir(jars)) if j.endswith(".jar"))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + BUILD,
           "-cp", jar_cp, "scala.tools.nsc.Main", "-nowarn", "-usejavacp", "-d", tmp, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit("build: scalac failed")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(stamp_file, "w") as f:
        f.write(want)
    return cp, time.time() - t0


if __name__ == "__main__":
    _, secs = build()
    print(f"build: {'up to date' if secs == 0 else f'{secs:.1f} s'}")
