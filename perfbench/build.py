"""Build file of the benchmark: compiles the program and the benchmark harness.

The program's sources (``src/main/scala``, ``src/main/resources``) and the
harness's (``perfbench/src``) are compiled together with the Scala compiler
that ships in Spark's jar directory, into ``<build>/classes``. The build dir is
``$CARGO_TARGET_DIR`` when set, else ``.bench_build``, relative to the checkout
root. A stamp of every source file's path and content makes a second build of
the same tree a no-op.

    python3 perfbench/build.py        # build (or confirm the stamp) and exit
"""
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit("[perfbench] no Spark jar directory with a Scala compiler "
                         "(set SPARK_HOME)")
    return jars


def sources():
    scala = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    res = sorted(p for p in glob.glob(os.path.join(ROOT, "src/main/resources/**"), recursive=True)
                 if os.path.isfile(p))
    if not scala or not bench:
        raise SystemExit("[perfbench] program or benchmark sources missing under "
                         f"{ROOT}; run from a full checkout")
    return scala + bench, res


def stamp(files, jars):
    h = hashlib.sha256()
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()


def program_hash():
    """Content hash of the program's sources alone (recorded with every run)."""
    h = hashlib.sha256()
    for p in sorted(glob.glob(os.path.join(ROOT, "src/main/**/*"), recursive=True)):
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def generator_hash():
    """Content hash of the table generator, naming its cached tables."""
    with open(os.path.join(HERE, "src/perfbench/TableGen.scala"), "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:16]


def build():
    """Compile if the sources changed; return the classes dir and the jar dir."""
    jars = spark_jars()
    files, res = sources()
    out = build_dir()
    os.makedirs(out, exist_ok=True)
    classes = os.path.join(out, "classes")
    want = stamp(files + res, jars)
    with open(os.path.join(out, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = os.path.join(classes, ".stamp")
        if os.path.exists(stamp_file) and open(stamp_file).read() == want:
            return classes, jars
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        argfile = os.path.join(out, "scalac.args")
        with open(argfile, "w") as f:
            f.write("\n".join(files))
        cp = os.path.join(jars, "*")
        print(f"[perfbench] compiling {len(files)} sources", file=sys.stderr)
        r = subprocess.run(
            ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
             "-release", "17", "-d", tmp, "-classpath", cp, "@" + argfile],
            stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0:
            raise SystemExit(f"[perfbench] compile failed (exit {r.returncode})")
        res_root = os.path.join(ROOT, "src/main/resources")
        for p in res:
            dst = os.path.join(tmp, os.path.relpath(p, res_root))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(p, dst)
        with open(os.path.join(tmp, ".stamp"), "w") as f:
            f.write(want)
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(tmp, classes)
    return classes, jars


if __name__ == "__main__":
    print(build()[0])
