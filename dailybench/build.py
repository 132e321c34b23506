"""Build file of the daily-run benchmark.

Compiles the program's sources (src/main/scala) together with the
benchmark's own (dailybench/src) into .bench_build/classes, using the
Scala compiler that ships among Spark's jars. A stamp of the sources
skips the compile when nothing changed.

    python3 dailybench/build.py      # prints the classpath to run with
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build")
# child processes running now, for a caller that must stop them
RUNNING = []
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "dailybench", "src")]


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        raise SystemExit("dailybench: Spark jars not found (set SPARK_HOME)")
    return jars


def sources():
    out = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise SystemExit(f"dailybench: missing source directory {os.path.relpath(d, ROOT)}")
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    """Compile if needed; return the run classpath."""
    jars_dir = spark_jars()
    jars = sorted(os.path.join(jars_dir, j) for j in os.listdir(jars_dir) if j.endswith(".jar"))
    srcs = sources()
    h = hashlib.sha256("\n".join(jars).encode())
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "classes.stamp")
    if not (os.path.isfile(stamp_file) and open(stamp_file).read() == stamp):
        os.makedirs(OUT, exist_ok=True)
        for old in glob.glob(classes + ".tmp*"):
            shutil.rmtree(old, ignore_errors=True)
        tmp = f"{classes}.tmp{os.getpid()}"
        os.makedirs(tmp)
        args_file = os.path.join(OUT, "scalac.args")
        with open(args_file, "w") as f:
            f.write("\n".join(srcs))
        compiler = [os.path.join(jars_dir, j) for j in os.listdir(jars_dir)
                    if j.startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
               "scala.tools.nsc.Main", "-nowarn", "-usejavacp:false",
               "-classpath", os.pathsep.join(jars), "-d", tmp, "@" + args_file]
        print(f"dailybench: compiling {len(srcs)} sources", file=sys.stderr, flush=True)
        compiler_proc = subprocess.Popen(cmd, stdout=sys.stderr, start_new_session=True)
        RUNNING.append(compiler_proc)
        code = compiler_proc.wait()
        RUNNING.remove(compiler_proc)
        if code != 0:
            raise SystemExit("dailybench: compile failed")
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(tmp, classes)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return os.pathsep.join([classes] + jars)


if __name__ == "__main__":
    print(build())
