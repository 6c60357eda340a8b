"""Builds the program and the benchmark JVM from source with the Scala
compiler that ships in Spark's jars; no sbt, no network.

    python3 perfbench/build.py        # from the repository root

Outputs go to `.bench_build/` (or `$CARGO_TARGET_DIR` when set): the
program's `src/main/scala` to `program/`, the benchmark's
`perfbench/scala` to `bench/`. Each is rebuilt only when its sources
change (a hash of paths and contents is kept next to the classes).
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def sources(top):
    out = []
    for d, _, files in os.walk(top):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def java_cp(*extra):
    return os.pathsep.join(list(extra) + [os.path.join(SPARK_JARS, "*")])


def compile_tree(src_top, out, classpath, stamp_extra=""):
    files = sources(src_top)
    if not files:
        raise SystemExit(f"build: no Scala sources under {src_top}")
    stamp = digest(files) + stamp_extra
    stamp_file = out + ".stamp"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return stamp
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    args_file = out + ".args"
    with open(args_file, "w") as f:
        f.write("\n".join(files) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.dirname(out)}", "-cp", java_cp(),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp",
           "-classpath", os.pathsep.join(classpath + [os.path.join(SPARK_JARS, "*")]),
           "-d", out, "@" + args_file]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"build: compiling {src_top} failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return stamp


def build():
    """Compiles both trees; returns the JVM classpath."""
    d = build_dir()
    os.makedirs(d, exist_ok=True)
    program = os.path.join(d, "program")
    bench = os.path.join(d, "bench")
    stamp = compile_tree(os.path.join(ROOT, "src", "main", "scala"), program, [])
    compile_tree(os.path.join(HERE, "scala"), bench, [program], stamp)
    return java_cp(bench, program)


if __name__ == "__main__":
    print(build())
