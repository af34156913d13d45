#!/usr/bin/env python3
"""Service benchmark of the graft engine.

Run from the repository root:

    python3 perfbench/run.py --workload analyze-interactive --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --self-test

The first run compiles the engine (src/main/scala) and the benchmark
(perfbench/src) with the Scala compiler that ships in Spark's jars
directory, into .bench_build/perfbench; later runs reuse the classes
until a source file changes. The harness then runs in one JVM and prints,
as its last stdout line, one JSON object with `correct`, `attempted`,
`failed` and `metrics`. Exit code: 0 when every output check passed,
non-zero otherwise (including when the engine's sources are missing).
"""
import hashlib
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
MAIN_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")
RUN_TIMEOUT_S = 170


def spark_jars():
    """$SPARK_HOME/jars, else the jars of the spark-submit found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    return os.path.join(home or "", "jars")


SPARK_JARS = spark_jars()

# Spark 4 on JDK 17 outside spark-submit needs these (the repo's build.sbt
# passes the same list to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def sources(root):
    found = []
    for d, _, files in os.walk(root):
        found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def compile_tree(name, srcs, classpath, extra_stamp=""):
    """Compile `srcs` into OUT/<name> unless the stamp says they are current."""
    dest = os.path.join(OUT, name)
    stamp_file = dest + ".stamp"
    stamp = digest(srcs, extra_stamp)
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return dest, stamp
    if not srcs:
        sys.exit(f"perfbench: no sources for {name}")
    subprocess.run(["rm", "-rf", dest], check=True)
    os.makedirs(dest)
    args_file = dest + ".args"
    with open(args_file, "w") as fh:
        fh.write("\n".join(srcs))
    t0 = time.time()
    print(f"perfbench: compiling {len(srcs)} files of {name}", file=sys.stderr, flush=True)
    res = subprocess.run(
        ["java", "-Xss16m", "-Xmx3g", "-cp", os.path.join(SPARK_JARS, "*"),
         "scala.tools.nsc.Main", "-nowarn", "-d", dest, "-classpath", classpath, "@" + args_file])
    if res.returncode != 0:
        sys.exit(f"perfbench: compiling {name} failed")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    print(f"perfbench: compiled {name} in {time.time() - t0:.0f}s", file=sys.stderr, flush=True)
    return dest, stamp


def build():
    if not os.path.isdir(SPARK_JARS):
        sys.exit(f"perfbench: Spark jars not found at {SPARK_JARS}; set SPARK_HOME")
    if not os.path.isdir(MAIN_SRC):
        sys.exit("perfbench: engine sources (src/main/scala) not found; run from the repository root")
    jars = os.path.join(SPARK_JARS, "*")
    main_classes, main_stamp = compile_tree("engine-classes", sources(MAIN_SRC), jars)
    bench_classes, _ = compile_tree("bench-classes", sources(BENCH_SRC),
                                    os.pathsep.join([main_classes, jars]), main_stamp)
    return os.pathsep.join([bench_classes, main_classes, MAIN_RES, jars])


def main(argv):
    classpath = build()
    work = os.path.join(OUT, "work")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    main_class = "perfbench.SelfTest" if argv[:1] == ["--self-test"] else "perfbench.Main"
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData", "-Xss16m",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", f"-Dperfbench.work={work}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, main_class] + [a for a in argv if a != "--self-test"])
    proc = subprocess.Popen(cmd, cwd=ROOT)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit(f"perfbench: run exceeded {RUN_TIMEOUT_S}s")
    return code


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
