#!/usr/bin/env python3
"""Build file of the benchmark.

Compiles the program (src/main/scala) and then the benchmark's own
sources (perfbench/src) with the Scala compiler that ships in the Spark
distribution, the same jars build.sbt compiles against. Outputs go under
<checkout>/.bench_build/classes; a build is skipped when a content hash
of its sources matches the last one.

Usage: python3 perfbench/build.py    (from the root of a checkout)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time


def spark_jars_dir(checkout):
    """The jar directory build.sbt compiles against (`unmanagedBase`), or
    $SPARK_HOME/jars."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(checkout, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        raise SystemExit("[perfbench] set SPARK_HOME: build.sbt names no unmanagedBase")
    return m.group(1)


def spark_jars(jars_dir):
    if not os.path.isdir(jars_dir):
        raise SystemExit(f"[perfbench] no Spark jars at {jars_dir}")
    return sorted(os.path.join(jars_dir, j) for j in os.listdir(jars_dir)
                  if j.endswith(".jar"))


def sources(root):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(paths, salt=""):
    h = hashlib.sha256(salt.encode())
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def compile_tree(name, srcs, out, classpath, jars, salt=""):
    """Compile `srcs` into `out` unless the stamp says they are unchanged."""
    stamp = out + ".stamp"
    key = digest(srcs, salt)
    if os.path.isdir(out) and os.path.exists(stamp) and open(stamp).read() == key:
        return False
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    # no JVM perf-data file in the system temp directory: the compiler
    # writes nothing outside `out`
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", os.pathsep.join(jars),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-encoding", "UTF-8",
           "-d", tmp]
    if classpath:
        cmd += ["-classpath", os.pathsep.join(classpath)]
    t0 = time.time()
    r = subprocess.run(cmd + srcs, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-5000:])
        raise SystemExit(f"[perfbench] compiling {name} failed")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp, "w") as f:
        f.write(key)
    print(f"[perfbench] built {name}: {len(srcs)} files in {time.time() - t0:.1f} s",
          file=sys.stderr)
    return True


def build(checkout):
    """Build program and benchmark; returns the runtime classpath."""
    main_src = os.path.join(checkout, "src", "main", "scala")
    bench_src = os.path.join(checkout, "perfbench", "src")
    if not os.path.isdir(main_src) or not sources(main_src):
        raise SystemExit(f"[perfbench] no program sources under {main_src}")
    classes = os.path.join(checkout, ".bench_build", "classes")
    os.makedirs(classes, exist_ok=True)
    main_out = os.path.join(classes, "main")
    bench_out = os.path.join(classes, "bench")
    jars_dir = spark_jars_dir(checkout)
    jars = spark_jars(jars_dir)
    main_srcs = sources(main_src)
    compile_tree("program", main_srcs, main_out, [], jars)
    # the program's hash salts the benchmark's: a new program rebuilds both
    compile_tree("benchmark", sources(bench_src), bench_out, [main_out], jars,
                 salt=digest(main_srcs))
    return [main_out, bench_out, os.path.join(jars_dir, "*")]


if __name__ == "__main__":
    build(os.getcwd())
