#!/usr/bin/env python3
"""Build file of the layer benchmark.

Compiles the library (``src/main/scala`` of the checkout) and the benchmark
(``layerbench/src``) with the Scala compiler that ships among the Spark jars
the library's ``build.sbt`` names, then runs the benchmark's self-test.
Outputs go to ``.bench_build/layerbench/`` and are reused while the sources
are unchanged.

    python3 layerbench/build.py          # build (and self-test) if needed
    python3 layerbench/build.py --test   # run the self-test again
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "layerbench")


class BuildError(Exception):
    pass


# Child processes running now, so a caller can stop them on a signal.
CHILDREN = set()


def call(cmd, **kw):
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    CHILDREN.add(proc)
    try:
        return proc.wait()
    finally:
        CHILDREN.discard(proc)


def spark_jars_dir():
    """The jar directory the library's build.sbt compiles against
    (``unmanagedBase``), else ``$SPARK_HOME/jars``."""
    build_sbt = os.path.join(ROOT, "build.sbt")
    candidates = []
    if os.path.isfile(build_sbt):
        with open(build_sbt, encoding="utf-8") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            candidates.append(m.group(1))
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for d in candidates:
        if os.path.isdir(d) and any(j.endswith(".jar") for j in os.listdir(d)):
            return d
    raise BuildError("no Spark jar directory found (build.sbt unmanagedBase "
                     "or $SPARK_HOME/jars)")


def sources(root):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def jars_classpath(jars):
    return ":".join(os.path.join(jars, j)
                    for j in sorted(os.listdir(jars)) if j.endswith(".jar"))


def scalac(jars, classpath, files, dest, log):
    """Compile into a fresh directory next to `dest`, then rename it into
    place, so an interrupted build never leaves a half-filled output."""
    os.makedirs(os.path.dirname(dest), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=".tmp-", dir=os.path.dirname(dest))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + tmp,
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", classpath] + files
    with open(log, "w") as lf:
        rc = call(cmd, stdout=lf, stderr=subprocess.STDOUT)
    if rc != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        with open(log) as lf:
            tail = lf.read()[-3000:]
        raise BuildError(f"scalac failed ({rc}) for {dest}:\n{tail}")
    if os.path.isdir(dest):
        shutil.rmtree(tmp, ignore_errors=True)
    else:
        os.rename(tmp, dest)


def build(run_self_test=False):
    """Return the classpath (bench classes, library classes, Spark jars)."""
    main_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main_src):
        raise BuildError(f"library sources not found at {main_src}")
    jars = spark_jars_dir()
    jcp = jars_classpath(jars)
    main_files = sources(main_src)
    bench_files = sources(os.path.join(HERE, "src"))
    if not main_files or not bench_files:
        raise BuildError("no Scala sources to compile")
    main_key = digest(main_files, jars)
    main_out = os.path.join(OUT, "main-" + main_key)
    if not os.path.isdir(main_out):
        scalac(jars, jcp, main_files, main_out, main_out + ".log")
    bench_key = digest(bench_files, main_key)
    bench_out = os.path.join(OUT, "bench-" + bench_key)
    if not os.path.isdir(bench_out):
        scalac(jars, main_out + ":" + jcp, bench_files, bench_out,
               bench_out + ".log")
    cp = bench_out + ":" + main_out + ":" + jcp
    stamp = bench_out + ".selftest-ok"
    if run_self_test or not os.path.exists(stamp):
        rc = call(["java", "-XX:-UsePerfData", "-Xmx512m",
                   "--add-opens=java.base/java.nio=ALL-UNNAMED",
                   "-cp", cp, "layerbench.SelfTest"], stdout=sys.stderr)
        if rc != 0:
            raise BuildError("layerbench self-test failed")
        open(stamp, "w").close()
    return cp


if __name__ == "__main__":
    try:
        build(run_self_test="--test" in sys.argv[1:])
    except BuildError as e:
        print(f"build: {e}", file=sys.stderr)
        sys.exit(2)
    print("build: ok", file=sys.stderr)
