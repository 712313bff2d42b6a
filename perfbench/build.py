"""Build file of the benchmark package.

Compiles graft's main sources (``src/main/scala`` at the checkout root)
together with the benchmark's own sources (``perfbench/src``) into
``.bench_build/perfbench/classes`` with the Scala compiler that ships in
the Spark distribution's jar directory (``$SPARK_HOME/jars``, else the
``unmanagedBase`` the repository's build.sbt compiles against). No
build tool, no network, no writes outside the checkout. A stamp keyed
on every source file's bytes skips the compile when nothing changed.

    python3 perfbench/build.py          # build (or confirm up to date)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "stamp")
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
GRAFT_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")


class BuildError(Exception):
    pass


def spark_jars():
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(ROOT, "build.sbt")
        m = os.path.exists(sbt) and re.search(
            r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if not m:
            raise BuildError("set SPARK_HOME: no unmanagedBase in build.sbt")
        jars = m.group(1)
    if not os.path.isdir(jars):
        raise BuildError(f"Spark jar directory not found: {jars}")
    return jars


def _files(top, suffix):
    found = []
    for d, _, names in os.walk(top):
        found += [os.path.join(d, n) for n in names if n.endswith(suffix)]
    return sorted(found)


def sources():
    if not os.path.isdir(os.path.join(GRAFT_SRC, "graft")):
        raise BuildError(f"graft sources not found under {GRAFT_SRC}")
    srcs = _files(GRAFT_SRC, ".scala") + _files(BENCH_SRC, ".scala")
    if not srcs:
        raise BuildError("no Scala sources")
    return srcs


def _digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def build(log=sys.stderr):
    """Compile if any source changed; return the runtime classpath."""
    srcs = sources()
    resources = _files(GRAFT_RES, "") if os.path.isdir(GRAFT_RES) else []
    digest = _digest(srcs + resources)
    if os.path.exists(STAMP) and open(STAMP).read().strip() == digest:
        return classpath()
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(CLASSES)
    args_file = os.path.join(OUT, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp",
           os.path.join(spark_jars(), "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", CLASSES, "@" + args_file]
    print(f"[perfbench] compiling {len(srcs)} sources", file=log, flush=True)
    done = subprocess.run(cmd, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, timeout=800)
    if done.returncode != 0:
        sys.stderr.write(done.stdout.decode(errors="replace")[-4000:])
        raise BuildError("scalac failed")
    for r in resources:
        dst = os.path.join(CLASSES, os.path.relpath(r, GRAFT_RES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(r, dst)
    with open(STAMP, "w") as f:
        f.write(digest + "\n")
    return classpath()


if __name__ == "__main__":
    try:
        build()
    except (BuildError, subprocess.TimeoutExpired) as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
