"""graft's benchmark: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: gwas_browse, gwas_ingest, curate_corpus (see README.md in
this directory). Run from the root of a checkout: the first run
compiles graft and the harness (perfbench/build.py); later runs reuse
the build. Each run works under its own scratch root
(.bench_scratch/...), removed afterwards, and leaves a full record
(every operation's wall-clock stamp and wall time, CPU calibration
readings, the generated inputs' hash, spans when traced) under
.bench_runs/. The last line of stdout is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

Exits non-zero, printing no result, when the run cannot complete.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("gwas_browse", "gwas_ingest", "curate_corpus")
JVM_TIMEOUT_S = 170
# Spark on JDK 17 outside spark-submit needs these opens.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def parse():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, choices=("0", "1"))
    p.add_argument("--inject-wrong", action="store_true",
                   help="corrupt every fifth expected answer (self-test)")
    return p.parse_args()


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def main():
    a = parse()
    try:
        cp = build.build()
    except (build.BuildError, subprocess.TimeoutExpired, OSError) as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}-{os.getpid()}"
    scratch = os.path.join(ROOT, ".bench_scratch", tag)
    record = os.path.join(ROOT, ".bench_runs",
                          time.strftime("%Y%m%dT%H%M%S") + "-" + tag + ".json")
    os.makedirs(os.path.join(scratch, "tmp"))
    # fixed heap and young generation: peak RSS then tracks what the
    # program retains, not the collector's heap-sizing decisions
    cmd = ["java", "-Xms2g", "-Xmx2g", "-Xmn512m", "-Xss8m",
           f"-Djava.io.tmpdir={scratch}/tmp",
           f"-Dspark.local.dir={scratch}/spark-local",
           f"-Dspark.sql.warehouse.dir={scratch}/warehouse",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--root", os.path.join(scratch, "run"),
            "--record", record]
    if a.inject_wrong:
        cmd.append("--inject-wrong")
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc()),
               SPARK_LOCAL_DIRS=f"{scratch}/spark-local")
    proc = subprocess.Popen(cmd, cwd=scratch, env=env, stdout=subprocess.PIPE,
                            start_new_session=True, text=True)
    last = None

    def expire(*_):
        raise TimeoutError()

    try:
        deadline = time.time() + JVM_TIMEOUT_S
        signal.signal(signal.SIGALRM, expire)
        signal.alarm(JVM_TIMEOUT_S)
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line.startswith("{"):
                last = line
            else:
                print(line, flush=True)
        proc.wait(timeout=max(1, deadline - time.time()))
        signal.alarm(0)
    except (TimeoutError, subprocess.TimeoutExpired):
        print(f"[perfbench] run exceeded {JVM_TIMEOUT_S}s; stopped", file=sys.stderr)
        return 3
    finally:
        signal.alarm(0)
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(scratch, ignore_errors=True)
    if proc.returncode != 0 or last is None:
        print(f"[perfbench] run failed (exit {proc.returncode})", file=sys.stderr)
        return 4
    result = json.loads(last)
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        print("[perfbench] malformed result line", file=sys.stderr)
        return 5
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
