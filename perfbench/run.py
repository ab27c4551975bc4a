#!/usr/bin/env python3
"""Benchmark entry point. From the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from source (perfbench/build.py),
then runs one workload in a fresh JVM whose heap is fixed (-Xms = -Xmx),
on a `local[nproc]` session, inside a fresh directory under
`.perfbench_tmp/` that is deleted afterwards. The last line printed is the
result: {"correct", "attempted", "failed", "metrics"}; the line before it
records nproc, the JVM settings and the load average. Exits non-zero, and
prints no result, if the build, the run or the result's shape fails.

    --smoke     tiny inputs, only to check that everything is emitted
    --corrupt   serve stale-dt lookups, so the lookup check must fail
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402

WORKLOADS = ["churn_daily", "serve_mix", "registry_mix", "stream_index"]
HEAP = "3g"
# the --add-opens set Spark's launcher passes on JDK 17
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
TIMEOUT_S = 170

# a SIGTERM unwinds like an exception, so that `run` stops the JVM and
# deletes the run's directory on the way out (also under steady.py/smoke.py)
signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run(workload, seed, seconds, trace, extra=()):
    """Runs one workload; returns (rc, stdout lines)."""
    classes = build.build()
    tmp_root = build.ROOT / ".perfbench_tmp"
    tmp_root.mkdir(exist_ok=True)
    work = Path(tempfile.mkdtemp(prefix="run-", dir=tmp_root))
    try:
        (work / "tmp").mkdir()
        cmd = ["java"]
        for p in OPENS:
            cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
        # -XX:-UsePerfData: no hsperfdata file outside the checkout
        cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
                f"-Djava.io.tmpdir={work / 'tmp'}", f"-Dderby.system.home={work}",
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                "-cp", f"{classes}:{build.spark_jars()}/*", "graft.perfbench.Main",
                "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                "--trace", str(trace), "--work", str(work), "--cores", str(nproc()),
                *extra]
        # cwd=work: whatever Spark writes relative to the working directory
        # (derby.log, spark-warehouse) lands in the run's directory too;
        # SPARK_LOCAL_DIRS would otherwise override spark.local.dir
        env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "local"))
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, text=True)
        try:
            out, _ = proc.communicate(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"perfbench: run exceeded {TIMEOUT_S} s", file=sys.stderr)
            return 1, []
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
        return proc.returncode, out.splitlines()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            tmp_root.rmdir()
        except OSError:
            pass


def valid(line):
    try:
        r = json.loads(line)
    except ValueError:
        return False
    return (isinstance(r, dict) and set(r) == {"correct", "attempted", "failed", "metrics"}
            and isinstance(r["attempted"], int) and r["attempted"] >= 1
            and all(isinstance(m.get("value"), (int, float)) for m in r["metrics"].values()))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--corrupt", action="store_true")
    a = ap.parse_args()
    extra = (["--smoke"] if a.smoke else []) + (["--corrupt"] if a.corrupt else [])
    rc, lines = run(a.workload, a.seed, a.seconds, a.trace, extra)
    if rc != 0 or not lines or not valid(lines[-1]):
        print(f"perfbench: run failed (exit {rc}, no valid result line)", file=sys.stderr)
        return 1
    print("\n".join(lines), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
