"""Benchmark launcher: one run of one workload in a fresh driver process.

    python3 perfbench/run.py --workload taxi_etl --seed 1 --seconds 30 --trace 0

Run from the root of a checkout.  The launcher makes a per-run scratch
directory inside the checkout, points every place Spark or the program
writes (Spark local dirs, the temp dir behind the stage cache, the
generated inputs, sinks and checkpoints) into it, starts
``perfbench/worker.py`` in its own process group, stops that group (the
driver JVM and the Python workers included) when the worker ends or runs
over its time limit, and removes the scratch directory.  The worker's
last stdout line, one JSON object, is the result; it is printed only when
the worker exits cleanly.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("taxi_etl", "corpus_curation")
#: the whole run, set-up and checks included, must end well inside 180 s
TIME_LIMIT_S = 170.0
#: the program's own JVM settings (heap and JIT as ``session.get_spark``
#: leaves them); only the JVM's shared perf-data file in /tmp is turned off
JAVA_OPTS = "-XX:-UsePerfData"


def _group_alive(pgid: int) -> bool:
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def _stop_group(pgid: int) -> None:
    """SIGTERM, then SIGKILL, the worker's process group; wait until every
    member (the JVM and Python workers are grandchildren) has ended."""
    for sig, grace in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + grace
        while time.monotonic() < deadline:
            if not _group_alive(pgid):
                return
            time.sleep(0.1)


def _write_spark_conf(conf_dir: str, tmp: str) -> None:
    """Spark defaults for every run, traced or not: keep the whole run in
    the status store (the traced run reads it at exit), no console
    progress bars, JVM temp files and the warehouse inside the run dir."""
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as f:
        f.write(f"""spark.ui.retainedJobs 1000000
spark.ui.retainedStages 1000000
spark.ui.showConsoleProgress false
spark.sql.warehouse.dir {os.path.join(tmp, "warehouse")}
spark.driver.extraJavaOptions -Djava.io.tmpdir={os.path.join(tmp, "tmp")} {JAVA_OPTS}
""")
    with open(os.path.join(conf_dir, "log4j2.properties"), "w") as f:
        f.write("rootLogger.level = error\n"
                "rootLogger.appenderRef.stderr.ref = console\n"
                "appender.console.type = Console\n"
                "appender.console.name = console\n"
                "appender.console.target = SYSTEM_ERR\n"
                "appender.console.layout.type = PatternLayout\n"
                "appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n\n")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "newyork_taxi_etl_spark", "registry.py")):
        print("perfbench: the program (newyork_taxi_etl_spark/) is not in this "
              "checkout", file=sys.stderr)
        return 2

    scratch_root = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(scratch_root, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=scratch_root)
    env = dict(os.environ)
    env.update({
        # the package must import in Spark's Python workers too, not only
        # in the driver (pandas/Python UDFs pickle functions by module path)
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "TMPDIR": os.path.join(tmp, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        "PYTHONHASHSEED": "0",
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    for k in ("SPARK_GRAFT_SF_DIR", "SPARK_DRIVER_MEMORY"):
        env.pop(k, None)
    for d in ("tmp", "spark-local", "conf"):
        os.makedirs(os.path.join(tmp, d))
    _write_spark_conf(os.path.join(tmp, "conf"), tmp)
    env["SPARK_CONF_DIR"] = os.path.join(tmp, "conf")

    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--scratch", tmp, "--start", repr(time.time())]
    proc = subprocess.Popen(cmd, cwd=tmp, env=env, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    # a launcher stopped from outside still stops its group (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        out, _ = proc.communicate(timeout=TIME_LIMIT_S)
    except subprocess.TimeoutExpired:
        _stop_group(proc.pid)
        proc.communicate()
        print(f"perfbench: {args.workload} ran over {TIME_LIMIT_S:.0f} s",
              file=sys.stderr)
        return 3
    finally:
        _stop_group(proc.pid)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(scratch_root)
        except OSError:
            pass  # another run's scratch dir is still there

    lines = out.rstrip("\n").split("\n")
    sys.stdout.write("\n".join(lines[:-1]) + ("\n" if len(lines) > 1 else ""))
    if proc.returncode != 0:
        print(f"perfbench: worker exited with {proc.returncode}", file=sys.stderr)
        return proc.returncode or 1
    try:
        result = json.loads(lines[-1])
    except json.JSONDecodeError:
        print("perfbench: worker printed no result", file=sys.stderr)
        return 1
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
