"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload store-slabs --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Pins the Spark environment (cores, driver
memory, private local/temp dirs), starts ``worker.py`` in its own process
group under a deadline (its last stdout line is the result JSON), then
stops every process the run left behind and deletes the run's scratch
directory. Work files live under ``.bench_work/`` in the checkout.
Exits non-zero without a result line when the engine package is missing,
an output is wrong, or the run overruns.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEADLINE_S = 170.0


def driver_mem() -> str:
    """A quarter of physical memory, clamped to 2..4 GiB."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(line for line in f if line.startswith("MemTotal:")).split()[1])
    return f"{min(4, max(2, total_kb // (4 * 1024 * 1024)))}g"


def group_pids(pgid: int) -> list[int]:
    out = []
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            out.append(int(p))
    return out


def stop_group(pgid: int) -> None:
    """SIGTERM, then SIGKILL, the process group; wait until it is empty."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if not group_pids(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        end = time.monotonic() + grace
        while group_pids(pgid) and time.monotonic() < end:
            time.sleep(0.1)


def main() -> int:
    t0 = time.monotonic()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "mandoline_hbase_spark", "__init__.py")):
        print("perfbench: no mandoline_hbase_spark package next to perfbench/", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".bench_work")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": driver_mem(),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "PYTHONHASHSEED": "0",
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, HERE, env.get("PYTHONPATH")])),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--t0", repr(t0)]
    # the worker writes straight to our stdout; it prints the result line
    # last, so a run killed at the deadline leaves no result
    sys.stdout.flush()
    proc = subprocess.Popen(cmd, cwd=work, env=env, start_new_session=True)
    try:
        code = proc.wait(timeout=max(10.0, DEADLINE_S - (time.monotonic() - t0)))
    except subprocess.TimeoutExpired:
        code = 3
        print(f"perfbench: run exceeded {DEADLINE_S:.0f} s", file=sys.stderr)
    finally:
        stop_group(proc.pid)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
