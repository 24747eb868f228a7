"""Benchmark entry point.  Run from the repository root:

    python3 perfbench/run.py --workload assign|textops --seed N
                             --seconds S --trace 0|1

1. Builds the page pool once per checkout (a Spark subprocess).
2. Generates the workload's inputs from ``--seed`` (no JVM).
3. Starts the measured process (``loop.py``) on those files only, waits
   for it, and relays its output.  The last stdout line is the result
   JSON: ``correct``, ``attempted``, ``failed`` and ``metrics``.

Everything it writes goes under ``perfbench/.work`` in the checkout.
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
WORK = os.path.join(HERE, ".work")
LOOP_TIMEOUT_S = 175


def _env() -> dict:
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=ROOT,  # Spark's Python workers import gips_spark from here
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    return env


def _run(cmd: list[str], timeout: float) -> subprocess.CompletedProcess:
    """Run ``cmd`` in its own process group and wait until every process
    of the group (the JVM and Python workers included) has ended."""
    p = subprocess.Popen(cmd, cwd=ROOT, env=_env(), stdout=subprocess.PIPE,
                         text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
        rc = p.returncode
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        out, _ = p.communicate()
        rc = -9
    _end_group(p.pid)
    return subprocess.CompletedProcess(cmd, rc, out)


def _end_group(pgid: int, grace_s: float = 10.0) -> None:
    """Let the group's leftovers (the JVM exits when its Python parent
    does) end on their own, then kill what remains and wait for it."""
    deadline = time.monotonic() + grace_s
    killed = False
    while True:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        if time.monotonic() > deadline:
            if killed:
                return  # only unreaped zombies can be left
            os.killpg(pgid, signal.SIGKILL)
            killed, deadline = True, time.monotonic() + 5.0
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=("assign", "textops"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "gips_spark")):
        print("perfbench: no gips_spark package next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import inputs

    pool = os.path.join(WORK, "pool")
    if not os.path.isdir(pool):
        p = _run([sys.executable, os.path.join(HERE, "inputs.py"), "pool", pool], 600)
        if p.returncode != 0 or not os.path.isdir(pool):
            print("perfbench: page pool build failed", file=sys.stderr)
            return 1

    data = os.path.join(WORK, "inputs", str(args.seed))
    if not os.path.exists(os.path.join(data, inputs.DONE)):
        inputs.prepare(args.seed, pool, data)

    run_work = os.path.join(WORK, "run")
    shutil.rmtree(run_work, ignore_errors=True)
    os.makedirs(run_work)
    cores = min(4, len(os.sched_getaffinity(0)))
    p = _run([sys.executable, os.path.join(HERE, "loop.py"), "--workload", args.workload,
              "--inputs", data, "--work", run_work, "--seconds", str(args.seconds),
              "--trace", str(args.trace), "--cores", str(cores)], LOOP_TIMEOUT_S)
    shutil.rmtree(run_work, ignore_errors=True)
    lines = [ln for ln in (p.stdout or "").splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or not lines[-1].startswith('{"correct"'):
        print(f"perfbench: measured process failed (exit {p.returncode})", file=sys.stderr)
        return 1
    print("\n".join(lines[-2:]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
