#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload olap_sf01 --seed 1 --seconds 10 --trace 0

Run from the repository root. The measurement runs in a child process
(``perfbench/bench.py``) in its own process group, with its temporary
files, Spark local dirs and working directory under ``.perfbench/`` in
the repository root. When the child has exited, every process left in
its group (the Spark JVM and its Python workers) is killed and waited
for, and those scratch directories are removed. The last line of standard output is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics of BENCHMARK.json with ``--trace 0``, the per-layer
metrics with ``--trace 1``. The lines before it print every reported
metric by name and unit. Each run also leaves a self-describing record
in ``.perfbench/runs/``; the traced run writes its spans next to it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

CHILD_TIMEOUT_S = 170
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _stop_group(pgid: int) -> None:
    """Kill every process in ``pgid`` and return when none is left."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.02)
    raise RuntimeError(f"processes of group {pgid} survived SIGKILL")


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "dpu_olap_spark")):
        print("perfbench: the engine package dpu_olap_spark is not here", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench")
    tmp = os.path.join(work, "tmp")
    cwd = os.path.join(work, "cwd")
    scratch = (tmp, cwd, os.path.join(work, "spark-local"))
    for d in scratch:
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    result = os.path.join(work, f"result-{os.getpid()}.json")
    env = {
        **os.environ,
        "PYTHONPATH": ROOT + os.pathsep + os.environ.get("PYTHONPATH", ""),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count())),
        "PYSPARK_PYTHON": sys.executable,
        # The driver JVM starts with 3 GiB of heap committed and touched,
        # about its peak use in a run, so the timed window does not pay
        # for growing the heap. Without this, on a shared 4-core box, the
        # first timed pass ran up to 35% slower than the third and ten
        # runs of the same code spread by up to 27% (IQR over median);
        # with it, by 7-11%.
        "PYSPARK_SUBMIT_ARGS": "--driver-java-options '-Xms3g -XX:+AlwaysPreTouch' pyspark-shell",
    }
    cmd = [
        sys.executable, "-m", "perfbench.bench",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--launched-at", repr(time.time()), "--result", result,
        "--root", ROOT, "--work", work,
    ]
    proc = subprocess.Popen(
        cmd, cwd=cwd, env=env, stdout=sys.stderr, start_new_session=True
    )
    try:
        code = proc.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
        print(f"perfbench: run exceeded {CHILD_TIMEOUT_S} s", file=sys.stderr)
    finally:
        _stop_group(proc.pid)
        proc.wait()
        for d in scratch:
            shutil.rmtree(d, ignore_errors=True)
    if code != 0 or not os.path.exists(result):
        print(f"perfbench: run failed (exit {code})", file=sys.stderr)
        return 1
    with open(result) as fh:
        out = json.load(fh)
    os.remove(result)

    sys.path.insert(0, ROOT)
    from perfbench.metrics import report_unit

    for name, value in sorted(out["report"].items()):
        unit = report_unit(name)
        print(f"{args.workload:14s} {name:24s} {value:14.6g} {unit}")
    for name, err in out["checks"].items():
        if err is not None:
            print(f"{args.workload:14s} check {name}: {err}")
    print(json.dumps({k: out[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
