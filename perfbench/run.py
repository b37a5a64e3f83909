"""Warm-state benchmark of the KG engine.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 12 --trace 0

One Spark session per run (local[nproc]). Set-up starts the session,
prepares the workload's inputs and runs the untimed warm-up passes, the
first of which makes the once-per-run output checks. Then timed passes
run closed loop, one op at a time, while one more pass is expected to
end within --seconds (at least two). Stdout ends with a summary line
and then the result line: the end-to-end metrics (--trace 0) or the
per-layer metrics of a traced run (--trace 1), which also writes Spark's
event log and records spans around calls into the program. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
from pathlib import Path

T_START = time.perf_counter()
ROOT = Path(__file__).resolve().parent.parent
# run as a script, sys.path[0] is perfbench/ itself: import the package
# from the checkout root instead, so its module names shadow nothing
if sys.path and Path(sys.path[0]).resolve() == ROOT / "perfbench":
    sys.path[0] = str(ROOT)
DRIVER_MEM = "3g"


def _parse(argv):
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _pin_environment(work: Path, cpus: int) -> dict[str, str]:
    """Everything the run writes stays under `work`; workers import the
    program from the checkout root whatever the launch directory."""
    pinned = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": str(work / "local"),
        "TMPDIR": str(work / "tmp"),
        # spark-submit's launcher JVM would write its perf file to /tmp
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p),
    }
    for d in ("local", "tmp", "warehouse", "events"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ.update(pinned)
    os.environ.pop("SPARK_GRAFT_NO_WORKER_WARMUP", None)
    return pinned


def _stop_spark() -> None:
    """Stop the session, shut the JVM down and wait until every process
    the run started (JVM, Python worker daemon and workers) has ended.
    Spark's event log is complete once this returns."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    from perfbench import procstat

    started = set(procstat.tree_pids(os.getpid())) - {os.getpid()}
    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is not None:
        SparkContext._gateway = None
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while started and time.monotonic() < deadline:
        started = {p for p in started if _alive(p)}
        time.sleep(0.1)
    for pid in started:
        os.kill(pid, signal.SIGKILL)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def main(argv=None) -> int:
    args = _parse(argv)
    if not (ROOT / "__spark_entry__.py").is_file() or not (
            ROOT / "gliner_transbronchialbiopsy_spark").is_dir():
        print(f"perfbench: no program sources at {ROOT}", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    work = ROOT / ".perfbench_work" / f"run-{os.getpid()}"
    pinned = _pin_environment(work, cpus)

    from perfbench import measure

    try:
        raw = measure.run(args, work, cpus, T_START)
        _stop_spark()
        out = measure.result(raw, work / "events")
    finally:
        _stop_spark()
        shutil.rmtree(work, ignore_errors=True)
        try:
            (ROOT / ".perfbench_work").rmdir()
        except OSError:
            pass  # another run still uses it
    details = measure.summary(raw)
    details["environment"] = {k: v for k, v in pinned.items() if k != "PYTHONPATH"}
    print(json.dumps(details))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
