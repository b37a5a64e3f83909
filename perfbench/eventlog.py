"""Roll up a Spark event log and attribute its work to timed spans.

Spark 4.1 writes one directory per application,
`eventlog_v2_<app>/events_<n>_<app>[.zstd]`: JSON lines, rolled into
numbered files and zstd-compressed unless `spark.eventLog.compress=false`.

Job groups are not recorded in the job properties, so work is
attributed by time: a task belongs to the span whose [start, end] holds
its launch time. The benchmark runs one op at a time, so spans never
overlap.
"""

from __future__ import annotations

import json
import re
from pathlib import Path

import pyarrow as pa

_CODECS = {".zstd": "zstd"}
_ROLLED = re.compile(r"^events_(\d+)_")
PY_BYTES = ("data sent to Python workers", "data returned from Python workers")
FIELDS = ("tasks", "jobs", "exec_cpu_s", "shuffle_bytes", "input_bytes",
          "output_bytes", "python_bytes")


def log_files(log_dir: str | Path) -> list[Path]:
    """Event files of every application log under `log_dir`, in write
    order."""
    out: list[Path] = []
    for app in sorted(Path(log_dir).glob("eventlog_v2_*")):
        parts = [p for p in app.iterdir() if _ROLLED.match(p.name)]
        out.extend(sorted(parts, key=lambda p: int(_ROLLED.match(p.name)[1])))
    return out


def read_lines(path: Path) -> list[str]:
    if path.suffix and path.suffix not in _CODECS:
        raise ValueError(f"unsupported event log codec: {path.name}")
    with pa.input_stream(str(path), compression=_CODECS.get(path.suffix)) as fh:
        return fh.read().decode("utf-8").splitlines()


def read_events(log_dir: str | Path) -> list[dict]:
    return [json.loads(line) for path in log_files(log_dir)
            for line in read_lines(path)]


def _accum(info: dict, names) -> int:
    total = 0
    for a in info.get("Accumulables", ()):
        if a.get("Name") in names:
            total += int(a.get("Update") or 0)
    return total


def work_items(events: list[dict]) -> list[tuple[float, dict]]:
    """(time in epoch seconds, counters) for every finished task and
    every started job."""
    items = []
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            items.append((e["Submission Time"] / 1000.0, {"jobs": 1}))
        elif kind == "SparkListenerTaskEnd":
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            items.append((info["Launch Time"] / 1000.0, {
                "tasks": 1,
                "exec_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                "shuffle_bytes":
                    m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                "input_bytes": m.get("Input Metrics", {}).get("Bytes Read", 0),
                "output_bytes": m.get("Output Metrics", {}).get("Bytes Written", 0),
                "python_bytes": _accum(info, PY_BYTES),
            }))
    return items


def attribute(items, spans: dict[str, tuple[float, float]]) -> dict[str, dict]:
    """Sum work items into the span whose [start, end] holds their time;
    items outside every span are dropped."""
    out = {k: dict.fromkeys(FIELDS, 0) for k in spans}
    ordered = sorted(spans.items(), key=lambda kv: kv[1][0])
    for t, counters in items:
        for key, (start, end) in ordered:
            if start <= t <= end:
                for f, v in counters.items():
                    out[key][f] += v
                break
    return out
