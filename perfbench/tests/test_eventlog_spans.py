"""Self-tests: event-log rollup (rolled, compressed and plain files),
span-to-work attribution and the span recorder."""

import json
import os

import pyarrow as pa
import pytest

from perfbench import eventlog
from perfbench.spans import Tracer


def _task(launch_ms, cpu_ns=0, shuffle=0, read=0, written=0, py=()):
    return {
        "Event": "SparkListenerTaskEnd",
        "Task Info": {
            "Launch Time": launch_ms,
            "Accumulables": [{"Name": n, "Update": str(v)} for n, v in py],
        },
        "Task Metrics": {
            "Executor CPU Time": cpu_ns,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Input Metrics": {"Bytes Read": read},
            "Output Metrics": {"Bytes Written": written},
        },
    }


def _job(submit_ms):
    return {"Event": "SparkListenerJobStart", "Submission Time": submit_ms}


def _write(path, events, codec=None):
    data = ("\n".join(json.dumps(e) for e in events) + "\n").encode()
    with pa.output_stream(str(path), compression=codec) as fh:
        fh.write(data)


def test_rolled_compressed_and_plain_files(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    # rolled files are read in numeric order, not name order
    _write(app / "events_10_local-1.zstd", [_task(3000, cpu_ns=3e9)], "zstd")
    _write(app / "events_2_local-1", [_job(1000), _task(1000, cpu_ns=1e9)])
    (app / "appstatus_local-1").write_text("")
    (app / ".appstatus_local-1.crc").write_text("x")
    later = tmp_path / "eventlog_v2_local-2"
    later.mkdir()
    _write(later / "events_1_local-2.zstd", [_job(5000)], "zstd")
    events = eventlog.read_events(tmp_path)
    kinds = [(e["Event"], e.get("Submission Time") or e["Task Info"]["Launch Time"])
             for e in events]
    assert kinds == [
        ("SparkListenerJobStart", 1000), ("SparkListenerTaskEnd", 1000),
        ("SparkListenerTaskEnd", 3000), ("SparkListenerJobStart", 5000),
    ]


def test_unknown_codec_is_refused(tmp_path):
    app = tmp_path / "eventlog_v2_local-4"
    app.mkdir()
    (app / "events_1_local-4.lz4").write_bytes(b"\x00")
    with pytest.raises(ValueError, match="codec"):
        eventlog.read_events(tmp_path)


def test_attribution_by_launch_time():
    events = [
        _job(1000),
        _task(1100, cpu_ns=5e8, shuffle=10, read=100,
              py=[("data sent to Python workers", 7),
                  ("data returned from Python workers", 3),
                  ("number of output rows", 99)]),
        _task(1900, cpu_ns=5e8, written=40),
        _job(2500),
        _task(2600, shuffle=1),
        _task(9000, cpu_ns=1e9),  # outside every span: dropped
    ]
    spans = {"op.a#0": (1.0, 2.0), "op.b#0": (2.5, 3.0)}
    got = eventlog.attribute(eventlog.work_items(events), spans)
    assert got["op.a#0"] == {"tasks": 2, "jobs": 1, "exec_cpu_s": 1.0, "shuffle_bytes": 10,
                             "input_bytes": 100, "output_bytes": 40, "python_bytes": 10}
    assert got["op.b#0"]["tasks"] == 1 and got["op.b#0"]["jobs"] == 1
    assert got["op.b#0"]["shuffle_bytes"] == 1


def test_tracer_spans_nesting_and_patches():
    class Layer:
        @staticmethod
        def work(stage, n):
            return n * 2

    tracer = Tracer(os.getpid())
    original = Layer.work
    tracer.wrap(Layer, "work", lambda stage, n: f"stage.{stage}",
                after=lambda rec, result, stage, n: rec.update(rows=result))
    assert Layer.work("x", 1) == 2  # disabled: no span
    assert tracer.spans == []
    tracer.enabled, tracer.pass_id = True, 3
    with tracer.span("pass"):
        assert Layer.work("x", 21) == 42
    inner, outer = tracer.spans
    assert inner["name"] == "stage.x" and inner["rows"] == 42
    assert inner["parent"] == "pass" and inner["pass"] == 3
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]
    assert tracer.overhead_s > 0
    tracer.restore()
    assert Layer.work is original


def test_span_cpu_is_the_process_tree_figure_not_executor_cpu(tmp_path):
    from types import SimpleNamespace

    from perfbench import measure

    app = tmp_path / "eventlog_v2_local-5"
    app.mkdir()
    _write(app / "events_1_local-5", [_job(1100), _task(1200, cpu_ns=5e8, shuffle=64)])
    op = {"name": "op.kg_triples", "pass": 0, "parent": "pass", "start": 1.0,
          "end": 2.0, "wall_s": 1.0, "cpu_s": 3.0}
    raw = {"workload": SimpleNamespace(ops=("kg_triples",)), "setup": {},
           "passes": [{"wall_s": 1.0, "host_ref_ms": 10.0, "span_overhead_s": 0.0}],
           "peak_rss": 0, "spans": [op]}
    got = measure.per_layer(raw, tmp_path)
    assert got["op.kg_triples.cpu_s"]["value"] == 3.0  # /proc, not the log's 0.5
    assert got["op.kg_triples.shuffle_bytes"]["value"] == 64
    assert got["op.kg_triples.jobs"]["value"] == 1
