"""Self-test: BENCHMARK.json is well formed and names exactly the
metrics a run prints."""

import json
import re
from pathlib import Path
from types import SimpleNamespace

from perfbench import measure

ROOT = Path(__file__).resolve().parents[2]
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _spec():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def _raw(trace):
    wl = SimpleNamespace(name="w", ops=("a", "b"), triples=10)
    passes = [{"wall_s": w, "cpu_s": 2 * w, "host_ref_ms": 10.0 + w,
               "ops": {"a": w / 2, "b": w / 2}, "span_overhead_s": 0.001, "failed": 0}
              for w in (1.0, 1.2, 0.9)]
    return {"workload": wl, "run": SimpleNamespace(failures=[]),
            "setup": {"session.start_s": 1.0}, "setup_s": 2.0, "passes": passes,
            "attempted": 6, "peak_rss": 1e9, "spans": [], "trace": trace}


def test_shape_and_limits():
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert 1 <= spec["run_seconds"] <= 60
    assert 2 <= len(spec["workloads"]) <= 8
    assert all(set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
               for w in spec["workloads"])
    assert all(set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
               for m in spec["end_to_end"])
    assert all(set(m) == {"name", "unit", "better"} for m in spec["per_layer"])
    assert len(spec["per_layer"]) <= 128
    names = [x["name"] for k in ("workloads", "end_to_end", "per_layer") for x in spec[k]]
    assert all(NAME.match(n) for n in names)
    assert len(set(names)) == len(names)
    assert all(UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
               for m in spec["end_to_end"] + spec["per_layer"])
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup == [{"name": "setup_s", "unit": "s", "better": "lower",
                      "bound": max(m["bound"] for m in spec["end_to_end"])}]
    assert all((ROOT / p).is_dir() for p in spec["paths"])


def test_runs_print_exactly_the_declared_metrics(tmp_path):
    spec = _spec()
    e2e = measure.result(_raw(False), tmp_path)
    assert set(e2e) == {"correct", "attempted", "failed", "metrics"}
    assert {n: m["unit"] for n, m in e2e["metrics"].items()} == {
        m["name"]: m["unit"] for m in spec["end_to_end"]}
    traced = measure.result(_raw(True), tmp_path)
    assert {n: m["unit"] for n, m in traced["metrics"].items()} == {
        m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e["metrics"]["pass_s"]["value"] == 1.0
    assert e2e["metrics"]["op_geomean_ms"]["value"] == 500.0
    assert e2e["metrics"]["triples_per_s"]["value"] == 10.0
