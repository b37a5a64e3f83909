"""Set-up, warm-up, the timed closed loop and the metrics it yields."""

from __future__ import annotations

import contextlib
import os
import time
from pathlib import Path

from . import eventlog, procstat, stats, workloads
from .spans import Tracer

MIN_PASSES = 2

STAGE_FIELDS = ("wall_s", "cpu_s", "rows", "bytes", "shuffle_bytes",
                "python_bytes", "jobs", "tasks")
OP_FIELDS = ("ms", "cpu_s", "shuffle_bytes", "input_bytes", "jobs", "tasks")


def start_session(work: Path, cpus: int, trace: bool):
    from gliner_transbronchialbiopsy_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # get_spark points java.io.tmpdir at /tmp; keep the JVM's scratch
        # inside the run directory and skip its /tmp perf-data file
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
    }
    if trace:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = str(work / "events")
    return get_spark("perfbench", cpus=cpus, shuffle_partitions=cpus,
                     extra_conf=conf)


def _install_stage_spans(tracer: Tracer) -> None:
    from gliner_transbronchialbiopsy_spark.sources.checkpoint import CheckpointManager

    def stage_name(self, spark, stage, *a, **kw):
        return f"stage.{stage}"

    def rows(rec, result, self, spark, stage, *a, **kw):
        rec["rows"] = (self.metrics_or_none(stage) or {}).get("rows", 0)

    tracer.wrap(CheckpointManager, "get_or_compute", stage_name, after=rows)


def host_ref_ms() -> float:
    """A fixed single-thread loop: the host's speed beside each pass.
    Reported, never used to rescale a metric."""
    t0 = time.perf_counter()
    x = 0
    for i in range(200_000):
        x += i * i
    return (time.perf_counter() - t0) * 1000.0


def run(args, work: Path, cpus: int, t_start: float) -> dict:
    """Set up, warm up and run the timed passes; returns the raw
    measurements. The session is left running for the caller to stop."""
    me = os.getpid()
    tracer = Tracer(me)
    tracer.enabled = bool(args.trace)
    t0 = time.perf_counter()
    with tracer.span("session.start"):
        spark = start_session(work, cpus, bool(args.trace))
    setup = {"session.start_s": time.perf_counter() - t0}
    r = workloads.Run(spark=spark, work=work, seed=args.seed, cpus=cpus, tracer=tracer)
    wl = workloads.WORKLOADS[args.workload]()
    setup.update(wl.setup(r))
    tracer.enabled = False
    # the workload's untimed warm-up, which makes the once-per-run
    # checks, then its sequential warm-up passes, run like timed ones
    warm_walls = wl.warm(r)
    warm_walls += [_timed_pass(wl, r, -1 - k)["wall_s"] for k in range(wl.warm_passes)]
    setup_s = time.perf_counter() - t_start
    if args.trace:
        _install_stage_spans(tracer)

    passes, attempted = [], 0
    t_end = time.perf_counter() + args.seconds

    def another_pass() -> bool:
        # at least MIN_PASSES; then only a pass expected to end in time
        if len(passes) < MIN_PASSES:
            return True
        typical = stats.median(p["wall_s"] for p in passes)
        return time.perf_counter() + typical <= t_end

    tracer.enabled = bool(args.trace)
    # the sampler's /proc scans cost driver CPU: traced runs only
    rss = procstat.PeakRss(me) if args.trace else contextlib.nullcontext()
    with rss:
        while another_pass():
            tracer.pass_id = len(passes)
            passes.append(_timed_pass(wl, r, len(passes)))
            attempted += len(wl.ops)
    tracer.enabled = False
    tracer.restore()
    return {
        "workload": wl, "run": r, "setup": setup, "setup_s": setup_s,
        "warm_walls": warm_walls, "passes": passes, "attempted": attempted,
        "peak_rss": getattr(rss, "peak", 0),
        "spans": tracer.spans, "trace": bool(args.trace), "seed": args.seed,
        "cpus": cpus,
    }


def _timed_pass(wl, r: workloads.Run, i: int) -> dict:
    """Run pass i op by op: time each call, then check its output."""
    me, tracer = os.getpid(), r.tracer
    ref = host_ref_ms()
    n_failed, bookkeeping = len(r.failures), tracer.overhead_s
    ops, cpu = {}, 0.0
    with tracer.span("pass"):
        for op in wl.pass_ops(r, i):
            cpu0, t0 = procstat.tree_cpu_s(me), time.perf_counter()
            try:
                with tracer.span(f"op.{op.name}"):
                    out = op.call()
            except Exception as e:  # noqa: BLE001 — counted, the pass goes on
                r.failures.append(f"pass {i}: {op.name} raised {type(e).__name__}: {e}")
                continue
            wall = time.perf_counter() - t0
            op_cpu = procstat.tree_cpu_s(me) - cpu0
            problem = op.check(out)
            if problem:
                r.failures.append(f"pass {i}: {op.name}: {problem}")
                continue
            ops[op.name], cpu = wall, cpu + op_cpu
    return {"wall_s": sum(ops.values()), "cpu_s": cpu, "host_ref_ms": ref, "ops": ops,
            "span_overhead_s": tracer.overhead_s - bookkeeping,
            "failed": len(r.failures) - n_failed}


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def _op_medians(passes, ops) -> dict[str, float]:
    return {n: stats.median(p["ops"][n] for p in passes if n in p["ops"])
            for n in ops if any(n in p["ops"] for p in passes)}


def end_to_end(raw) -> dict:
    passes, wl = raw["passes"], raw["workload"]
    pass_s = stats.median(p["wall_s"] for p in passes)
    op_ms = _op_medians(passes, wl.ops)
    return {
        "setup_s": _metric(raw["setup_s"], "s"),
        "pass_s": _metric(pass_s, "s"),
        "pass_cpu_s": _metric(stats.median(p["cpu_s"] for p in passes), "s"),
        "op_geomean_ms": _metric(stats.geomean(op_ms.values()) * 1000.0, "ms"),
        "triples_per_s": _metric(wl.triples / pass_s, "1/s"),
    }


def per_layer(raw, events_dir: Path) -> dict:
    """Per-layer metrics of a traced run; a layer the workload does not
    run reports 0."""
    passes, spans = raw["passes"], raw["spans"]
    refs = [p["host_ref_ms"] for p in passes]
    # the innermost spans own the work (stages, not the op around them)
    parents = {(s["pass"], s["parent"]) for s in spans}
    keyed = {f"{s['name']}#{s['pass']}": (s["start"], s["end"]) for s in spans
             if s["pass"] is not None and (s["pass"], s["name"]) not in parents}
    work = eventlog.attribute(eventlog.work_items(eventlog.read_events(events_dir)), keyed)

    def med(name, field):
        vals = []
        for s in spans:
            if s["name"] != name or s["pass"] is None:
                continue
            w = work[f"{name}#{s['pass']}"]
            # cpu_s is the span's /proc CPU of the whole tree; the event
            # log's executor CPU (task threads only) is exec_cpu_s
            vals.append({**w, "wall_s": s["wall_s"], "ms": s["wall_s"] * 1000.0,
                         "cpu_s": s["cpu_s"], "rows": s.get("rows", 0),
                         "bytes": w["output_bytes"]}[field])
        return stats.median(vals) if vals else 0.0

    def setup_part(key):
        return raw["setup"].get(key, 0.0)

    out = {
        "session.start_s": _metric(setup_part("session.start_s"), "s"),
        "inputs.write_s": _metric(setup_part("inputs.write_s"), "s"),
        "store.fill_s": _metric(setup_part("store.fill_s"), "s"),
        "tree.peak_rss_mb": _metric(raw["peak_rss"] / 1e6, "MB"),
        "host.ref_ms": _metric(stats.median(refs), "ms"),
        "host.ref_spread": _metric(stats.spread(refs), "ratio"),
        "trace.pass_s": _metric(stats.median(p["wall_s"] for p in passes), "s"),
        "trace.overhead_s": _metric(
            stats.median(p["span_overhead_s"] for p in passes), "s"),
    }
    stage_wall = sum(s["wall_s"] for s in spans if s["name"].startswith("stage."))
    pass_wall = sum(p["wall_s"] for p in passes)
    out["trace.stage_coverage"] = _metric(stage_wall / pass_wall if stage_wall else 0.0, "ratio")
    units = {"wall_s": "s", "cpu_s": "s", "ms": "ms", "rows": "count",
             "jobs": "count", "tasks": "count"}
    for st in workloads.STAGES:
        for f in STAGE_FIELDS:
            out[f"stage.{st}.{f}"] = _metric(med(f"stage.{st}", f), units.get(f, "bytes"))
    for op in workloads.QUERY_OPS:
        for f in OP_FIELDS:
            out[f"op.{op}.{f}"] = _metric(med(f"op.{op}", f), units.get(f, "bytes"))
    return out


def result(raw, events_dir: Path) -> dict:
    """The last stdout line: checks, attempt counts and the metrics."""
    passes = raw["passes"]
    return {
        "correct": not raw["run"].failures,
        "attempted": raw["attempted"],
        "failed": sum(p["failed"] for p in passes),
        "metrics": per_layer(raw, events_dir) if raw["trace"] else end_to_end(raw),
    }


def summary(raw) -> dict:
    """The run's sample counts, checks and per-pass figures."""
    passes, r, wl = raw["passes"], raw["run"], raw["workload"]
    refs = [p["host_ref_ms"] for p in passes]
    return {
        "workload": wl.name, "seed": raw["seed"], "cpus": raw["cpus"],
        "n_passes": len(passes), "n_ops": len(wl.ops),
        "setup": {k: round(v, 3) for k, v in raw["setup"].items()},
        "warm_wall_s": [round(w, 3) for w in raw["warm_walls"]],
        "pass_wall_s": [round(p["wall_s"], 3) for p in passes],
        "pass_cpu_s": [round(p["cpu_s"], 3) for p in passes],
        "op_median_ms": {k: round(v * 1000.0, 1)
                         for k, v in _op_medians(passes, wl.ops).items()},
        "host_ref_ms": {"median": round(stats.median(refs), 3),
                        "spread": round(stats.spread(refs), 4)},
        "first_pass_vs_median": round(
            passes[0]["wall_s"] / stats.median(p["wall_s"] for p in passes), 4),
        "failures": r.failures[:20],
        **wl.details(),
    }
