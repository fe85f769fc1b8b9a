"""Turn timed passes into the result line and the trace file."""

from __future__ import annotations

import json
import os
import sys
from statistics import median, multimode

import stats

#: the metric names and units this benchmark declares, by kind
BENCHMARK = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")


def _log(*parts) -> None:
    print(*parts, file=sys.stderr, flush=True)


def _ms(seconds: float) -> float:
    return seconds * 1000.0


def _with_units(values: dict, kind: str) -> dict:
    """Every metric of ``kind`` in BENCHMARK.json, with its declared unit."""
    with open(BENCHMARK) as f:
        declared = json.load(f)[kind]
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}


def result(args, warm, errors, passes, trace, *, setup_s, session_s, cores) -> dict:
    all_ops = [op for p in [{"ops": warm}, *passes] for op in p["ops"]]
    errors = [*errors, *(f"{op.op}: {op.error}" for op in all_ops if op.error)]
    for e in errors:
        _log(f"WRONG OUTPUT {e}")
    failed = [op for op in all_ops if op.failed]
    if failed:
        kinds = multimode(op.failed for op in failed)
        _log(f"{len(failed)} of {len(all_ops)} ops raised (most often {', '.join(kinds)})")
    if args.trace:
        metrics = _with_units(per_layer(args.workload, passes, trace, session_s, cores), "per_layer")
    else:
        plain = [p for p in passes if not p["traced"]]
        metrics = _with_units(end_to_end(plain, setup_s), "end_to_end")
    return {
        "correct": not errors,
        "attempted": len(all_ops),
        "failed": len(failed),
        "metrics": metrics,
    }


def _latencies(passes) -> list[float]:
    return [_ms(op.seconds) for p in passes for op in p["ops"] if not op.failed]


def request_tail(passes) -> float:
    """The tail of operation latency: ``stats.tail``, or the slowest op
    when there are too few samples for that rule to reach past the median."""
    latencies = _latencies(passes)
    if len(latencies) >= 2 * stats.MIN_BEYOND:
        pct, tail = stats.tail(latencies)
    else:
        pct, tail = 100, max(latencies)
    _log(f"req_tail_ms is p{pct} of {len(latencies)} operations")
    return tail


def end_to_end(passes, setup_s) -> dict:
    latencies = _latencies(passes)
    _log(f"operations timed: {len(latencies)}")
    for name in dict.fromkeys(op.op for op in passes[0]["ops"]):
        ops = [op for p in passes for op in p["ops"] if op.op == name and not op.failed]
        if ops:
            _log(f"  {name}: median {median(op.seconds for op in ops):.3f} s"
                 f" (GC {median(op.gc_s for op in ops):.3f} s) over {len(ops)}")
    return {
        "setup_s": setup_s,
        "req_p50_ms": median(latencies),
        "pass_s": median(p["wall_s"] for p in passes),
    }


#: per-layer metric → the op-record field summed over a traced pass
_PASS_SUMS = {
    "registry.build_s": "build_s",
    "registry.exec_s": "exec_s",
    "spark.jobs": "jobs",
    "spark.stages": "stages",
    "spark.tasks": "tasks",
    "spark.input_bytes": "input_bytes",
    "spark.shuffle_bytes": "shuffle_write_bytes",
    "spark.spill_bytes": "disk_spill_bytes",
    "stream.batches": "stream_batches",
    "stream.input_rows": "stream_input_rows",
    "stream.add_batch_ms": "stream_add_batch_ms",
    "stream.wal_commit_ms": "stream_wal_commit_ms",
    "index.bytes_written": "bytes_written",
}


def per_layer(workload, passes, trace, session_s, cores) -> dict:
    """Layer metrics; those of layers the workload does not reach read 0."""
    traced = [p for p in passes if p["traced"]]
    plain = [p for p in passes if not p["traced"]]

    def pass_sum(key):
        return median(sum(op.layers.get(key, 0) for op in p["ops"]) for p in traced)

    values = {name: pass_sum(key) for name, key in _PASS_SUMS.items()}
    values["spark.task_cpu_s"] = pass_sum("run_ms") / 1000.0
    traced_wall = median(p["wall_s"] for p in traced)
    plain_wall = median(p["wall_s"] for p in plain)
    values["spark.busy_share"] = values["spark.task_cpu_s"] / (traced_wall * cores)
    values.update(api_layers(trace))
    ops = [op for p in traced for op in p["ops"]]
    values["spark.jobs_per_req"] = (
        sum(op.layers.get("jobs", 0) for op in ops) / len(ops) if workload == "tool_serve" else 0
    )
    values["req_tail_ms"] = request_tail(passes)
    values["session.start_s"] = session_s
    values["jvm.gc_s"] = median(p["gc_s"] for p in plain)
    values["trace.overhead_pct"] = 100.0 * (traced_wall - plain_wall) / plain_wall
    values["trace.passes"] = len(traced)
    values["trace.ops_per_pass"] = len(traced[0]["ops"])
    values["trace.pass_s"] = traced_wall
    values["trace.cores"] = cores
    for row in op_accounting(passes):
        _log("  {op}: untraced {untraced_s:.3f} s; traced build {build_s:.3f} + exec {exec_s:.3f},"
             " rest {rest_s:+.3f} s".format(**row))
    return values


def api_layers(trace) -> dict:
    """Per-request medians of the ``api`` spans (0 when there are none)."""
    tracer = trace.tracer
    geocode, build, collect = [], [], []
    for req in (s for s in tracer.spans if s["name"] == "api.request"):
        builds = [s for s in tracer.children(req) if s["name"] == "api.build"]
        for b in builds:
            build.append(_ms(stats.self_time(b, tracer.children(b))))
            geocode.extend(_ms(g["end"] - g["start"]) for g in tracer.children(b)
                           if g["name"] == "api.geocode")
        if builds:
            collect.append(_ms(stats.self_time(req, builds)))
    return {
        "api.geocode_ms": median(geocode) if geocode else 0,
        "api.build_ms": median(build) if build else 0,
        "api.collect_ms": median(collect) if collect else 0,
    }


def op_accounting(passes) -> list[dict]:
    """Per op: untraced time against traced build + exec."""
    rows = []
    for name in dict.fromkeys(op.op for op in passes[0]["ops"]):
        plain = [op.seconds for p in passes if not p["traced"] for op in p["ops"] if op.op == name]
        traced = [op for p in passes if p["traced"] for op in p["ops"] if op.op == name]
        if not traced or "build_s" not in traced[0].layers:
            continue
        build = median(op.layers["build_s"] for op in traced)
        exe = median(op.layers["exec_s"] for op in traced)
        untraced = median(plain)
        rows.append({"op": name, "untraced_s": untraced, "build_s": build,
                     "exec_s": exe, "rest_s": untraced - build - exe})
    return rows


def write_trace(trace, passes, path: str) -> None:
    """Spans, per-op layer records and the per-op accounting, as JSONL."""
    extra = [
        {"record": "op", "pass": i, "op": op.op, "seconds": op.seconds,
         "failed": op.failed, **op.layers}
        for i, p in enumerate(passes) if p["traced"] for op in p["ops"]
    ]
    extra += [{"record": "stream_progress", **rec} for rec in trace.stream.progress]
    extra += [{"record": "op_accounting", **row} for row in op_accounting(passes)]
    trace.tracer.dump(path, extra)
    _log(f"trace written to {os.path.relpath(path)}")
