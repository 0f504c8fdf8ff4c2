"""Turns a workload's recorded operations and spans into metrics.

``end_to_end`` gives the untraced run's result: the contract metrics every
workload reports (``op_ms_p50``, ``ops_per_s``, ``setup_s``) plus, in the
printed report, the workload's own named metrics and the peak RSS.
``traced`` gives the per-layer result from spans and Spark job counts.
"""

from __future__ import annotations

import os
import statistics
import time
from collections import defaultdict

from tracer import END, LAYER, NAME, OP, START

# op kind whose latency is the workload's end-to-end op latency ("query:"
# matches every query)
PRIMARY = {"geo_write_sync": "commit", "analytics_suite": "query:"}

# issue-named span metrics: name -> (span name, "dur" | "self")
_SPAN_METRICS = {
    "control.gate.request_ms": ("control.gate.CommitGate.request_commit_approval", "dur"),
    "control.sync.coordinate_write_self_ms": ("control.sync.MultiRegionCoordinator.coordinate_write", "self"),
    "control.sync.process_events_self_ms": ("control.sync.MultiRegionCoordinator.process_pending_events", "self"),
    "lake.table.append_ms": ("lake.table.HyTable.append", "dur"),
    "lake.table.publish_ms": ("lake.table.HyTable.publish", "dur"),
    "lake.table.read_plan_ms": ("lake.table.HyTable.read", "dur"),
    "lake.table.prune_files_ms": ("lake.table.HyTable.prune_files", "dur"),
    "lake.table.read_exec_ms": ("lake.table.read_exec", "dur"),
    "lake.table.expire_ms": ("lake.table.HyTable.expire_snapshots", "dur"),
    "lake.catalog.compact_ms": ("lake.table.HyTable.rewrite_data_files", "dur"),
    "lake.replication.plan_ms": ("lake.replication.plan", "dur"),
    "lake.replication.copy_ms": ("lake.replication.copy_files", "dur"),
    "lake.replication.verify_ms": ("lake.replication.verify", "dur"),
    "lake.replication.audit_ms": ("lake.replication.audit_closure", "dur"),
}
# summed per op that calls any of them
_PER_OP_SPANS = {
    "control.router.route_ms": ("control.router.ReadRouter.route_read",
                                "control.router.ReadRouter.route_with_token"),
    "lake.gc.orphans_ms": ("lake.gc.produce_candidates", "lake.gc.apply_delete_plan"),
}
# counts recorded by hooks.py, averaged over the calls that record them
_COUNTERS = {
    "lake.table.manifest_entries": "count",
    "lake.table.zero_row_files": "count",
    "lake.table.meta_bytes_per_commit": "bytes",
    "lake.replication.files_copied": "count",
    "lake.replication.bytes_copied": "bytes",
    "lake.replication.copy_useful_ratio": "ratio",
    "lake.gc.orphans_removed": "count",
}
# layer families whose self time per op is reported
_FAMILIES = ("control", "lake.table", "lake.replication", "lake.catalog", "lake.gc",
             "queries", "spark.exec", "bench")
# op kinds whose Spark jobs per op are reported ("query" is every query)
_JOB_KINDS = ("commit", "sync", "check", "maintenance", "query")

# per-layer contract metrics, (name, unit); every workload reports all of
# them, 0 for a layer or op kind it does not exercise
PER_LAYER = (
    (("spark.jobs_per_op", "count"), ("spark.tasks_per_op", "count"))
    + tuple((f"spark.jobs_per_{kind}", "count") for kind in _JOB_KINDS)
    + tuple((f"{fam}.self_ms_per_op", "ms") for fam in _FAMILIES)
    + tuple((name, "ms") for name in (*_SPAN_METRICS, *_PER_OP_SPANS))
    + tuple(_COUNTERS.items())
    + (("trace.spans_per_op", "count"),)
)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def pct(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (q in [0, 100])."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def _is(kind: str, pattern: str) -> bool:
    return kind.startswith(pattern) if pattern.endswith(":") else kind == pattern


def _group(kind: str) -> str:
    """Op kind for per-kind tables: every query is one kind."""
    return "query" if kind.startswith("query:") else kind


def _family(layer: str) -> str:
    """Contract layer of a span layer: control.* folds into control."""
    return "control" if layer.startswith("control.") else layer


def _m(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _context_lines(workload: str, out) -> list[str]:
    load = os.getloadavg()
    lines = [
        f"workload {workload}: nproc={nproc()} loadavg={load[0]:.2f},{load[1]:.2f},{load[2]:.2f} "
        f"warmup_ops={out.warmup_ops} measured_ops={len(out.ops)} measured_s={out.measured_s:.3f}",
    ]
    for name, (value, unit) in sorted(out.facts.items()):
        lines.append(f"  {name} = {value:.6g} {unit}" if isinstance(value, float)
                     else f"  {name} = {value} {unit}")
    for failure in out.failures[:10]:
        lines.append(f"  FAILED: {failure}")
    return lines


def _by_kind(out) -> dict[str, list[float]]:
    by_kind: dict[str, list[float]] = defaultdict(list)
    for o in out.ops:
        by_kind[o.kind].append(o.ms)
    return by_kind


def _named_end_to_end(workload: str, out) -> dict[str, tuple[float, str]]:
    """The workload's own named metrics (printed, not in the JSON line)."""
    by_kind = _by_kind(out)
    named: dict[str, tuple[float, str]] = {}
    if workload == "geo_write_sync":
        named["commit_ms_p50"] = (pct(by_kind["commit"], 50), "ms")
        named["commit_ms_p90"] = (pct(by_kind["commit"], 90), "ms")
        named["replication_lag_ms_p50"] = (pct(by_kind["sync"], 50), "ms")
        named["replication_lag_ms_p90"] = (pct(by_kind["sync"], 90), "ms")
        named["commits_per_s"] = (len(by_kind["commit"]) / out.measured_s, "1/s")
        if by_kind["maintenance"]:
            named["maintenance_s"] = (_mean(by_kind["maintenance"]) / 1000.0, "s")
    else:
        for kind, ms in sorted(by_kind.items()):
            named[f"{kind.removeprefix('query:')}_ms_p50"] = (statistics.median(ms), "ms")
    attempted = max(len(out.ops), 1)
    named["error_rate"] = (len(out.failures) / attempted, "ratio")
    return named


def _suite_sum(out, attr: str) -> float:
    """Sum over queries of each query's median ``attr``."""
    by_query: dict[str, list[float]] = defaultdict(list)
    for o in out.ops:
        by_query[o.kind].append(getattr(o, attr))
    return sum(statistics.median(v) for v in by_query.values())


def end_to_end(workload: str, out, seed: int) -> dict:
    if workload == "geo_write_sync":
        # op = one write made visible at the mirror: commit -> sync ->
        # token-routed read-your-write check
        samples = out.visible_ms
        op_ms = pct(samples, 50)
        op_cpu_ms = pct(out.visible_cpu_ms, 50)
        ops = len(samples)
    else:
        # op = one pass of the suite: the sum of every query's median, so
        # each query weighs the same however many times the window ran it
        samples = [o.ms for o in out.ops]
        op_ms = _suite_sum(out, "ms")
        op_cpu_ms = _suite_sum(out, "cpu_ms")
        ops = out.facts["passes"][0]
    metrics = {
        "op_cpu_ms_p50": _m(op_cpu_ms, "ms"),
        "setup_s": _m(statistics.median(out.setup_s), "s"),
    }
    # wall-clock figures are printed, not in the JSON line: they include
    # the time the shared host gives other guests (host_steal_pct)
    wall = {"op_ms_p50": (op_ms, "ms"), "ops_per_s": (ops / out.measured_s, "1/s")}
    lines = _context_lines(workload, out)
    lines.append(f"  seed = {seed}; setup runs = {', '.join(f'{s:.3f}' for s in out.setup_s)} CPU s; "
                 f"latency samples = {len(samples)}")
    if out.visible_ms:
        lines.append("  writes, wall/CPU ms in order = "
                     + " ".join(f"{w:.0f}/{c:.0f}" for w, c in zip(out.visible_ms, out.visible_cpu_ms)))
    for name, m in metrics.items():
        lines.append(f"  {name} = {m['value']:.6g} {m['unit']}")
    for name, (value, unit) in {**wall, **_named_end_to_end(workload, out)}.items():
        lines.append(f"  {name} = {value:.6g} {unit}")
    return {
        "report": lines,
        "correct": not out.failures,
        "attempted": len(out.ops),
        "failed": len(out.failures),
        "metrics": metrics,
    }


def job_counts(spark, op_ids: list[int]) -> dict[int, tuple[int, int]]:
    """(jobs, completed tasks) per op, from the status tracker's job groups."""
    sc = spark.sparkContext
    try:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
    except Exception:  # noqa: BLE001 — older API: give the listener bus a moment
        time.sleep(1.0)
    st = sc.statusTracker()
    out = {}
    for op_id in op_ids:
        jobs = st.getJobIdsForGroup(f"perfbench-op-{op_id}")
        tasks = 0
        for job in jobs:
            info = st.getJobInfo(job)
            for sid in info.stageIds if info else ():
                stage = st.getStageInfo(sid)
                if stage is not None:
                    tasks += stage.numCompletedTasks
        out[op_id] = (len(jobs), tasks)
    return out


def traced(workload: str, out, tracer, jobs: dict, wrapped: int, dump: str) -> dict:
    selfs = tracer.self_times()
    traced_ops = {o.op_id: o for o in out.ops if o.traced}
    n_traced = max(len(traced_ops), 1)
    fam_self: dict[str, float] = defaultdict(float)
    dur_by_name: dict[str, list[float]] = defaultdict(list)
    self_by_name: dict[str, list[float]] = defaultdict(list)
    per_op_sum: dict[tuple[str, int], float] = defaultdict(float)
    op_layers: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    n_spans = 0
    for i, rec in enumerate(tracer.spans):
        if rec[OP] not in traced_ops:
            continue
        n_spans += 1
        dur = rec[END] - rec[START]
        fam_self[_family(rec[LAYER])] += selfs[i]
        dur_by_name[rec[NAME]].append(dur)
        self_by_name[rec[NAME]].append(selfs[i])
        per_op_sum[(rec[NAME], rec[OP])] += dur
        op_layers[_group(traced_ops[rec[OP]].kind)][rec[LAYER]] += selfs[i]

    def span_ms(name: str) -> float:
        return _mean(dur_by_name[name]) * 1000.0

    values = {
        "spark.jobs_per_op": _mean(jobs[o][0] for o in traced_ops),
        "spark.tasks_per_op": _mean(jobs[o][1] for o in traced_ops),
        "trace.spans_per_op": n_spans / n_traced,
    }
    kinds: dict[str, list[int]] = defaultdict(list)
    for o in out.ops:
        kinds[_group(o.kind)].append(o.op_id)
    for kind in _JOB_KINDS:
        values[f"spark.jobs_per_{kind}"] = _mean(jobs[i][0] for i in kinds[kind])
    for fam in _FAMILIES:
        values[f"{fam}.self_ms_per_op"] = fam_self[fam] * 1000.0 / n_traced
    for name, (span, how) in _SPAN_METRICS.items():
        values[name] = _mean((dur_by_name if how == "dur" else self_by_name)[span]) * 1000.0
    for name, spans in _PER_OP_SPANS.items():
        per_op: dict[int, float] = defaultdict(float)
        for (span, op_id), d in per_op_sum.items():
            if span in spans:
                per_op[op_id] += d
        values[name] = _mean(per_op.values()) * 1000.0
    for name in _COUNTERS:
        values[name] = _mean(tracer.counters[name])
    metrics = {name: _m(values[name], unit) for name, unit in PER_LAYER}

    lines = _context_lines(workload, out)
    lines.append(f"  traced ops = {len(traced_ops)} of {len(out.ops)}; wrapped callables = {wrapped}; "
                 f"spans = {n_spans}; span dump = {dump}")
    for kind, ids in sorted(kinds.items()):
        lines.append(f"  spark.tasks_per_{kind} = {_mean(jobs[i][1] for i in ids):.6g} count")
    if workload == "analytics_suite":
        per_query: dict[str, list] = defaultdict(list)
        for o in out.ops:
            per_query[o.kind.removeprefix("query:")].append(o)
        for q, ops in per_query.items():
            lines.append(f"  queries.{q}_s = {statistics.median(o.ms for o in ops) / 1000.0:.6g} s")
            lines.append(f"  queries.{q}.spark_jobs = {_mean(jobs[o.op_id][0] for o in ops):.6g} count")
    for name, m in metrics.items():
        lines.append(f"  [per_layer] {name} = {m['value']:.6g} {m['unit']}")
    lines.extend(_self_time_table(traced_ops, op_layers))
    lines.append(f"  trace.overhead_ms = {_overhead_ms(workload, out):.6g} ms "
                 "(traced minus untraced median of the primary op)")
    return {
        "report": lines,
        "correct": not out.failures,
        "attempted": len(out.ops),
        "failed": len(out.failures),
        "metrics": metrics,
    }


def _self_time_table(traced_ops: dict, op_layers: dict) -> list[str]:
    """Per op kind: mean latency and the per-layer self times that make
    it up (they sum to the op span, so 'accounted' is the share spent
    inside traced layers rather than in the benchmark's own code)."""
    lines = ["  self time per op (ms) by layer:"]
    n_by_kind: dict[str, int] = defaultdict(int)
    ms_by_kind: dict[str, float] = defaultdict(float)
    for o in traced_ops.values():
        kind = _group(o.kind)
        n_by_kind[kind] += 1
        ms_by_kind[kind] += o.ms
    for kind in sorted(op_layers):
        n = n_by_kind[kind]
        layers = op_layers[kind]
        total = sum(layers.values()) * 1000.0 / n
        accounted = 1.0 - layers.get("bench", 0.0) * 1000.0 / n / total if total else 0.0
        parts = ", ".join(
            f"{layer}={v * 1000.0 / n:.2f}"
            for layer, v in sorted(layers.items(), key=lambda kv: -kv[1])
        )
        lines.append(f"    {kind} (n={n}, op {ms_by_kind[kind] / n:.2f} ms, spans {total:.2f} ms, "
                     f"accounted {accounted:.1%}): {parts}")
    return lines


def _overhead_ms(workload: str, out) -> float:
    """Traced minus untraced median latency of the primary op; for the
    query suite, the mean of that difference over queries seen both ways."""
    pattern = PRIMARY[workload]
    groups: dict[str, dict[bool, list[float]]] = defaultdict(lambda: defaultdict(list))
    for o in out.ops:
        if _is(o.kind, pattern):
            groups[o.kind][o.traced].append(o.ms)
    diffs = [
        statistics.median(g[True]) - statistics.median(g[False])
        for g in groups.values() if g[True] and g[False]
    ]
    return _mean(diffs)
