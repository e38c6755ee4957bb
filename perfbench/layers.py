"""The per-layer metrics of the traced run (``--trace 1``).

Every traced run reports every metric below; a metric of a layer the
workload never calls reads 0 (no work done there).  Span names follow
``<layer>.<call>``; :func:`finish` groups span self time by layer.
"""

from __future__ import annotations

import json

from perfbench import common as C

NAMED = ("order_scalar_stats", "avg_level_by_brand", "dashboard_probability")
#: self time is grouped by these layers; "harness" is the benchmark's own
#: code inside an operation (plan composition, result conversion)
LAYERS = ("catalog", "operators", "queries", "serve_exec", "sources", "pipelines", "snapshots", "harness")

#: (name, unit) — the order BENCHMARK.json lists them in
METRICS: list[tuple[str, str]] = (
    [
        ("session.start_s", "s"),
        ("mem.python_peak_rss_mb", "MB"),
        ("mem.jvm_heap_peak_mb", "MB"),
        ("catalog.load_table_ms", "ms"),
        ("catalog.load_table_calls", "count"),
        ("operators.page_df_ms", "ms"),
        ("serve.exec_ms", "ms"),
    ]
    + [(f"queries.{n}.{p}", "ms") for n in NAMED for p in ("build_ms", "exec_ms")]
    + [
        ("spark.jobs_per_op", "count"),
        ("spark.stages_per_op", "count"),
        ("spark.tasks_per_op", "count"),
        ("spark.failed_tasks", "count"),
        ("sources.netcdf3.decode_mb_per_s", "MB/s"),
        ("sources.hdf5.decode_mb_per_s", "MB/s"),
        ("sources.netcdf.files_to_long_s", "s"),
        ("sources.dbf.read_ms", "ms"),
        ("sources.excel.read_ms", "ms"),
        ("sources.shapefile.read_ms", "ms"),
        ("sources.geometry.cell_lookup_ms", "ms"),
        ("pipelines.rain.build_s", "s"),
        ("pipelines.rain.build_jobs", "count"),
        ("pipelines.risk.build_ms", "ms"),
        ("pipelines.incidents.build_ms", "ms"),
        ("pipelines.dims.build_ms", "ms"),
        ("snapshots.rain.append_s", "s"),
        ("snapshots.risk.append_s", "s"),
        ("snapshots.incidents.append_s", "s"),
        ("snapshots.lookup_build_ms", "ms"),
        ("snapshots.lookup_exec_ms", "ms"),
        ("snapshots.files_in_table", "count"),
        ("snapshots.files_planned_per_lookup", "count"),
        ("snapshots.prune_ratio", "ratio"),
        ("snapshots.rollup_jobs", "count"),
    ]
    + [(f"self_ms.{layer}", "ms") for layer in LAYERS]
    + [
        ("trace.overhead_ms_per_op", "ms"),
        ("trace.overhead_pct", "%"),
    ]
)
UNITS = dict(METRICS)


def zeroed() -> dict[str, float]:
    return {name: 0.0 for name, _ in METRICS}


def finish(m: dict, tracer, ops: list[C.Op], summary_path: str, counted: list[C.Op] | None = None):
    """The metrics every workload derives alike — Spark work per
    operation (over ``counted``, default every traced operation), self
    time per layer, tracing overhead — then writes the per-span self
    times and the metrics next to the spans."""
    if counted is None:
        counted = [op for op in ops if op.traced]
    works = [op.work for op in counted if op.work is not None]
    n = max(1, len(works))
    m["spark.jobs_per_op"] = sum(w["jobs"] for w in works) / n
    m["spark.stages_per_op"] = sum(w["stages"] for w in works) / n
    m["spark.tasks_per_op"] = sum(w["tasks"] for w in works) / n
    m["spark.failed_tasks"] = sum(w["failed_tasks"] for w in works)

    in_ops = type(tracer)()
    in_ops.spans = [s for s in tracer.spans if s.request is not None]
    n_ops = max(1, sum(1 for s in in_ops.spans if s.name == "op"))
    per_span = in_ops.self_ms()
    for name, ms in per_span.items():
        m[f"self_ms.{_layer(name)}"] += ms / n_ops

    overhead(m, ops)
    with open(summary_path, "w") as f:
        json.dump(
            {"traced_ops": n_ops, "self_ms_total_by_span": per_span, "metrics": m},
            f,
            indent=1,
            sort_keys=True,
        )
    C.log("self ms by span: " + ", ".join(f"{k}={v:.0f}" for k, v in sorted(per_span.items())))
    unknown = set(m) - set(UNITS)
    if unknown:
        raise KeyError(f"unregistered per-layer metrics: {sorted(unknown)}")
    return {name: (m[name], UNITS[name]) for name, _ in METRICS}


def _layer(span_name: str) -> str:
    if span_name == "op":
        return "harness"
    head = span_name.split(".", 1)[0]
    return "serve_exec" if head == "serve" else head


def overhead(m: dict, ops: list[C.Op]) -> None:
    """Traced minus untraced mean latency, per operation kind, weighted
    by the number of traced operations of the kind."""
    diff = base = weight = 0.0
    for kind in {op.kind for op in ops}:
        on = [op.ms for op in ops if op.kind == kind and op.traced]
        off = [op.ms for op in ops if op.kind == kind and not op.traced]
        if on and off:
            diff += len(on) * (C.mean(on) - C.mean(off))
            base += len(on) * C.mean(off)
            weight += len(on)
    if weight:
        m["trace.overhead_ms_per_op"] = diff / weight
        m["trace.overhead_pct"] = 100.0 * diff / base
