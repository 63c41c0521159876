"""Metric definitions: end-to-end metrics from timed ops, per-layer metrics
from a traced window's spans. ``BENCHMARK.json`` lists the same names and
units (pinned by the benchmark's tests)."""

from __future__ import annotations

import statistics

#: name -> unit. Every workload reports every one of them.
END_TO_END = {
    "setup_s": "s",
    "ready_s": "s",
    "point_query_p50_s": "s",
    "points_per_s": "points/s",
    "gridded_p50_s": "s",
}

PER_LAYER = {
    "session.start_s": "s",
    "sources.discovery.fetch_s": "s",
    "sources.discovery.files_found": "count",
    "sources.parquet.scan_s": "s",
    "grid.ingest.load_s": "s",
    "grid.ingest.jobs": "count",
    "grid.model.validate_dense_s": "s",
    "grid.model.grid_axes_s": "s",
    "grid.model.jobs": "count",
    "grid.model.input_bytes": "bytes",
    "grid.registry.build_s": "s",
    "grid.interpolate.build_s": "s",
    "grid.interpolate.exec_s": "s",
    "grid.interpolate.jobs": "count",
    "grid.interpolate.shuffle_bytes": "bytes",
    "grid.interpolate.executor_run_s": "s",
    "grid.interpolate.spill_bytes": "bytes",
    "streaming.files.batch_s": "s",
    "streaming.files.trigger_s": "s",
    "streaming.files.store_files": "count",
}

#: Engine functions called from inside the engine, rebound to traced
#: wrappers for a traced window: (module, attribute, span name, counts).
LAYER_PATCHES = [
    ("kamodo_dask_spark.grid.ingest", "fetch_file_range", "sources.discovery.fetch",
     lambda found: {"files_found": len(found[0])}),
    ("kamodo_dask_spark.grid.ingest", "scan_grid_files", "sources.parquet.scan", None),
    # the names grid.registry imported, so registry builds are seen
    ("kamodo_dask_spark.grid.registry", "validate_dense", "grid.model.validate_dense", None),
    ("kamodo_dask_spark.grid.registry", "grid_axes", "grid.model.grid_axes", None),
    ("kamodo_dask_spark.grid.registry", "KamodoSpark", "grid.registry.build", None),
]


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def end_to_end(ops, setups: list[float]) -> dict:
    """Medians over the ops that ran to completion (an op whose output check
    failed still has its time; one that raised has none). A kind with no
    such op reports 0; its run is already marked incorrect."""
    timed = [op for op in ops if op.seconds > 0]

    def secs(kind):
        return [op.seconds for op in timed if op.kind == kind]

    def median(xs):
        return statistics.median(xs) if xs else 0.0

    point = secs("point")
    values = {
        "setup_s": median(setups),
        "ready_s": median(secs("ready")),
        "point_query_p50_s": median(point),
        "points_per_s": (
            sum(op.points for op in timed if op.kind == "point") / sum(point) if point else 0.0
        ),
        "gridded_p50_s": median(secs("gridded")),
    }
    return {k: _metric(v, END_TO_END[k]) for k, v in values.items()}


def patch_layers(tracer) -> None:
    for module, attr, name, count in LAYER_PATCHES:
        tracer.patch(module, attr, name, count)


def per_layer(tracer, wl, ops, session_start: float) -> dict:
    """Per-call means over the traced window (0 for a layer the workload
    does not reach), plus the session start of set-up 0."""
    tracer.drain()
    spans = tracer.spans
    by_name: dict[str, list] = {}
    for sp in spans:
        by_name.setdefault(sp.name, []).append(sp)

    def mean(xs):
        return sum(xs) / len(xs) if xs else 0.0

    def self_mean(name):
        return mean([tracer.self_seconds(s) for s in by_name.get(name, [])])

    builds = by_name.get("grid.registry.build", [])
    model = by_name.get("grid.model.validate_dense", []) + by_name.get("grid.model.grid_axes", [])
    model_jobs = tracer.jobs(model)
    queries = by_name.get("op.point", []) + by_name.get("op.gridded", [])
    query_jobs = tracer.jobs([s for q in queries for s in tracer.subtree(q)])
    query_stages = tracer.stage_totals(query_jobs)
    loads = by_name.get("grid.ingest.load", [])
    refreshes = by_name.get("op.ready", []) if "streaming.files.batch" in by_name else []
    batch_s = [s.seconds for s in by_name.get("streaming.files.batch", [])]

    values = {
        "session.start_s": session_start,
        "sources.discovery.fetch_s": self_mean("sources.discovery.fetch"),
        "sources.discovery.files_found": mean(
            [s.counts["files_found"] for s in by_name.get("sources.discovery.fetch", [])]
        ),
        "sources.parquet.scan_s": self_mean("sources.parquet.scan"),
        "grid.ingest.load_s": self_mean("grid.ingest.load"),
        "grid.ingest.jobs": len(tracer.jobs(loads)) / len(loads) if loads else 0.0,
        "grid.model.validate_dense_s": self_mean("grid.model.validate_dense"),
        "grid.model.grid_axes_s": self_mean("grid.model.grid_axes"),
        "grid.model.jobs": len(model_jobs) / len(builds) if builds else 0.0,
        "grid.model.input_bytes": (
            tracer.stage_totals(model_jobs)["input_bytes"] / len(builds) if builds else 0.0
        ),
        "grid.registry.build_s": self_mean("grid.registry.build"),
        "grid.interpolate.build_s": self_mean("grid.interpolate.build"),
        "grid.interpolate.exec_s": self_mean("grid.interpolate.exec"),
        "grid.interpolate.jobs": len(query_jobs) / len(queries) if queries else 0.0,
        "grid.interpolate.shuffle_bytes": (
            query_stages["shuffle_bytes"] / len(queries) if queries else 0.0
        ),
        "grid.interpolate.executor_run_s": (
            query_stages["executor_run_s"] / len(queries) if queries else 0.0
        ),
        "grid.interpolate.spill_bytes": (
            query_stages["spill_bytes"] / len(queries) if queries else 0.0
        ),
        "streaming.files.batch_s": mean(batch_s),
        "streaming.files.trigger_s": mean([s.seconds for s in refreshes]) - mean(batch_s)
        if refreshes else 0.0,
        "streaming.files.store_files": float(wl.store_files()) if hasattr(wl, "store_files") else 0.0,
    }
    return {k: _metric(float(v), PER_LAYER[k]) for k, v in values.items()}
