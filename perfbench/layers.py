"""Per-layer metrics of a traced run.

Every traced run prints the same metric set. A metric of a layer call the
workload never makes reads 0 (for example `plans.*` on `map`); the
mapping from each metric to the workload and end-to-end metric it should
move is in perfbench/design.json.

Per-call metrics are medians over the calls in the run. Counters come from
Spark's status store through the spans (see tracing.py); on-disk hierarchy
statistics come from walking the engine workdir.
"""

from __future__ import annotations

import os
import time

from perfbench.stats import hierarchy_stats, median
from perfbench.workloads import CURATION_QUERIES

LAYERS = ("sources", "grid_cluster", "engine", "plans")
PLAN_FIELDS = (
    ("s", "s"),
    ("jobs", "count"),
    ("tasks", "count"),
    ("shuffle_write_bytes", "B"),
    ("spill_bytes", "B"),
    ("executor_cpu_s", "s"),
)

PER_LAYER = [
    ("session.build_s", "s"),
    ("sources.read_geoparquet.scan_s", "s"),
    ("grid_cluster.leaf_agg_s", "s"),
    ("grid_cluster.upper_s", "s"),
    ("grid_cluster.load.jobs", "count"),
    ("grid_cluster.load.stages", "count"),
    ("grid_cluster.load.tasks", "count"),
    ("grid_cluster.load.shuffle_write_bytes", "B"),
    ("grid_cluster.load.spill_bytes", "B"),
    ("grid_cluster.load.executor_cpu_s", "s"),
    ("grid_cluster.leaf_cells", "count"),
    ("grid_cluster.hierarchy_rows", "count"),
    ("grid_cluster.hierarchy_bytes", "B"),
    ("grid_cluster.hierarchy_bytes_per_point", "B/point"),
    ("grid_cluster.hierarchy_files", "count"),
    ("grid_cluster.hierarchy_files_per_zoom_max", "count"),
    ("engine.get_clusters.plan_ms", "ms"),
    ("engine.get_clusters.exec_ms", "ms"),
    ("engine.get_clusters.jobs", "count"),
    ("engine.get_clusters.tasks", "count"),
    ("engine.get_clusters.rows_out", "count"),
    ("engine.get_clusters.input_rows", "count"),
    ("engine.get_children.exec_ms", "ms"),
    ("engine.get_children.jobs", "count"),
    ("engine.get_children.tasks", "count"),
    ("engine.get_children.input_rows", "count"),
    ("engine.get_cluster_expansion_zoom.exec_ms", "ms"),
    ("engine.get_cluster_expansion_zoom.jobs", "count"),
    ("engine.get_cluster_expansion_zoom.stages", "count"),
    ("engine.get_cluster_expansion_zoom.tasks", "count"),
    ("engine.get_leaves.exec_ms", "ms"),
    ("engine.get_leaves.jobs", "count"),
    ("engine.get_leaves.stages", "count"),
    ("engine.get_leaves.input_rows", "count"),
    ("engine.get_leaves.input_rows_per_row_out", "ratio"),
    ("engine.append.s", "s"),
    ("engine.append.jobs", "count"),
    ("engine.append.shuffle_write_bytes", "B"),
    ("engine.append.rows_written", "count"),
    ("engine.append.rows_written_per_new_point", "ratio"),
    ("engine.layer.hit_ratio", "ratio"),
    ("engine.layer.rebuilds", "count"),
    *[(f"plans.{q}.{f}", u) for q in CURATION_QUERIES for f, u in PLAN_FIELDS],
    *[(f"layer_self_s.{layer}", "s") for layer in LAYERS],
    ("trace.bookkeeping_s", "s"),
    ("trace.batch_s", "s"),
    ("trace.op_p50_ms", "ms"),
]


def _med(values):
    values = [v for v in values if v is not None]
    return median(values) if values else 0


def _counters(tr, spans, key):
    return _med([tr.inclusive(s)[key] for s in spans])


def _spill(c: dict) -> int:
    return c["memory_spill_bytes"] + c["disk_spill_bytes"]


def _ancestor(s, prefix: str) -> bool:
    p = s.parent
    while p is not None:
        if p.name.startswith(prefix):
            return True
        p = p.parent
    return False


def _timed_median(fn, reps: int) -> float:
    """Median wall time of fn(0), ..., fn(reps - 1)."""
    ts = []
    for i in range(reps):
        t0 = time.perf_counter()
        fn(i)
        ts.append(time.perf_counter() - t0)
    return median(ts)


def _grid_probes(ctx, res) -> dict:
    """Traced-run-only layer probes on the workload's own input: the raw
    GeoParquet scan, the leaf aggregation and the upper-level derivation
    from a precomputed leaf, each to a sink, median of a few repetitions."""
    from arrow_supercluster_spark.config import DEFAULT_OPTIONS as opts
    from arrow_supercluster_spark.operators import grid_cluster as gc
    from arrow_supercluster_spark.sources.geoparquet import read_geoparquet

    spark, path, leaf_zoom = ctx.spark, res["points_path"], opts.leaf_zoom

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    def leaf():
        pts = gc.prepare_points(read_geoparquet(spark, path))
        return gc.cell_agg(gc.with_cells(pts, leaf_zoom, opts), leaf_zoom)

    leaf_path = ctx.path("probe_leaf")
    leaf().write.mode("overwrite").parquet(leaf_path)
    return {
        "sources.read_geoparquet.scan_s": _timed_median(
            lambda i: noop(read_geoparquet(spark, path)), 3
        ),
        "grid_cluster.leaf_agg_s": _timed_median(lambda i: noop(leaf()), 3),
        "grid_cluster.upper_s": _timed_median(
            lambda i: gc.materialize_from_leaf(
                spark.read.parquet(leaf_path), ctx.path(f"probe_upper{i}"), opts
            ),
            2,
        ),
    }


def _live_hierarchy(workdir: str) -> str:
    """The newest hierarchy generation: `hierarchy` after a load,
    `hierarchy_gen<k>` after the k-th append."""
    gens = [d for d in os.listdir(workdir) if d.startswith("hierarchy")]
    return os.path.join(
        workdir, max(gens, key=lambda d: int(d.partition("_gen")[2] or 0))
    )


def per_layer(ctx, res, build_s: float) -> dict:
    tr = ctx.tracer
    m = {name: 0 for name, _ in PER_LAYER}
    m["session.build_s"] = build_s
    m["trace.batch_s"] = res["batch_s"]
    m["trace.op_p50_ms"] = res["op_p50_ms"]

    if "points_path" in res:
        with tr.paused():
            m.update(_grid_probes(ctx, res))
        h = hierarchy_stats(_live_hierarchy(res["engine_workdir"]))
        leaf_zoom = res["engine"].opts.leaf_zoom
        m["grid_cluster.leaf_cells"] = h["per_zoom"].get(leaf_zoom, [0])[0]
        m["grid_cluster.hierarchy_rows"] = h["rows"]
        m["grid_cluster.hierarchy_bytes"] = h["bytes"]
        m["grid_cluster.hierarchy_bytes_per_point"] = h["bytes"] / res["points"]
        m["grid_cluster.hierarchy_files"] = h["files"]
        m["grid_cluster.hierarchy_files_per_zoom_max"] = h["files_per_zoom_max"]

    loads = tr.named("engine.load")
    for key in ("jobs", "stages", "tasks", "shuffle_write_bytes"):
        m[f"grid_cluster.load.{key}"] = _counters(tr, loads, key)
    m["grid_cluster.load.spill_bytes"] = _med([_spill(tr.inclusive(s)) for s in loads])
    m["grid_cluster.load.executor_cpu_s"] = _counters(tr, loads, "executor_cpu_ns") / 1e9

    gets = tr.named("engine.get_clusters")
    m["engine.get_clusters.plan_ms"] = _med(
        [s.seconds * 1e3 for s in tr.named("engine.get_clusters.plan")]
    )
    m["engine.get_clusters.exec_ms"] = _med(
        [s.seconds * 1e3 for s in tr.named("engine.get_clusters.exec")]
    )
    for key in ("jobs", "tasks", "input_rows"):
        m[f"engine.get_clusters.{key}"] = _counters(tr, gets, key)
    m["engine.get_clusters.rows_out"] = _med([s.attrs.get("rows_out") for s in gets])

    drill_fields = {
        "get_children": ("jobs", "tasks", "input_rows"),
        "get_cluster_expansion_zoom": ("jobs", "stages", "tasks"),
        "get_leaves": ("jobs", "stages", "input_rows"),
    }
    for op, keys in drill_fields.items():
        spans = tr.named(f"engine.{op}")
        m[f"engine.{op}.exec_ms"] = _med([s.seconds * 1e3 for s in spans])
        for key in keys:
            m[f"engine.{op}.{key}"] = _counters(tr, spans, key)
    m["engine.get_leaves.input_rows_per_row_out"] = _med(
        [
            tr.inclusive(s)["input_rows"] / s.attrs["rows_out"]
            for s in tr.named("engine.get_leaves")
            if s.attrs.get("rows_out")
        ]
    )

    appends = tr.named("engine.append")
    m["engine.append.s"] = _med([s.seconds for s in appends])
    for key in ("jobs", "shuffle_write_bytes"):
        m[f"engine.append.{key}"] = _counters(tr, appends, key)
    m["engine.append.rows_written"] = _counters(tr, appends, "output_rows")
    m["engine.append.rows_written_per_new_point"] = _med(
        [tr.inclusive(s)["output_rows"] / s.attrs["new_points"] for s in appends]
    )

    zooms = tr.named("engine.layer.get_clusters")
    if zooms:
        m["engine.layer.hit_ratio"] = sum(
            tr.inclusive(s)["jobs"] == 0 for s in zooms
        ) / len(zooms)
    m["engine.layer.rebuilds"] = sum(_ancestor(s, "engine.layer.") for s in loads)

    for q in CURATION_QUERIES:
        spans = tr.named(f"plans.{q}")
        m[f"plans.{q}.s"] = _med([s.seconds for s in spans])
        for key in ("jobs", "tasks", "shuffle_write_bytes"):
            m[f"plans.{q}.{key}"] = _counters(tr, spans, key)
        m[f"plans.{q}.spill_bytes"] = _med([_spill(tr.inclusive(s)) for s in spans])
        m[f"plans.{q}.executor_cpu_s"] = _counters(tr, spans, "executor_cpu_ns") / 1e9

    for s in tr.spans:
        if s.end is not None:
            layer = s.name.split(".", 1)[0]
            if layer in LAYERS:
                m[f"layer_self_s.{layer}"] += tr.self_seconds(s)
    m["trace.bookkeeping_s"] = tr.bookkeeping_s
    units = dict(PER_LAYER)
    return {name: (m[name], units[name]) for name in units}
