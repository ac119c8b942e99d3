"""Per-layer metrics of a traced run.

The benchmark wraps the public layer functions at run time (no program file
changes) so each call is a span, then joins the event log to those spans.
Layer names follow the repo's modules.  Every metric is reported on every
workload; a layer the workload never calls reads 0.
"""

from __future__ import annotations

import os

from stats import median, quantile
from tracing import EventLog, Span, Tracer, span_cost

from eoreader_spark.lineage import LineageStore
from eoreader_spark.operators import assign, knn
from eoreader_spark.plans import loader
from eoreader_spark.sources import pyscan

STAGES = ("images", "tiles", "assign", "index_stats")
# query-layer spans: (layer, span name of the call, op kinds timed around it)
CALL_LAYERS = (
    ("assign", "assign.assign_tiles", ("aoi",)),
    ("knn", "knn.knn_join", ("knn", "knn_sparse")),
    ("loader", "loader.load", ("window",)),
)
# the Python-side scan of index_stats_scan runs as a mapInPandas stage
PYSCAN_SCOPE = "MapInPandas"

# name -> (unit, better)
METRICS: dict[str, tuple[str, str]] = {}
for _st in STAGES:
    METRICS.update({
        f"lineage.{_st}.wall_s": ("s", "lower"),
        f"lineage.{_st}.task_s": ("s", "lower"),
        f"lineage.{_st}.idle_s": ("s", "lower"),
        f"lineage.{_st}.jobs": ("count", "lower"),
        f"lineage.{_st}.rows_written": ("count", "lower"),
        f"lineage.{_st}.files": ("count", "lower"),
    })
METRICS.update({
    "pipelines.self_s": ("s", "lower"),
    "lineage.resume.wall_s": ("s", "lower"),
    "lineage.resume.task_s": ("s", "lower"),
    "lineage.resume.idle_s": ("s", "lower"),
    "lineage.resume.jobs": ("count", "lower"),
    "lineage.skipped_task_s": ("s", "lower"),
    "lineage.useful_task_ratio": ("ratio", "higher"),
    "pyscan.splits": ("count", "lower"),
    "pyscan.task_p50_s": ("s", "lower"),
    "pyscan.task_max_s": ("s", "lower"),
    "codecs.decode_ms_per_image": ("ms", "lower"),
    "indices.kernel_ms_per_image": ("ms", "lower"),
})
for _layer, _, _ in CALL_LAYERS:
    METRICS.update({
        f"{_layer}.wall_s": ("s", "lower"),
        f"{_layer}.plan_s": ("s", "lower"),
        f"{_layer}.jobs": ("count", "lower"),
        f"{_layer}.task_s": ("s", "lower"),
        f"{_layer}.idle_s": ("s", "lower"),
        f"{_layer}.shuffle_bytes": ("B", "lower"),
    })
METRICS.update({
    "spark.tasks": ("count", "lower"),
    "spark.task_s": ("s", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.shuffle_read_bytes": ("B", "lower"),
    "spark.shuffle_write_bytes": ("B", "lower"),
    "spark.spill_bytes": ("B", "lower"),
    "spark.failed_tasks": ("count", "lower"),
    "session.start_s": ("s", "lower"),
    "session.peak_rss_mb": ("MB", "lower"),
    "host.control_s": ("s", "lower"),
    "trace.overhead_ratio": ("ratio", "lower"),
})


def _count_files(root: str) -> int:
    return sum(len(files) for _, _, files in os.walk(root))


def install(tracer: Tracer) -> None:
    """Wrap the layer entry points the workloads reach, directly or through
    run_pipeline, so each call opens a span."""

    def stage_before(attrs, args, kwargs):
        attrs["files_before"] = _count_files(args[0].root)

    def stage_after(attrs, out, args, kwargs):
        attrs["rows_written"] = out["rows_written"]
        attrs["skipped"] = out["skipped"]
        attrs["files"] = _count_files(args[0].root) - attrs.pop("files_before")

    tracer.wrap(
        LineageStore, "run_stage", lambda self, stage, *a, **k: f"lineage.{stage}",
        before=stage_before, after=stage_after,
    )
    tracer.wrap(
        pyscan, "parquet_splits", "pyscan.parquet_splits",
        after=lambda attrs, out, args, kwargs: attrs.update(splits=len(out)),
    )
    tracer.wrap(assign, "assign_tiles", "assign.assign_tiles")
    tracer.wrap(knn, "knn_join", "knn.knn_join")
    tracer.wrap(loader.ImageEngine, "load", "loader.load")


def _descendants(tracer: Tracer, sp: Span, name: str) -> list[Span]:
    out = []
    for c in tracer.children(sp):
        if c.name == name:
            out.append(c)
        out.extend(_descendants(tracer, c, name))
    return out


def _per_op(values: list[float]) -> float:
    """Median over the traced operations that reached the layer; 0 when none."""
    return float(median(values)) if values else 0.0


def layer_metrics(tracer: Tracer, log: EventLog, ops: list[Span]) -> dict[str, float]:
    """Per-operation medians of each layer over the traced operation spans
    ``ops``; ``spark.*`` are per-operation means, failed tasks a total.
    ``lineage.<stage>.*`` and ``pyscan.*`` come from the fresh-root half of
    a batch operation, ``lineage.resume.*`` from its resume half."""
    m: dict[str, float] = {}
    fresh = [sp for op in ops for sp in _descendants(tracer, op, "batch.pipeline")]
    resumed = [sp for op in ops for sp in _descendants(tracer, op, "batch.resume")]
    for st in STAGES:
        rows = {k: [] for k in ("wall_s", "task_s", "idle_s", "jobs", "rows_written", "files")}
        for part in fresh:
            for sp in _descendants(tracer, part, f"lineage.{st}"):
                c = span_cost(tracer, log, sp)
                rows["wall_s"].append(c.wall_s)
                rows["task_s"].append(c.task_s)
                rows["idle_s"].append(c.idle_s)
                rows["jobs"].append(c.jobs)
                rows["rows_written"].append(sp.attrs["rows_written"])
                rows["files"].append(sp.attrs["files"])
        for k, v in rows.items():
            m[f"lineage.{st}.{k}"] = _per_op(v)
    # run_pipeline's own time in this process outside the four run_stage calls:
    # input plans, the assign_tiles call and index_stats split planning
    m["pipelines.self_s"] = _per_op([tracer.self_time(sp) for sp in fresh])
    costs = [span_cost(tracer, log, sp) for sp in resumed]
    m["lineage.resume.wall_s"] = _per_op([c.wall_s for c in costs])
    m["lineage.resume.task_s"] = _per_op([c.task_s for c in costs])
    m["lineage.resume.idle_s"] = _per_op([c.idle_s for c in costs])
    m["lineage.resume.jobs"] = _per_op([c.jobs for c in costs])

    skipped, useful = [], []
    for op in ops:
        stage_spans = [s for st in STAGES for s in _descendants(tracer, op, f"lineage.{st}")]
        if not stage_spans:
            continue
        task_s = {s.id: span_cost(tracer, log, s).task_s for s in stage_spans}
        skipped.append(sum(task_s[s.id] for s in stage_spans if s.attrs["skipped"]))
        total = span_cost(tracer, log, op).task_s
        wrote = sum(task_s[s.id] for s in stage_spans if s.attrs["rows_written"] > 0)
        useful.append(wrote / total if total > 0 else 0.0)
    m["lineage.skipped_task_s"] = _per_op(skipped)
    m["lineage.useful_task_ratio"] = _per_op(useful)

    splits, p50, pmax = [], [], []
    for part in fresh:
        for sp in _descendants(tracer, part, "pyscan.parquet_splits"):
            splits.append(sp.attrs["splits"])
        for sp in _descendants(tracer, part, "lineage.index_stats"):
            walls = [
                t.wall for t in log.tasks_in(tracer.subtree_groups(sp))
                if PYSCAN_SCOPE in log.stage_scopes.get(t.stage, ())
            ]
            if walls:
                p50.append(quantile(walls, 50))
                pmax.append(max(walls))
    m["pyscan.splits"] = _per_op(splits)
    m["pyscan.task_p50_s"] = _per_op(p50)
    m["pyscan.task_max_s"] = _per_op(pmax)

    for layer, call, kinds in CALL_LAYERS:
        rows = {k: [] for k in ("wall_s", "plan_s", "jobs", "task_s", "idle_s", "shuffle_bytes")}
        for op in ops:
            for sp in _descendants(tracer, op, call):
                # a query op is timed around the call and its collect; inside
                # run_pipeline the call span is all the layer's own time
                outer = op if op.name.removeprefix("op.") in kinds else sp
                c = span_cost(tracer, log, outer)
                rows["wall_s"].append(c.wall_s)
                rows["plan_s"].append(sp.wall)
                rows["jobs"].append(c.jobs)
                rows["task_s"].append(c.task_s)
                rows["idle_s"].append(c.idle_s)
                rows["shuffle_bytes"].append(c.shuffle_write)
        for k, v in rows.items():
            m[f"{layer}.{k}"] = _per_op(v)

    costs = [span_cost(tracer, log, op) for op in ops]
    n = max(1, len(costs))
    m["spark.tasks"] = sum(c.tasks for c in costs) / n
    m["spark.task_s"] = sum(c.task_s for c in costs) / n
    m["spark.gc_s"] = sum(c.gc_s for c in costs) / n
    m["spark.shuffle_read_bytes"] = sum(c.shuffle_read for c in costs) / n
    m["spark.shuffle_write_bytes"] = sum(c.shuffle_write for c in costs) / n
    m["spark.spill_bytes"] = sum(c.spill for c in costs) / n
    m["spark.failed_tasks"] = float(sum(c.failed_tasks for c in costs))
    return m
