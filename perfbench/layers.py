"""Per-layer metrics of a traced run, computed from its spans and from
the Spark jobs each span started. Layers are the package's modules."""

from __future__ import annotations

import importlib
import os
import statistics

from spans import span_of_group
from workloads import LLM, RELATIONAL

# (module, function, layer): the public calls wrapped in traced passes.
PATCHES = (
    ("ray_mapreduce_spark.sources.tables", "load_table", "sources.tables"),
    ("ray_mapreduce_spark.sources.text", "read_text_lines", "sources.text"),
    ("ray_mapreduce_spark.sources.sinks", "write_parquet", "sources.sinks"),
    ("ray_mapreduce_spark.operators.clustering", "connected_components", "operators.clustering"),
)
SHIM_OPS = ("bulk_list", "bulk_combiner", "bulk_generator", "bulk_default_chunks", "file_input")
SPAN_LAYERS = ("plans", "mapreduce", "sources.tables", "sources.text", "sources.sinks", "operators.clustering")

# name -> (unit, better); the benchmark's per-layer metrics, in order.
PER_LAYER = {
    "session.startup_s": ("s", "lower"),
    "session.get_spark_s": ("s", "lower"),
    "session.warmup_s": ("s", "lower"),
    "sources.tables.load_table_calls": ("count", "lower"),
    "sources.tables.load_table_s": ("s", "lower"),
    "sources.text.read_text_lines_s": ("s", "lower"),
    "sources.sinks.write_parquet_s": ("s", "lower"),
    "sources.sinks.bytes_written": ("bytes", "lower"),
    **{f"mapreduce.{op}_s": ("s", "lower") for op in SHIM_OPS},
    "mapreduce.map_tasks": ("count", "lower"),
    "mapreduce.reduce_tasks": ("count", "lower"),
    "mapreduce.shuffle_write_bytes": ("bytes", "lower"),
    "mapreduce.records_per_s": ("1/s", "higher"),
    "plans.build_s": ("s", "lower"),
    "plans.collect_s": ("s", "lower"),
    "plans.eager_jobs": ("count", "lower"),
    **{f"plans.{q}.s": ("s", "lower") for q in RELATIONAL + LLM},
    "operators.clustering.connected_components_s": ("s", "lower"),
    "operators.clustering.connected_components_jobs": ("count", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.executor_run_s": ("s", "lower"),
    "spark.executor_cpu_s": ("s", "lower"),
    "spark.shuffle_write_bytes": ("bytes", "lower"),
    "spark.spill_bytes": ("bytes", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.cached_bytes_peak": ("bytes", "lower"),
    "baseline.python_single_process_s": ("s", "lower"),
    "baseline.cpu_steal_s": ("s", "lower"),
    "process.peak_rss_mb": ("MB", "lower"),
    **{f"{layer}.self_s": ("s", "lower") for layer in SPAN_LAYERS},
    "trace.traced_pass_s": ("s", "lower"),
    "trace.untraced_pass_s": ("s", "lower"),
    "trace.overhead_s": ("s", "lower"),
}


def layer_patches(tracer) -> None:
    for module, attr, layer in PATCHES:
        importlib.import_module(module)
        tracer.patch(module, attr, layer)


def _under(all_spans: list[dict], span_id: int | None, pred) -> bool:
    """True when the span or one of its ancestors satisfies ``pred``."""
    while span_id is not None:
        if pred(all_spans[span_id]):
            return True
        span_id = all_spans[span_id]["parent"]
    return False


def pass_metrics(rec: dict, all_spans: list[dict]) -> dict[str, float]:
    spans = rec["spans"]
    m = dict.fromkeys(PER_LAYER, 0.0)

    def spans_named(name):
        return [s for s in spans if s["name"] == name]

    def dur(name):
        return sum(s["end"] - s["start"] for s in spans_named(name))

    m["sources.tables.load_table_calls"] = len(spans_named("sources.tables.load_table"))
    m["sources.tables.load_table_s"] = dur("sources.tables.load_table")
    m["sources.text.read_text_lines_s"] = dur("sources.text.read_text_lines")
    m["sources.sinks.write_parquet_s"] = dur("sources.sinks.write_parquet")
    m["plans.build_s"] = dur("plans.build")
    m["plans.collect_s"] = dur("plans.collect")
    m["operators.clustering.connected_components_s"] = dur("operators.clustering.connected_components")
    for op, secs in rec["op_s"].items():
        key = f"mapreduce.{op}_s" if op in SHIM_OPS else f"plans.{op}.s"
        m[key] = secs
    shim_s = sum(rec["op_s"].get(op, 0.0) for op in SHIM_OPS)
    if shim_s:
        m["mapreduce.records_per_s"] = rec["records"] / shim_s
    for layer, secs in _self_times(spans).items():
        m[f"{layer}.self_s"] = secs

    stages = rec["stages"]
    seen: set[int] = set()
    for group, stage_ids in rec["jobs"]:
        span_id = span_of_group(group)
        in_build = _under(all_spans, span_id, lambda s: s["name"] == "plans.build")
        in_cc = _under(all_spans, span_id, lambda s: s["layer"] == "operators.clustering")
        in_shim = _under(all_spans, span_id, lambda s: s["layer"] == "mapreduce")
        m["spark.jobs"] += 1
        m["plans.eager_jobs"] += in_build
        m["operators.clustering.connected_components_jobs"] += in_cc
        for sid in stage_ids:
            st = stages.get(sid)
            if sid in seen or st is None or not st["tasks"]:
                continue
            seen.add(sid)
            m["spark.stages"] += 1
            m["spark.tasks"] += st["tasks"]
            for f in ("executor_run_s", "executor_cpu_s", "shuffle_write_bytes", "spill_bytes", "gc_s"):
                m[f"spark.{f}"] += st[f]
            if in_shim:
                if st["shuffle_write_bytes"]:
                    m["mapreduce.map_tasks"] += st["tasks"]
                    m["mapreduce.shuffle_write_bytes"] += st["shuffle_write_bytes"]
                elif st["shuffle_read_bytes"]:
                    m["mapreduce.reduce_tasks"] += st["tasks"]
    m["spark.cached_bytes_peak"] = rec["cached_peak"]
    m["baseline.python_single_process_s"] = rec["baseline_s"]
    m["baseline.cpu_steal_s"] = rec["steal_s"]
    return m


def _self_times(spans: list[dict]) -> dict[str, float]:
    """Self time per layer: each span's duration minus the time its
    child spans cover (children run one at a time, inside it)."""
    child: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
    out: dict[str, float] = {}
    for s in spans:
        own = s["end"] - s["start"] - child.get(s["id"], 0.0)
        out[s["layer"]] = out.get(s["layer"], 0.0) + own
    return out


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def layer_metrics(runner, passes: list[dict], workload, rss_mb: float) -> dict[str, tuple[float, str]]:
    """Per-layer numbers of the first pass (traced, the pass an untraced
    run measures), set-up and memory, and the tracing overhead: the
    later traced passes against the untraced ones, all after the first
    full-size pass."""
    later = passes[1:]
    traced = [p for p in later if p["traced"]]
    untraced = [p for p in later if not p["traced"]]
    m = pass_metrics(passes[0], runner.tracer.spans)
    for name, start, end in runner.session_spans:
        m[f"{name}_s"] = end - start
    m["process.peak_rss_mb"] = rss_mb
    out_dir = getattr(workload, "out_dir", None)
    m["sources.sinks.bytes_written"] = _dir_bytes(out_dir) if out_dir else 0
    m["trace.traced_pass_s"] = statistics.median(p["pass_s"] for p in traced)
    m["trace.untraced_pass_s"] = statistics.median(p["pass_s"] for p in untraced)
    m["trace.overhead_s"] = m["trace.traced_pass_s"] - m["trace.untraced_pass_s"]
    return {k: (m[k], unit) for k, (unit, _) in PER_LAYER.items()}
