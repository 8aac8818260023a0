"""Where the traced run opens spans, and the per-layer metrics.

Spans wrap the engine's public functions at the names their callers
resolve. Layers are the package's modules; a span is named
``<layer>.<function>`` after the module that DEFINES the function, even
when it is patched in the module that imported it (pipeline.py calls
``write_overwrite`` through its own namespace).
"""

from __future__ import annotations

import importlib
import os

import pyarrow.parquet as pq

PKG = "web_api_postgres_etl_spark"


def _mod(name: str):
    return importlib.import_module(f"{PKG}.{name}")


def _new_files(path: str, since: float) -> list[str]:
    out = []
    for d, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                if os.stat(p).st_mtime >= since:
                    out.append(p)
    return out


def _written(path_arg: int):
    """Count files, bytes and rows a sink call left under its path."""

    def count(span, args, kwargs, _out, since):
        files = _new_files(args[path_arg], since)
        span.counts["files"] = len(files)
        span.counts["bytes"] = sum(os.path.getsize(f) for f in files)
        span.counts["rows"] = sum(pq.read_metadata(f).num_rows for f in files)

    return count


def _compacted(span, args, kwargs, out, since):
    _written(1)(span, args, kwargs, out, since)
    touched = kwargs.get("touched", args[4] if len(args) > 4 else None)
    span.counts["partitions"] = len(touched or [])


def install(tracer) -> None:
    """Patch every traced function; ``tracer.unwrap()`` restores them."""
    pipeline = _mod("plans.pipeline")
    mp = pipeline.MedallionPipeline
    w = tracer.wrap
    # etl_cycle
    w(_mod("sources.rest"), "json_records_to_df", "sources.rest.json_records_to_df")
    w(_mod("plans.watermark").WatermarkManager, "probe", "plans.watermark.probe")
    w(mp, "run_full_refresh", "plans.pipeline.run_full_refresh")
    w(mp, "run_incremental", "plans.pipeline.run_incremental")
    for m in ("stage_trades", "stage_news", "stage_indexvalues"):
        w(mp, m, "plans.pipeline.stage")
    for m in ("produce_trades", "produce_indexvalues"):
        w(mp, m, "plans.pipeline.produce")
    w(mp, "compact_partitioned", "plans.pipeline.compact_partitioned", _compacted)
    w(pipeline, "write_overwrite", "sources.writers.write_overwrite", _written(1))
    w(pipeline, "write_append", "sources.writers.write_append", _written(1))
    # curation: the stages prepare_training_data composes
    curation = _mod("plans.curation")
    w(curation, "prepare_training_data", "plans.curation.prepare_training_data")
    w(_mod("operators.retrieval"), "unigram_perplexity",
      "operators.retrieval.unigram_perplexity")
    w(curation, "decontaminate", "operators.dedup.decontaminate")
    w(_mod("operators.dedup"), "exact_substring_dedup", "operators.dedup.exact_substring_dedup")

    def near_dup(span, args, kwargs, out, since):
        # near_dup_pairs pins the LSH candidates, then the candidate
        # shingles; its result is the verified pairs
        pins = kwargs.get("pins")
        if pins is not None and len(pins) >= 2:
            tracer.captured.append((pins[-2], out))

    w(curation, "near_dup_pairs", "operators.dedup.near_dup_pairs", near_dup)
    w(curation, "dedup_clusters", "operators.graph.dedup_clusters")
    w(curation, "pack_sequences", "operators.sampling.pack_sequences")


# ------------------------------------------------------------ metrics
ETL_TIMES = {  # span name → op kind its per-op mean is taken over
    "sources.rest.json_records_to_df": "tick",
    "plans.watermark.probe": "tick",
    "plans.pipeline.run_incremental": "tick",
    "plans.pipeline.compact_partitioned": "tick",
    "sources.writers.write_append": "tick",
    "plans.pipeline.run_full_refresh": "refresh",
    "plans.pipeline.stage": "refresh",
    "plans.pipeline.produce": "refresh",
    "sources.writers.write_overwrite": "refresh",
}
CURATION_STAGES = [
    "operators.retrieval.unigram_perplexity",
    "operators.dedup.decontaminate",
    "operators.dedup.exact_substring_dedup",
    "operators.dedup.near_dup_pairs",
    "operators.graph.dedup_clusters",
    "operators.sampling.pack_sequences",
]


def catalogue() -> list[tuple[str, str]]:
    """Every per-layer metric as (name, unit), in print order."""
    out = [(f"{n}_s", "s") for n in ETL_TIMES]
    out += [
        ("plans.pipeline.compact_rows_per_delta_row", "ratio"),
        ("plans.pipeline.partitions_touched", "count"),
    ]
    for kind in ("refresh", "tick"):
        out += [(f"sources.writers.files_written.{kind}", "count"),
                (f"sources.writers.bytes_written.{kind}", "B")]
    out += [("prd.data_files", "count"), ("prd.bytes_per_row", "B/row"),
            ("dashboard.read_s", "s")]
    for kind in ("refresh", "tick", "dashboard", "curation"):
        out += [(f"spark.jobs.{kind}", "count"), (f"spark.task_s.{kind}", "s"),
                (f"spark.shuffle_bytes.{kind}", "B"), (f"spark.spill_bytes.{kind}", "B"),
                (f"spark.driver_share.{kind}", "fraction")]
    out += [("plans.curation.prepare_training_data_s", "s"), ("plans.curation.sink_s", "s")]
    for st in CURATION_STAGES:
        out += [(f"{st}_s", "s"), (f"{st}.task_s", "s")]
    out += [("operators.dedup.lsh_candidates", "count"),
            ("operators.dedup.near_dup_pairs", "count"),
            ("operators.dedup.lsh_candidates_per_pair", "ratio"),
            ("wall.batch_s", "s"), ("wall.op_s", "s"), ("wall.read_s", "s"),
            ("cpu.read_s", "s"), ("proc.peak_rss_mb", "MB"),
            ("trace.overhead_s", "s"), ("trace.overhead_share", "fraction")]
    return out


# the operation whose count a kind's per-op means divide by: a tick is
# followed by its dashboard read set, a curation run is call + sink
_UNIT = {"refresh": "refresh", "tick": "tick", "dashboard": "tick",
         "curation": "curation.call"}


def _ops(tracer, kind: str) -> tuple[set[int], int]:
    """(op ids of this kind, number of its unit operations)."""
    tops = [s for s in tracer.spans if s.parent is None]
    ops = {s.op for s in tops if s.name.split(".", 1)[0] == kind}
    return ops, sum(1 for s in tops if s.name == _UNIT[kind])


def metrics(tracer, cores: int) -> dict:
    """Per-layer metrics of the traced pass (every catalogue name; a
    layer the workload does not run reads 0)."""
    vals = {name: 0.0 for name, _ in catalogue()}
    walls = {s.op: s.wall for s in tracer.spans if s.parent is None}
    for kind in ("refresh", "tick", "dashboard", "curation"):
        ops, n = _ops(tracer, kind)
        if not ops or not n:
            continue
        agg = tracer.by_name(ops)
        tot = {k: sum(a[k] for a in agg.values())
               for k in ("jobs", "task_s", "shuffle_bytes", "spill_bytes")}
        vals[f"spark.jobs.{kind}"] = tot["jobs"] / n
        vals[f"spark.task_s.{kind}"] = tot["task_s"] / n
        vals[f"spark.shuffle_bytes.{kind}"] = tot["shuffle_bytes"] / n
        vals[f"spark.spill_bytes.{kind}"] = tot["spill_bytes"] / n
        wall = sum(walls[o] for o in ops)
        vals[f"spark.driver_share.{kind}"] = 1 - tot["task_s"] / (wall * cores)
        for name, k in ETL_TIMES.items():
            if k == kind and name in agg:
                vals[f"{name}_s"] = agg[name]["self_s"] / n
        if kind in ("refresh", "tick"):
            writer = ("sources.writers.write_overwrite" if kind == "refresh"
                      else "sources.writers.write_append")
            files = agg.get(writer, {}).get("files", 0)
            nbytes = agg.get(writer, {}).get("bytes", 0)
            if kind == "tick":
                comp = agg.get("plans.pipeline.compact_partitioned", {})
                files += comp.get("files", 0)
                nbytes += comp.get("bytes", 0)
                appended = agg.get(writer, {}).get("rows", 0)
                vals["plans.pipeline.compact_rows_per_delta_row"] = (
                    comp.get("rows", 0) / appended if appended else 0.0)
                vals["plans.pipeline.partitions_touched"] = comp.get("partitions", 0) / n
            vals[f"sources.writers.files_written.{kind}"] = files / n
            vals[f"sources.writers.bytes_written.{kind}"] = nbytes / n
        if kind == "dashboard":
            vals["dashboard.read_s"] = wall / n
        if kind == "curation":
            vals["plans.curation.prepare_training_data_s"] = (
                agg.get("plans.curation.prepare_training_data", {}).get("self_s", 0) / n)
            vals["plans.curation.sink_s"] = agg.get("curation.sink", {}).get("self_s", 0) / n
            for st in CURATION_STAGES:
                if st in agg:
                    vals[f"{st}_s"] = agg[st]["self_s"] / n
                    vals[f"{st}.task_s"] = agg[st]["task_s"] / n
    return vals


def prd_layout(warehouse: str) -> tuple[int, float]:
    """(data files, bytes per row) over every prd table, from footers."""
    files = [p for d in os.listdir(warehouse) if d.startswith("prd_")
             for p in _new_files(os.path.join(warehouse, d), 0.0)]
    rows = sum(pq.read_metadata(f).num_rows for f in files)
    nbytes = sum(os.path.getsize(f) for f in files)
    return len(files), (nbytes / rows if rows else 0.0)

