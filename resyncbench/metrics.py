"""Metric definitions and their computation from passes and spans.

End-to-end metrics come from untraced passes only; per-layer metrics
come from the spans of traced passes (and of the set-up repetitions,
prefixed ``setup.``). Per-layer conventions: ``<span>_s`` and
``<span>_self_s`` are medians per call; stage counters
(``.stages``, ``.*_bytes``) are totals per traced pass; the counts in
:data:`PASS_COUNTS` are means per operation. A per-layer metric whose
layer a workload does not exercise reads 0.
"""

from __future__ import annotations

import statistics

from spans import descendants, duration, median, self_time, tail_percentile
from workloads import CATALOG

# name -> (unit, better). BENCHMARK.json lists the same names.
END_TO_END = {
    "setup_s": ("s", "lower"),
    "run_s": ("s", "lower"),
    "rows_per_s": ("rows/s", "higher"),
    "batch_p50_s": ("s", "lower"),
    "cpu_s": ("s", "lower"),
}

QUERY_NAMES = tuple(CATALOG)
TIMED = (
    "pipeline.run", "pipeline.plan", "pipeline.slice", "sources.read_slice", "lake.write_work",
    "pipeline.manifest", "pipeline.transform_and_merge", "operators.merge.merge_upsert",
    "lake.merge_trusted", "lake.vacuum_trusted", "lake.clear_work", "lake.read_trusted",
    *(f"queries.{q}" for q in QUERY_NAMES),
)
SELF = {  # span -> metric name of its self time
    "pipeline.run": "pipeline.run_self_s",
    "pipeline.slice": "pipeline.slice_self_s",
    "pipeline.transform_and_merge": "pipeline.transform_and_merge_self_s",
    "lake.merge_trusted": "lake.merge_write_self_s",
}
STAGE_FIELDS = ("stages", "input_bytes", "output_bytes", "shuffle_write_bytes")
STAGED = ("lake.write_work", "lake.merge_trusted", "operators.merge.merge_upsert",
          "lake.read_trusted")
SETUP_TIMED = ("pipeline.run", "sources.probe_min", "sources.probe_max", "sources.read_range",
               "lake.write_work", "pipeline.transform_and_merge", "lake.merge_trusted",
               "sources.seed_jdbc_table")
PASS_COUNTS = {  # PassResult.extra key (one value per operation) -> (unit, better)
    "slicing.intervals": ("count", "lower"),
    "pipeline.attempts": ("count", "lower"),
    "pipeline.skipped": ("count", "lower"),
    "pipeline.useful_slice_frac": ("ratio", "higher"),
    "lake.work_files": ("count", "lower"),
    "lake.work_bytes": ("bytes", "lower"),
    "lake.manifest_bytes": ("bytes", "lower"),
    "lake.trusted_bytes_written": ("bytes", "lower"),
    "lake.trusted_files_written": ("count", "lower"),
    "lake.rewrite_ratio": ("ratio", "lower"),
    "lake.write_amp": ("ratio", "lower"),
    "lake.space_amp": ("ratio", "lower"),
}


def _per_layer_defs() -> dict:
    out = {"session.get_spark_s": ("s", "lower")}
    for span in TIMED:
        out[f"{span}_s"] = ("s", "lower")
    for metric in SELF.values():
        out[metric] = ("s", "lower")
    for span in STAGED:
        for f in STAGE_FIELDS:
            out[f"{span}.{f}"] = ("count" if f == "stages" else "bytes", "lower")
    for q in QUERY_NAMES:
        out[f"queries.{q}.stages"] = ("count", "lower")
        out[f"queries.{q}.shuffle_write_bytes"] = ("bytes", "lower")
    for span in SETUP_TIMED:
        out[f"setup.{span}_s"] = ("s", "lower")
    out["setup.lake.write_work.output_bytes"] = ("bytes", "lower")
    out["setup.pipeline.transform_and_merge.shuffle_write_bytes"] = ("bytes", "lower")
    out.update(PASS_COUNTS)
    out["trace.overhead_s"] = ("s", "lower")
    out["trace.overhead_frac"] = ("ratio", "lower")
    out["trace.spans"] = ("count", "lower")
    return out


PER_LAYER = _per_layer_defs()


def _spans_under(tracer, root_name: str) -> list:
    out = []
    for s in tracer.spans:
        if s.name == root_name and s.parent is None:
            out.extend(descendants(tracer.spans, s))
    return out


def _by_name(spans) -> dict:
    out: dict = {}
    for s in spans:
        out.setdefault(s.name, []).append(s)
    return out


def end_to_end(setup_times, passes, peak_rss) -> tuple[dict, list]:
    """(metrics, table rows). ``passes`` are (PassResult, cpu_s) of the
    untraced passes. Table rows carry every end-to-end figure with its
    sample count, including those only some workloads have."""
    walls = [p.wall for p, _ in passes]
    ops = [lat for p, _ in passes for lat in p.ops]
    metrics = {
        "setup_s": median(setup_times),
        "run_s": median(walls),
        "rows_per_s": median([p.rows / p.wall for p, _ in passes]),
        "batch_p50_s": median(ops),
        "cpu_s": median([c for _, c in passes]),
    }
    counts = {"setup_s": len(setup_times), "run_s": len(walls), "rows_per_s": len(walls),
              "batch_p50_s": len(ops), "cpu_s": len(passes)}
    table = [(k, v, END_TO_END[k][0], counts[k]) for k, v in metrics.items()]
    # Printed, not gated: the JVM's G1 heap grows with GC timing, so the
    # peak spreads wider from run to run (IQR/median 0.29 over 5 seeds)
    # than any bound the benchmark may set.
    table.append(("peak_rss_mb", peak_rss, "MiB", 1))
    _tail(table, "batch", ops)
    slices = [v for p, _ in passes for v in p.extra.get("slice_s", [])]
    if slices:
        table.append(("slice_p50_s", median(slices), "s", len(slices)))
        _tail(table, "slice", slices)
    for key, name, unit in (("lake.write_amp", "write_amp", "ratio"),
                            ("lake.space_amp", "space_amp", "ratio"),
                            ("trusted_read_s", "trusted_read_s", "s")):
        vals = [v for p, _ in passes for v in p.extra.get(key, [])]
        if vals:
            table.append((name, median(vals), unit, len(vals)))
    return metrics, table


def _tail(table, op: str, samples) -> None:
    """Add the tail percentile row when the samples allow one."""
    tail = tail_percentile(samples)
    if tail is not None:
        table.append((f"{op}_p{tail[0]:g}_s", tail[1], "s", len(samples)))


def per_layer(tracer, traced, plain) -> tuple[dict, list]:
    """(metrics, span table). ``traced``/``plain`` are the PassResults of
    traced and untraced passes of a traced run."""
    n = max(len(traced), 1)
    passes = _by_name(_spans_under(tracer, "pass"))
    setup = _by_name(_spans_under(tracer, "setup"))
    spans = tracer.spans
    out = {k: 0.0 for k in PER_LAYER}

    def med(group, name):
        return median([duration(spans, s) for s in group.get(name, [])])

    def jobs(group, name, f):
        return sum(s.jobs.get(f, 0) for s in group.get(name, []))

    out["session.get_spark_s"] = med(setup, "session.get_spark")
    for span in TIMED:
        out[f"{span}_s"] = med(passes, span)
    for span, metric in SELF.items():
        out[metric] = median([self_time(spans, s) for s in passes.get(span, [])])
    for span in STAGED:
        for f in STAGE_FIELDS:
            out[f"{span}.{f}"] = jobs(passes, span, f) / n
    for q in QUERY_NAMES:
        out[f"queries.{q}.stages"] = jobs(passes, f"queries.{q}", "stages") / n
        out[f"queries.{q}.shuffle_write_bytes"] = jobs(passes, f"queries.{q}", "shuffle_write_bytes") / n
    for span in SETUP_TIMED:
        out[f"setup.{span}_s"] = med(setup, span)
    reps = max(len([s for s in spans if s.name == "setup" and s.parent is None]), 1)
    out["setup.lake.write_work.output_bytes"] = jobs(setup, "lake.write_work", "output_bytes") / reps
    out["setup.pipeline.transform_and_merge.shuffle_write_bytes"] = (
        jobs(setup, "pipeline.transform_and_merge", "shuffle_write_bytes") / reps)
    for key in PASS_COUNTS:
        vals = [v for p in traced + plain for v in p.extra.get(key, [])]
        out[key] = statistics.mean(vals) if vals else 0.0
    traced_wall, plain_wall = median([p.wall for p in traced]), median([p.wall for p in plain])
    out["trace.overhead_s"] = traced_wall - plain_wall
    out["trace.overhead_frac"] = (traced_wall - plain_wall) / plain_wall if plain_wall else 0.0
    out["trace.spans"] = sum(len(v) for v in passes.values()) / n

    table = []
    for prefix, group in (("", passes), ("setup.", setup)):
        for name, group_spans in sorted(group.items()):
            durs = [duration(spans, s) for s in group_spans]
            selfs = [self_time(spans, s) for s in group_spans]
            shuffle = sum(s.jobs.get("shuffle_write_bytes", 0) for s in group_spans)
            table.append((prefix + name, len(group_spans), sum(durs), median(durs),
                          median(selfs), sum(selfs), shuffle))
    return out, table
