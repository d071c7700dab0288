"""Per-layer metrics from the spans of a traced run.

A layer's time is the median over traced ops of its span's duration;
a span only set-up opens (``session.start``) falls back to the median
over the set-up repetitions. Counts come from span attributes and the
status-tracker job counts. A layer a workload never calls reports 0.
The ``bench`` layer is the benchmark's own code around the calls.
"""

from __future__ import annotations

import collections
import statistics

from spans import self_time
from workloads import REGISTRY_QUERIES

LAYERS = ("bench", "session", "sources", "dedup", "sinks", "similarity", "registry", "graph")

# metric name -> span name
SPAN_TIMES = {
    "session.start_s": "session.start",
    "sources.ingest_s": "sources.ingest",
    "dedup.pairs_s": "dedup.pairs",
    "sinks.upsert_s": "sinks.upsert",
    "similarity.embed_s": "similarity.embed",
    "graph.pagerank_s": "graph.pagerank",
    "graph.h_index_s": "graph.h_index",
    **{f"registry.query_s.{q}": f"registry.query.{q}" for q in REGISTRY_QUERIES},
}
# metric name -> (span name, attribute)
SPAN_ATTRS = {
    "sources.rows_quarantined": ("sources.ingest", "rows_quarantined"),
    "dedup.candidate_pairs": ("dedup.pairs", "candidate_pairs"),
    "dedup.confirmed_ratio": ("dedup.pairs", "confirmed_ratio"),
    "sinks.inserted_ratio": ("sinks.upsert", "inserted_ratio"),
    "sinks.bytes_written": ("sinks.upsert", "bytes_written"),
    "sinks.files_written": ("sinks.upsert", "files_written"),
}

# every per-layer metric a traced run reports, with its unit
PER_LAYER_UNITS = {
    **{m: "s" for m in SPAN_TIMES},
    "sources.rows_quarantined": "count",
    "dedup.candidate_pairs": "count",
    "dedup.confirmed_ratio": "ratio",
    "sinks.inserted_ratio": "ratio",
    "sinks.bytes_written": "bytes",
    "sinks.files_written": "count",
    **{f"registry.jobs.{q}": "count" for q in REGISTRY_QUERIES},
    **{f"{layer}.self_s": "s" for layer in LAYERS},
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.failed_tasks": "count",
    "memo.builds": "count",
    "trace.overhead_s": "s",
    "failed_ops_ratio": "ratio",
    "docs_per_s": "1/s",
    "write_amp": "ratio",
}


def _median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def layer_metrics(spans, traced_ops: set) -> dict:
    """Every span-derived per-layer metric as ``{name: value}``."""
    op_spans = [s for s in spans if s.phase == "op" and s.op in traced_ops]
    setup_spans = [s for s in spans if s.phase == "setup"]

    def pick(name):
        return [s for s in op_spans if s.name == name] or [
            s for s in setup_spans if s.name == name
        ]

    out = {}
    for metric, span_name in SPAN_TIMES.items():
        out[metric] = _median(s.duration for s in pick(span_name))
    for metric, (span_name, attr) in SPAN_ATTRS.items():
        out[metric] = _median(s.attrs[attr] for s in pick(span_name) if attr in s.attrs)
    for q in REGISTRY_QUERIES:
        out[f"registry.jobs.{q}"] = _median(s.jobs for s in pick(f"registry.query.{q}"))

    # self time per layer: per op (or set-up repetition), the layer's
    # spans' durations minus what their child spans cover
    children = collections.defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    for phase_spans in (op_spans, setup_spans):
        per_unit = collections.defaultdict(lambda: collections.defaultdict(float))
        for s in phase_spans:
            per_unit[s.layer][s.op] += self_time(s, children[s.sid])
        for layer in LAYERS:
            if f"{layer}.self_s" not in out and per_unit[layer]:
                out[f"{layer}.self_s"] = _median(per_unit[layer].values())
    for layer in LAYERS:
        out.setdefault(f"{layer}.self_s", 0.0)

    per_op = collections.defaultdict(lambda: [0, 0, 0, 0])
    for s in op_spans:
        acc = per_op[s.op]
        acc[0] += s.jobs
        acc[1] += s.stages
        acc[2] += s.tasks
        acc[3] += s.failed_tasks
    out["spark.jobs_per_op"] = _median(a[0] for a in per_op.values())
    out["spark.stages_per_op"] = _median(a[1] for a in per_op.values())
    out["spark.tasks_per_op"] = _median(a[2] for a in per_op.values())
    out["spark.failed_tasks"] = sum(a[3] for a in per_op.values())
    return out
