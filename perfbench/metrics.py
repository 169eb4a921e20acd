"""Metric definitions (the source BENCHMARK.json mirrors) and their computation."""

from __future__ import annotations

import math
import statistics

# (name, unit, better, bound) — every workload prints every one of these
END_TO_END = (
    ("setup_s", "s", "lower", 0.25),
    ("op_p50_s", "s", "lower", 0.25),
    ("ops_per_s", "1/s", "higher", 0.25),
    ("live_heap_mb", "MB", "lower", 0.2),
)

# Spans whose executor-side task metrics the traced run reports.
TASK_SPANS = (
    "plans.discover_communities",
    "plans.scan_signals",
    "validate.validate_table",
    "dedup.corpus_dedup.build",
    "sinks.write_training_shards",
    "dedup.ngram_jaccard_pairs.exec",
    "curation.pass",
)
TASK_QUANTITIES = (
    ("executor_cpu_s", "s"),
    ("gc_s", "s"),
    ("gc_share", "ratio"),
    ("shuffle_read_bytes", "bytes"),
    ("shuffle_write_bytes", "bytes"),
    ("spill_bytes", "bytes"),
    ("peak_exec_mem_mb", "MB"),
)

# (name, unit, better) — the traced run prints every one of these; a layer
# a workload does not call reads 0.
PER_LAYER = (
    ("session.get_spark.s", "s", "lower"),
    ("session.warmup.s", "s", "lower"),
    ("plans.discover_communities.s", "s", "lower"),
    ("plans.scan_signals.s", "s", "lower"),
    ("plans.discover_communities.build_s", "s", "lower"),
    ("plans.scan_signals.build_s", "s", "lower"),
    ("plans.build.driver_cpu_s", "s", "lower"),
    ("plans.build.jobs", "count", "lower"),
    ("plans.discover_communities.jobs", "count", "lower"),
    ("plans.discover_communities.stages", "count", "lower"),
    ("plans.discover_communities.tasks", "count", "lower"),
    ("plans.scan_signals.jobs", "count", "lower"),
    ("plans.scan_signals.stages", "count", "lower"),
    ("plans.scan_signals.tasks", "count", "lower"),
    ("sinks.to_csv_bytes.discover_s", "s", "lower"),
    ("sinks.to_csv_bytes.scan_s", "s", "lower"),
    ("sinks.to_csv_bytes.bytes", "bytes", "higher"),
    ("validate.validate_table.s", "s", "lower"),
    ("filtering.gates.build_s", "s", "lower"),
    ("dedup.corpus_dedup.build_s", "s", "lower"),
    ("dedup.corpus_dedup.build_jobs", "count", "lower"),
    ("dedup.corpus_dedup.stages", "count", "lower"),
    ("dedup.corpus_dedup.tasks", "count", "lower"),
    ("dedup.corpus_dedup.kept_frac", "ratio", "higher"),
    ("decontaminate.ngram_contamination.build_s", "s", "lower"),
    ("relevance.importance_score.build_s", "s", "lower"),
    ("sinks.write_training_shards.s", "s", "lower"),
    ("sinks.write_training_shards.bytes", "bytes", "higher"),
    ("sinks.write_training_shards.files", "count", "lower"),
    ("sinks.write_training_shards.stages", "count", "lower"),
    ("dedup.ngram_jaccard_pairs.build_s", "s", "lower"),
    ("dedup.ngram_jaccard_pairs.exec_s", "s", "lower"),
    ("dedup.ngram_jaccard_pairs.pairs", "count", "higher"),
    ("audience.step.self_s", "s", "lower"),
    ("curation.pass.self_s", "s", "lower"),
    ("caching.free_checkpoint.s", "s", "lower"),
    ("caching.persisted_rdds", "count", "lower"),
    ("caching.storage_mb", "MB", "lower"),
    ("host.load1_start", "load", "lower"),
    ("host.load1_end", "load", "lower"),
    ("trace.op_p50_s", "s", "lower"),
    ("trace.ops_per_s", "1/s", "higher"),
) + tuple(
    (f"{span}.{q}", unit, "lower") for span in TASK_SPANS for q, unit in TASK_QUANTITIES
)

UNITS = {name: unit for name, unit, *_ in END_TO_END + PER_LAYER}

# the closed-loop tail rule: a tail percentile needs this many samples beyond it
TAIL_MIN_BEYOND = 10


def tail_percentile(n: int, min_beyond: int = TAIL_MIN_BEYOND) -> float | None:
    """Highest percentile, in tenths, whose nearest-rank position leaves at
    least ``min_beyond`` of ``n`` samples beyond it; None when none does."""
    if n - min_beyond < 1:
        return None
    return math.floor(1000 * (n - min_beyond) / n) / 10


def end_to_end(setup_s: float, op_s: list[float], heap_mb: float) -> dict[str, float]:
    return {
        "setup_s": setup_s,
        "op_p50_s": statistics.median(op_s),
        "ops_per_s": len(op_s) / sum(op_s),
        "live_heap_mb": heap_mb,
    }


def per_layer(spans, extra: dict[str, float]) -> dict[str, float]:
    """Fold measured spans (those of a numbered operation) into PER_LAYER.

    Times and counts are medians per call; jobs/stages/tasks and task
    metrics of a span include its children's. ``extra`` supplies the values that come
    from outside the spans (session, caching, host, counts)."""
    subtree = {s.id: [len(s.jobs), s.stages, s.tasks] for s in spans}
    tasks = {s.id: dict(s.task_metrics) for s in spans}
    for s in reversed(spans):  # children start after their parent
        if s.parent is not None:
            for k in range(3):
                subtree[s.parent][k] += subtree[s.id][k]
            into = tasks[s.parent]
            for q, v in tasks[s.id].items():
                merge = max if q == "peak_exec_mem_mb" else (lambda a, b: a + b)
                into[q] = merge(into.get(q, 0), v)
    by_name: dict[str, list] = {}
    for s in spans:
        if s.request is not None:
            by_name.setdefault(s.name, []).append(s)

    def med(name: str, f) -> float:
        group = by_name.get(name)
        return statistics.median(f(s) for s in group) if group else 0.0

    out = dict.fromkeys((name for name, *_ in PER_LAYER), 0.0)
    out.update(extra)
    for kind in ("discover_communities", "scan_signals"):
        out[f"plans.{kind}.s"] = med(f"plans.{kind}", lambda s: s.seconds)
        out[f"plans.{kind}.build_s"] = med(f"plans.{kind}.build", lambda s: s.seconds)
        for k, q in enumerate(("jobs", "stages", "tasks")):
            out[f"plans.{kind}.{q}"] = med(f"plans.{kind}", lambda s: subtree[s.id][k])
    builds = [s for n in ("plans.discover_communities.build", "plans.scan_signals.build")
              for s in by_name.get(n, [])]
    if builds:
        out["plans.build.driver_cpu_s"] = statistics.median(s.cpu_s for s in builds)
        out["plans.build.jobs"] = statistics.median(len(s.jobs) for s in builds)
    out["sinks.to_csv_bytes.discover_s"] = med("sinks.to_csv_bytes.discover", lambda s: s.seconds)
    out["sinks.to_csv_bytes.scan_s"] = med("sinks.to_csv_bytes.scan", lambda s: s.seconds)
    out["validate.validate_table.s"] = med("validate.validate_table", lambda s: s.seconds)
    out["filtering.gates.build_s"] = med("filtering.gates.build", lambda s: s.seconds)
    out["dedup.corpus_dedup.build_s"] = med("dedup.corpus_dedup.build", lambda s: s.seconds)
    out["dedup.corpus_dedup.build_jobs"] = med("dedup.corpus_dedup.build", lambda s: len(s.jobs))
    out["dedup.corpus_dedup.stages"] = med("dedup.corpus_dedup.build", lambda s: s.stages)
    out["dedup.corpus_dedup.tasks"] = med("dedup.corpus_dedup.build", lambda s: s.tasks)
    for name in ("decontaminate.ngram_contamination", "relevance.importance_score",
                 "dedup.ngram_jaccard_pairs"):
        out[f"{name}.build_s"] = med(f"{name}.build", lambda s: s.seconds)
    out["dedup.ngram_jaccard_pairs.exec_s"] = med("dedup.ngram_jaccard_pairs.exec", lambda s: s.seconds)
    out["sinks.write_training_shards.s"] = med("sinks.write_training_shards", lambda s: s.seconds)
    out["sinks.write_training_shards.stages"] = med("sinks.write_training_shards", lambda s: s.stages)
    out["caching.free_checkpoint.s"] = med("caching.free_checkpoint", lambda s: s.seconds)
    out["audience.step.self_s"] = med("audience.step", lambda s: s.self_s)
    out["curation.pass.self_s"] = med("curation.pass", lambda s: s.self_s)
    for span in TASK_SPANS:
        group = [tasks[s.id] for s in by_name.get(span, [])]
        if not any(group):
            continue
        for q, _unit in TASK_QUANTITIES:
            if q == "gc_share":
                run = sum(t.get("executor_run_s", 0.0) for t in group)
                out[f"{span}.gc_share"] = sum(t.get("gc_s", 0.0) for t in group) / run if run else 0.0
            else:
                out[f"{span}.{q}"] = statistics.median(t.get(q, 0.0) for t in group)
    return out
