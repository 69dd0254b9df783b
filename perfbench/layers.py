"""Per-layer metrics of the traced run, by package module.

Every metric is emitted on every workload; a layer the workload bypasses
reports 0, which is the prediction for that pairing. Counts and
engine totals are per round of the workload's op list (one block for
``cypher_mixed``), so runs that fit a different number of rounds compare.
"""

from __future__ import annotations

from common import median, quantile
from eventlog import MB, EventLog, self_jobs, span_jobs
from spans import self_ms

# name -> unit; BENCHMARK.json's per_layer list names the same metrics.
PER_LAYER = {
    "session.get_spark_s": "s",
    "parser.parse_ms_p50": "ms",
    "parser.calls": "count",
    "compiler.compile_ms_p50": "ms",
    "compiler.compile_ms_p90": "ms",
    "compiler.eager_jobs": "count",
    "compiler.eager_jobs_vle": "count",
    "compiler.share_of_read": "ratio",
    "dml.stmt_ms_p50": "ms",
    "dml.jobs_per_stmt": "count",
    "storage.save_graph_s_p50": "s",
    "storage.load_graph_s_p50": "s",
    "storage.version_mb": "MB",
    "storage.version_files": "count",
    "storage.bytes_per_input_byte": "ratio",
    "traversal.bfs_distances_s": "s",
    "traversal.bfs_distances_jobs": "count",
    "graph_algos.pagerank_s": "s",
    "graph_algos.pagerank_jobs": "count",
    "graph_algos.connected_components_s": "s",
    "graph_algos.connected_components_jobs": "count",
    "dedup.exact_dedup_s": "s",
    "dedup.ngram_jaccard_s": "s",
    "dedup.pairs": "count",
    "dedup.injected_recall": "ratio",
    "similarity.lsh_cosine_s": "s",
    "similarity.pairs": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.scheduler_delay_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.busy_cores": "cores",
    "spark.one_task_stage_s": "s",
    "spark.driver_gap_s": "s",
    "spark.cached_peak_mb": "MB",
    "spark.failed_tasks": "count",
    "io.disk_write_mb": "MB",
    "trace.overhead_s": "s",
}

# metric stem -> op. An operator returns a lazy plan, so its own span
# covers only the plan build and eager pins; the op span around it also
# covers delivering the rows, which is the operator's cost to a caller.
OPERATOR_OPS = {
    "traversal.bfs_distances": "bfs_distances",
    "graph_algos.pagerank": "pagerank",
    "graph_algos.connected_components": "connected_components",
    "dedup.exact_dedup": "exact_dedup_keep_ids",
    "dedup.ngram_jaccard": "ngram_jaccard_pairs",
    "similarity.lsh_cosine": "lsh_cosine_pairs",
}


def _dur_ms(sp: dict) -> float:
    return sp["end"] - sp["start"]


def compute(spans: list[dict], log: EventLog, rounds: int, extra: dict) -> dict:
    """Per-layer metrics from the traced phase's spans and event log.
    ``extra`` carries the values measured outside the trace (session
    start, store sizes, pair counts, tracing overhead)."""
    out = {name: 0.0 for name in PER_LAYER}
    rounds = max(rounds, 1)
    by_name: dict[str, list[dict]] = {}
    for sp in spans:
        by_name.setdefault(sp["name"], []).append(sp)
    ops = [sp for sp in spans if sp["parent"] is None]
    jobs_in = span_jobs(log, spans)
    own_jobs = self_jobs(log)
    n_jobs = lambda sp: len(jobs_in.get(sp["id"], []))  # noqa: E731

    parses = by_name.get("parser.parse_cypher", [])
    out["parser.parse_ms_p50"] = median([_dur_ms(s) for s in parses])
    out["parser.calls"] = len(parses) / rounds

    children: dict[int, list[dict]] = {}
    for sp in spans:
        if sp["parent"] is not None:
            children.setdefault(sp["parent"], []).append(sp)
    reads = {sp["id"]: sp for sp in ops if sp["name"].startswith("read:")}
    read_compiles = [sp for sp in by_name.get("compiler.compile_query", [])
                     if _root(sp, spans)["id"] in reads]
    cms = [self_ms(s, children.get(s["id"], [])) for s in read_compiles]
    out["compiler.compile_ms_p50"] = median(cms)
    out["compiler.compile_ms_p90"] = quantile(cms, 0.9)
    out["compiler.eager_jobs"] = sum(len(own_jobs.get(s["id"], []))
                                     for s in read_compiles) / rounds
    out["compiler.eager_jobs_vle"] = median([
        len(own_jobs.get(s["id"], [])) for s in read_compiles
        if _root(s, spans)["name"] == "read:vle"])
    read_ms = sum(_dur_ms(sp) for sp in reads.values())
    out["compiler.share_of_read"] = sum(cms) / read_ms if read_ms else 0.0

    dml = [sp for name, group in by_name.items() if name.startswith("dml.apply_")
           for sp in group]
    out["dml.stmt_ms_p50"] = median([_dur_ms(s) for s in dml])
    out["dml.jobs_per_stmt"] = (sum(n_jobs(s) for s in dml) / len(dml)) if dml else 0.0

    out["storage.save_graph_s_p50"] = median(
        [_dur_ms(s) / 1e3 for s in by_name.get("storage.save_graph", [])])
    out["storage.load_graph_s_p50"] = median(
        [_dur_ms(s) / 1e3 for s in by_name.get("storage.load_graph", [])])

    for stem, op_name in OPERATOR_OPS.items():
        group = [sp for sp in ops if sp["name"] == op_name]
        out[f"{stem}_s"] = median([_dur_ms(s) / 1e3 for s in group])
        if f"{stem}_jobs" in out:
            out[f"{stem}_jobs"] = median([n_jobs(s) for s in group])

    # Engine totals per op span (its driver gap and busy cores are
    # measured over the op's own window), summed, per round.
    per_op = [log.totals(jobs_in.get(sp["id"], []), sp["start"], sp["end"]) for sp in ops]
    for key in ("jobs", "stages", "tasks", "failed_tasks", "executor_run_s",
                "executor_cpu_s", "gc_s", "scheduler_delay_s", "shuffle_read_mb",
                "shuffle_write_mb", "spill_mb", "one_task_stage_s", "driver_gap_s"):
        out[f"spark.{key}"] = sum(t[key] for t in per_op) / rounds
    op_wall_s = sum(_dur_ms(sp) for sp in ops) / 1e3
    out["spark.busy_cores"] = (sum(t["task_s"] for t in per_op) / op_wall_s
                               if op_wall_s else 0.0)
    out["spark.cached_peak_mb"] = log.cached_peak_bytes / MB
    out.update({k: v for k, v in extra.items() if k in out})
    return out


def _root(sp: dict, spans: list[dict]) -> dict:
    while sp["parent"] is not None:
        sp = spans[sp["parent"]]
    return sp

