"""Per-layer table of a traced run: every metric named in BENCHMARK.json's
`per_layer`, the self time of every span, and the tracing overhead."""

from __future__ import annotations

import glob
import json
import os
import statistics

from perfbench.trace import GroupStats, Tracer, driver_time, self_times, span_stats

# name -> unit; the order of BENCHMARK.json's per_layer list
PER_LAYER = {
    "api.retrieve.s": "s",
    "api.retrieve.driver_s": "s",
    "api.retrieve.spark_jobs": "count",
    "api.retrieve_batch.s": "s",
    "api.update_documents.s": "s",
    "api.fresh_retrieve.spark_tasks": "count",
    "kernels.embed_texts.s": "s",
    "kernels.pyworker_cpu_s": "s",
    "operators.knn.collapsed_knn.plan_s": "s",
    "operators.knn.retrieval_context.plan_s": "s",
    "operators.rollup.build_parent_nodes.calls": "count",
    "operators.ranking.index_stats.s": "s",
    "operators.ranking.bm25_rank.s": "s",
    "operators.ranking.ql_rank.s": "s",
    "operators.ranking.rrf_fuse.s": "s",
    "plans.build_tree.s": "s",
    "plans.build_tree.driver_s": "s",
    "plans.update_tree.s": "s",
    "plans.update_tree.output_partitions": "count",
    "plans.update_tree.recomputed_per_new_leaf": "ratio",
    "sources.checkpoint.write_level.s": "s",
    "sources.checkpoint.write_level.bytes": "B",
    "sources.checkpoint.write_level.files": "count",
    "sources.checkpoint.read_level.s": "s",
    "sources.searchindex.build.s": "s",
    "sources.searchindex.add_documents.s": "s",
    "sources.searchindex.search.plan_s": "s",
    "sources.searchindex.postings.s": "s",
    "sources.lakehouse.commit.files": "count",
    "sources.lakehouse.commit.bytes": "B",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.jvm_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.task_p50_ms": "ms",
    "spark.task_max_ms": "ms",
}


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def per_layer(tr: Tracer, groups: dict[str, GroupStats], run) -> dict[str, float]:
    """Every PER_LAYER metric; 0 where the workload does not load the layer."""
    st = lambda sp: span_stats(tr, sp, groups)  # noqa: E731
    wall = lambda name, under: sum(s.wall for s in tr.named(name, under))  # noqa: E731
    loop_retrieves = tr.named("api.retrieve", "phase.query_loop")
    batch_phases = {s.parent for s in tr.named("api.retrieve_batch", "phase.batch")}
    fresh = tr.named("phase.fresh")
    folds = tr.named("phase.fold")
    builds = tr.named("plans.build_tree", "phase.build")
    writes = tr.named("sources.checkpoint.write_level", "phase.build")
    commits = tr.named("sources.searchindex.build") + tr.named("sources.searchindex.add_documents")
    d = run.details
    out = {
        "api.retrieve.s": _median(s.wall for s in loop_retrieves),
        "api.retrieve.driver_s": _median(driver_time(s, st(s)) for s in loop_retrieves),
        "api.retrieve.spark_jobs": _median(st(s).jobs for s in loop_retrieves),
        "api.retrieve_batch.s": _median(sp.wall for sp in tr.spans if sp.sid in batch_phases),
        "api.update_documents.s": wall("api.update_documents", "phase.fold"),
        "api.fresh_retrieve.spark_tasks": _median(st(s).tasks for s in fresh),
        "kernels.embed_texts.s": _median(s.wall for s in tr.named("kernels.embed_texts", "phase.query_loop")),
        "kernels.pyworker_cpu_s": run.cpu.get("pyworker_cpu_s", 0.0),
        "operators.knn.collapsed_knn.plan_s": _median(
            s.wall for s in tr.named("operators.knn.collapsed_knn", "phase.query_loop")),
        "operators.knn.retrieval_context.plan_s": _median(
            s.wall for s in tr.named("operators.knn.retrieval_context", "phase.query_loop")),
        "operators.rollup.build_parent_nodes.calls": (
            len(tr.named("operators.rollup.build_parent_nodes", "phase.fold")) / len(folds) if folds else 0.0),
        "plans.build_tree.s": sum(s.wall for s in builds),
        "plans.build_tree.driver_s": sum(driver_time(s, st(s)) for s in builds),
        "plans.update_tree.s": wall("plans.update_tree", "phase.fold"),
        "plans.update_tree.output_partitions": (d.get("output_partitions_per_fold") or [0])[-1],
        "plans.update_tree.recomputed_per_new_leaf": (
            d["fold_rollup_rows"] / d["new_leaves"] if d.get("new_leaves") else 0.0),
        "sources.checkpoint.write_level.s": sum(s.wall for s in writes),
        "sources.checkpoint.write_level.bytes": sum(s.counts.get("bytes", 0) for s in writes),
        "sources.checkpoint.write_level.files": sum(s.counts.get("files", 0) for s in writes),
        "sources.checkpoint.read_level.s": wall("sources.checkpoint.read_level", "phase.build"),
        "sources.searchindex.build.s": wall("sources.searchindex.build", "phase.index_build"),
        "sources.searchindex.add_documents.s": wall("sources.searchindex.add_documents", "phase.index_delta"),
        "sources.searchindex.search.plan_s": _median(
            s.wall for s in tr.named("sources.searchindex.search", "phase.query_loop")),
        "sources.searchindex.postings.s": wall("sources.searchindex.postings", "phase.batch"),
        "sources.lakehouse.commit.files": max((s.counts.get("files_after", 0) for s in commits), default=0),
        "sources.lakehouse.commit.bytes": max((s.counts.get("bytes_after", 0) for s in commits), default=0),
    }
    for name in ("index_stats", "bm25_rank", "ql_rank", "rrf_fuse"):
        out[f"operators.ranking.{name}.s"] = wall(f"operators.ranking.{name}", "phase.batch")

    timed = GroupStats()
    for sp in tr.spans:
        if sp.name.startswith("phase.") and sp.parent is None:
            timed.add(st(sp))
    out.update(timed.summary())
    out["spark.jvm_cpu_s"] = run.cpu.get("jvm_cpu_s", 0.0)
    return {k: float(out[k]) for k in PER_LAYER}


def span_table(tr: Tracer, groups: dict[str, GroupStats]) -> list[dict]:
    """Per span name: calls, total and self seconds, and the Spark work of
    the span's own job groups (children excluded, so rows add up)."""
    selfs = self_times(tr.spans)
    rows: dict[str, dict] = {}
    for sp in tr.spans:
        r = rows.setdefault(sp.name, {"span": sp.name, "calls": 0, "total_s": 0.0, "self_s": 0.0,
                                      "_stats": GroupStats()})
        r["calls"] += 1
        r["total_s"] += sp.wall
        r["self_s"] += selfs[sp.sid]
        if sp.group in groups:
            r["_stats"].add(groups[sp.group])
    out = []
    for r in rows.values():
        r.update(r.pop("_stats").summary())
        out.append(r)
    return out


def tracing_overhead(results_dir: str, prefix: str, traced: dict) -> dict:
    """Traced end-to-end values against the median of the untraced runs of
    the same workload and sizes (file name ``prefix``) found in
    ``results_dir``: (traced / untraced) − 1."""
    base: dict[str, list[float]] = {}
    for path in glob.glob(os.path.join(results_dir, f"{prefix}-s*-trace0.json")):
        with open(path) as f:
            for k, v in json.load(f)["metrics"].items():
                base.setdefault(k, []).append(v)
    return {
        k: {"traced": v, "untraced_median": statistics.median(base[k]), "untraced_runs": len(base[k]),
            "overhead": v / statistics.median(base[k]) - 1.0}
        for k, v in traced.items() if base.get(k)
    }
