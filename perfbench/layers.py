"""Per-layer metrics of the traced run, and the end-to-end metric each
one should move.

Operation-level numbers are means over the traced operations, so they
add up: an operation's wall time is the sum of the self times of the
spans under it (see ``trace.op_breakdown``), and the Spark work is what
the AppStatusStore charged to those spans' job groups.
"""

from __future__ import annotations

import statistics

# name: (unit, better, the end-to-end metric it should move)
LAYERS: dict[str, tuple[str, str, str]] = {
    "engine.build_ms": ("ms", "lower", "query_p50_ms on both workloads (the public call that returns the lazy DataFrame)"),
    "py4j.calls": ("count", "lower", "query_p50_ms and commit_p50_ms on corpus_ingest"),
    "catalyst.plan_ms": ("ms", "lower", "query_p50_ms on logs_index_rw"),
    "spark.exec_ms": ("ms", "lower", "ops_per_s on logs_index_rw (action plus Arrow transfer)"),
    "spark.jobs": ("count", "lower", "commit_p50_ms on corpus_ingest"),
    "spark.stages": ("count", "lower", "commit_p50_ms on corpus_ingest"),
    "spark.tasks": ("count", "lower", "commit_p50_ms on corpus_ingest"),
    "spark.job_wall_ms": ("ms", "lower", "commit_p50_ms on corpus_ingest"),
    "driver.gap_ms": ("ms", "lower", "commit_p50_ms on corpus_ingest (operation time no job covers)"),
    "spark.executor_run_ms": ("ms", "lower", "query_p50_ms on logs_index_rw"),
    "spark.executor_cpu_ms": ("ms", "lower", "query_p50_ms on logs_index_rw"),
    "spark.input_bytes": ("bytes", "lower", "query_p50_ms on logs_index_rw"),
    "spark.input_rows": ("count", "lower", "query_p50_ms on logs_index_rw"),
    "scan.rows_per_result_row": ("ratio", "lower", "query_p50_ms on logs_index_rw"),
    "spark.shuffle_read_bytes": ("bytes", "lower", "query_tail_ms on logs_index_rw"),
    "spark.shuffle_write_bytes": ("bytes", "lower", "query_tail_ms on logs_index_rw"),
    "jvm.gc_ms": ("ms", "lower", "query_tail_ms on logs_index_rw"),
    "spark.peak_exec_mem_mb": ("MB", "lower", "peak_rss_mb on both workloads"),
    "plans.catalog.lookup_ms": ("ms", "lower", "query_p50_ms on logs_index_rw"),
    "plans.catalog.hit_ratio": ("ratio", "higher", "query_p50_ms on logs_index_rw"),
    "streaming.index_maintenance.merge_ms": ("ms", "lower", "commit_p50_ms and ingest_rows_per_s on logs_index_rw"),
    "streaming.index_maintenance.compactions": ("count", "lower", "ingest_rows_per_s on logs_index_rw"),
    "streaming.index_maintenance.compact_ms": ("ms", "lower", "ingest_rows_per_s and query_tail_ms on logs_index_rw"),
    "streaming.index_maintenance.max_segments_per_bucket": ("count", "lower", "query_p50_ms on logs_index_rw"),
    "storage.write_bytes": ("bytes", "lower", "write_amp on both workloads"),
    "streaming.near_dedup.batch_ms": ("ms", "lower", "commit_p50_ms on corpus_ingest"),
    "streaming.drift.batch_ms": ("ms", "lower", "commit_p50_ms on corpus_ingest"),
    "streaming.span_scrub.batch_ms": ("ms", "lower", "commit_p50_ms on corpus_ingest"),
    "streaming.ann_ingest.batch_ms": ("ms", "lower", "commit_p50_ms on corpus_ingest"),
    "operators.ann_index.search_ms": ("ms", "lower", "query_p50_ms on corpus_ingest"),
    "session.start_s": ("s", "lower", "setup_s on both workloads"),
    "plans.catalog.build_s": ("s", "lower", "setup_s on logs_index_rw"),
    "streaming.state_build_s": ("s", "lower", "setup_s on both workloads"),
    "sources.generator.gen_s": ("s", "lower", "none: fixture generation is kept out of setup_s"),
    "trace.overhead_ms": ("ms", "lower", "none: traced minus untraced median operation time"),
}

CATALOG_SPANS = ("plans.catalog.lookup", "plans.catalog.lookup_by_doc_ids")
COMPACT_SPAN = "streaming.index_maintenance.compact"
MERGE_SPAN = "streaming.index_maintenance.merge"
ANN_READS = ("read.ann_search_auto", "read.ann_search_pq")


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def layer_metrics(
    ops, spans: list[dict], breakdown: dict, setups: list[dict], facts: dict
) -> dict:
    roots = list(breakdown.values())
    reads = [r for r in roots if r["name"].startswith("read.")]
    commits = [r for r in roots if r["name"].startswith("commit.")]
    by_id = {s["id"]: s for s in spans}

    def dur(s: dict) -> float:
        return (s["end"] - s["start"]) * 1e3

    def span_mean(name: str, over: list[dict]) -> float:
        return _mean(r["spans"][name] for r in over if name in r["spans"])

    lookups = [
        s for s in spans
        if s["name"] in CATALOG_SPANS
        and by_id.get(s["parent"], {}).get("name") not in CATALOG_SPANS
    ]
    compacts = [dur(s) for s in spans if s["name"] == COMPACT_SPAN]
    result_rows = sum(
        by_id[rid]["tags"].get("result_rows", 0)
        for rid, r in breakdown.items() if r["name"].startswith("read.")
    )
    traced = [o.wall_s * 1e3 for o in ops if o.traced]
    untraced = [o.wall_s * 1e3 for o in ops if not o.traced]
    m = {
        "engine.build_ms": span_mean("engine.build", reads),
        "py4j.calls": _mean(r["py4j"] for r in roots),
        "catalyst.plan_ms": span_mean("catalyst.plan", reads),
        "spark.exec_ms": span_mean("spark.exec", reads),
        "spark.jobs": _mean(r["jobs"] for r in roots),
        "spark.stages": _mean(r["stages"] for r in roots),
        "spark.tasks": _mean(r["tasks"] for r in roots),
        "spark.job_wall_ms": _mean(r["job_wall_ms"] for r in roots),
        "driver.gap_ms": _mean(r["driver_gap_ms"] for r in roots),
        "spark.executor_run_ms": _mean(r["executor_run_ms"] for r in roots),
        "spark.executor_cpu_ms": _mean(r["executor_cpu_ms"] for r in roots),
        "spark.input_bytes": _mean(r["input_bytes"] for r in roots),
        "spark.input_rows": _mean(r["input_rows"] for r in roots),
        "scan.rows_per_result_row": (
            sum(r["input_rows"] for r in reads) / max(1, result_rows)
        ),
        "spark.shuffle_read_bytes": _mean(r["shuffle_read_bytes"] for r in roots),
        "spark.shuffle_write_bytes": _mean(r["shuffle_write_bytes"] for r in roots),
        "jvm.gc_ms": _mean(r["gc_ms"] for r in roots),
        "spark.peak_exec_mem_mb": max(
            (r["peak_exec_mem_mb"] for r in roots), default=0.0
        ),
        "plans.catalog.lookup_ms": _mean(dur(s) for s in lookups),
        "plans.catalog.hit_ratio": _mean(
            1.0 if s["tags"].get("hit") else 0.0 for s in lookups
        ),
        "streaming.index_maintenance.merge_ms": _mean(
            r["self_ms"][MERGE_SPAN] for r in commits if MERGE_SPAN in r["self_ms"]
        ),
        "streaming.index_maintenance.compactions": len(compacts),
        "streaming.index_maintenance.compact_ms": _mean(compacts),
        "streaming.index_maintenance.max_segments_per_bucket": facts.get(
            "streaming.index_maintenance.max_segments_per_bucket", 0
        ),
        "storage.write_bytes": _mean(o.write_bytes for o in ops if o.traced),
        "operators.ann_index.search_ms": _mean(
            r["wall_ms"] for r in reads if r["name"] in ANN_READS
        ),
        "session.start_s": statistics.median(s["session.start_s"] for s in setups),
        "plans.catalog.build_s": statistics.median(
            s.get("plans.catalog.build_s", 0.0) for s in setups
        ),
        "streaming.state_build_s": statistics.median(
            s.get("streaming.state_build_s", 0.0) for s in setups
        ),
        "sources.generator.gen_s": facts["sources.generator.gen_s"],
        "trace.overhead_ms": statistics.median(traced) - statistics.median(untraced),
    }
    for op in ("near_dedup", "drift", "span_scrub", "ann_ingest"):
        m[f"streaming.{op}.batch_ms"] = span_mean(
            f"streaming.{op}.batch", commits
        )
    return {k: (m[k], LAYERS[k][0]) for k in LAYERS}


def op_table(breakdown: dict) -> dict:
    """Per operation type: mean wall time, Spark jobs and gateway
    commands, mean self time of every span under it, and the share of
    the wall time those self times cover."""
    out: dict[str, dict] = {}
    for r in breakdown.values():
        t = out.setdefault(
            r["name"],
            {"n": 0, "wall_ms": 0.0, "jobs": 0, "py4j": 0, "self_ms": {}},
        )
        t["n"] += 1
        for k in ("wall_ms", "jobs", "py4j"):
            t[k] += r[k]
        for k, v in r["self_ms"].items():
            t["self_ms"][k] = t["self_ms"].get(k, 0.0) + v
    for t in out.values():
        n = t["n"]
        for k in ("wall_ms", "jobs", "py4j"):
            t[k] /= n
        t["self_ms"] = {k: v / n for k, v in t["self_ms"].items()}
        t["self_coverage"] = sum(t["self_ms"].values()) / t["wall_ms"]
    return out
