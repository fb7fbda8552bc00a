"""Metric names, units and the per-layer report of a traced run.

Every run reports the same metric set whatever the workload: an
end-to-end metric is defined for each workload (BENCHMARK.json says how),
and a per-layer metric of a layer the workload does not exercise reads 0.
"""

from __future__ import annotations

import os
import statistics

from workloads import Analytics

STORE_OPS = Analytics.READS + Analytics.JOBS
WRITE_TARGETS = ["log", "latest", "rule_twa1h", "rule_avg1m"]

E2E = {
    "setup_s": "s",
    "query_p50_ms": "ms",
    "queries_per_s": "1/s",
    "job_p50_ms": "ms",
    "samples_per_s": "1/s",
    "stored_bytes_per_sample": "B",
    "peak_rss_python_mb": "MB",
}

LAYER = {
    "session.start_s": "s",
    "store.write_layout_s": "s",
    "store.read_layout_ms": "ms",
    "store.files_read_per_query": "count",
    "store.rows_scanned_per_row_returned": "ratio",
    "labels.matched_keys_ms": "ms",
    "sql.register_sql_ms": "ms",
    **{f"op.{op}.{part}": "ms" for op in STORE_OPS
       for part in ("plan_ms", "exec_ms", "p50_ms")},
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.shuffle_bytes_per_op": "B",
    "ingest.batch_p50_ms": "ms",
    "ingest.freshness_p50_ms": "ms",
    "ingest.jobs_per_batch": "count",
    "ingest.tasks_per_batch": "count",
    **{f"ingest.write_ms.{t}": "ms" for t in WRITE_TARGETS},
    "ingest.log_files": "count",
    "ingest.compactions": "count",
    "ingest.compact_s": "s",
    "ingest.latest_read_ms": "ms",
    "ingest.rule_read_ms": "ms",
    "ingest.samples_read_ms": "ms",
    "pipeline.dedup_s": "s",
    "pipeline.docs_per_s": "1/s",
    "pipeline.lsh_candidates_per_doc": "ratio",
    "pipeline.verified_per_candidate": "ratio",
    "pipeline.bm25_ms": "ms",
    "mem.peak_rss_jvm_mb": "MB",
    "trace.query_p50_ms": "ms",
    "trace.overhead_ms_per_op": "ms",
}


def _p50(xs):
    return statistics.median(xs) if xs else 0.0


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def op_summary(ops) -> dict:
    out: dict[str, dict] = {}
    for o in ops:
        out.setdefault(o["name"], []).append(o)
    return {
        name: {
            "n": len(rs),
            "p50_ms": _p50([r["ms"] for r in rs]),
            "plan_ms": _p50([r.get("plan_ms", 0.0) for r in rs]),
            "exec_ms": _p50([r.get("exec_ms", 0.0) for r in rs]),
            "failed": sum(1 for r in rs if "error" in r or r.get("failed")),
        }
        for name, rs in out.items()
    }


def per_layer(ctx, wl, e2e) -> dict:
    m = {k: 0.0 for k in LAYER}
    m.update({k: v for k, v in ctx.layer.items() if k in m})
    summary = op_summary(wl.ops)
    for name, st in summary.items():
        for part in ("plan_ms", "exec_ms", "p50_ms"):
            if f"op.{name}.{part}" in m:
                m[f"op.{name}.{part}"] = st[part]
    reads = wl.reads()
    store_reads = [o for o in wl.ops if o["name"] in STORE_OPS]
    if store_reads:
        m["store.files_read_per_query"] = _mean([o["files_read"] for o in store_reads])
        returned = sum(o["rows"] for o in store_reads)
        m["store.rows_scanned_per_row_returned"] = (
            sum(o["input_records"] for o in store_reads) / max(1, returned))
    if reads:
        m["spark.jobs_per_op"] = _mean([o["jobs"] for o in reads])
        m["spark.tasks_per_op"] = _mean([o["tasks"] for o in reads])
        m["spark.shuffle_bytes_per_op"] = _mean([o["shuffle_bytes"] for o in reads])
    if "queryindex" in summary:
        m["labels.matched_keys_ms"] = summary["queryindex"]["p50_ms"]
    if "bm25_top10" in summary:
        m["pipeline.bm25_ms"] = summary["bm25_top10"]["p50_ms"]
    batches = [o for o in wl.ops if o["name"] == "ingest_batch"]
    if batches:
        m["ingest.batch_p50_ms"] = _p50([o["ms"] for o in batches])
        m["ingest.jobs_per_batch"] = _mean([o["jobs"] for o in batches])
        m["ingest.tasks_per_batch"] = _mean([o["tasks"] for o in batches])
        per_target: dict[str, float] = {}
        for o in batches:
            for path, ms in o["writes"]:
                base = os.path.basename(path.rstrip("/"))
                target = {"samples_log": "log", "samples_log.tmp": "compact"}.get(base, base)
                per_target[target] = per_target.get(target, 0.0) + ms
        for t in WRITE_TARGETS:
            m[f"ingest.write_ms.{t}"] = per_target.get(t, 0.0) / len(batches)
        m["ingest.compact_s"] = per_target.get("compact", 0.0) / 1e3
        m["ingest.compactions"] = sum(1 for o in batches if o.get("compacted"))
        for metric, prefix in (("ingest.latest_read_ms", "fresh_mget"),
                               ("ingest.rule_read_ms", "rule_read"),
                               ("ingest.samples_read_ms", "samples_range")):
            m[metric] = _p50([o["ms"] for o in wl.ops if o["name"].startswith(prefix)])
    m.update({k: v for k, v in wl.info().items() if k in m})
    m["trace.query_p50_ms"] = e2e["query_p50_ms"]
    m["trace.overhead_ms_per_op"] = ctx.tracer.bookkeeping_s * 1e3 / max(1, ctx.tracer.ops_traced)
    return m
