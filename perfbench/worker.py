"""One workload in this process: start Spark, run, summarize, write JSON.

Started by ``run.py`` with the session environment pinned; not meant to
be run by hand. Usage:
    python -m perfbench.worker WORKLOAD SEED SECONDS TRACE OUT_JSON WORK_DIR
"""

from __future__ import annotations

import json
import os
import statistics
import sys

from .catalog import CLASSIC
from .trace import Tracer
from .workloads import SOURCE_NAMES, WORKLOADS, Run

# Tail percentile per workload, with at least ten samples beyond it at the
# number of reads each window holds (72 / 19 / 20). On pkb_query the
# highest such, p86, falls inside the CONSTRUCT reads (one ninth of the mix)
# and inherits their run-to-run spread (0.27 over ten seeds); p72 falls in
# the CSV reads, whose spread is about 0.1. The nineteen reads of
# pkb_mixed and twenty of catalog_batch support none above the median.
TAIL_PERCENTILE = {"pkb_query": 72, "pkb_mixed": 50, "catalog_batch": 50}

SPAN_LAYERS = ("api", "plans", "rdf", "update", "enrichers", "sources", "queries")


def percentile(values: list[float], p: int) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[p - 1]


def end_to_end(workload: str, run: Run) -> tuple[dict, dict]:
    """(metrics, detail). Latencies cover every attempted read, failed ones
    included; throughput (from the window) counts answered reads only."""
    reads = [s.seconds for s in run.samples if s.kind == "read"]
    writes = [s.seconds for s in run.samples if s.kind == "write"]
    p = TAIL_PERCENTILE[workload]
    metrics = {
        "setup_s": run.setup_s,
        "read_p50_ms": 1000 * statistics.median(reads),
        "read_tail_ms": 1000 * percentile(reads, p),
        "read_qps": run.info["read_qps"],
    }
    failed = sum(1 for s in run.samples if not s.ok)
    by_kind: dict[str, list[float]] = {}
    for s in run.samples:
        by_kind.setdefault(s.op, []).append(1000 * s.seconds)
    detail = {
        "ms_by_op": {k: {"n": len(v), "median": statistics.median(v), "max": max(v)}
                     for k, v in sorted(by_kind.items())},
        "read_ms": sorted(round(1000 * r, 1) for r in reads),
        "read_samples": len(reads),
        "read_tail_percentile": p,
        "error_rate": failed / max(len(run.samples), 1),
    }
    if writes:
        detail.update(write_samples=len(writes), write_p50_ms=1000 * statistics.median(writes),
                      write_max_ms=1000 * max(writes))
    if workload == "catalog_batch":
        detail["catalog_queries_per_s"] = metrics["read_qps"]
    return metrics, detail


def per_layer(run: Run) -> tuple[dict, dict]:
    """(metrics, sample counts) from the traced window's spans and job groups."""
    t = run.tracer
    ops = {s.op for s in t.spans if s.op}
    reads = sorted(o for o in ops if o.startswith("read-"))
    # the update set-up makes is a write too ("setup-<n>"; "setup" is the rest of set-up)
    writes = sorted(o for o in ops if o.startswith(("write-", "setup-")))
    queries = sorted(o for o in ops if o.startswith("query-"))
    counts = t.spark_counts(sorted(ops))

    def mean_ms(name: str, among: list[str]) -> float:
        per = t.per_op(name)
        return 1000 * sum(per.get(o, 0.0) for o in among) / len(among) if among else 0.0

    def per_call_ms(name: str, op=None) -> float:
        spans = [s for s in t.outermost(name) if op is None or s.op == op]
        return 1000 * statistics.mean(s.end - s.start for s in spans) if spans else 0.0

    def mean_count(key: str, among: list[str]) -> float:
        return sum(counts[o][key] for o in among) / len(among) if among else 0.0

    window_ops = [o for o in reads + writes + queries if not o.startswith("setup-")]
    self_ms = t.self_times(ops=set(window_ops))
    setup_ops = {o for o in ops if o.startswith("setup")}
    setup_self_ms = t.self_times(ops=setup_ops, by_name=True)
    m = {
        "api.handle_ms": mean_ms("api.handle", reads),
        "api.collect_ms": mean_ms("api.collect", reads),
        "api.serialize_ms": mean_ms("api.serialize", reads),
        "api.rows_per_read": statistics.mean(s.rows for s in run.samples if s.kind == "read")
        if reads else 0.0,
        "plans.parse_ms": mean_ms("plans.parse", reads),
        "plans.compile_ms": mean_ms("plans.compile", reads),
        "plans.ask_ms": mean_ms("plans.ask", reads),
        "spark.jobs_per_read": mean_count("jobs", reads),
        "spark.stages_per_read": mean_count("stages", reads),
        "spark.tasks_per_read": mean_count("tasks", reads),
        "spark.jobs_per_write": mean_count("jobs", writes),
        "spark.jobs_per_query": mean_count("jobs", queries),
        "spark.jobs_per_setup": counts.get("setup", {}).get("jobs", 0),
        "spark.tasks_per_setup": counts.get("setup", {}).get("tasks", 0),
        "spark.failed_tasks": sum(c["failed_tasks"] for c in counts.values()),
        "rdf.add_documents_ms": per_call_ms("rdf.add_documents"),
        "rdf.apply_diff_ms": per_call_ms("rdf.apply_diff"),
        "rdf.materialize_ms": per_call_ms("rdf.materialize"),
        "rdf.materialize_calls_per_setup": sum(1 for s in t.outermost("rdf.materialize")
                                               if s.op == "setup"),
        "sources.snapshot_ms": per_call_ms("sources.snapshot"),
        "sources.sync_ms": per_call_ms("sources.sync"),
        "supervisor.sync_all_ms": per_call_ms("supervisor.sync_all"),
        "geocoding.geocode_places_ms": per_call_ms("geocoding.geocode_places"),
        "enrichers.ifp_ms": per_call_ms("enrichers.ifp"),
        "update.apply_update_ms": mean_ms("update.apply_update", writes),
        "update.write_backs": 0,
        "update.write_back_rejects": 0,
        "trace.overhead_pct": 0.0,
        "rdf.store_quads": 0,
        "rdf.quads_per_source_kb": 0.0,
        "sources.items": 0,
        "sources.fetch_amplification": 0.0,
        "geocoding.fetches": 0,
        "geocoding.cache_hit_rate": 0.0,
        "enrichers.added_quads": 0,
    }
    for source in SOURCE_NAMES.values():  # self time: the synchronizer and store calls excluded
        m[f"supervisor.sync_source_{source}_ms"] = 1000 * setup_self_ms.get(
            f"supervisor.sync_source.{source}", 0.0)
    for name in CLASSIC:
        m[f"queries.{name}_ms"] = per_call_ms(f"queries.{name}")
    for layer in SPAN_LAYERS:
        m[f"{layer}.self_ms_per_op"] = 1000 * self_ms.get(layer, 0.0) / max(len(window_ops), 1)
    m.update(run.layers)
    samples = {"reads": len(reads), "writes": len(writes), "query_executions": len(queries),
               "setups": 1 if "setup" in ops else 0, "spans": len(t.spans)}
    return m, samples


def main() -> int:
    workload, seed, seconds, trace, out, work_dir = sys.argv[1:7]
    from thymeflow_back_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    run = Run(spark, int(seed), float(seconds), Tracer(trace == "1", spark), work_dir,
              window_scale=0.5 if trace == "1" else 1.0)
    run.info["clients"] = int(os.environ["SPARK_GRAFT_CPUS"])
    try:
        WORKLOADS[workload](run)
        metrics, detail = end_to_end(workload, run)
        # a traced run also counts the operations of its untraced windows
        result = {"attempted": len(run.samples) + run.info.get("untraced_attempted", 0),
                  "failed": sum(not s.ok for s in run.samples) + run.info.get("untraced_failed", 0),
                  "metrics": metrics, "detail": {**run.info, **detail}}
        if run.tracer.installed:
            result["layers"], result["detail"]["layer_samples"] = per_layer(run)
            run.tracer.dump(os.path.join(work_dir, f"spans-{workload}-{seed}.jsonl"))
    finally:
        spark.stop()
    with open(out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
