"""Metric assembly from a finished run.

`end_to_end` is what a user of the store sees; `per_layer` comes from
the traced run's spans and event log. Names and units match
BENCHMARK.json; perfbench/README.md says what each one measures.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from perfbench import oracle
from perfbench.workloads import OP_KINDS, READS, Run

# spans whose self time (duration minus child spans) is reported
SELF_TIME = (
    "store.get", "store.state", "store.flush", "store.compact", "store.put_batch",
    "store.index_search", "store.hnsw_search", "serve.search_handler",
)


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else float("nan")


def _mean(xs) -> float:
    return float(statistics.fmean(xs)) if xs else 0.0


def end_to_end(run: Run) -> tuple[dict[str, tuple[float, str]], dict[str, tuple[float, str]]]:
    """(name -> (value, unit)) for the gated metrics, and the metrics
    that are printed but not gated: the read and write tails with their
    percentile and sample count (a run holds too few samples for a tail
    above the median), and the peak RSS (with the engine's 8 GB heap cap
    it follows when G1 grows the heap, so it varies by a third between
    runs)."""
    s = run.samples
    t = run.timings
    reads = [x for k in READS for x in s[k]]
    writes = s["put"] + s["delete"]
    read_tail, read_pct, read_n = oracle.tail(reads)
    write_tail, write_pct, write_n = oracle.tail(writes + s["put_batch"])
    recall = min(_mean(run.recalls["ivf"]), _mean(run.recalls["hnsw"]))
    out = {
        "setup_s": (t["setup"], "s"),
        "knn_exact_p50_ms": (_median(s["exact"]), "ms"),
        "knn_ivf_p50_ms": (_median(s["ivf"]), "ms"),
        "knn_hnsw_p50_ms": (_median(s["hnsw"]), "ms"),
        "get_p50_ms": (_median(s["get"]), "ms"),
        "write_p50_ms": (_median(writes), "ms"),
        "ingest_rows_per_s": (run.sizes.n_vectors / (t["put_batch"] + t["compact"]), "rows/s"),
        "index_build_s": (t["ivf_build"] + t["hnsw_build"], "s"),
        "ann_recall_at_10": (recall, "ratio"),
    }
    printed = {
        "read_tail_ms": (read_tail, f"ms  p{read_pct:.0f} of {read_n} reads"),
        "write_tail_ms": (write_tail, f"ms  p{write_pct:.0f} of {write_n} writes"),
        "peak_rss_mb": (run.peak_rss_mb, "MB"),
    }
    return out, printed


def batch(run: Run) -> dict[str, tuple[float, str]]:
    """The batch-path throughputs; zero where the workload's set-up has
    no batch step."""
    t = run.timings
    batch_s = t.get("ivf_batch_search", 0.0) + t.get("knn_join", 0.0)
    dedup_s = t.get("minhash_lsh_pairs", 0.0) + t.get("dedup_clusters", 0.0)
    return {
        "batch.queries_per_s": (2 * run.sizes.n_batch_queries / batch_s if batch_s else 0.0, "queries/s"),
        "dedup.docs_per_s": (run.sizes.n_docs / dedup_s if dedup_s else 0.0, "docs/s"),
        "dedup.pair_recall": (run.counts["dedup_pair_recall"], "ratio"),
    }


def per_layer(run: Run, e2e: dict[str, tuple[float, str]]) -> dict[str, tuple[float, str]]:
    spans = run.tracer.spans
    by_name: dict[str, list[dict]] = defaultdict(list)
    for rec in spans:
        by_name[rec["name"]].append(rec)
    timed_ops = [r for r in spans if r["parent"] is None and r["name"].startswith("op.") and r["op"][0] != "warmup"]
    n_ops = max(1, len(timed_ops))

    def calls(name: str) -> float:
        """Calls per timed op (trickle + loop)."""
        return sum(1 for r in by_name[name] if r["op"] and r["op"][0] != "warmup") / n_ops

    def ms(name: str) -> float:
        """Mean time per call; for a DataFrame-returning call, the call
        plus the action that consumed it."""
        return _mean([r["ms"] for r in by_name[name]]) + _mean([r["ms"] for r in by_name[f"{name}.action"]])

    def incl(name: str, field: str) -> float:
        return _mean([r[f"incl_{field}"] for r in by_name[name]])

    out: dict[str, tuple[float, str]] = {
        "session.get_spark_ms": (run.timings["session"] * 1e3, "ms"),
        "process.peak_rss_mb": (run.peak_rss_mb, "MB"),
    }
    roots: dict[str, list[dict]] = defaultdict(list)
    for r in timed_ops:
        roots[r["op"][1]].append(r)
    for kind in OP_KINDS:
        ops = roots[kind]
        for field, metric, unit in (
            ("jobs", "jobs", "count"), ("stages", "stages", "count"), ("tasks", "tasks", "count"),
            ("cpu_ms", "task_cpu_ms", "ms"), ("gc_ms", "gc_ms", "ms"), ("shuffle_bytes", "shuffle_bytes", "bytes"),
        ):
            out[f"spark.{metric}_per_op.{kind}"] = (_mean([r[f"incl_{field}"] for r in ops]), unit)

    def rows_scanned(kind: str) -> float:
        ops = roots[kind]
        rows = sum(r.get("rows", 0) for r in ops)
        return sum(r["incl_records_read"] for r in ops) / rows if rows else 0.0

    def action(name: str, field: str) -> float:
        return _mean([r[field] for r in by_name[f"{name}.action"]])

    out.update({
        "store.state.calls": (calls("store.state"), "count"),
        "store.state.build_ms": (ms("store.state"), "ms"),
        "store.state.jobs": (incl("store.state", "jobs"), "count"),
        "store.index_search.build_ms": (_mean([r["ms"] for r in by_name["store.index_search"]]), "ms"),
        "store.index_search.jobs": (incl("store.index_search", "jobs") + action("store.index_search", "incl_jobs"), "count"),
        "store.index_search.action_ms": (action("store.index_search", "ms"), "ms"),
        "store.hnsw_search.build_ms": (_mean([r["ms"] for r in by_name["store.hnsw_search"]]), "ms"),
        "store.hnsw_search.jobs": (incl("store.hnsw_search", "jobs") + action("store.hnsw_search", "incl_jobs"), "count"),
        "store.hnsw_search.action_ms": (action("store.hnsw_search", "ms"), "ms"),
        "store.flush.ms": (ms("store.flush"), "ms"),
        "store.log_files": (_mean(run.log_files), "count"),
        "store.compact.calls": (calls("store.compact"), "count"),
        "store.compact.ms": (ms("store.compact"), "ms"),
        "localrel.local_df.calls": (calls("localrel.local_df"), "count"),
        "localrel.local_df.ms": (ms("localrel.local_df"), "ms"),
        "changelog.apply_changelog.calls": (calls("changelog.apply_changelog"), "count"),
        "knn.knn_exact.calls": (calls("knn.knn_exact"), "count"),
        "knn.exact.rows_scanned_per_result": (rows_scanned("exact"), "rows"),
        "knn.knn_join.ms": (ms("knn.knn_join"), "ms"),
        "ann.ivf_build_auto.ms": (ms("ann.ivf_build_auto"), "ms"),
        "ann.ivf_build_auto.jobs": (incl("ann.ivf_build_auto", "jobs"), "count"),
        "ann.ivf_write.ms": (ms("ann.ivf_write"), "ms"),
        "ann.ivf.rows_scanned_per_result": (rows_scanned("ivf"), "rows"),
        "ann.ivf_read_probe.tasks": (action("store.index_search", "incl_tasks"), "count"),
        "ann.ivf_batch_search.ms": (ms("ann.ivf_batch_search"), "ms"),
        "store.index_append.ms": (ms("store.index_append"), "ms"),
        "ann.ivf_recall_at_10": (_mean(run.recalls["ivf"]), "ratio"),
        "ann.ivf_batch_recall_at_10": (_mean(run.recalls["ivf_batch"]), "ratio"),
        "hnsw.hnsw_write.ms": (ms("hnsw.hnsw_write"), "ms"),
        "hnsw.hnsw_read_search.tasks": (action("store.hnsw_search", "incl_tasks"), "count"),
        "hnsw.hnsw_append.ms": (ms("hnsw.hnsw_append"), "ms"),
        "hnsw.hnsw_recall_at_10": (_mean(run.recalls["hnsw"]), "ratio"),
        "serve.search_handler.ms": (ms("serve.search_handler"), "ms"),
        "serve.errors": (run.counts["serve.errors"], "count"),
        "dedup.minhash_lsh_pairs.ms": (ms("dedup.minhash_lsh_pairs"), "ms"),
        "dedup.candidate_pairs": (run.counts["dedup.candidate_pairs"], "count"),
        "dedup.candidates_true_ratio": (run.counts["dedup.candidates_true_ratio"], "ratio"),
        "dedup.dedup_clusters.ms": (ms("dedup.dedup_clusters"), "ms"),
        "dedup.dedup_clusters.jobs": (
            incl("dedup.dedup_clusters", "jobs") + action("dedup.dedup_clusters", "incl_jobs"), "count"
        ),
    })
    out.update(batch(run))
    for name in SELF_TIME:
        out[f"{name}.self_ms"] = (_mean([r["ms"] - r["child_ms"] for r in by_name[name]]), "ms")
    for name in ("setup_s", "knn_exact_p50_ms", "get_p50_ms"):
        out[f"trace.{name}"] = e2e[name]
    return out
