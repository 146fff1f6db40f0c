"""Traced-run instrumentation, kept entirely in the benchmark.

`Tracer.install()` wraps the engine's public entry points (module and
class attributes; the engine's source is not touched) in spans. Every
span runs under its own Spark job group, so after the run
`statusTracker` yields the jobs, stages and tasks each span launched,
and the uncompressed event log, parsed with `json` once the session has
stopped, yields task CPU, GC, shuffle bytes and input rows per span. Spans
stay in memory until the run ends, and the counts are read after it.

An untraced run uses `NullTracer`, whose spans cost one no-op context
manager.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import importlib
import itertools
import json
import os
import time
from collections import defaultdict

# (module, attribute path, span name): the layers metrics.py reads, and
# the parents whose self time it reports. Functions the store imports by
# name at module load are wrapped where the store looks them up.
WRAPPED = (
    ("distributed_vector_database_spark.store", "VectorStore.get", "store.get"),
    ("distributed_vector_database_spark.store", "VectorStore.put_batch", "store.put_batch"),
    ("distributed_vector_database_spark.store", "VectorStore.state", "store.state"),
    ("distributed_vector_database_spark.store", "VectorStore.flush", "store.flush"),
    ("distributed_vector_database_spark.store", "VectorStore.compact", "store.compact"),
    ("distributed_vector_database_spark.store", "VectorStore.index_search", "store.index_search"),
    ("distributed_vector_database_spark.store", "VectorStore.hnsw_search", "store.hnsw_search"),
    ("distributed_vector_database_spark.store", "VectorStore.index_append", "store.index_append"),
    ("distributed_vector_database_spark.store", "apply_changelog", "changelog.apply_changelog"),
    ("distributed_vector_database_spark.store", "local_df", "localrel.local_df"),
    ("distributed_vector_database_spark.store", "knn_exact", "knn.knn_exact"),
    ("distributed_vector_database_spark.operators.semantic", "knn_exact", "knn.knn_exact"),
    ("distributed_vector_database_spark.operators.knn", "knn_join", "knn.knn_join"),
    ("distributed_vector_database_spark.operators.ann", "ivf_build_auto", "ann.ivf_build_auto"),
    ("distributed_vector_database_spark.operators.ann", "ivf_write", "ann.ivf_write"),
    ("distributed_vector_database_spark.operators.ann", "ivf_batch_search", "ann.ivf_batch_search"),
    ("distributed_vector_database_spark.operators.hnsw", "hnsw_write", "hnsw.hnsw_write"),
    ("distributed_vector_database_spark.operators.hnsw", "hnsw_append", "hnsw.hnsw_append"),
    ("distributed_vector_database_spark.operators.dedup", "minhash_lsh_pairs", "dedup.minhash_lsh_pairs"),
    ("distributed_vector_database_spark.operators.dedup", "dedup_clusters", "dedup.dedup_clusters"),
    ("distributed_vector_database_spark.serve", "search_handler", "serve.search_handler"),
)

EVENT_FIELDS = ("cpu_ms", "gc_ms", "shuffle_bytes", "records_read")
IDLE_GROUP = "perfbench-idle"


class NullTracer:
    enabled = False

    def span(self, name: str):
        return contextlib.nullcontext()

    def op(self, phase: str, kind: str):
        return contextlib.nullcontext()


class Tracer:
    """Spans with per-span Spark job groups. A span record holds its own
    ("self") counts and, under `incl_*`, those of its descendants too.
    `op` marks the root span of one benchmark operation, and every span
    inside it carries that op's (phase, kind, index). Counts are read
    after the run (`count_jobs`, `attach_event_log`), so the timed spans
    pay only for switching job groups."""

    enabled = True
    # the status store keeps this many jobs and stages, so every span's
    # jobs are still there when they are counted after the run
    CONF = {"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"}

    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[dict] = []  # in exit order: children precede parents
        self._stack: list[dict] = []
        self._op: tuple[str, str, int] | None = None
        self._n_ops = 0
        self._ids = itertools.count()
        sc.setJobGroup(IDLE_GROUP, "perfbench")

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "name": name,
            "gid": f"pb-{next(self._ids)}",
            "op": self._op,
            "parent": parent,
            "child_ms": 0.0,
        }
        self._stack.append(rec)
        self.sc.setJobGroup(rec["gid"], name)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["ms"] = (time.perf_counter() - t0) * 1e3
            self._stack.pop()
            if parent is None:
                self.sc.setJobGroup(IDLE_GROUP, "perfbench")
            else:
                parent["child_ms"] += rec["ms"]
                self.sc.setJobGroup(parent["gid"], parent["name"])
            self.spans.append(rec)

    @contextlib.contextmanager
    def op(self, phase: str, kind: str):
        self._op = (phase, kind, self._n_ops)
        self._n_ops += 1
        try:
            with self.span(f"op.{kind}") as rec:
                yield rec
        finally:
            self._op = None

    def count_jobs(self) -> None:
        """Each span's jobs, stages that ran tasks, and completed tasks,
        from `statusTracker`. Call before the session stops."""
        status = self.sc.statusTracker()
        for rec in self.spans:
            jobs = stages = tasks = 0
            for jid in status.getJobIdsForGroup(rec["gid"]):
                jobs += 1
                info = status.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    stage = status.getStageInfo(sid)
                    if stage is not None and stage.numCompletedTasks:
                        stages += 1
                        tasks += stage.numCompletedTasks
            rec.update(jobs=jobs, stages=stages, tasks=tasks)

    def install(self) -> None:
        for module, path, name in WRAPPED:
            owner = importlib.import_module(module)
            *parents, attr = path.split(".")
            for p in parents:
                owner = getattr(owner, p)
            setattr(owner, attr, self._wrap(name, getattr(owner, attr)))

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def attach_event_log(self, log_dir: str) -> None:
        """Add task CPU, GC, shuffle-write bytes and input rows from the
        event log to each span, then sum every count into `incl_*` up the
        span tree. Call after the session has stopped, so the log is
        complete."""
        per_group = parse_event_log(log_dir)
        fields = ("jobs", "stages", "tasks", *EVENT_FIELDS)
        for rec in self.spans:
            rec.update(per_group.get(rec["gid"], dict.fromkeys(EVENT_FIELDS, 0.0)))
        for rec in self.spans:  # children precede their parents
            for f in fields:
                rec[f"incl_{f}"] = rec.get(f"incl_{f}", 0.0) + rec[f]
                if rec["parent"] is not None:
                    rec["parent"][f"incl_{f}"] = rec["parent"].get(f"incl_{f}", 0.0) + rec[f"incl_{f}"]


def parse_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Job group -> summed task metrics, from the session's single event
    log file in `log_dir`. A stage belongs to the first job that lists
    it: later jobs list it again only as a skipped stage."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(EVENT_FIELDS, 0.0))
    (path,) = glob.glob(os.path.join(log_dir, "*"))
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                for sid in ev.get("Stage IDs", ()):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics")
                group = stage_group.get(ev.get("Stage ID"))
                if not m or group is None:
                    continue
                agg = out[group]
                agg["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                agg["gc_ms"] += m.get("JVM GC Time", 0)
                agg["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                agg["records_read"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
    return dict(out)
