"""Streaming span-level dedup — the online ExactSubstr gate.

Each arriving micro-batch of documents is cleaned against the
accumulated gram state (operators/dedup.py::
remove_duplicate_spans_incremental: corpus never re-windowed), the
cleaned batch lands under out_dir/batch=<id>/, and the batch's own
gram counts fold into a versioned state snapshot through the shared
replay-safe fold (streaming/fold.py). The gram merge is additive, so
a replayed batch is skipped whole (its cleaned output was already
written with overwrite semantics, so skipping is idempotent
end-to-end).

At 100 TB/day the state is the full gram multiset (16-byte md5 + a
count — proportional to token mass, the irreducible cost of EXACT
substring dedup; the sketch tiers in operators/dedup.py are the
lossy alternative). Bucket the state by gram at scale so the batch
probe prunes."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from distributed_vector_database_spark.operators.dedup import (
    remove_duplicate_spans_incremental,
)
from distributed_vector_database_spark.streaming.fold import build_fold, run_stream

DOCS_SCHEMA = "doc_id long, text string"


def build_span_fold(state_dir: str, out_dir: str, k: int = 8):
    """foreachBatch body: clean the batch against the current state,
    write the cleaned rows, fold the batch's grams into a new state
    version. Exposed directly so tests can drive crash/replay."""

    def step(batch, base, batch_id):
        if base is None:
            # first batch: only within-batch duplicates exist
            state = batch.sparkSession.createDataFrame([], "gram string, n long")
        else:
            state = base()
        cleaned, delta = remove_duplicate_spans_incremental(
            batch, state, k=k, materialize_windows=True
        )
        cleaned.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch={batch_id}")
        )
        if base is None:
            return {"": delta}
        return {
            "": state.unionByName(delta)
            .groupBy("gram")
            .agg({"n": "sum"})
            .withColumnRenamed("sum(n)", "n")
        }

    return build_fold(state_dir, step)


def run_span_dedup_stream(
    spark: SparkSession,
    docs_dir: str,
    state_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    k: int = 8,
    schema: str = DOCS_SCHEMA,
    max_files_per_trigger: int | None = None,
):
    """Continuously span-dedup arriving JSON documents against the
    growing gram state. Returns the StreamingQuery."""
    fold = build_span_fold(state_dir, out_dir, k=k)
    return run_stream(
        spark, docs_dir, schema, fold, checkpoint_dir, max_files_per_trigger
    )
