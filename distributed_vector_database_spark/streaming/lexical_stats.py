"""Streaming maintenance of the BM25 term-stats table.

The batch half lives in operators/lexical.py: term_stats is additive and
merge_term_stats folds a batch into the stored table at O(vocabulary).
This module is the live leg: readStream over an arriving-documents
directory, and foreachBatch merges each micro-batch's stats into a
versioned snapshot through the shared replay-safe fold
(streaming/fold.py). The merge is additive (NOT last-write-wins), so
the fold's batch_id replay skip is what keeps it exactly-once.

After (or during) ingest, bm25_search(stats=fold.read_latest(...))
serves queries with ONE corpus scan and a tiny stats read — the
index-maintenance story a lexical engine needs at 100 TB: stats stay
current without ever rescanning the corpus.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from distributed_vector_database_spark.operators.lexical import (
    merge_term_stats,
    term_stats,
)
from distributed_vector_database_spark.streaming.fold import (
    build_fold as versioned_fold,
    run_stream,
)

DOCS_SCHEMA = "doc_id long, text string"


def build_fold(stats_dir: str, text_col: str = "text"):
    """The foreachBatch fold: merge one micro-batch's term stats into a
    new versioned snapshot, replay-safe under at-least-once delivery.
    Exposed so tests can drive crash/replay sequences directly."""

    def step(batch, base, batch_id):
        fresh = term_stats(batch, text_col=text_col)
        return {"": fresh if base is None else merge_term_stats(base(), fresh)}

    return versioned_fold(stats_dir, step)


def run_term_stats_stream(
    spark: SparkSession,
    docs_dir: str,
    stats_dir: str,
    checkpoint_dir: str,
    schema: str = DOCS_SCHEMA,
    text_col: str = "text",
    max_files_per_trigger: int | None = None,
):
    """Continuously fold arriving documents' term statistics into a
    versioned stats snapshot. Returns the StreamingQuery."""
    fold = build_fold(stats_dir, text_col=text_col)
    return run_stream(
        spark, docs_dir, schema, fold, checkpoint_dir, max_files_per_trigger
    )
