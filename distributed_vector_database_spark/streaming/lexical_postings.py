"""Streaming maintenance of the bucketed posting-list BM25 index.

streaming/lexical_stats.py keeps the TERM-STATS table current (serving
still scans the corpus once); this module keeps the POSTING LISTS
current, so `bm25_postings_search` serves queries with no corpus scan
at all — the full inverted-index maintenance story: readStream over an
arriving-documents directory, foreachBatch appends each micro-batch's
postings via `postings_append`.

Exactly-once serving under foreachBatch's at-least-once delivery comes
from the index's write-audit-publish protocol (operators/lexical.py):
each append lands under a fresh attempt id and becomes visible only
when its marker publishes; a replayed batch_id is detected and skipped,
and a crashed attempt's rows are never served. No marker bookkeeping
here — postings_append owns it.

Caller contract (same as postings_append): arriving doc ids must be
new; route re-ingests through dedup upstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from distributed_vector_database_spark.operators.lexical import postings_append
from distributed_vector_database_spark.streaming.fold import run_stream

DOCS_SCHEMA = "doc_id long, text string"


def run_postings_stream(
    spark: SparkSession,
    docs_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    schema: str = DOCS_SCHEMA,
    text_col: str = "text",
    doc_col: str = "doc_id",
    max_files_per_trigger: int | None = None,
):
    """Continuously fold arriving documents into an existing
    postings_write index. Returns the StreamingQuery."""

    def fold(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        postings_append(
            batch, index_dir, doc_col=doc_col, text_col=text_col,
            batch_id=batch_id,
        )

    return run_stream(
        spark, docs_dir, schema, fold, checkpoint_dir, max_files_per_trigger
    )
