"""Streaming maintenance of the product-quantization layout.

readStream over an arriving-vectors directory; foreachBatch appends
each micro-batch via `pq_append` — O(batch), encoded with the
layout's FROZEN codebooks (read back from _codebooks.json, so a
streaming appender can never drift from the writer's training run).
Exactly-once serving under foreachBatch's at-least-once delivery
comes from the layout's write-audit-publish protocol
(operators/quantization.py): rows land under a fresh attempt id and
serve only once the marker publishes; a replayed batch_id is detected
and skipped. No marker bookkeeping here — pq_append owns it.

Caller contract (same as pq_append / mrl_append): arriving keys must
be new; route re-ingests through dedup upstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from distributed_vector_database_spark.operators.quantization import pq_append
from distributed_vector_database_spark.streaming.fold import run_stream

VECS_SCHEMA = "vec_id long, embedding array<double>"


def run_pq_stream(
    spark: SparkSession,
    vecs_dir: str,
    layout_dir: str,
    checkpoint_dir: str,
    schema: str = VECS_SCHEMA,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    max_files_per_trigger: int | None = None,
):
    """Continuously fold arriving vectors into an existing pq_write
    layout. Returns the StreamingQuery."""

    def fold(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        pq_append(
            batch, layout_dir, key_col=key_col, vec_col=vec_col,
            batch_id=batch_id,
        )

    return run_stream(
        spark, vecs_dir, schema, fold, checkpoint_dir, max_files_per_trigger
    )
