"""Streaming k-NN serving: a stream of query vectors answered against a
static (or slowly-compacted) corpus, micro-batch at a time.

BASELINE.json's framing is that "real-time ANN serving requires
specialized infrastructure" and Spark owns the batch side; this module
is the honest Spark answer for near-real-time: Structured Streaming
micro-batches of queries, each batch answered with the SAME knn_join
kernel used in batch (broadcast queries into a per-partition vectorized
top-k — the corpus is never shuffled). Latency is micro-batch-bound
(sub-second to seconds); for per-request millisecond serving you front
this with the reference-style online index, feeding it from this
engine's compacted snapshots.

The corpus DataFrame should be cached (or an IVF-partitioned read) —
each micro-batch rescans it otherwise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from distributed_vector_database_spark.operators.knn import knn_join
from distributed_vector_database_spark.streaming.fold import start_stream


def stream_knn(
    query_stream: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    *,
    sink,
    checkpoint_dir: str,
):
    """Answer a streaming DataFrame of (query_id, query_vec) against
    `corpus`. Each micro-batch runs the batch knn_join kernel and hands
    (result_df, batch_id) to `sink` (a foreachBatch callable). Returns
    the StreamingQuery."""

    def answer(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        sink(knn_join(batch, corpus, k=k), batch_id)

    return start_stream(query_stream, answer, checkpoint_dir)
