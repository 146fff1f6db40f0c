"""Streaming benchmark decontamination — gate an arriving-documents
stream against a static eval/benchmark set before anything lands in
the training corpus.

The batch half lives in operators/decontam.py (explode distinct gram
hashes -> broadcast semi-join -> anti-join). That plan needs a
per-document aggregate over the document's own grams, which a pure
streaming anti-join cannot express (stream-stream self-join); the live
leg therefore runs the exact batch operator inside foreachBatch — each
micro-batch is decontaminated as a batch DataFrame and survivors land
in a per-batch output directory.

Replay safety: foreachBatch is at-least-once, but decontamination is a
pure per-batch FILTER (no cross-batch state to double-count, unlike
lexical_stats' additive fold), so idempotence only needs the write to
be: each batch overwrites its own `batch=<id>` partition directory —
a replayed batch rewrites identical content over itself.

100 TB shape: the eval gram table is computed ONCE at query start and
broadcast into every micro-batch's semi-join; per-batch work is
O(batch grams), state is zero.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

from distributed_vector_database_spark.operators.decontam import decontaminate
from distributed_vector_database_spark.streaming.fold import start_stream

DOCS_SCHEMA = "doc_id long, text string"


def read_document_stream(
    spark: SparkSession,
    docs_dir: str,
    schema: str = DOCS_SCHEMA,
    required: tuple[str, ...] = ("doc_id", "text"),
) -> DataFrame:
    """File-source stream over an arriving-documents directory, with
    the same quarantine semantics as sources/jsonl.py: unparseable
    lines and rows missing a required column are DROPPED here (a
    malformed crawl line must not flow into the corpus as an all-null
    row; route the audit leg through sources/jsonl.read_jsonl in a
    batch pass if it needs to be kept)."""
    df = (
        spark.readStream.schema(f"{schema}, _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(docs_dir)
    )
    ok = F.col("_corrupt_record").isNull()
    for c in required:
        ok = ok & F.col(c).isNotNull()
    return df.filter(ok).drop("_corrupt_record")


def decontaminate_stream(
    stream_docs: DataFrame,
    eval_docs: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Start (availableNow) a stream that drops contaminated documents
    and appends survivors under out_dir/batch=<id>/. Returns the
    StreamingQuery; caller awaits termination. eval_docs is a static
    DataFrame — persist it so the gram recompute doesn't rescan the
    eval source every batch."""
    evals = eval_docs.persist()

    def _one_batch(batch_df: DataFrame, batch_id: int) -> None:
        clean = decontaminate(
            batch_df, evals, n=n, id_col=id_col, text_col=text_col
        )
        clean.write.mode("overwrite").parquet(f"{out_dir}/batch={batch_id}")

    return start_stream(stream_docs, _one_batch, checkpoint_dir)


def read_clean_documents(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read back every batch's survivors as one DataFrame."""
    return spark.read.option("basePath", out_dir).parquet(f"{out_dir}/batch=*")
