"""Streaming change-log compaction: the reference's WAL→checkpoint state
machine (O10-O13) as a live Structured Streaming pipeline.

Reference flow: every put/delete appends a JSON line to the WAL
(src/utils/wal_manager.py:80-113); recovery loads the newest checkpoint
then incrementally replays last-op-per-key (src/datanode/handler.py:181-219,
src/utils/wal_manager.py:185-246).

Spark flow: readStream over the change-log directory (the WAL), and
foreachBatch applies each micro-batch onto the compacted snapshot via
the SAME `apply_changelog` used in batch, through the shared versioned
fold (streaming/fold.py) — the streaming checkpointLocation is the
WAL-position file (wal_pos.txt, src/datanode/handler.py:170), and the
fold's marker keeps readers off a half-written snapshot. Read the
snapshot with fold.read_latest.

Scale: the snapshot rewrite per micro-batch is the simple-and-correct
form; at 100 TB you swap the sink for a merge-on-read table format —
the change-log semantics (this module) stay identical.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from distributed_vector_database_spark.operators.changelog import apply_changelog
from distributed_vector_database_spark.streaming.fold import build_fold, run_stream

CHANGELOG_SCHEMA = "op string, key string, value double, ts long, seq long"


def build_compaction_fold(snapshot_dir: str):
    """foreachBatch body applying one change-log micro-batch onto the
    newest snapshot as version v+1 (the reference's checkpoint_<ts>
    dirs, src/datanode/handler.py:156-179). Fully distributed —
    nothing is collected to the driver."""

    def step(batch, base, batch_id):
        if base is None:
            state = batch.sparkSession.createDataFrame(
                [], "key string, value double, ts long, seq long"
            )
        else:
            state = base()
        return {
            "": apply_changelog(
                state, batch, key_col="key", ts_col="ts", op_col="op",
                seq_col="seq",
            )
        }

    return build_fold(snapshot_dir, step)


def run_compaction_stream(
    spark: SparkSession,
    log_dir: str,
    snapshot_dir: str,
    checkpoint_dir: str,
    schema: str = CHANGELOG_SCHEMA,
):
    """Continuously fold the change-log into a compacted parquet
    snapshot. Returns the StreamingQuery (caller awaits/stops)."""
    fold = build_compaction_fold(snapshot_dir)
    return run_stream(spark, log_dir, schema, fold, checkpoint_dir)
