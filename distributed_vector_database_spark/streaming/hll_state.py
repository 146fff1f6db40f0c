"""Maintained HyperLogLog registers over continuous ingest — the
streaming leg of operators/sketch.py.

The register table IS the state: m rows of (bucket, register), and the
sketch union is register-wise MAX (operators/sketch.hll_merge). MAX is
associative, commutative, and IDEMPOTENT — unlike the additive folds
(term counts, violation counts), replaying a micro-batch cannot
corrupt this state. It still goes through the shared versioned fold
(streaming/fold.py): the replay skip saves wasted re-merges, and the
versioning keeps readers off half-written snapshots.

At 100 TB this is the distinct-count story: per-batch register tables
are m-bounded regardless of batch size, the fold is O(m) per batch,
and the served estimate never rescans history. Folding N batches then
reading the snapshot is row-equal to the one-shot hll_registers over
the union — pinned by the `hll_served` contract query (oracle: the
same register SQL over all events) and tests/test_hll_stream.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from distributed_vector_database_spark.operators.sketch import (
    hll_merge,
    hll_registers,
)
from distributed_vector_database_spark.streaming.fold import (
    build_fold,
    read_latest,
    run_stream,
)

EVENTS_SCHEMA = "event_id long, ts timestamp, user_id long, event_type string"


def build_hll_fold(state_dir: str, key_col: str, p: int = 6):
    """foreachBatch body maintaining {state_dir}/v=N register
    snapshots. Exposed so tests can drive crash/replay sequences."""

    def step(batch, base, batch_id):
        fresh = hll_registers(batch, key_col, p)
        return {"": fresh if base is None else hll_merge(base(), fresh)}

    return build_fold(state_dir, step)


def read_latest_registers(spark: SparkSession, state_dir: str) -> DataFrame:
    """Newest COMPLETE maintained register snapshot, (bucket, register)
    sorted by bucket."""
    return read_latest(spark, state_dir).orderBy("bucket")


def run_hll_stream(
    spark: SparkSession,
    events_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    key_col: str = "user_id",
    p: int = 6,
    schema: str = EVENTS_SCHEMA,
    max_files_per_trigger: int | None = None,
):
    """Continuously fold arriving events' keys into the maintained
    register snapshot. Returns the StreamingQuery."""
    fold = build_hll_fold(state_dir, key_col, p)
    return run_stream(
        spark, events_dir, schema, fold, checkpoint_dir, max_files_per_trigger
    )
