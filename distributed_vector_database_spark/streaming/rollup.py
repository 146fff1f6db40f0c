"""Maintained windowed rollup — the continuous-aggregate shape.

A 100 TB event store cannot re-scan history to answer "events per
hour by type"; it maintains the answer. The rollup table
(window_start, key..., n, sum_value) is ADDITIVE and mergeable, so
maintenance is the shared replay-safe versioned fold
(streaming/fold.py); serving reads the tiny newest snapshot instead
of the event history.

Folding N micro-batches then reading the snapshot is hash-equal to
one aggregation over all events — pinned by the `events_rollup_served`
contract query against the direct-SQL oracle."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_vector_database_spark.streaming.fold import build_fold, run_stream

EVENTS_SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"


def window_rollup(
    events: DataFrame,
    granularity: str = "hour",
    ts_col: str = "ts",
    keys: list[str] | None = None,
) -> DataFrame:
    """One batch's rollup: (window_start, keys..., n, sum_value) —
    partial-agg friendly, shuffle sized by |windows × keys|."""
    keys = keys if keys is not None else ["event_type"]
    return (
        events.groupBy(
            F.date_trunc(granularity, F.col(ts_col)).alias("window_start"), *keys
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("sum_value"),
        )
    )


def merge_rollup(base: DataFrame, delta: DataFrame) -> DataFrame:
    """Additive merge — counts and sums fold per (window, keys)."""
    dims = [c for c in base.columns if c not in ("n", "sum_value")]
    return (
        base.unionByName(delta)
        .groupBy(*dims)
        .agg(F.sum("n").alias("n"), F.sum("sum_value").alias("sum_value"))
    )


def build_rollup_fold(
    rollup_dir: str,
    granularity: str = "hour",
    ts_col: str = "ts",
    keys: list[str] | None = None,
):
    """foreachBatch body: fold one micro-batch's rollup into a new
    version (streaming/fold.py)."""

    def step(batch, base, batch_id):
        fresh = window_rollup(batch, granularity, ts_col, keys)
        return {"": fresh if base is None else merge_rollup(base(), fresh)}

    return build_fold(rollup_dir, step)


def run_rollup_stream(
    spark: SparkSession,
    events_dir: str,
    rollup_dir: str,
    checkpoint_dir: str,
    granularity: str = "hour",
    schema: str = EVENTS_SCHEMA,
    keys: list[str] | None = None,
    max_files_per_trigger: int | None = None,
):
    """Continuously maintain the rollup over arriving JSON events.
    Returns the StreamingQuery."""
    fold = build_rollup_fold(rollup_dir, granularity, keys=keys)
    return run_stream(
        spark, events_dir, schema, fold, checkpoint_dir, max_files_per_trigger
    )
