"""Maintained per-user funnel state — the served dual of the batch
funnel operator (operators/relational.py::funnel).

A 100 TB event store cannot re-walk every user's history per batch to
answer "how far is each user through view -> click -> purchase"; it
maintains TWO fields of state per user — (current step, timestamp of
its last match) — and folds each micro-batch of new events on top
through the shared replay-safe versioned fold (streaming/fold.py).

Unlike the additive rollup, the funnel walk is ORDER-SENSITIVE:
fold(b1); fold(b2) equals the one-shot batch funnel precisely when
batches partition events in time order (every b1 timestamp <= every
b2 timestamp) — the in-order-delivery contract real event streams
provide per key. A late step that arrives after a later step was
consumed cannot rewind state; the batch operator is the repair path,
exactly like compaction repairs the streaming store.

Serving reads the tiny newest state snapshot (|users| rows) and
derives the conversion report; `funnel_served` pins fold(b1)+fold(b2)
== direct batch funnel against the DuckDB oracle.

Reference parity: the reference has no funnel, but its WAL-replay +
serve-from-state shape (src/datanode/handler.py WAL replay) is the
same maintenance discipline applied here to an analytics state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_vector_database_spark.streaming.fold import (
    build_fold,
    read_latest,
    run_stream,
)

_EPOCH = "1900-01-01 00:00:00"


def funnel_state_delta(
    batch: DataFrame,
    prior: DataFrame | None,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Advance per-user funnel state by one batch of events.

    Returns the FULL new state (user, s, lt): prior users with no new
    events pass through untouched; new users start at (0, epoch); the
    walk itself is the identical strictly-increasing greedy matcher as
    the batch operator, seeded from the prior accumulator instead of
    zero. One shuffle on user (groupBy + outer join share the key)."""
    steps_lit = F.array(*[F.lit(s) for s in steps])
    per_user = (
        batch.filter(F.col(type_col).isin(list(steps)))
        .groupBy(F.col(user_col).alias("user"))
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col(ts_col).alias("ts"), F.col(type_col).alias("t"))
                )
            ).alias("__evs")
        )
    )
    if prior is None:
        merged = per_user.withColumn("s", F.lit(0)).withColumn(
            "lt", F.lit(None).cast("timestamp")
        )
    else:
        merged = per_user.join(
            prior.select("user", "s", "lt"), "user", "full_outer"
        )
    init = F.struct(
        F.coalesce(F.col("s"), F.lit(0)).cast("int").alias("s"),
        F.coalesce(F.col("lt"), F.lit(_EPOCH).cast("timestamp")).alias("lt"),
    )
    walked = F.aggregate(
        F.coalesce(
            F.col("__evs"),
            F.array().cast("array<struct<ts:timestamp,t:string>>"),
        ),
        init,
        lambda acc, e: F.when(
            (acc["s"] < F.lit(len(steps)))
            & (e["t"] == F.element_at(steps_lit, acc["s"] + 1))
            & (e["ts"] > acc["lt"]),
            F.struct((acc["s"] + 1).alias("s"), e["ts"].alias("lt")),
        ).otherwise(acc),
    )
    return merged.select(
        "user",
        walked["s"].cast("int").alias("s"),
        F.when(walked["lt"] == F.lit(_EPOCH).cast("timestamp"), F.lit(None))
        .otherwise(walked["lt"])
        .alias("lt"),
    )


def build_funnel_fold(
    state_dir: str,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
):
    """foreachBatch body: fold one micro-batch into a new state
    version (streaming/fold.py; an interrupted batch's replay rebuilds
    the same next version, bit-identical to the one-shot fold)."""

    def step(batch, base, batch_id):
        prior = None if base is None else base()
        return {
            "": funnel_state_delta(
                batch, prior, steps, user_col, ts_col, type_col
            )
        }

    return build_fold(state_dir, step)


def serve_funnel_report(
    spark: SparkSession, state_dir: str, steps: list[str]
) -> DataFrame:
    """Conversion table served from maintained state — the exact shape
    (and code path: operators/relational.py::report_from_steps_completed)
    of the batch funnel_report, so the served-equals-batch hash
    contract can't drift. A stream that consumed zero events has no
    state versions; that serves the same all-zero report the batch
    operator produces on an empty event set."""
    from distributed_vector_database_spark.operators.relational import (
        report_from_steps_completed,
    )

    try:
        st = read_latest(spark, state_dir)
    except FileNotFoundError:
        st = spark.createDataFrame([], "user long, s int, lt timestamp")
    return report_from_steps_completed(st, steps, completed_col="s")


def run_funnel_stream(
    spark: SparkSession,
    events_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    steps: list[str],
    schema: str = "event_id long, ts timestamp, user_id long, "
    "event_type string, value double",
    max_files_per_trigger: int | None = None,
):
    """Continuously maintain funnel state over arriving JSON events.
    Returns the StreamingQuery."""
    fold = build_funnel_fold(state_dir, steps)
    return run_stream(
        spark, events_dir, schema, fold, checkpoint_dir, max_files_per_trigger
    )
