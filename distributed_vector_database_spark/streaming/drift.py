"""Streaming embedding-drift monitoring.

The batch monitor (operators/evaluation.py::embedding_drift_report)
compares two static snapshots; this module watches a live ingest
stream against a FROZEN reference: per micro-batch, the arriving
vectors' per-dimension moments fold into a persisted running state
(count / sum / sum-of-squares — exactly mergeable, so replay-safe
accumulation is plain addition), and a versioned drift report against
the reference lands next to it. The alerting pattern for 'the new
embedding model shifted dimension 17' BEFORE a maintained ANN layout
quietly degrades.

State is dim-sized (64 rows of 4 doubles), so the fold's cost is the
batch scan + one dim-keyed partial agg — the stream never rescans
history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_vector_database_spark.streaming.fold import run_stream

VECS_SCHEMA = "vec_id long, embedding array<double>"
_EPS = 1e-12


def _moments(df: DataFrame, vec_col: str) -> DataFrame:
    return (
        df.filter(F.col(vec_col).isNotNull())
        .select(
            F.posexplode(F.col(vec_col).cast("array<double>")).alias(
                "dim", "__x"
            )
        )
        .groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("__x").alias("s1"),
            F.sum(F.col("__x") * F.col("__x")).alias("s2"),
        )
    )


def drift_state_init(
    reference: DataFrame, state_dir: str, vec_col: str = "embedding"
) -> None:
    """Freeze the reference distribution's per-dim moments and start an
    empty current-state ledger.

    The ledger seed is a real (dim, n, s1, s2) parquet dir under
    {state_dir}/current — without it a standalone drift_report()
    before the first non-empty micro-batch died on a path-not-found
    read instead of returning an empty report (r8 ADVICE low). Seeded
    as a batch=-1 partition dir: a NUMERIC sentinel, so the
    discovered `batch` partition column stays integer-typed once the
    fold writes batch=N siblings (a `batch=init` string seed
    permanently pinned the column to string, breaking any external
    reader filtering batch numerically — r9 ADVICE low)."""
    ref = _moments(reference, vec_col)
    ref.write.mode("overwrite").parquet(f"{state_dir}/reference")
    spark = reference.sparkSession
    (
        spark.createDataFrame([], ref.schema)
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{state_dir}/current/batch=-1")
    )


def _stats(side: str):
    mean = F.col(f"{side}_s1") / F.col(f"{side}_n")
    var = (
        F.col(f"{side}_s2") - F.col(f"{side}_s1") * F.col(f"{side}_s1") / F.col(f"{side}_n")
    ) / (F.col(f"{side}_n") - 1)
    return mean, F.sqrt(var)


def drift_report(spark: SparkSession, state_dir: str, z_alert: float = 3.0) -> DataFrame:
    """Current-vs-reference drift from the persisted moment ledgers —
    the same statistics as the batch embedding_drift_report, derived
    algebraically from (n, Σx, Σx²)."""
    ref = spark.read.parquet(f"{state_dir}/reference").select(
        "dim",
        F.col("n").alias("ref_n"),
        F.col("s1").alias("ref_s1"),
        F.col("s2").alias("ref_s2"),
    )
    cur = (
        spark.read.parquet(f"{state_dir}/current")
        .groupBy("dim")
        .agg(
            F.sum("n").alias("cur_n"),
            F.sum("s1").alias("cur_s1"),
            F.sum("s2").alias("cur_s2"),
        )
    )
    rm, rs = _stats("ref")
    cm, cs = _stats("cur")
    shift_z = F.abs(cm - rm) / (rs + F.lit(_EPS)) * F.sqrt(F.col("cur_n"))
    return (
        ref.join(cur, "dim")
        .select(
            "dim",
            F.round(rm, 6).alias("ref_mean"),
            F.round(cm, 6).alias("cur_mean"),
            F.round(rs, 6).alias("ref_std"),
            F.round(cs, 6).alias("cur_std"),
            F.round(shift_z, 4).alias("shift_z"),
            (shift_z > F.lit(float(z_alert))).alias("drifted"),
        )
        .orderBy("dim")
    )


def build_drift_fold(
    state_dir: str, vec_col: str = "embedding", z_alert: float = 3.0
):
    """The foreachBatch body run_drift_stream uses, exposed like
    build_ivf_changelog_fold / build_hnsw_changelog_fold so the
    maintenance cost is directly benchable (one call = one
    micro-batch's moments folded + one versioned report emitted)."""

    def fold(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        spark = batch.sparkSession
        (
            _moments(batch, vec_col)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(f"{state_dir}/current/batch={batch_id}")
        )
        (
            drift_report(spark, state_dir, z_alert=z_alert)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(f"{state_dir}/reports/batch={batch_id}")
        )

    return fold


def run_drift_stream(
    spark: SparkSession,
    vecs_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    schema: str = VECS_SCHEMA,
    vec_col: str = "embedding",
    z_alert: float = 3.0,
    max_files_per_trigger: int | None = None,
):
    """Fold arriving vectors' moments into {state_dir}/current (one
    small file per batch — addition-mergeable, so a groupBy at read
    time is the merge) and emit a versioned report per batch under
    {state_dir}/reports/batch=N. Replayed batch_ids overwrite their
    own file and report idempotently (same data, same moments)."""
    fold = build_drift_fold(state_dir, vec_col=vec_col, z_alert=z_alert)
    return run_stream(
        spark, vecs_dir, schema, fold, checkpoint_dir, max_files_per_trigger
    )
