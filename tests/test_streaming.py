"""Streaming: window specs vs batch oracles + live foreachBatch
change-log compaction (SURVEY §5.5: oracle = batch recomputation)."""

import json

from distributed_vector_database_spark.operators.changelog import compact
from distributed_vector_database_spark.streaming.compaction import (
    build_compaction_fold,
    run_compaction_stream,
)
from distributed_vector_database_spark.streaming.fold import read_latest
from distributed_vector_database_spark.streaming.windows import (
    session_windows,
    sliding_user_activity,
    tumbling_counts,
)


def test_tumbling_counts_conserve_events(tables):
    total = tables["events"].count()
    agg = tumbling_counts(tables["events"])
    assert agg.groupBy().sum("n_events").first()[0] == total


def test_sliding_double_counts(tables):
    # 2h window / 1h slide → every event in exactly 2 windows
    total = tables["events"].count()
    agg = sliding_user_activity(tables["events"])
    assert agg.groupBy().sum("n_events").first()[0] == 2 * total


def test_session_windows_partition_events(tables):
    total = tables["events"].count()
    agg = session_windows(tables["events"])
    assert agg.groupBy().sum("n_events").first()[0] == total


def test_streaming_compaction_matches_batch(spark, tmp_path):
    log_dir = tmp_path / "wal"
    log_dir.mkdir()
    rows = [
        {"op": "PUT", "key": "a", "value": 1.0, "ts": 10, "seq": 1},
        {"op": "PUT", "key": "b", "value": 2.0, "ts": 11, "seq": 2},
        {"op": "PUT", "key": "a", "value": 3.0, "ts": 12, "seq": 3},
        {"op": "DELETE", "key": "b", "value": None, "ts": 13, "seq": 4},
        {"op": "PUT", "key": "c", "value": 9.0, "ts": 14, "seq": 5},
    ]
    # two WAL files → two micro-batches with availableNow
    (log_dir / "wal0.json").write_text(
        "\n".join(json.dumps(r) for r in rows[:3]) + "\n"
    )
    (log_dir / "wal1.json").write_text(
        "\n".join(json.dumps(r) for r in rows[3:]) + "\n"
    )

    q = run_compaction_stream(
        spark,
        str(log_dir),
        str(tmp_path / "snap"),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    got = {
        r["key"]: r["value"]
        for r in read_latest(spark, str(tmp_path / "snap")).collect()
    }
    # batch oracle: full-log compaction
    batch = spark.createDataFrame(
        [(r["op"], r["key"], r["value"], r["ts"], r["seq"]) for r in rows],
        "op string, key string, value double, ts long, seq long",
    )
    want = {r["key"]: r["value"] for r in compact(batch, seq_col="seq").collect()}
    assert got == want == {"a": 3.0, "c": 9.0}


def test_compaction_snapshot_without_marker_is_not_served(spark, tmp_path):
    # a complete parquet v=1 whose marker never landed (the fold died
    # between the snapshot write and the marker) must stay invisible:
    # the reader serves v=0, and the replayed batch rebuilds v=1 on it
    snap = str(tmp_path / "snap")
    cl = "op string, key string, value double, ts long, seq long"
    fold = build_compaction_fold(snap)
    fold(spark.createDataFrame([("PUT", "a", 1.0, 10, 1)], cl), 0)
    spark.createDataFrame(
        [("a", 7.0, 11, 2), ("z", 9.0, 11, 3)],
        "key string, value double, ts long, seq long",
    ).write.mode("overwrite").parquet(f"{snap}/v=1")

    def served():
        return {r["key"]: r["value"] for r in read_latest(spark, snap).collect()}

    assert served() == {"a": 1.0}
    fold(spark.createDataFrame([("PUT", "b", 2.0, 12, 4)], cl), 1)
    assert served() == {"a": 1.0, "b": 2.0}
