"""Maintained windowed rollup: folded snapshots equal one-shot
aggregation; replay-safe; live stream path."""

import datetime
import json
import os

from pyspark.sql import functions as F

from distributed_vector_database_spark.streaming.fold import read_latest
from distributed_vector_database_spark.streaming.rollup import (
    build_rollup_fold,
    run_rollup_stream,
    window_rollup,
)

EV = "event_id long, ts timestamp, user_id long, event_type string, value double"


def _events(spark, n=200):
    base = datetime.datetime(2024, 1, 1)
    rows = [
        (
            i,
            base + datetime.timedelta(minutes=7 * i),
            i % 13,
            "click" if i % 3 else "view",
            float(i % 29),
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows, EV)


def _snap(df):
    return sorted(
        (r["window_start"], r["event_type"], r["n"], round(r["sum_value"], 6))
        for r in df.collect()
    )


def test_fold_equals_oneshot_and_replay_safe(spark, tmp_path):
    ev = _events(spark)
    d = str(tmp_path / "r")
    os.makedirs(d)
    fold = build_rollup_fold(d)
    fold(ev.filter("event_id % 3 = 0"), 0)
    fold(ev.filter("event_id % 3 = 1"), 1)
    fold(ev.filter("event_id % 3 = 2"), 2)
    got = _snap(read_latest(spark, d))
    assert got == _snap(window_rollup(ev))
    # replaying the last batch must change nothing
    fold(ev.filter("event_id % 3 = 2"), 2)
    assert _snap(read_latest(spark, d)) == got


def test_live_rollup_stream(spark, tmp_path):
    ev_dir = str(tmp_path / "ev")
    os.makedirs(ev_dir)
    ev = _events(spark, 90)
    rows = ev.collect()
    for name, chunk in (("a.json", rows[:50]), ("b.json", rows[50:])):
        with open(os.path.join(ev_dir, name), "w") as f:
            for r in chunk:
                f.write(
                    json.dumps(
                        {
                            "event_id": r["event_id"],
                            "ts": r["ts"].isoformat(sep=" "),
                            "user_id": r["user_id"],
                            "event_type": r["event_type"],
                            "value": r["value"],
                        }
                    )
                    + "\n"
                )
    q = run_rollup_stream(
        spark,
        ev_dir,
        str(tmp_path / "roll"),
        str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    q.awaitTermination(120)
    assert _snap(read_latest(spark, str(tmp_path / "roll"))) == _snap(
        window_rollup(ev)
    )
