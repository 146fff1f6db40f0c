"""The shared versioned fold (streaming/fold.py): one crash/replay
contract run over every maintained state, the fold's JSON records, and
a structural guard that keeps the protocol in one module."""

import datetime
import json
import logging
import os
import re

import pytest
from pyspark.sql import functions as F

from distributed_vector_database_spark.streaming import fold as vf

STREAMING = os.path.join(
    os.path.dirname(__file__), "..", "distributed_vector_database_spark", "streaming"
)
EV = "event_id long, ts timestamp, user_id long, event_type string, value double"
T0 = datetime.datetime(2024, 1, 1)


def _ev(i, minutes, user, etype, value):
    return (i, T0 + datetime.timedelta(minutes=minutes), user, etype, value)


# time-ordered event batches (the funnel/transition folds' contract);
# users repeat across batches so every stateful merge is exercised
EVENTS = [
    [_ev(1, 0, 1, "view", 1.0), _ev(2, 5, 1, "click", 2.0),
     _ev(3, 7, 2, "view", -1.0), _ev(4, 9, 3, "click", 3.0)],
    [_ev(5, 70, 1, "purchase", 4.0), _ev(6, 72, 2, "click", 5.0),
     _ev(7, 75, 4, "view", 0.5), _ev(8, 80, 2, "purchase", 1.5)],
    [_ev(9, 130, 1, "view", 2.0), _ev(10, 135, 3, "view", 1.0)],
]
DOCS = [
    [(1, "alpha beta gamma delta epsilon"), (2, "beta gamma delta zeta eta")],
    [(3, "alpha beta gamma theta iota"), (4, "kappa lambda mu nu xi")],
]
CHANGES = [
    [("PUT", "a", 1.0, 10, 1), ("PUT", "b", 2.0, 11, 2)],
    [("PUT", "a", 3.0, 12, 3), ("DELETE", "b", None, 13, 4), ("PUT", "c", 4.0, 14, 5)],
]


def _events(spark, i):
    return spark.createDataFrame(EVENTS[i], EV)


def _docs(spark, i):
    return spark.createDataFrame(DOCS[i], "doc_id long, text string")


def _changes(spark, i):
    return spark.createDataFrame(
        CHANGES[i], "op string, key string, value double, ts long, seq long"
    )


def _lexical(d):
    from distributed_vector_database_spark.streaming.lexical_stats import build_fold

    return build_fold(d)


def _rollup(d):
    from distributed_vector_database_spark.streaming.rollup import build_rollup_fold

    return build_rollup_fold(d)


def _span(d):
    from distributed_vector_database_spark.streaming.span_state import (
        build_span_fold,
    )

    return build_span_fold(d, d + "_out", k=3)


def _hll(d):
    from distributed_vector_database_spark.streaming.hll_state import build_hll_fold

    return build_hll_fold(d, "user_id")


def _funnel(d):
    from distributed_vector_database_spark.streaming.funnel_state import (
        build_funnel_fold,
    )

    return build_funnel_fold(d, ["view", "click", "purchase"])


def _transitions(d):
    from distributed_vector_database_spark.streaming.transitions import (
        build_transitions_fold,
    )

    return build_transitions_fold(d)


def _dq(d):
    from distributed_vector_database_spark.streaming.expectations import (
        build_dq_fold,
    )

    return build_dq_fold(d, {"v_pos": F.col("value") > 0}, unique_cols=["user_id"])


def _compaction(d):
    from distributed_vector_database_spark.streaming.compaction import (
        build_compaction_fold,
    )

    return build_compaction_fold(d)


# (fold builder, batch maker, marker table) for all 8 versioned states
FOLDS = {
    "lexical_stats": (_lexical, _docs, ""),
    "rollup": (_rollup, _events, ""),
    "span_state": (_span, _docs, ""),
    "hll_state": (_hll, _events, ""),
    "funnel_state": (_funnel, _events, ""),
    "transitions": (_transitions, _events, "counts"),
    "expectations": (_dq, _events, "counts"),
    "compaction": (_compaction, _changes, ""),
}


def _rows(df):
    def norm(v):
        return round(v, 6) if isinstance(v, float) else v

    return sorted((tuple(norm(v) for v in r) for r in df.collect()), key=repr)


def _versions(path):
    return sorted(d for d in os.listdir(path) if d.startswith("v="))


def _records(caplog):
    return [
        json.loads(r.getMessage()) for r in caplog.records if r.name == vf.log.name
    ]


@pytest.mark.parametrize("name", list(FOLDS))
def test_replay_is_noop_and_interrupted_write_is_rebuilt(
    spark, tmp_path, monkeypatch, caplog, name
):
    build, batch, table = FOLDS[name]
    caplog.set_level(logging.INFO, logger=vf.log.name)

    def served(d):
        return _rows(vf.read_latest(spark, d, table))

    # (a) a clean run, then a replay of the last batch_id: no new
    # version, same rows, one replay_skipped record
    clean = str(tmp_path / "clean")
    fold = build(clean)
    fold(batch(spark, 0), 0)
    fold(batch(spark, 1), 1)
    want = served(clean)
    versions = _versions(os.path.join(clean, table))
    assert versions == ["v=0", "v=1"]
    fold(batch(spark, 1), 1)
    assert _versions(os.path.join(clean, table)) == versions
    assert served(clean) == want
    assert _records(caplog)[-1] == {
        "state_dir": clean, "batch_id": 1, "base_version": 1,
        "new_version": None, "outcome": "replay_skipped",
    }

    # (b) the fold dies after writing v=1 but before its marker: the
    # torn v=1 is invisible, and the replay rebuilds it on v=0
    crashy = str(tmp_path / "crashy")
    fold = build(crashy)
    fold(batch(spark, 0), 0)
    after_b0 = served(crashy)

    def boom(*a, **k):
        raise RuntimeError("simulated crash before marker")

    with monkeypatch.context() as m:
        m.setattr(vf, "write_marker", boom)
        with pytest.raises(RuntimeError):
            fold(batch(spark, 1), 1)
    marker_dir = os.path.join(crashy, table)
    assert vf.latest_version(marker_dir) == 1
    assert vf.latest_complete_version(marker_dir) == 0
    assert served(crashy) == after_b0
    fold(batch(spark, 1), 1)
    assert served(crashy) == want
    assert _records(caplog)[-1] == {
        "state_dir": crashy, "batch_id": 1, "base_version": 0,
        "new_version": 1, "outcome": "recovered_interrupted",
    }


def _served_transitions(spark, d):
    from distributed_vector_database_spark.streaming.transitions import (
        read_transition_matrix,
    )

    return _rows(read_transition_matrix(spark, d))


def _served_dq(spark, d):
    from distributed_vector_database_spark.streaming.expectations import (
        read_dq_report,
    )

    return _rows(read_dq_report(spark, d, unique_cols=["user_id"]))


SIDECARS = {
    # garbage rows a partial sidecar write could leave behind
    "transitions": (
        "ledger",
        [(1, T0, 99, "zz")],
        "user_id long, ts timestamp, event_id long, event_type string",
        _served_transitions,
    ),
    "expectations": ("keys", [(777, 999)], "user_id long, kn long", _served_dq),
}


@pytest.mark.parametrize("name", list(SIDECARS))
def test_crash_between_sidecar_and_counts_write_recovers(spark, tmp_path, name):
    build, batch, _ = FOLDS[name]
    sidecar, garbage, schema, serve = SIDECARS[name]

    clean = str(tmp_path / "clean")
    fold = build(clean)
    for i in range(3):
        fold(batch(spark, i), i)

    # batch 1 died after its sidecar v=1 but before counts v=1: readers
    # stay on v=0, and the retry must overwrite the orphan sidecar (the
    # third batch reads it as its base)
    crashy = str(tmp_path / "crashy")
    fold = build(crashy)
    fold(batch(spark, 0), 0)
    after_b0 = serve(spark, crashy)
    spark.createDataFrame(garbage, schema).write.parquet(f"{crashy}/{sidecar}/v=1")
    assert serve(spark, crashy) == after_b0
    fold(batch(spark, 1), 1)
    fold(batch(spark, 2), 2)
    assert serve(spark, crashy) == serve(spark, clean)


def test_protocol_lives_only_in_fold_module():
    """No Spark: the replay marker and the stream runner are written
    once, in streaming/fold.py, and nothing imports the old private
    helpers from lexical_stats."""
    root = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))
    copies = []
    for fname in sorted(os.listdir(STREAMING)):
        if fname.endswith(".py") and fname != "fold.py":
            with open(os.path.join(STREAMING, fname)) as f:
                src = f.read()
            for word in ("writeStream", "_applied_batch_id"):
                if word in src:
                    copies.append(f"{fname}: {word}")
    old_import = re.compile(
        r"from\s+[\w.]*lexical_stats\s+import\s+\(?[^)]*?"
        r"\b(_applied_batch|_write_marker)\b"
    )
    for base, _, files in os.walk(root):
        if "/." in base:
            continue
        for fname in files:
            if fname.endswith(".py"):
                path = os.path.join(base, fname)
                with open(path) as f:
                    if old_import.search(f.read()):
                        copies.append(f"{os.path.relpath(path, root)}: old import")
    assert copies == []
