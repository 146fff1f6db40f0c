"""The one versioned write-audit-publish fold and the one stream runner.

Every maintained state under streaming/ is a directory of versioned
parquet snapshots, `v=0, v=1, ...` — the reference's checkpoint_<ts>
dirs (src/datanode/handler.py:156-190). A state may span several
sub-tables written at the same version (e.g. `counts/` + `ledger/`);
one of them, the marker table, carries the publish marker.

Protocol, owned here and nowhere else:
- a fold writes version v+1 from the newest COMPLETE version v plus
  one micro-batch, never reading and overwriting the same files;
- the marker table is written last, then an `_applied_batch_id` file
  recording the batch_id lands in its version dir (underscore-prefixed
  files are ignored by Spark's parquet reader, like _SUCCESS). A
  version without the marker is an interrupted write: readers skip it
  and the next fold rebuilds it from the last complete base
  (mode=overwrite clears the leftovers);
- foreachBatch is at-least-once: a crash after the marker but before
  the streaming checkpoint commits redelivers the same batch_id. The
  fold skips a batch whose id the newest version already carries, so
  additive merges never double-count.

Each fold call logs one JSON record (logger
`distributed_vector_database_spark.streaming.fold`): state_dir,
batch_id, base_version (-1: no base), new_version and an outcome of
`applied`, `replay_skipped`, `recovered_interrupted` or `empty`. No
row counts — counting would launch a Spark job.
"""

from __future__ import annotations

import json
import logging
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

MARKER = "_applied_batch_id"

log = logging.getLogger(__name__)


def latest_version(path: str) -> int:
    """Newest snapshot version under a versioned snapshot dir (-1 if
    none) — the analog of picking the newest checkpoint_<ts> dir
    (src/datanode/handler.py:185-190)."""
    try:
        versions = [int(d.split("=")[1]) for d in os.listdir(path) if d.startswith("v=")]
        return max(versions) if versions else -1
    except FileNotFoundError:
        return -1


def applied_batch(path: str, v: int) -> int | None:
    """batch_id recorded in version v's marker, or None if the marker is
    absent (an interrupted write: the version must not be used)."""
    try:
        with open(os.path.join(path, f"v={v}", MARKER)) as f:
            return int(f.read().strip())
    except (FileNotFoundError, ValueError):
        return None


def write_marker(path: str, v: int, batch_id: int) -> None:
    with open(os.path.join(path, f"v={v}", MARKER), "w") as f:
        f.write(str(batch_id))


def latest_complete_version(path: str) -> int:
    """Newest version under `path` whose marker landed (-1 if none)."""
    v = latest_version(path)
    if v >= 0 and applied_batch(path, v) is None:
        v -= 1
    return v


def _table_dir(state_dir: str, table: str) -> str:
    return f"{state_dir}/{table}" if table else state_dir


def read_latest(spark: SparkSession, state_dir: str, table: str = "") -> DataFrame:
    """Newest complete version of a maintained state (or of its marker
    sub-table `table`); raises FileNotFoundError if none is published."""
    path = _table_dir(state_dir, table)
    v = latest_complete_version(path)
    if v < 0:
        raise FileNotFoundError(f"no complete versions under {path}")
    return spark.read.parquet(f"{path}/v={v}")


def _log(
    state_dir: str, batch_id: int, base: int | None, new: int | None, outcome: str
) -> None:
    if log.isEnabledFor(logging.INFO):
        log.info(
            json.dumps(
                {
                    "state_dir": state_dir,
                    "batch_id": batch_id,
                    "base_version": base,
                    "new_version": new,
                    "outcome": outcome,
                }
            )
        )


def build_fold(state_dir: str, step: Callable, marker_table: str = ""):
    """foreachBatch body folding one micro-batch into version v+1 of
    `state_dir`.

    `step(batch, base, batch_id)` returns {sub-table: DataFrame} to
    write ("" = the state dir itself). `base(table="")` reads a
    sub-table's base version; `base` is None when no complete version
    exists yet. Tables are written in order with `marker_table` last,
    then the marker. A step may also write a per-batch side output
    itself, provided a replay overwrites it identically."""
    marker_dir = _table_dir(state_dir, marker_table)

    def fold(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return _log(state_dir, batch_id, None, None, "empty")
        v = latest_version(marker_dir)
        outcome = "applied"
        if v >= 0:
            applied = applied_batch(marker_dir, v)
            if applied == batch_id:
                return _log(state_dir, batch_id, v, None, "replay_skipped")
            if applied is None:
                v -= 1
                outcome = "recovered_interrupted"
        spark = batch.sparkSession

        def base(table: str = "") -> DataFrame:
            return spark.read.parquet(f"{_table_dir(state_dir, table)}/v={v}")

        tables = step(batch, base if v >= 0 else None, batch_id)
        for table in sorted(tables, key=lambda t: t == marker_table):
            tables[table].write.mode("overwrite").parquet(
                f"{_table_dir(state_dir, table)}/v={v + 1}"
            )
        write_marker(marker_dir, v + 1, batch_id)
        _log(state_dir, batch_id, v, v + 1, outcome)

    return fold


def start_stream(stream: DataFrame, body, checkpoint_dir: str):
    """Run `body(batch, batch_id)` on every micro-batch of `stream`
    until the available input is drained. Returns the StreamingQuery."""
    return (
        stream.writeStream.foreachBatch(body)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def run_stream(
    spark: SparkSession,
    src_dir: str,
    schema: str,
    body,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
):
    """The one JSON file-source runner: readStream over an
    arriving-files directory -> foreachBatch(body) -> checkpoint ->
    availableNow. Returns the StreamingQuery. `max_files_per_trigger`
    bounds micro-batch size (and lets tests force the multi-batch
    path); the default lets availableNow drain freely."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return start_stream(reader.json(src_dir), body, checkpoint_dir)
