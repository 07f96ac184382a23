"""Right-to-be-forgotten across the CDC stack (compliance erasure).

A GDPR/CCPA erasure request is NOT a CDC DELETE. A DELETE is an event:
it participates in sequence ordering, leaves sequence state (or a
tombstone) behind, and a newer INSERT legitimately resurrects the key.
An erasure request is an out-of-band obligation: every trace of the key
must leave the system — merged state (tombstones included), SCD2
history (all versions), quarantined raw events — and the key must STAY
gone even when old events are replayed later (DLQ resubmission,
landing re-reads after a crash, quarantine repair). The reference has
no erasure operation; this is a compliance extension the 100 TB
training-data deployment needs (removing a user's documents from a
corpus and every derived artifact is the same shape).

Two pieces:

* :class:`ErasureList` — the persisted suppression set, one parquet
  directory of key tuples per table. Recording a key here FIRST closes
  the replay window: from that moment every batch the applier routes is
  anti-joined against the list, so no replayed event can resurrect the
  key while (or after) the physical purge runs. The list is bounded by
  the number of erasure requests — normally minuscule next to the data,
  so AQE broadcasts the anti-join; if it ever grows large the join
  degrades gracefully to a key-partitioned shuffle, never a scan of
  anything unbounded.
* :func:`forget_keys` — the orchestrator: record → purge merged state
  (bucket-pruned, ``ParquetMergeTable.purge_keys``) → purge history
  (``Scd2Table.purge_keys``) → purge quarantine → repair the derived
  views (rollup groups the doomed rows contributed to; join views
  listening on the table rebuild — erasure is rare, the full refresh is
  the simple correct move).

Run :func:`forget_keys` between micro-batches (the same single-writer
contract as the merge engine's commit); the ErasureList append itself
is safe at any time and is what guarantees convergence.

Keyed STREAMING state (``streaming/cep.py``, ``streaming/trending.py``)
is the one store this module cannot reach directly — Structured
Streaming checkpoints are engine-private. The pinned contract
(``tests/test_erasure.py::TestStreamingStateErasure``): restart the
stateful query passing the erasure list to its ``suppressed_keys`` /
``suppressed_items`` hook — arriving events for forgotten keys are
dropped, retained state purges the next time the key/shard fires, and
the residue (state of keys that never fire again) leaves at checkpoint
rollover.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.errors.exceptions.captured import AnalysisException

from etl_stream_spark.l0_log import _hadoop_fs


class ErasureList:
    """Persisted erased-key set for one table: a parquet directory of
    key tuples, append-only (re-adding a key is harmless — suppression
    reads distinct)."""

    def __init__(self, spark: SparkSession, path: str, keys: Sequence[str]) -> None:
        self.spark = spark
        self.path = path.rstrip("/")
        self.keys = list(keys)

    def exists(self) -> bool:
        fs, p = _hadoop_fs(self.spark, self.path)
        return fs.exists(p)

    def add(self, keys_df: DataFrame) -> None:
        keys_df.select(*self.keys).distinct().write.mode("append").parquet(self.path)

    def read(self) -> DataFrame | None:
        try:
            return self.spark.read.parquet(self.path).select(*self.keys).distinct()
        except AnalysisException:
            return None

    def suppress(self, df: DataFrame) -> DataFrame:
        """Anti-join a batch against the erased keys.

        Plain (null-rejecting) equality on purpose: erased keys are
        concrete values, and NULL-keyed rows — TRUNCATE markers — must
        pass through untouched."""
        erased = self.read()
        if erased is None:
            return df
        return df.join(erased, on=self.keys, how="left_anti")


def purge_parquet_dir(
    spark: SparkSession, path: str, keys_df: DataFrame, keys: Sequence[str]
) -> int:
    """Anti-join rewrite of a plain (non-bucketed) parquet directory —
    the quarantine / DLQ / landing shape. Delegates to the shared
    ``replace_parquet_files`` (concurrent-append-safe snapshot
    protocol, partition-layout preserving). A missing or empty
    directory is a no-op. Returns rows removed (audit figure)."""
    from etl_stream_spark.plans.compaction import replace_parquet_files

    try:
        df = spark.read.option("mergeSchema", "true").parquet(path)
    except AnalysisException:
        return 0
    snapshot = list(df.inputFiles())
    if not snapshot:
        return 0
    purge = keys_df.select(*keys).distinct()
    doomed = df.join(purge, on=list(keys), how="left_semi").count()
    if doomed == 0:
        return 0
    replace_parquet_files(
        spark,
        path,
        snapshot,
        lambda sub: sub.join(purge, on=list(keys), how="left_anti"),
    )
    return doomed


def erasure_list_for(applier, name: str) -> ErasureList:
    """The table's suppression set, stored beside its quarantine
    (``<base>/_erased/<table>``)."""
    return ErasureList(
        applier.spark,
        f"{applier.base_path}/_erased/{name}",
        applier.config(name).keys,
    )


def forget_keys(
    applier,
    name: str,
    keys_df: DataFrame,
    extra_paths: Sequence[str] = (),
) -> dict:
    """Erase the given keys from every stateful surface of one table.

    Ordering matters: the erasure list is written FIRST, so any batch
    applied from that point on suppresses the keys — the physical purge
    that follows can therefore never race a replay back in. Derived
    state is repaired last: rollup groups are captured from the doomed
    rows BEFORE the purge (their pre-image is only visible then) and
    refreshed after; join views listening on the table rebuild in full.

    ``extra_paths``: additional plain parquet directories holding raw
    copies of the table's events BY KEY COLUMN — the landing zone, a
    decoded DLQ park. Suppression keeps these copies from ever merging
    again, but the stored bytes themselves are what a deletion request
    is about, so they are purged too. (A RAW-bytes DLQ whose rows are
    undecoded strings has no key columns — decode-then-repark before
    forgetting, or age it out by retention.)

    Returns the proof-of-erasure report (per-surface rows removed) and
    appends it, timestamped, to ``<base>/_erasure_audit`` — a deletion
    request must be demonstrably fulfilled, not just executed, and the
    audit row is what an operator produces on demand."""
    target = applier.target(name)
    # Materialize the request FIRST (lineage cut, not just a cache):
    # keys_df is often derived from the very state this function is
    # about to mutate (target reads, quarantine scans) — a lazy plan
    # re-evaluated after the first purge would resolve to a different
    # (even empty) key set for the later surfaces, silently leaving
    # erased users' history/quarantine rows behind.
    keys_df = (
        keys_df.select(*target.keys).distinct().localCheckpoint(eager=True)
    )
    erasure_list_for(applier, name).add(keys_df)

    rollup = applier.rollups.get(name)
    touched_groups: list[tuple] = []
    if rollup is not None:
        state = target.read()
        if state.columns:
            doomed = state.join(
                keys_df.select(*target.keys).distinct(),
                on=target.keys,
                how="left_semi",
            )
            touched_groups = rollup.touched_groups(doomed)

    report = {
        "table": name,
        "requested_keys": keys_df.count(),
        "state_rows": target.purge_keys(keys_df),
        "history_rows": 0,
        "quarantine_rows": purge_parquet_dir(
            applier.spark,
            f"{applier.base_path}/_quarantine/{name}",
            keys_df,
            target.keys,
        ),
        "extra_path_rows": 0,
    }
    history = applier.histories.get(name)
    if history is not None:
        report["history_rows"] = history.purge_keys(keys_df)
    for path in extra_paths:
        report["extra_path_rows"] += purge_parquet_dir(
            applier.spark, path, keys_df, target.keys
        )
    if rollup is not None:
        rollup.refresh_groups(touched_groups)
    for view, fact_name, dim_name in applier.join_views:
        if name in (fact_name, dim_name):
            view.view.truncate()
            view.refresh_full()
    (
        applier.spark.createDataFrame(
            [
                (
                    report["table"],
                    report["requested_keys"],
                    report["state_rows"],
                    report["history_rows"],
                    report["quarantine_rows"],
                    report["extra_path_rows"],
                )
            ],
            "table string, requested_keys long, state_rows long, "
            "history_rows long, quarantine_rows long, extra_path_rows long",
        )
        .withColumn("erased_at", F.current_timestamp())
        .write.mode("append")
        .parquet(f"{applier.base_path}/_erasure_audit")
    )
    return report
