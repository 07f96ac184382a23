"""Incremental SCD Type-2 history maintenance.

The batch derivation (catalog ``cdc_scd2_history``) re-derives the whole
history from the full log each run; this class maintains the identical
history *incrementally* under the CDC micro-batch contract (rows with
OPERATION/SEQUENCE metadata, the envelope of
``etl-snowflake-py/etl_snowflake/client.py:598-609``): each key's
current version row carries an open ``[valid_from_seq, NULL)`` interval,
a newer event closes it at that event's sequence, DELETE closes without
opening, and out-of-order (stale) events are rejected exactly like the
MERGE engine's stale guard (``cdc/merge.py``).

Storage — the scale design, two zones:

* ``closed/`` — append-only parquet of finished versions. A closed
  version is immutable, so the ever-growing history is never rewritten:
  each batch only APPENDS the versions it closes. At 100 TB of history
  this is the property that matters — cost per batch is O(changes),
  independent of history length.
* ``open/`` — one row per live key (the current version), which is
  exactly the CDC MERGE shape, so it IS a :class:`ParquetMergeTable`
  (hash-bucketed, bucket-pruned rewrites, stale-sequence guard,
  emptied-bucket cleanup — all inherited, and the documented Delta/
  Iceberg swap seam applies unchanged).

Per-batch dataflow: one key-shuffle of the (small) batch for the
within-batch ordering, one bucket-pruned read of the open zone to close
prior versions, one append, one bounded MERGE. No driver-side data
collects beyond the merge engine's bucket-id list.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_stream_spark.cdc.envelope import (
    OP_DELETE,
    OP_INSERT,
    OP_TRUNCATE,
    OPERATION_COL,
    SEQUENCE_COL,
    TIMESTAMP_COL,
)
from etl_stream_spark.cdc.merge import SEQ_STATE_COL, ParquetMergeTable
from etl_stream_spark.l0_log import ParquetLog

VALID_FROM_COL = "valid_from_seq"
VALID_TO_COL = "valid_to_seq"
IS_CURRENT_COL = "is_current"

_META = (OPERATION_COL, SEQUENCE_COL, TIMESTAMP_COL)


def _tie_break(df: DataFrame) -> F.Column:
    """Deterministic order among equal sequences — the SAME md5 content
    hash both LWW forms use (shared definition in ``dedup.py``: the
    replayed batch always produces the same history)."""
    from etl_stream_spark.cdc.dedup import content_tie_break

    return content_tie_break(df.columns)


class Scd2Table:
    """A PK-keyed SCD Type-2 history table fed by CDC micro-batches."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        keys: Sequence[str],
        num_buckets: int = 32,
    ) -> None:
        if not keys:
            raise ValueError("Scd2Table requires at least one key column")
        self.spark = spark
        self.path = path.rstrip("/")
        self.keys = list(keys)
        self.open = ParquetMergeTable(
            spark, f"{self.path}/open", keys, num_buckets=num_buckets
        )
        self.closed_path = f"{self.path}/closed"
        #: batches may add columns over the table's life; a closed file
        #: written before a column existed reads NULL for it
        self.closed = ParquetLog(spark, self.closed_path)

    # -- reads -------------------------------------------------------------

    def read(self) -> DataFrame:
        """Full history: closed versions ∪ open (current) versions, with
        ``is_current`` derived from the open interval."""
        open_df = self.open.read()
        if not open_df.columns:
            cur = None
        else:
            cur = open_df.withColumn(VALID_TO_COL, F.lit(None).cast("string"))
        closed = self.closed.read()
        if cur is None and closed is None:
            return self.spark.createDataFrame([], "struct<>")
        if cur is None:
            hist = closed
        elif closed is None:
            hist = cur
        else:
            hist = closed.unionByName(cur, allowMissingColumns=True)
        return hist.withColumn(IS_CURRENT_COL, F.col(VALID_TO_COL).isNull())

    def as_of(self, seq: str) -> DataFrame:
        """Point-in-time read FROM THE MAINTAINED HISTORY: the version
        of each key whose validity interval contains ``seq``
        (``valid_from <= seq < valid_to``, open intervals unbounded).

        The complement of replaying the landing log
        (catalog ``cdc_point_in_time``): the replay costs a full log
        scan per question; this is a filter over the history table —
        with the closed zone partitioned/sorted by ``valid_from`` it
        prunes to a sliver, which is what makes frequent AS OF queries
        viable at 100 TB.
        """
        hist = self.read()
        if not hist.columns:
            return hist
        return hist.filter(
            (F.col(VALID_FROM_COL) <= F.lit(seq))
            & (F.col(VALID_TO_COL).isNull() | (F.col(VALID_TO_COL) > F.lit(seq)))
        ).drop(IS_CURRENT_COL)

    def compact_closed(self, target_file_bytes: int | None = None) -> dict:
        """Periodic maintenance for the append-only zone: every batch
        appends a few files, so closed-history file counts grow with
        batch count, not data volume. Closed versions are immutable —
        compaction is a pure rewrite with no correctness interaction
        (run it between batches; it is not concurrent-append safe,
        same contract as the merge engine's commit)."""
        from etl_stream_spark.plans.compaction import compact_parquet

        kwargs = {} if target_file_bytes is None else {
            "target_file_bytes": target_file_bytes
        }
        try:
            return compact_parquet(self.spark, self.closed_path, **kwargs)
        except FileNotFoundError:
            return {"files_before": 0, "files_after": 0, "skipped": True}

    def purge_keys(self, keys_df: DataFrame) -> int:
        """Compliance erasure: remove EVERY version of the given keys —
        current and historical. The open zone inherits the merge
        engine's bucket-pruned purge; in the append-only closed zone
        only the files holding the keys are rewritten
        (:meth:`ParquetLog.delete_rows`), so rewrite amplification is
        bounded by where the doomed rows live, not by history size — the
        cost model of a Delta/Iceberg DELETE. Returns total versions
        removed (open + closed) for the proof-of-erasure audit."""
        removed = self.open.purge_keys(keys_df)
        return removed + self.closed.delete_rows(keys_df.select(*self.keys).distinct())

    def expire_closed_before(self, seq: str) -> None:
        """Retention enforcement: drop closed versions whose validity
        ENDED at or before ``seq`` (``valid_to_seq <= seq``). Open
        versions never expire, and :meth:`as_of` reads at or after the
        horizon are unaffected — reads before it lose versions by
        design (that is what a retention horizon means). Only files
        holding expired rows are rewritten."""
        self.closed.delete_rows(F.col(VALID_TO_COL) <= F.lit(seq))

    def close_all(self, at_seq: str) -> None:
        """TRUNCATE semantics for a history table: a truncate does not
        erase history (that is the point of keeping one) — it CLOSES
        every open interval at the truncate's sequence, so the record
        survives while no version remains current."""
        open_df = self.open.read()
        if not open_df.columns:
            return
        self.closed.append(open_df.withColumn(VALID_TO_COL, F.lit(at_seq)))
        self.open.truncate()

    def apply_with_truncate_barrier(self, events: DataFrame, trunc_seqs: list) -> None:
        """Apply a batch that may contain TRUNCATE markers, in order:
        unlike the merge target (where pre-truncate segments are
        skipped — nothing can observe them), the history must RECORD
        pre-truncate versions, so each segment is applied before its
        truncate closes all open intervals. ``trunc_seqs`` are the
        batch's truncate sequences, which the caller's discovery pass
        already collected."""
        trunc_seqs = sorted(trunc_seqs)
        data = events.filter(F.col(OPERATION_COL) != OP_TRUNCATE)
        if not trunc_seqs:
            self.apply_batch(data)
            return
        lo = None
        for ts in trunc_seqs:
            seg = data.filter(F.col(SEQUENCE_COL) < ts)
            if lo is not None:
                seg = seg.filter(F.col(SEQUENCE_COL) > lo)
            self.apply_batch(seg)
            self.close_all(ts)
            lo = ts
        self.apply_batch(data.filter(F.col(SEQUENCE_COL) > trunc_seqs[-1]))

    # -- the batch apply ---------------------------------------------------

    def apply_batch(self, batch: DataFrame) -> None:
        """Apply one CDC micro-batch to the history.

        Semantics (identical to the full-log derivation): events are
        ordered by (sequence, content-hash); each event closes the
        key's open interval at its sequence; INSERT/UPDATE then opens a
        new version; DELETE leaves the key closed. Events at or below
        the key's open ``valid_from_seq`` are stale and dropped.

        TRUNCATE markers are ignored here (they carry no key) — route
        batches that may contain them through
        :meth:`apply_with_truncate_barrier`, which closes all open
        intervals at each marker.
        """
        batch = batch.filter(F.col(OPERATION_COL) != OP_TRUNCATE)
        for c in (TIMESTAMP_COL,):
            if c in batch.columns:
                batch = batch.drop(c)
        payload_cols = [
            c for c in batch.columns if c not in self.keys and c not in _META
        ]

        # Prior open versions for the batch's keys: prune the open-zone
        # scan to the batch's buckets (the collect is bucket IDs —
        # bounded, not data).
        from etl_stream_spark.cdc.merge import BUCKET_COL

        touched = self.open.buckets_of(batch)
        state = self.open._read_state(buckets=touched) if touched else None
        if state is not None:
            # The stored open rows close with their OWN payload columns —
            # which may differ from this batch's after schema evolution
            # (new columns appear, old ones may be absent from a narrow
            # batch); the closed-zone union below aligns by name.
            stored_payload = [
                c
                for c in state.columns
                if c not in self.keys
                and c not in (VALID_FROM_COL, BUCKET_COL, SEQ_STATE_COL)
            ]
            prior_k = state.select(
                *self.keys, F.col(VALID_FROM_COL).alias("_prior_from"), *stored_payload
            )
        else:
            prior_k = None

        # Stale guard: drop events at/below the open version's start.
        if prior_k is not None:
            guarded = batch.join(
                prior_k.select(*self.keys, "_prior_from"), on=self.keys, how="left"
            ).filter(
                F.col("_prior_from").isNull()
                | (F.col(SEQUENCE_COL) > F.col("_prior_from"))
            )
        else:
            guarded = batch.withColumn("_prior_from", F.lit(None).cast("string"))

        # Within-batch ordering: each event is closed by the next one.
        w = Window.partitionBy(*self.keys).orderBy(
            F.col(SEQUENCE_COL).asc(), _tie_break(batch).asc()
        )
        ordered = guarded.withColumn("_next", F.lead(SEQUENCE_COL).over(w))
        ordered = ordered.persist()
        try:
            # 1. Close prior open versions at the key's first fresh event.
            firsts = ordered.groupBy(*self.keys).agg(
                F.min(SEQUENCE_COL).alias("_first")
            )
            newly_closed = []
            if prior_k is not None:
                closed_prior = prior_k.join(firsts, on=self.keys, how="inner").select(
                    *self.keys,
                    *stored_payload,
                    F.col("_prior_from").alias(VALID_FROM_COL),
                    F.col("_first").alias(VALID_TO_COL),
                )
                newly_closed.append(closed_prior)

            # 2. Batch-internal versions closed by a later batch event.
            closed_internal = (
                ordered.filter(
                    (F.col(OPERATION_COL) != OP_DELETE) & F.col("_next").isNotNull()
                )
                .select(
                    *self.keys,
                    *payload_cols,
                    F.col(SEQUENCE_COL).alias(VALID_FROM_COL),
                    F.col("_next").alias(VALID_TO_COL),
                )
            )
            newly_closed.append(closed_internal)
            to_append = newly_closed[0]
            for extra in newly_closed[1:]:
                to_append = to_append.unionByName(extra, allowMissingColumns=True)
            self.closed.append(to_append)

            # 3. New open state: the key's last fresh event — INSERT/UPDATE
            #    upserts the new current version, DELETE removes the key.
            #    The merge table's LWW + stale guard are inert here (one
            #    row per key, already guarded) but harmless.
            last = ordered.filter(F.col("_next").isNull()).select(
                *self.keys,
                *payload_cols,
                F.col(SEQUENCE_COL).alias(VALID_FROM_COL),
                F.when(F.col(OPERATION_COL) == OP_DELETE, OP_DELETE)
                .otherwise(OP_INSERT)
                .alias(OPERATION_COL),
                F.col(SEQUENCE_COL).alias(SEQUENCE_COL),
            )
            self.open.merge(last)
        finally:
            ordered.unpersist()
