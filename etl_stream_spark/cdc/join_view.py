"""Incrementally maintained JOIN materialized view.

``IncrementalRollup`` maintains group-by aggregates over one silver
table; this maintains the OTHER classic warehouse view — a join
(fact ⟕ dim, e.g. orders enriched with customer attributes) — under
CDC micro-batches arriving on BOTH sides, without ever re-running the
full join.

Delta-maintenance rules (the ΔV decomposition specialized to a
key-equality left join, view keyed by the fact PK):

* **fact batch** — the batch's fact keys are exactly the view rows that
  can change: re-derive each from post-merge fact state (found →
  upsert with current dim attributes; gone → DELETE from the view).
  Branching on the batch's own ops would re-implement the merge's
  stale-guard logic; deriving from post-merge state inherits it.
* **dim batch** — affected fact keys are the fact rows whose foreign
  key matches a changed dim key, discovered with a TWO-COLUMN
  (pk, fk) scan of the fact state: columnar pruning makes the probe
  narrow regardless of fact width. At 100 TB, Z-ordering the fact
  table by fk (``plans/zorder.py``) turns that scan file-pruned as
  well. Dim deletes null the attributes (left-join semantics), dim
  updates rewrite exactly the referencing rows.

All reads are bucket-pruned through the merge tables' own layouts; the
only driver-side collects are bucket-id lists (bounded by bucket
counts). The maintained invariant — tested property-style — is::

    view.read() == fact.read() LEFT JOIN dim_payload ON fk = dim_pk

after ANY interleaving of fact/dim batches.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_stream_spark.cdc.envelope import OP_DELETE, OP_INSERT, OPERATION_COL, SEQUENCE_COL
from etl_stream_spark.cdc.merge import (
    BUCKET_COL,
    SEQ_STATE_COL,
    ParquetMergeTable,
    stored_refresh_seq,
)


class IncrementalJoinView:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        fact: ParquetMergeTable,
        dim: ParquetMergeTable,
        fk_cols: Sequence[str],
        dim_payload: Sequence[str],
        num_buckets: int = 32,
    ) -> None:
        if len(fk_cols) != len(dim.keys):
            raise ValueError("fk_cols must align with the dim table's keys")
        self.spark = spark
        self.fact = fact
        self.dim = dim
        self.fk_cols = list(fk_cols)
        self.dim_payload = list(dim_payload)
        overlap = set(dim_payload) & set(self._fact_cols_guess())
        if overlap:
            raise ValueError(f"dim payload collides with fact columns: {overlap}")
        self.view = ParquetMergeTable(spark, path, keys=fact.keys, num_buckets=num_buckets)
        self._refresh_seq = stored_refresh_seq(self.view)

    def _fact_cols_guess(self) -> set[str]:
        stored = {f.name for f in self.fact.stored_schema().fields}
        return stored | set(self.fact.keys) | set(self.fk_cols)

    def read(self) -> DataFrame:
        return self.view.read()

    # -- maintenance entry points -----------------------------------------

    def on_fact_batch(self, batch: DataFrame) -> None:
        """Refresh after ``fact.merge(batch)`` was applied."""
        # only the key SET matters (the refresh re-derives row content
        # from post-merge state) — distinct beats an LWW window here
        self._refresh(batch.select(*self.fact.keys).distinct())

    def on_dim_batch(self, batch: DataFrame) -> None:
        """Refresh after ``dim.merge(batch)`` was applied."""
        changed = batch.select(*self.dim.keys).distinct()
        fact_state = self.fact._read_state()
        if fact_state is None:
            return
        if not set(self.fk_cols) <= set(fact_state.columns):
            # an fk column never landed in fact state (narrow early
            # batches under schema evolution): no fact row references a
            # dim key yet
            return
        # narrow (pk, fk) probe of the fact state — columnar pruning
        # keeps this a 2-column scan however wide the fact table is.
        # Plain equality, NOT null-safe: a NULL fk references no dim
        # row (left-join SQL semantics, same as the refresh join).
        probe = fact_state.select(*self.fact.keys, *self.fk_cols)
        cond = [
            probe[fk] == changed[dk]
            for fk, dk in zip(self.fk_cols, self.dim.keys)
        ]
        affected = probe.join(changed, cond, "left_semi").select(*self.fact.keys)
        self._refresh(affected)

    def refresh_full(self) -> None:
        """Bootstrap / repair: rebuild every view row from current state."""
        fact_state = self.fact._read_state()
        if fact_state is None:
            return
        self._refresh(fact_state.select(*self.fact.keys))

    # -- the delta refresh -------------------------------------------------

    def _refresh(self, keys_df: DataFrame) -> None:
        fact_buckets = self.fact.buckets_of(keys_df)
        if not fact_buckets:
            return
        fact_state = self.fact._read_state(buckets=fact_buckets)
        self._refresh_seq += 1
        seq = F.lit(f"{self._refresh_seq:020d}")

        if fact_state is None:
            # fact table gone entirely: every key in the batch is a
            # delete, NULL in every stored view column (the merge types
            # it), so the merge fills no absent column from view state
            stored = self.view.stored_schema()
            if stored:
                keys = set(self.fact.keys)
                nulls = [F.lit(None).alias(c) for c in stored.fieldNames() if c not in keys]
                self.view.merge(
                    keys_df.select("*", *nulls)
                    .withColumn(OPERATION_COL, F.lit(OP_DELETE))
                    .withColumn(SEQUENCE_COL, seq)
                )
            return

        rows = fact_state.drop(BUCKET_COL, SEQ_STATE_COL).join(
            keys_df, self.fact.keys, "left_semi"
        )
        dim_buckets = self.dim.buckets_of(rows, self.fk_cols)
        dim_state = self.dim._read_state(dim_buckets) if dim_buckets else None
        joined = rows
        if dim_state is not None:
            # alias dim keys so an fk sharing the dim key's name never
            # collides in the join output
            aliased = [f"_dk{i}" for i in range(len(self.dim.keys))]
            dim_rows = dim_state.select(
                *[F.col(k).alias(a) for k, a in zip(self.dim.keys, aliased)],
                *[c for c in self.dim_payload if c in dim_state.columns],
            )
            # plain equality, NOT null-safe: a NULL fk must read as
            # unreferenced (the documented LEFT JOIN ON fk = dim_pk
            # invariant), not match a NULL-keyed dim row
            cond = [
                rows[fk] == dim_rows[a]
                for fk, a in zip(self.fk_cols, aliased)
            ]
            joined = rows.join(dim_rows, cond, "left").drop(*aliased)
        # A payload column the join did not supply (no dim rows, or one
        # the dim table never stored) is explicitly NULL, not absent: an
        # absent column would KEEP a stale attribute under the merge
        # engine's evolution rule. The view's merge types the NULL, or
        # leaves the column out while the view stores none.
        for c in self.dim_payload:
            if c not in joined.columns:
                joined = joined.withColumn(c, F.lit(None))

        upserts = joined.withColumn(OPERATION_COL, F.lit(OP_INSERT)).withColumn(
            SEQUENCE_COL, seq
        )
        # keys with no surviving fact row → view rows to delete
        vanished = keys_df.join(
            joined.select(*self.fact.keys), self.fact.keys, "left_anti"
        ).withColumn(OPERATION_COL, F.lit(OP_DELETE)).withColumn(SEQUENCE_COL, seq)
        self.view.merge(upserts.unionByName(vanished, allowMissingColumns=True))
