"""Incremental aggregate maintenance: a continuously-maintained "gold"
rollup over the merged "silver" state.

The reference stops at the merged target table; any aggregate view on
top is the warehouse's problem. At 100 TB the naive answer — rescan the
silver table per refresh — is a full-table aggregation every merge
cycle. The scalable pattern implemented here: a micro-batch can only
change the aggregates of groups it touches, so each refresh

1. collects the batch's distinct group keys (bounded driver metadata,
   like the merge engine's bucket list);
2. recomputes aggregates *only for those groups* from silver — the scan
   prunes to the touched groups via a broadcast semi-join, and with the
   silver table bucketed on a prefix of the group key, to their buckets;
3. MERGEs the recomputed rows into the gold table (itself a
   :class:`~etl_stream_spark.cdc.merge.ParquetMergeTable` keyed by the
   group), emitting DELETEs for groups whose last silver row vanished.

Work per refresh is O(touched groups), not O(table). The gold merge
reuses the stale-sequence guard with a monotone refresh counter, so
replayed refreshes are absorbed idempotently.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_stream_spark.cdc.envelope import OP_DELETE, OP_UPDATE, OPERATION_COL, SEQUENCE_COL
from etl_stream_spark.cdc.merge import SEQ_STATE_COL, ParquetMergeTable, stored_refresh_seq


class IncrementalRollup:
    """Maintains ``silver.groupBy(group_cols).agg(**aggs)`` in a gold
    table, refreshed incrementally per merged micro-batch.

    ``aggs`` maps output column name → aggregate Column builder (a
    zero-arg callable returning the Column, so each refresh gets fresh
    expression instances).
    """

    def __init__(
        self,
        spark: SparkSession,
        silver: ParquetMergeTable,
        gold_path: str,
        group_cols: list[str],
        aggs: dict[str, "callable"],
        num_buckets: int = 8,
    ) -> None:
        self.spark = spark
        self.silver = silver
        self.group_cols = group_cols
        self.aggs = aggs
        self.gold = ParquetMergeTable(
            spark, gold_path, keys=group_cols, num_buckets=num_buckets
        )
        self._refresh_seq = stored_refresh_seq(self.gold)

    def _silver_df(self) -> DataFrame | None:
        """Readable silver state, or None when the table is absent OR
        exists-but-empty (every row deleted → the merge removed all
        bucket files and ``read()`` degenerates to a zero-column frame
        that would fail any column reference)."""
        from etl_stream_spark.cdc.merge import BUCKET_COL

        state = self.silver._read_state()
        return None if state is None else state.drop(BUCKET_COL, SEQ_STATE_COL)

    def touched_groups(self, batch: DataFrame) -> list[tuple]:
        """Group keys whose aggregates this batch can change, captured
        BEFORE the silver merge: the batch's own (non-null) groups plus
        the *pre-image* groups of every key the batch touches — a
        PK-only DELETE carries no group value, so the group it shrinks
        is only discoverable in pre-merge silver. Collected to the
        driver (bounded by batch key count) because the lazy pre-image
        lineage would read post-merge files if evaluated later."""
        batch_groups = batch.select(*self.group_cols).na.drop(how="any").distinct()
        pre_src = self._silver_df()
        if pre_src is not None:
            keys = batch.select(*self.silver.keys).distinct()
            pre = (
                pre_src
                .join(F.broadcast(keys), self.silver.keys, "left_semi")
                .select(*self.group_cols)
                .distinct()
            )
            batch_groups = batch_groups.unionByName(pre).distinct()
        return [tuple(r) for r in batch_groups.collect()]

    def merge_and_refresh(self, batch: DataFrame) -> None:
        """Silver merge + gold refresh in the correct order — handles
        PK-only DELETE rows (null group columns in the batch)."""
        touched = self.touched_groups(batch)
        self.silver.merge(batch)
        self.refresh_groups(touched)

    def refresh(self, batch: DataFrame) -> None:
        """Fold one applied micro-batch's group impact into gold, called
        after ``silver.merge(batch)``. Correct when every batch row
        carries its group value (replica-identity-full deletes); for
        PK-only deletes use :meth:`merge_and_refresh`."""
        self.refresh_groups(
            [tuple(r) for r in batch.select(*self.group_cols).na.drop(how="any").distinct().collect()]
        )

    def refresh_groups(self, touched_rows: list[tuple]) -> None:
        if not touched_rows:
            return
        schema_src = self._silver_df()
        if schema_src is None:
            # silver fully emptied: every touched group vanished — gold
            # must receive the DELETEs or it would serve stale aggregates
            gold_state = self.gold._read_state()
            if gold_state is None:
                return  # nothing on either side
            touched = self.spark.createDataFrame(
                touched_rows, gold_state.select(*self.group_cols).schema
            )
            self._refresh_seq += 1
            seq = F.lit(f"{self._refresh_seq:020d}")
            deletes = touched.withColumn(OPERATION_COL, F.lit(OP_DELETE)).withColumn(
                SEQUENCE_COL, seq
            )
            for name in self.aggs:
                deletes = deletes.withColumn(name, F.lit(None))
            self.gold.merge(deletes)
            return
        touched = self.spark.createDataFrame(
            touched_rows, schema_src.select(*self.group_cols).schema
        )
        silver_rows = schema_src.join(F.broadcast(touched), self.group_cols, "inner")
        recomputed = silver_rows.groupBy(*self.group_cols).agg(
            *[build().alias(name) for name, build in self.aggs.items()]
        )
        # groups with no surviving silver rows → DELETE from gold
        vanished = touched.join(recomputed.select(*self.group_cols), self.group_cols, "left_anti")
        self._refresh_seq += 1
        seq = F.lit(f"{self._refresh_seq:020d}")
        upserts = recomputed.withColumn(OPERATION_COL, F.lit(OP_UPDATE)).withColumn(
            SEQUENCE_COL, seq
        )
        deletes = vanished.withColumn(OPERATION_COL, F.lit(OP_DELETE)).withColumn(
            SEQUENCE_COL, seq
        )
        for name in self.aggs:
            deletes = deletes.withColumn(name, F.lit(None))
        self.gold.merge(upserts.unionByName(deletes, allowMissingColumns=False))

    def read(self) -> DataFrame:
        return self.gold.read()
