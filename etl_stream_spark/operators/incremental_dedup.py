"""Incremental exact dedup against a persisted fingerprint store.

The batch dedup operators (``operators/dedup.py``) answer "which
documents in THIS corpus are duplicates". A continuously-ingesting
training-data pipeline needs the incremental question: "which documents
in this NEW shard were never seen in ANY earlier shard" — without
rescanning the history each time.

Storage is the engine's own bucketed merge table keyed by the content
fingerprint, which buys the scale properties for free:

* membership lookup prunes to the buckets the batch's fingerprints hash
  into (``touched/num_buckets`` of the store read, not all of it);
* registration is the idempotent CDC MERGE — replaying a shard after a
  crash re-inserts the same fingerprints with no duplicates (the PK is
  the fingerprint);
* the store survives restarts (plain parquet/Delta path, no driver
  state).

At 100 TB the store holds one ~50-byte row per distinct document —
orders of magnitude smaller than the corpus — and lookups touch only
the hashed buckets of the incoming shard.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_stream_spark.cdc.envelope import OPERATION_COL, SEQUENCE_COL
from etl_stream_spark.cdc.merge import ParquetMergeTable
from etl_stream_spark.l0_log import read_small_text, write_small_text

FP_COL = "fp"


class _PersistedEpoch:
    """Monotone registration counter stored NEXT TO the table (driver-
    side FS file — a Spark job per bump would dominate small shards).

    Instance-local counters reset to 0 on restart, so a new instance
    over an existing store would register with sequences BELOW the
    stored ones: matched re-registrations get vetoed by the merge
    engine's stale-sequence guard, leaving ``first_doc`` stale after
    purge/re-ingest cycles. Persisting the counter keeps restarts
    monotone. Underscore-prefixed file → hidden from parquet listings;
    ``write_small_text`` commits via atomic rename, and an absent /
    unreadable file is safe here (0 only under-orders a brand-new
    store, whose table is empty)."""

    def __init__(self, spark, table_path: str) -> None:
        self.spark = spark
        self.path = table_path.rstrip("/") + "/_epoch.txt"
        self._cached: int | None = None

    def next(self) -> int:
        if self._cached is None:
            text = read_small_text(self.spark, self.path)
            try:
                self._cached = int(text) if text is not None else 0
            except ValueError:
                self._cached = 0
        self._cached += 1
        write_small_text(self.spark, self.path, str(self._cached))
        return self._cached

    def next_sequence(self) -> str:
        """Merge sequence for the next registration: a ``~`` prefix plus
        a zero-padded counter. The padding keeps epochs ordered past the
        9→10 digit boundary (raw small ints invert under the merge
        engine's lexicographic compare, silently vetoing every later
        re-registration); the ``~`` prefix (sorts above any digit) keeps
        the new format ordered ABOVE the unpadded ``<epoch>_…``
        sequences pre-round-5 stores persisted — without it, reopening a
        legacy store would veto every matched re-registration forever,
        the exact bug this class exists to fix."""
        return f"~{self.next():020d}_00000000"


def _fingerprint(text_col: str) -> F.Column:
    from etl_stream_spark.operators.text_analysis import fingerprint

    return fingerprint(F.col(text_col))


class FingerprintStore:
    """Persisted set of document fingerprints with pruned membership."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        num_buckets: int = 64,
    ) -> None:
        self.spark = spark
        self.table = ParquetMergeTable(
            spark, path, keys=[FP_COL], num_buckets=num_buckets
        )
        self._epoch = _PersistedEpoch(spark, path)

    def novel(
        self,
        docs: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
    ) -> DataFrame:
        """Rows of ``docs`` whose content was never registered before.

        Within-batch duplicates also collapse (min id per fingerprint
        survives — deterministic at any partitioning). The store read
        prunes to the buckets of the batch's fingerprints.
        """
        fp = _fingerprint(text_col).alias(FP_COL)
        batch = docs.select("*", fp)
        w_min = F.min(F.col(id_col)).over(Window.partitionBy(FP_COL))
        batch = batch.withColumn("_min_id", w_min).filter(
            F.col(id_col) == F.col("_min_id")
        ).drop("_min_id")
        if not self.table.exists():
            return batch.drop(FP_COL)
        # prune the store scan to the batch's buckets (bounded collect:
        # at most num_buckets ints)
        state = self.table._read_state(buckets=self.table.buckets_of(batch))
        if state is None:
            # table root exists but none of the batch's buckets are
            # materialized (e.g. purge() emptied them) — all novel
            return batch.drop(FP_COL)
        return (
            batch.join(state.select(FP_COL), FP_COL, "left_anti").drop(FP_COL)
        )

    def register(
        self,
        docs: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
    ) -> None:
        """Record a shard's fingerprints (idempotent — re-registering a
        replayed shard changes nothing; the fingerprint is the PK)."""
        fp = _fingerprint(text_col).alias(FP_COL)
        rows = (
            docs.select(fp, F.col(id_col).alias("first_doc"))
            .groupBy(FP_COL)
            .agg(F.min("first_doc").alias("first_doc"))
            .select(
                FP_COL,
                "first_doc",
                F.lit("INSERT").alias(OPERATION_COL),
                F.lit(self._epoch.next_sequence()).alias(SEQUENCE_COL),
            )
        )
        self.table.merge(rows)

    def purge(
        self, docs: DataFrame, text_col: str = "text"
    ) -> None:
        """Right-to-be-forgotten propagation: erase the given documents'
        content fingerprints from the store. The hash is DERIVED from
        the erased content — keeping it would both retain derived data
        and silently suppress a future legitimate re-submission of the
        same content as "already seen". Content-keyed by design: if a
        kept document shares the exact content, that fingerprint is
        removed too and the next ingest re-registers it — convergent,
        never lossy. Bucket-pruned via the merge engine's purge."""
        self.table.purge_keys(
            docs.select(_fingerprint(text_col).alias(FP_COL)).distinct()
        )

    def dedup_shard(
        self, docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
    ) -> DataFrame:
        """novel() + register() in the ingest order a pipeline uses.

        The returned DataFrame is materialized with ``localCheckpoint``
        (lineage cut): the novelty decision must be computed against the
        PRE-registration store, and a merely-cached plan would be
        invalidated-and-recomputed when ``register`` writes the store
        path (Spark recaches by path), silently seeing its own shard."""
        out = self.novel(docs, id_col, text_col).localCheckpoint(eager=True)
        self.register(docs, id_col, text_col)
        return out


BAND_ID_COL = "band_id"
BAND_KEY_COL = "band_key"


class LshBandStore:
    """Incremental NEAR-duplicate detection against a persisted banded-
    MinHash membership store — the fuzzy twin of :class:`FingerprintStore`.

    The batch LSH join (``operators/dedup.py::minhash_lsh_pairs``)
    answers "which documents in THIS corpus are near-duplicates"; a
    continuously-ingesting pipeline needs "which documents in this NEW
    shard are near-duplicates of ANYTHING seen before" — without
    re-banding history. The store persists every (band_id, band_key)
    bucket ever claimed, keyed by the band tuple in the engine's own
    bucketed merge table, so membership probes prune to the batch's
    hash buckets and registration is an idempotent MERGE.

    Contract: with shards processed in ascending ``id_col`` order,
    ``check_and_register`` marks a document near-dup **iff it shares at
    least one LSH band with some lower-id document** (earlier shards via
    the store, the same shard via an in-batch window) — the exact global
    predicate a one-shot banded self-join computes, so the oracle is
    SQL-expressible. LSH semantics carry over unchanged: a band match is
    a CANDIDATE signal (tune bands/rows for the target Jaccard curve);
    pair it with an exact-verify stage when false positives matter.

    At 100 TB the store holds ``bands-per-doc`` ~50-byte rows per
    distinct document — still corpus-scale-free — and each shard touches
    only the buckets its band keys hash into.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        num_buckets: int = 64,
        num_hashes: int = 8,
        band_size: int = 2,
    ) -> None:
        self.spark = spark
        self.num_hashes = num_hashes
        self.band_size = band_size
        self.table = ParquetMergeTable(
            spark, path, keys=[BAND_ID_COL, BAND_KEY_COL], num_buckets=num_buckets
        )
        self._epoch = _PersistedEpoch(spark, path)

    def _bands(self, docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
        from etl_stream_spark.operators.dedup import (
            lsh_band_keys,
            minhash_signatures,
        )

        sig = minhash_signatures(
            docs, id_col=id_col, text_col=text_col, num_hashes=self.num_hashes
        )
        return lsh_band_keys(
            sig, id_col=id_col, num_hashes=self.num_hashes, band_size=self.band_size
        )

    def check_and_register(
        self,
        docs: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
    ) -> DataFrame:
        """One shard through the ingest protocol: verdicts computed
        against the PRE-registration store plus same-shard lower ids,
        then ALL of the shard's bands are registered (a near-dup's bands
        claim buckets too — a later doc matching only the near-dup must
        still flag). Returns ``(id_col, is_near_dup)``, lineage-cut so
        the verdict can never observe its own registration."""
        bands = self._bands(docs, id_col, text_col).persist()
        try:
            w = Window.partitionBy(BAND_ID_COL, BAND_KEY_COL)
            in_batch_hit = (
                bands.withColumn("_min_id", F.min(F.col(id_col)).over(w))
                .filter(F.col("_min_id") < F.col(id_col))
                .select(id_col)
            )
            store_hit = None
            if self.table.exists():
                state = self.table._read_state(buckets=self.table.buckets_of(bands))
                if state is not None:
                    store_hit = bands.join(
                        state.select(BAND_ID_COL, BAND_KEY_COL),
                        [BAND_ID_COL, BAND_KEY_COL],
                        "left_semi",
                    ).select(id_col)
            near = (
                in_batch_hit
                if store_hit is None
                else in_batch_hit.unionByName(store_hit)
            ).distinct().withColumn("is_near_dup", F.lit(True))
            verdict = (
                docs.select(id_col)
                .join(near, id_col, "left")
                .select(
                    id_col,
                    F.coalesce(F.col("is_near_dup"), F.lit(False)).alias(
                        "is_near_dup"
                    ),
                )
                .localCheckpoint(eager=True)
            )
            self._register(bands, id_col)
            return verdict
        finally:
            bands.unpersist()

    def _register(self, bands: DataFrame, id_col: str) -> None:
        rows = (
            bands.groupBy(BAND_ID_COL, BAND_KEY_COL)
            .agg(F.min(F.col(id_col)).alias("first_doc"))
            .select(
                BAND_ID_COL,
                BAND_KEY_COL,
                "first_doc",
                F.lit("INSERT").alias(OPERATION_COL),
                F.lit(self._epoch.next_sequence()).alias(SEQUENCE_COL),
            )
        )
        self.table.merge(rows)

    def purge(self, docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> None:
        """Right-to-be-forgotten propagation: remove the erased
        documents' band claims (derived data). Shared-band caveat as
        :meth:`FingerprintStore.purge`: a surviving near-identical
        document re-registers the bucket on its next ingest."""
        self.table.purge_keys(
            self._bands(docs, id_col, text_col).select(
                BAND_ID_COL, BAND_KEY_COL
            ).distinct()
        )
