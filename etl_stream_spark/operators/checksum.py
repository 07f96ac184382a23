"""Order-independent table checksums for replication verification.

A CDC engine's operational question after every backfill or failover is
"does the target actually equal the source?" — full row-by-row diffs
re-shuffle both tables, but the standard production answer (Percona's
``pt-table-checksum``, Debezium's incremental-snapshot verification) is
an **order-independent per-bucket fingerprint**: hash each row's
replicated columns to an integer, then XOR-fold the hashes per key
bucket. Equal tables produce equal (bucket → count, xor) maps; a
mismatched bucket localizes the divergence to ~1/buckets of the key
space for a targeted re-sync, without ever joining the tables.

Scale shape: one pass, one aggregation. The row hash is a pure
projection; ``bit_xor`` and ``count`` both map-side combine, so the
only exchange carries ``buckets`` rows regardless of table size — the
same plan at 60 k rows and at 100 TB. XOR is commutative/associative
and width-preserving (no overflow at any row count, unlike a SUM
fingerprint), which is exactly why the production tools use it.

Determinism contract: the row hash is the repo's engine-portable
md5-prefix integer (13 hex digits = 52 bits, exact in a BIGINT on both
engines), over a canonical ``|``-joined rendering of the replicated
columns — callers pre-render non-string columns to BIGINT/STRING so the
text form is engine-independent (timestamps → epoch µs, money →
DECIMAL-rounded cents; see ``catalog.orders_replication_checksum``).

Reference anchor: the reference trusts the warehouse MERGE blindly
(``etl-snowflake-py/etl_snowflake/task.py:154-190`` has no post-merge
verification); this operator is the independent parity check a
production deployment layers on top.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: 13 hex digits = 52 bits: exact in a BIGINT on Spark and DuckDB.
_FP_HEX = 13


def row_fingerprint(cols: Sequence[Column | str]) -> Column:
    """52-bit integer fingerprint of a row's canonical rendering.

    ``cols`` must already be engine-portable renderings (BIGINT or
    STRING); they are joined with ``|`` and md5-hashed. ``concat_ws``
    SKIPS null elements (identically on Spark and DuckDB), so a NULL
    and a vanished column render alike — callers needing NULL/empty
    discrimination should ``coalesce`` to a sentinel first.
    """
    rendered = [F.col(c).cast("string") if isinstance(c, str) else c.cast("string") for c in cols]
    return F.conv(
        F.substring(F.md5(F.concat_ws("|", *rendered)), 1, _FP_HEX), 16, 10
    ).cast("long")


def bucket_checksums(
    df: DataFrame,
    key: Column | str,
    fingerprint: Column,
    buckets: int = 16,
) -> DataFrame:
    """Per-bucket (row count, XOR-folded fingerprint) summary.

    Buckets are md5-derived from ``key`` (engine-portable, uniform even
    for sequential keys). Output: ``bucket, n_rows, xor_fp`` — compare
    source vs target frames with a single ``buckets``-row join.
    """
    key_col = F.col(key) if isinstance(key, str) else key
    bucket = (
        F.conv(F.substring(F.md5(key_col.cast("string")), 1, 4), 16, 10)
        .cast("long")
        % buckets
    ).alias("bucket")
    return (
        df.select(bucket, fingerprint.alias("_fp"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.expr("bit_xor(_fp)").alias("xor_fp"),
        )
    )


class ChecksumStore:
    """Continuously maintained replication checksums for a merge table.

    The incremental form of :func:`bucket_checksums`, aligned to a
    :class:`~etl_stream_spark.cdc.merge.ParquetMergeTable`'s OWN hash
    buckets: after every ``table.merge(batch)``, calling
    ``update(batch)`` refreshes the (n_rows, xor_fp) summary for
    exactly the buckets the batch touched — a bucket-pruned read of
    the data the merge just rewrote anyway, so parity tracking adds no
    new cost class however large the table grows. Unaffected buckets'
    stored rows carry over untouched.

    This is the keyed-store variant of incremental verification
    (Debezium incremental snapshots, pt-table-checksum --resume): the
    target's checksum map stays current batch-by-batch, ready to
    compare against a source-side :func:`bucket_checksums` scan at any
    moment, and :meth:`verify` proves the stored map against a full
    recompute. Update cost is O(touched buckets); the store itself is
    ``num_buckets`` rows.

    Same lifecycle as ``KmvSketchStore``/``HistogramStore``: persisted
    parquet, restart-safe, split-invariant (a store maintained over ANY
    batch split equals the one-shot checksum of the final state).
    """

    def __init__(self, spark, path: str, table, fingerprint_cols: Sequence[str]) -> None:
        self.spark = spark
        self.path = path.rstrip("/")
        self.table = table
        self.fingerprint_cols = list(fingerprint_cols)

    def _read(self) -> DataFrame | None:
        from pyspark.errors.exceptions.captured import AnalysisException

        try:
            return self.spark.read.parquet(self.path)
        except AnalysisException:
            return None

    def _fresh(self, buckets: list[int] | None) -> DataFrame:
        """(bucket, n_rows, xor_fp) over the table's CURRENT state,
        pruned to ``buckets`` (None = all). Tombstone markers are
        excluded the same way ``table.read()`` excludes them."""
        from etl_stream_spark.cdc.merge import BUCKET_COL, DELETED_COL

        state = self.table._read_state(buckets)
        if state is None:
            return self.spark.createDataFrame(
                [], "bucket long, n_rows long, xor_fp long"
            )
        if DELETED_COL in state.columns:
            state = state.filter(~F.coalesce(F.col(DELETED_COL), F.lit(False)))
        return (
            state.select(
                F.col(BUCKET_COL).cast("long").alias("bucket"),
                row_fingerprint(self.fingerprint_cols).alias("_fp"),
            )
            .groupBy("bucket")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.expr("bit_xor(_fp)").alias("xor_fp"),
            )
        )

    def update(self, batch: DataFrame) -> None:
        """Refresh the buckets ``batch`` touched. Call after
        ``table.merge(batch)``. The collect is bounded: distinct bucket
        ids of the batch, ≤ ``table.num_buckets`` ints."""
        touched = self.table.buckets_of(batch)
        fresh = self._fresh(touched)
        stored = self._read()
        if stored is not None:
            fresh = stored.filter(~F.col("bucket").isin(touched)).unionByName(fresh)
        # localCheckpoint before overwriting the store's own input path
        # (same rationale as KmvSketchStore.update).
        fresh.localCheckpoint(eager=True).write.mode("overwrite").parquet(self.path)

    def read(self) -> DataFrame:
        stored = self._read()
        if stored is None:
            return self.spark.createDataFrame(
                [], "bucket long, n_rows long, xor_fp long"
            )
        return stored

    def verify(self) -> DataFrame:
        """Buckets where the stored map disagrees with a full recompute
        of the table's state — empty means the store is faithful."""
        full = self._fresh(None).withColumnRenamed("n_rows", "want_rows")
        full = full.withColumnRenamed("xor_fp", "want_fp")
        got = self.read()
        joined = full.join(got, "bucket", "full_outer")
        return joined.filter(
            ~(
                F.col("n_rows").eqNullSafe(F.col("want_rows"))
                & F.col("xor_fp").eqNullSafe(F.col("want_fp"))
            )
        )
