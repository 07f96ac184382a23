"""CDC MERGE engine (G4) on plain parquet storage.

Reproduces the reference's scheduled dedup+MERGE
(``etl-snowflake-py/etl_snowflake/task.py:154-190``):

    MERGE INTO target USING dedup(landing) ON pk-equality
      WHEN MATCHED AND op = 'DELETE'            THEN DELETE
      WHEN MATCHED AND op IN ('INSERT','UPDATE') THEN UPDATE
      WHEN NOT MATCHED AND op IN ('INSERT','UPDATE') THEN INSERT

plus one strengthening the reference gets for free from WAL ordering and
FIXTURES.md F2 scenario 5 demands explicitly: the target keeps the last
applied ``sequence`` per key, and a matched source row only wins when its
sequence is *newer* — stale (out-of-order, cross-batch replayed) events
lose, including stale deletes.

Storage & scale design:

* the target is hash-bucketed on the PK into ``_bucket=NN`` parquet
  partitions (``pmod(xxhash64(pk), num_buckets)``);
* a merge touches only the buckets present in the incoming batch:
  partition pruning limits the read, dynamic partition overwrite limits
  the rewrite — rewrite amplification is ``touched_buckets/num_buckets``
  of the table, not the whole table (the Delta partition-pruned MERGE
  strategy). At 100 TB with e.g. 65 536 buckets, a 1000-row trickle batch
  rewrites ≲1/65 536 of the table per trigger;
* one merge algorithm: the batch, projected to the stored shape, is
  unioned with the touched buckets and collapsed to one generation per
  key by a partial-aggregatable last-writer-wins ``max`` — one shuffle
  on the key, carrying ~|keys| rows. The eager mode applies it to every
  batch; merge-on-read appends batches to an L0 log and applies it to
  the log once per ``compact_threshold`` batches;
* one schema: the typed ``_meta_cols.json`` sidecar. Every read of the
  bucket layout and of L0 passes it, so no read infers a schema;
* no driver-side iteration over data — the only ``collect`` is the
  distinct *bucket id* list (bounded by ``num_buckets``).
"""

from __future__ import annotations

import json
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_stream_spark.cdc.envelope import (
    OP_DELETE,
    OPERATION_COL,
    SEQUENCE_COL,
    TIMESTAMP_COL,
)
from etl_stream_spark.l0_log import (
    L0AppendLog,
    _hadoop_fs,
    _hadoop_path,
    read_small_text,
    write_small_text,
)
from etl_stream_spark.schema.evolution import evolve_struct

BUCKET_COL = "_bucket"
SEQ_STATE_COL = "_seq"
DELETED_COL = "_deleted"

_META_COLS = (
    OPERATION_COL,
    SEQUENCE_COL,
    TIMESTAMP_COL,
    BUCKET_COL,
    SEQ_STATE_COL,
    DELETED_COL,
)


#: the bookkeeping columns every stored row carries after its data columns
_BOOKKEEPING = [
    T.StructField(SEQ_STATE_COL, T.StringType()),
    T.StructField(DELETED_COL, T.BooleanType()),
    T.StructField(BUCKET_COL, T.IntegerType()),
]


def _live(df: DataFrame) -> DataFrame:
    """``df`` without delete-marker rows and without the marker column."""
    return df.filter(~F.coalesce(F.col(DELETED_COL), F.lit(False))).drop(DELETED_COL)


def bucket_expr_for(cols: Sequence[str | Column], num_buckets: int):
    """THE bucket function of every merge-table layout:
    ``pmod(xxhash64(cols), n)``. A table applies it to its keys as it
    stores them (:meth:`ParquetMergeTable._bucket_expr`), for its writer
    and its bucket-pruned readers alike — drift would silently prune
    the wrong buckets."""
    return F.pmod(F.xxhash64(*cols), F.lit(num_buckets)).cast("int")


def stored_shape_tie_break(
    values: Sequence[F.Column],
    seq_expr: F.Column,
    deleted_expr: F.Column,
) -> F.Column:
    """THE same-sequence tie-break of the merge engine: md5 over the
    data-column values (in sorted column-name order — callers pass them
    that way), the sequence, and the delete flag, of a row AS STORED.
    Every resolution (the eager fold, the merge-on-read drain and the
    merge-on-read read path) hashes that one shape, so on a
    pathological same-(key, sequence)-different-body collision the
    survivor is the global max by (sequence, this hash) — independent
    of batch arrival order, batch cuts, or which mode resolved it.
    md5 (not xxhash64) per the repo's engine-portable hashing rule, so
    a DuckDB oracle can mirror the pick."""
    parts = [F.coalesce(v.cast("string"), F.lit("\x00")) for v in values]
    parts.append(F.coalesce(seq_expr.cast("string"), F.lit("\x00")))
    parts.append(F.coalesce(deleted_expr.cast("boolean"), F.lit(False)).cast("string"))
    return F.md5(F.concat_ws("\x1f", *parts))


class ParquetMergeTable:
    """A PK-keyed, hash-bucketed parquet table supporting CDC MERGE.

    The "silver" target of the bronze(landing)→silver flow (SURVEY §1.1).
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        keys: Sequence[str],
        num_buckets: int = 32,
        tombstone_deletes: bool = False,
        merge_on_read: bool = False,
        compact_threshold: int = 8,
    ) -> None:
        """``tombstone_deletes``: keep a ``_deleted`` marker row (with
        the delete's sequence) instead of physically removing the key.

        The default (off) matches the reference and Delta MERGE: a
        winning DELETE removes the row AND its sequence state, which is
        correct while batches arrive in WAL order. Any pipeline that
        can REPLAY OLD EVENTS AFTER NEWER ONES — quarantine repair,
        DLQ resubmission, landing re-reads after a crash — needs
        tombstones: without the marker, a stale event for a deleted key
        finds no match and re-inserts. Tombstones are purged by
        :meth:`compact_tombstones` once the out-of-order window (the
        landing/DLQ retention) has passed — the Kafka-compaction
        ``delete.retention`` design.

        ``merge_on_read``: write-optimized LSM mode for high-frequency
        micro-batches (the Hudi merge-on-read / reference landing-table
        shape — the reference merges once per SCHEDULE, not per batch:
        ``etl-snowflake-py/etl_snowflake/task.py:154-190``). Each merge
        APPENDS the batch, projected to the stored shape, to an L0
        delta log — no partition-overwrite commit — and reads resolve
        generations with the same resolution the eager fold runs, so
        the visible state is identical, including under same-(key,
        sequence) collisions (see :func:`stored_shape_tie_break`).
        Once L0 holds ``compact_threshold`` delta files, the merge that
        finds them drains L0 into the bucket layout. Semantics notes vs
        the eager default: delete markers persist until the drain even
        with ``tombstone_deletes=False`` (a strictly smaller replay
        window), and a batch whose schema DROPS columns reads the
        touched buckets' state to fill them, as an eager merge does.
        L0 is read with the typed schema, as the bucket layout is.
        Reads pay one extra shuffle while L0 is non-empty — choose eager
        for read-heavy tables, merge-on-read for trickle ingest."""
        if not keys:
            raise ValueError("ParquetMergeTable requires at least one key column")
        self.spark = spark
        self.path = path.rstrip("/")
        self.keys = list(keys)
        self.num_buckets = num_buckets
        self.tombstone_deletes = tombstone_deletes
        self.merge_on_read = merge_on_read
        self.compact_threshold = compact_threshold
        #: cached :meth:`stored_schema`; None until loaded. Driver-side
        #: only — never row data.
        self._schema: T.StructType | None = None
        #: the cached schema was seeded from the files, not read from a
        #: typed sidecar: the next merge saves it
        self._seeded = False
        #: the shared L0 append-log machinery (list/sweep/drain gate)
        self._l0 = L0AppendLog(spark, self._delta_path, compact_threshold)

    # -- storage helpers ---------------------------------------------------

    def _bucket_expr(self, cols: Sequence[str] | None = None):
        """The bucket of the key columns (``cols`` names them, in key
        order, in a frame that spells them otherwise), hashed as the
        table stores the keys: xxhash64 hashes an int and a bigint
        differently, so a key sent as another type would otherwise land
        in a second bucket."""
        types = {f.name.lower(): f.dataType for f in self.stored_schema()}
        return bucket_expr_for(
            [
                F.col(c).cast(types[k.lower()]) if k.lower() in types else F.col(c)
                for c, k in zip(cols or self.keys, self.keys)
            ],
            self.num_buckets,
        )

    def buckets_of(self, df: DataFrame, cols: Sequence[str] | None = None) -> list[int]:
        """The distinct buckets of ``df``'s keys (``cols`` as in
        :meth:`_bucket_expr`): the one bounded driver collect, at most
        ``num_buckets`` ints, of every bucket-pruned reader — a drifted
        copy of the bucket function would silently prune the wrong
        buckets."""
        return [r[0] for r in df.select(self._bucket_expr(cols)).distinct().collect()]

    def exists(self) -> bool:
        fs, p = _hadoop_fs(self.spark, self.path)
        return fs.exists(p)

    def _existing_buckets(self) -> set[int]:
        """Bucket ids with a materialized directory — ONE listing RPC of
        the table root, never a recursive file listing."""
        fs, p = _hadoop_fs(self.spark, self.path)
        if not fs.exists(p):
            return set()
        out: set[int] = set()
        prefix = f"{BUCKET_COL}="
        for st in fs.listStatus(p):
            name = st.getPath().getName()
            if name.startswith(prefix):
                try:
                    out.add(int(name[len(prefix):]))
                except ValueError:
                    continue
        return out

    # -- the schema sidecar + resolution ------------------------------------

    @property
    def _cols_path(self) -> str:
        # underscore prefix without "=" → invisible to Spark's parquet
        # listing (hiddenFileFilter), so the root read never sees it
        return f"{self.path}/_meta_cols.json"

    def stored_schema(self) -> T.StructType:
        """The typed data columns (keys and payload) the table stores:
        its one schema, kept in the ``_meta_cols.json`` sidecar. A table
        without a typed sidecar (new, or written when it held names
        only) is seeded once by a ``mergeSchema`` read of its bucket
        layout and L0 log; its next merge saves the seed."""
        if self._schema is not None:
            return self._schema
        saved = json.loads(read_small_text(self.spark, self._cols_path) or "null")
        if isinstance(saved, dict):
            self._schema = T.StructType.fromJson(saved)
            return self._schema
        schema = T.StructType()
        for paths in ([self.path] if self._existing_buckets() else [], self._l0.files()):
            if paths:
                found = self.spark.read.option("mergeSchema", "true").parquet(*paths)
                data = [f for f in found.schema if f.name not in _META_COLS]
                schema = evolve_struct(schema, T.StructType(data))
        self._schema, self._seeded = schema, True
        return schema

    def _save_stored_cols(self, schema: T.StructType) -> None:
        write_small_text(self.spark, self._cols_path, schema.json())
        self._schema, self._seeded = schema, False

    def _reader(self):
        """A parquet reader of the stored shape (a file written before
        a column existed reads NULL for it)."""
        shape = T.StructType(self.stored_schema().fields + _BOOKKEEPING)
        return self.spark.read.schema(shape)

    def _resolve(self, raw: DataFrame) -> DataFrame:
        """Collapse generations to the current row per key — the one
        resolution of the fold and of the merge-on-read read path: max
        by (sequence, stored-shape md5 tie-break), partial-aggregatable
        so the shuffle carries ~|keys| rows, not the delta log."""
        from etl_stream_spark.cdc.dedup import last_writer_wins_agg

        data = sorted(c for c in raw.columns if c not in _META_COLS)
        tie = stored_shape_tie_break(
            [F.col(c) for c in data], F.col(SEQ_STATE_COL), F.col(DELETED_COL)
        )
        return last_writer_wins_agg(raw, self.keys, SEQ_STATE_COL, tie_break=tie)

    @property
    def _delta_path(self) -> str:
        # the L0 delta log: underscore-prefixed → hidden from the root
        # parquet read, so only the explicit MOR read path sees it
        return f"{self.path}/_delta"

    def _read_l0(self, buckets: list[int] | None = None) -> DataFrame | None:
        """Un-drained delta rows, bucket-filtered. L0 is read in full
        (it is one flat directory), but its size is bounded by the
        compaction cadence — at most ``compact_threshold`` batches of
        rows — so bucket-pruned readers pay a small bounded scan, not a
        table scan."""
        files = self._l0.files()
        if not files:
            return None
        df = self._reader().parquet(*files)
        if buckets is not None:
            df = df.filter(F.col(BUCKET_COL).isin(list(buckets)))
        return df

    def _read_state(self, buckets: list[int] | None = None) -> DataFrame | None:
        """Current state of ``buckets`` (None: no file holds them): every
        stored column, ``_seq``, ``_bucket``, and ``_deleted`` on
        tombstone tables only."""
        state = self._read_files(buckets)
        l0 = self._read_l0(buckets) if self.merge_on_read else None
        if l0 is not None:
            # multi-generation rows exist ONLY in L0: bucket directories
            # are written resolved (one generation per key) and a key
            # hashes to exactly one bucket — so a drained table reads
            # with NO resolution shuffle, same cost as the eager engine
            state = self._resolve(l0 if state is None else state.unionByName(l0))
        if state is None or self.tombstone_deletes:
            return state
        # Eager-contract equivalence for every _read_state consumer
        # (rollups, join views, checksums): a non-tombstone table's
        # state never contains delete-marker rows, so un-drained L0
        # markers must not surface as live rows. The marker still WINS
        # resolution before being filtered, so a stale replay stays
        # suppressed until compaction physically drops it.
        return _live(state)

    def _read_files(self, buckets: list[int] | None = None) -> DataFrame | None:
        """Read the bucket layout incl. bookkeeping cols, pruned to
        ``buckets`` (None when no such bucket directory exists).

        Pruning happens at the PATH level, not as a post-scan filter:
        reading only the touched ``_bucket=`` directories (``basePath``
        keeps the partition column) bounds the listing by the batch's
        footprint instead of the table's. The read passes the stored
        schema, so it opens no footer to plan and returns every stored
        column whichever buckets it opened."""
        hit = self._existing_buckets()
        if buckets is None:
            paths = [self.path] if hit else []
        else:
            hit = sorted(hit.intersection(buckets))
            paths = [f"{self.path}/{BUCKET_COL}={b}" for b in hit]
        if not paths:
            # No state for any touched bucket: semantically an empty
            # target — the fold resolves the delta on its own.
            return None
        return self._reader().option("basePath", self.path).parquet(*paths)

    def read(self) -> DataFrame:
        """Current merged state (user-facing columns only). Tombstone
        rows are filtered whatever this instance's flag says — files
        written by a tombstoning writer stay correct under any reader
        (pre-tombstone files surface ``_deleted`` as NULL → kept)."""
        state = self._read_state()
        if state is None:
            return self.spark.createDataFrame([], "struct<>")
        if DELETED_COL in state.columns:
            state = _live(state)
        return state.drop(BUCKET_COL, SEQ_STATE_COL)

    def truncate(self) -> None:
        """TRUNCATE semantics (G8): drop all data, keep identity."""
        fs, p = _hadoop_fs(self.spark, self.path)
        if fs.exists(p):
            fs.delete(p, True)
        self._schema, self._seeded = None, False
        self._l0.reset_counter()  # the log died with the table dir

    # -- the merge ---------------------------------------------------------

    def merge(self, batch: DataFrame) -> None:
        """Apply one CDC micro-batch (rows with OPERATION + SEQUENCE
        metadata columns; DELETE rows may carry PKs only).

        Both engines run the same steps: widen the stored schema by the
        batch's (``evolve_struct``, which raises on a type change the
        stored files cannot take; a key column keeps its type, since its
        rows are bucketed by its hash), project the raw batch to the stored
        shape (data cols + ``_seq`` + ``_deleted`` marker + bucket),
        fill the stored columns the batch schema lacks from the current
        state, then either append the frame to L0 (``merge_on_read``) or :meth:`_fold` it into the touched
        buckets right away. No within-batch dedup: resolution collapses
        generations by sequence with the SHARED stored-shape md5
        tie-break (:func:`stored_shape_tie_break`), so the survivor of
        any same-(key, sequence) collision is the global max by
        (sequence, tie) whichever engine, batch cut or drain cadence
        resolved it. The one asymmetry left is inherent to
        non-tombstone deletes: a physically-removed row leaves no tie
        state, so an equal-sequence replay arriving after a fold
        re-inserts, while an un-drained L0 marker may still out-hash it
        — the documented non-tombstone replay window."""
        incoming = T.StructType([f for f in batch.schema if f.name not in _META_COLS])
        stored = self.stored_schema()
        schema = evolve_struct(stored, incoming)  # raises before any write
        keys = {k.lower() for k in self.keys}
        for was, now in zip(stored.fields, schema.fields):
            if was.name.lower() in keys and was.dataType != now.dataType:
                # the stored rows are bucketed by the hash of the old type
                raise ValueError(
                    f"key column {was.name!r} is stored as "
                    f"{was.dataType.simpleString()}, not {now.dataType.simpleString()}"
                )
        if self._seeded or schema != stored:
            # the widened sidecar is saved BEFORE the data it describes:
            # a crash between the two leaves an extra sidecar column,
            # which reads NULL — never stored data that a later narrow
            # batch would not know to keep
            self._save_stored_cols(schema)
        given = {f.name.lower(): f.name for f in incoming.fields}
        # the batch's columns under their stored names and types
        frame = batch.select(
            *[
                F.col(given[f.name.lower()]).cast(f.dataType).alias(f.name)
                for f in schema.fields
                if f.name.lower() in given
            ],
            F.col(SEQUENCE_COL).alias(SEQ_STATE_COL),
            (F.col(OPERATION_COL) == OP_DELETE).alias(DELETED_COL),
        ).withColumn(BUCKET_COL, self._bucket_expr())
        absent = [f for f in schema.fields if f.name.lower() not in given]
        if absent:
            frame = self._fill_absent(frame, absent)
        if not self.merge_on_read:
            self._fold(frame)
            return
        # L0 append: unpartitioned, shuffle-free, one directory — the
        # committer stages a handful of files instead of one per bucket
        # (measured ~4× cheaper than a partitionBy append). The bucket
        # id rides along as a NORMAL column; the drain redistributes it
        # into the bucket layout.
        self._l0.append(frame)
        # counter-gated drain: restart-resumed counter, one listing per
        # threshold
        self._l0.maybe_sweep(self.compact)

    def _fill_absent(self, frame: DataFrame, absent: list[T.StructField]) -> DataFrame:
        """Column-absent-keeps-target: a stored column absent from the
        batch SCHEMA takes the key's current value — the producer said
        nothing about that column (an older producer, or a table whose
        schema grew after the event was written), so overwriting it
        with NULL would erase data no event deleted. (A NULL *value* in
        a present column is a statement and still overwrites.)

        A delete takes a typed NULL instead: a tombstone marks the row
        deleted, and retention demands the pre-image not linger on it
        until compaction — Kafka-tombstone semantics. Resolution hashes
        the filled row, so the tie-break compares rows AS STORED.

        One bucket-pruned left join against the touched buckets'
        state; with no state there, every absent column is NULL."""
        touched = [r[0] for r in frame.select(BUCKET_COL).distinct().collect()]
        state = self._read_state(touched) if touched else None
        if state is None:
            return frame.select(
                "*", *[F.lit(None).cast(f.dataType).alias(f.name) for f in absent]
            )
        cond = [F.col(f"t.{k}").eqNullSafe(F.col(f"b.{k}")) for k in self.keys]
        joined = frame.alias("b").join(
            state.select(*self.keys, *[f.name for f in absent]).alias("t"),
            cond,
            "left",
        )
        return joined.select(
            *[F.col(f"b.{c}") for c in frame.columns],
            *[
                F.when(F.col(f"b.{DELETED_COL}"), F.lit(None))
                .otherwise(F.col(f"t.{f.name}"))
                .alias(f.name)
                for f in absent
            ],
        )

    def _fold(self, delta: DataFrame) -> None:
        """Resolve stored-shape ``delta`` rows into the bucket layout:
        read the buckets they touch, collapse base ∪ delta to one
        generation per key (:meth:`_resolve`) and rewrite those
        directories. With ``tombstone_deletes=False`` winning delete
        markers are dropped here, rows and column both — after this
        point a sub-delete-sequence replay can re-insert, the
        non-tombstone contract."""
        # persisted: the bucket probe and the write both consume the
        # delta, and without the cache each action re-runs its upstream
        # lineage (the decoded batch). Micro-batch- or L0-sized — the
        # standard foreachBatch cache, not a scale hazard.
        delta = delta.persist()
        try:
            # Distinct bucket ids — bounded by num_buckets, the only
            # driver-side collect of the fold.
            touched = [r[0] for r in delta.select(BUCKET_COL).distinct().collect()]
            if not touched:
                return
            base = self._read_files(touched)
            resolved = self._resolve(
                delta if base is None else base.unionByName(delta)
            )
            if not self.tombstone_deletes:
                # drop the marker column too, not just the marker rows:
                # bucket dirs must stay column-identical whichever
                # writer folded them
                resolved = _live(resolved)
            # an empty target has no stale bucket directory to delete
            self._write(resolved, touched=None if base is None else touched)
        finally:
            delta.unpersist()

    def compact(self) -> None:
        """Drain the L0 delta log into the bucket layout: :meth:`_fold`
        every L0 row, then delete the consumed L0 files.

        Crash window: after the bucket rewrite, before the L0 deletes —
        consumed rows exist twice; re-resolving picks the identical
        winner (same sequence, same body), so recovery is simply the
        next compaction. Rewrite amplification per drain is the touched
        buckets once per ``compact_threshold`` batches — 1/threshold of
        the eager engine's per-batch rewrite."""
        l0_files = self._l0.files()
        if not l0_files:
            return
        self._fold(self._reader().parquet(*l0_files))
        self._l0.delete_files(l0_files)

    def purge_keys(self, keys_df: DataFrame) -> int:
        """Compliance erasure (right-to-be-forgotten): physically remove
        every row for the given key tuples — delete tombstones and
        sequence state included — bypassing the stale-sequence guard.
        An erasure request is not a CDC event: nothing about WAL order
        protects it, and unlike :data:`OP_DELETE` it must leave no
        marker behind. Returns the number of rows removed (the
        proof-of-erasure figure the audit trail records).

        Bucket-pruned like a merge: the purge set hashes to its buckets
        (the only driver-side collect is the bounded bucket-id list) and
        only those directories are read and rewritten. Erasure alone
        does not keep the key out of FUTURE batches — pair with
        ``cdc.erasure.ErasureList`` suppression so a replayed old event
        (DLQ resubmission, landing re-read) cannot resurrect the key.
        """
        if self.merge_on_read:
            # drain L0 first: the purge rewrite below touches only the
            # bucket layout, and erased keys must not survive in (or be
            # resurrected from) un-drained delta files
            self.compact()
        purge = (
            keys_df.select(*self.keys)
            .distinct()
            .withColumn(BUCKET_COL, self._bucket_expr())
            .persist()
        )
        try:
            touched = [r[0] for r in purge.select(BUCKET_COL).distinct().collect()]
            if not touched:
                return 0
            state = self._read_state(buckets=touched)
            if state is None:
                return 0
            cond = [
                F.col(f"t.{k}").eqNullSafe(F.col(f"p.{k}")) for k in self.keys
            ]
            doomed = state.alias("t").join(
                purge.alias("p"), cond, "left_semi"
            ).count()
            if doomed == 0:
                return 0
            kept = state.alias("t").join(purge.alias("p"), cond, "left_anti")
            self._write(kept, touched=touched)
            return doomed
        finally:
            purge.unpersist()

    def compact_tombstones(self, upto_seq: str) -> None:
        """Purge tombstone rows whose sequence is ``<= upto_seq``.

        ``upto_seq`` must be a replay watermark: no event at or below it
        can ever be (re)submitted again — e.g. the landing purge
        watermark once the quarantine/DLQ for that range is empty.
        Purging earlier re-opens the out-of-order insert hole the
        tombstone closed. Bucket-pruned like a merge: only buckets that
        hold doomed tombstones are rewritten."""
        if self.merge_on_read:
            # drain L0 so the watermark purge below covers every marker
            self.compact()
        state = self._read_state()
        if state is None or DELETED_COL not in state.columns:
            return
        doomed = F.coalesce(F.col(DELETED_COL), F.lit(False)) & (
            F.col(SEQ_STATE_COL) <= upto_seq
        )
        touched = [
            r[0]
            for r in state.filter(doomed).select(BUCKET_COL).distinct().collect()
        ]
        if not touched:
            return
        kept = state.filter(F.col(BUCKET_COL).isin(touched)).filter(~doomed)
        self._write(kept, touched=touched)

    def _write(self, df: DataFrame, touched: list[int] | None = None) -> None:
        """Commit the merged buckets.

        DURABILITY CONTRACT (documented, not transactional): the commit
        is per-bucket-directory, not table-atomic. Dynamic partition
        overwrite stages each bucket's files and swaps them directory by
        directory, and fully-emptied buckets are removed in a separate
        step — so a crash mid-commit can leave a mix of old and new
        bucket directories (and, in the worst window, an emptied bucket
        still holding its old rows, which later merges would keep since
        they carry no newer source sequence). Recovery is re-running the
        same batch: sequences are monotone, so re-applying is
        idempotent for every bucket that did swap, and repairs the ones
        that did not.
        """
        df = df.persist()
        try:
            # Materialize the merged result (and the emptied-bucket set)
            # BEFORE overwriting source directories: every value needed
            # for the commit is in the block-manager cache first, so the
            # overwrite never races its own scan of self.path.
            with_rows = (
                {r[0] for r in df.select(BUCKET_COL).distinct().collect()}
                if touched
                else set()
            )
            (
                df.repartition(BUCKET_COL)
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy(BUCKET_COL)
                .parquet(self.path)
            )
            if touched:
                # Dynamic overwrite only replaces partitions that received
                # output; a touched bucket whose rows were all deleted must
                # be dropped explicitly or stale rows would survive. Part
                # of the commit: the merge is complete only after this.
                fs, _ = _hadoop_fs(self.spark, self.path)
                for bucket in set(touched) - with_rows:
                    p = _hadoop_path(self.spark, f"{self.path}/{BUCKET_COL}={bucket}")
                    if fs.exists(p):
                        fs.delete(p, True)
        finally:
            df.unpersist()


def stored_refresh_seq(table: ParquetMergeTable) -> int:
    """The highest ``_seq`` a derived table (a rollup's gold, a join
    view) stored: its refresh counter resumes there. A counter starting
    at 0 against an existing table would emit sequences below the stored
    ones, and the stale guard would discard every refresh until it
    caught up."""
    state = table._read_state()
    if state is None:
        return 0
    row = state.agg(F.max(SEQ_STATE_COL).alias("m")).first()
    return int(row["m"]) if row and row["m"] is not None else 0
