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
* no driver-side iteration over data — the only ``collect`` is the
  distinct *bucket id* list (bounded by ``num_buckets``).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.errors.exceptions.captured import AnalysisException

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


def bucket_expr_for(cols: Sequence[str], num_buckets: int):
    """THE bucket function of every merge-table layout:
    ``pmod(xxhash64(cols), n)``. Shared so bucket-pruned readers
    (join-view refreshes, SCD2 probes) can never drift from the writer
    — drift would silently prune the wrong buckets."""
    return F.pmod(F.xxhash64(*[F.col(c) for c in cols]), F.lit(num_buckets)).cast(
        "int"
    )


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
        #: cached union of data columns ever stored (the
        #: ``_meta_cols.json`` sidecar); None until loaded. Driver-side
        #: only — never row data.
        self._stored_cols: list[str] | None = None
        #: the shared L0 append-log machinery (list/sweep/drain gate);
        #: mergeSchema because delta batches may widen the schema
        self._l0 = L0AppendLog(
            spark, self._delta_path, compact_threshold, merge_schema=True
        )

    # -- storage helpers ---------------------------------------------------

    def _bucket_expr(self):
        return bucket_expr_for(self.keys, self.num_buckets)

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

    # -- merge-on-read sidecar + resolution ---------------------------------

    @property
    def _cols_path(self) -> str:
        # underscore prefix without "=" → invisible to Spark's parquet
        # listing (hiddenFileFilter), so the root read never sees it
        return f"{self.path}/_meta_cols.json"

    def _load_stored_cols(self) -> list[str] | None:
        if self._stored_cols is not None:
            return self._stored_cols
        import json

        text = read_small_text(self.spark, self._cols_path)
        if text is None:
            return None
        self._stored_cols = sorted(json.loads(text))
        return self._stored_cols

    def _save_stored_cols(self, cols) -> None:
        import json

        cols = sorted(set(cols))
        write_small_text(self.spark, self._cols_path, json.dumps(cols))
        self._stored_cols = cols

    def _resolve(self, raw: DataFrame) -> DataFrame:
        """Collapse generations to the current row per key — the one
        resolution of the fold and of the merge-on-read read path: max
        by (sequence, stored-shape md5 tie-break), partial-aggregatable
        so the shuffle carries ~|keys| rows, not the delta log."""
        from etl_stream_spark.cdc.dedup import last_writer_wins_agg

        data = sorted(c for c in raw.columns if c not in _META_COLS)
        deleted = (
            F.col(DELETED_COL)
            if DELETED_COL in raw.columns
            else F.lit(False)
        )
        tie = stored_shape_tie_break(
            [F.col(c) for c in data], F.col(SEQ_STATE_COL), deleted
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
        df = self._l0.read()
        if df is None:
            return None
        if buckets is not None:
            df = df.filter(F.col(BUCKET_COL).isin(list(buckets)))
        return df

    def _read_state(self, buckets: list[int] | None = None) -> DataFrame | None:
        raw = self._read_files(buckets)
        if not self.merge_on_read:
            return raw
        l0 = self._read_l0(buckets)
        if l0 is None:
            # multi-generation rows exist ONLY in L0: bucket directories
            # are written resolved (one generation per key) and a key
            # hashes to exactly one bucket — so a drained table reads
            # with NO resolution shuffle, same cost as the eager engine
            return raw
        raw = l0 if raw is None else raw.unionByName(l0, allowMissingColumns=True)
        resolved = self._resolve(raw)
        if not self.tombstone_deletes and DELETED_COL in resolved.columns:
            # Eager-contract equivalence for every _read_state consumer
            # (rollups, join views, checksums): a non-tombstone table's
            # state never contains delete-marker rows, so un-drained L0
            # markers must not surface as live rows. The marker still
            # WINS resolution before being filtered, so a stale replay
            # stays suppressed until compaction physically drops it.
            resolved = resolved.filter(
                ~F.coalesce(F.col(DELETED_COL), F.lit(False))
            ).drop(DELETED_COL)
        return resolved

    def _read_files(self, buckets: list[int] | None = None) -> DataFrame | None:
        """Read target incl. bookkeeping cols, pruned to ``buckets``.

        Pruning happens at the PATH level, not as a post-scan filter: a
        root read with mergeSchema lists and footer-reads EVERY file in
        the table before Catalyst can prune, so per-merge planning cost
        would grow with total state instead of with the touched buckets
        (measured 2x per 16x state before this). Reading only the
        touched ``_bucket=`` directories (``basePath`` keeps the
        partition column) bounds listing + schema-merge work by the
        batch's footprint. A column that exists only in unread buckets
        is simply absent from this merge's output files — the
        column-absent-keeps-target convention readers already handle."""
        if buckets is None:
            if not self.exists():
                return None
            try:
                return self.spark.read.option("mergeSchema", "true").parquet(
                    self.path
                )
            except AnalysisException:
                # Directory exists but holds no data files (e.g. an
                # all-DELETE first batch wrote an empty result) → same as
                # no target.
                return None
        hit = sorted(self._existing_buckets().intersection(buckets))
        if not hit:
            # No state for any touched bucket: semantically an empty
            # target — the fold resolves the delta on its own.
            return None
        paths = [f"{self.path}/{BUCKET_COL}={b}" for b in hit]
        try:
            return (
                self.spark.read.option("mergeSchema", "true")
                .option("basePath", self.path)
                .parquet(*paths)
            )
        except AnalysisException:
            return None

    def read(self) -> DataFrame:
        """Current merged state (user-facing columns only). Tombstone
        rows are filtered whatever this instance's flag says — files
        written by a tombstoning writer stay correct under any reader
        (pre-tombstone files surface ``_deleted`` as NULL → kept)."""
        state = self._read_state()
        if state is None:
            return self.spark.createDataFrame([], "struct<>")
        if DELETED_COL in state.columns:
            state = state.filter(
                ~F.coalesce(F.col(DELETED_COL), F.lit(False))
            ).drop(DELETED_COL)
        return state.drop(BUCKET_COL, SEQ_STATE_COL)

    def truncate(self) -> None:
        """TRUNCATE semantics (G8): drop all data, keep identity."""
        fs, p = _hadoop_fs(self.spark, self.path)
        if fs.exists(p):
            fs.delete(p, True)
        self._stored_cols = None
        self._l0.reset_counter()  # the log died with the table dir

    # -- the merge ---------------------------------------------------------

    def merge(self, batch: DataFrame) -> None:
        """Apply one CDC micro-batch (rows with OPERATION + SEQUENCE
        metadata columns; DELETE rows may carry PKs only).

        Both engines run the same steps: project the raw batch to the
        stored shape (data cols + ``_seq`` + ``_deleted`` marker +
        bucket), fill the stored columns the batch schema lacks from
        the current state, then either append the frame to L0
        (``merge_on_read``) or :meth:`_fold` it into the touched
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
        batch_data = [c for c in batch.columns if c not in _META_COLS]
        known = self._load_stored_cols()
        if known is None:
            # a table without a sidecar (new, or written before one
            # existed): seed it from the FULL stored schema — one
            # mergeSchema root read, since untouched buckets may hold
            # wider columns no bucket-pruned read would see
            full = self._read_files()
            stored = [] if full is None else [
                c for c in full.columns if c not in _META_COLS
            ]
        else:
            stored = known
        if known is None or not set(batch_data) <= set(stored):
            # the widened sidecar is saved BEFORE the data it describes:
            # a crash between the two leaves an extra sidecar column,
            # which the fill below finds nothing for — never stored data
            # that a later narrow batch would not know to keep
            self._save_stored_cols([*stored, *batch_data])
        frame = batch.select(
            *[F.col(c) for c in batch_data],
            F.col(SEQUENCE_COL).alias(SEQ_STATE_COL),
            (F.col(OPERATION_COL) == OP_DELETE).alias(DELETED_COL),
            self._bucket_expr().alias(BUCKET_COL),
        )
        absent = [c for c in stored if c not in batch_data]
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

    def _fill_absent(self, frame: DataFrame, absent: list[str]) -> DataFrame:
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
        state. A stored column that no touched bucket holds has no
        value to keep and stays absent from the frame."""
        touched = [r[0] for r in frame.select(BUCKET_COL).distinct().collect()]
        state = self._read_state(touched) if touched else None
        fill = [] if state is None else [c for c in absent if c in state.columns]
        if not fill:
            return frame
        cond = [F.col(f"t.{k}").eqNullSafe(F.col(f"b.{k}")) for k in self.keys]
        joined = frame.alias("b").join(
            state.select(*self.keys, *fill).alias("t"), cond, "left"
        )
        return joined.select(
            *[F.col(f"b.{c}") for c in frame.columns],
            *[
                F.when(F.col(f"b.{DELETED_COL}"), F.lit(None))
                .otherwise(F.col(f"t.{c}"))
                .alias(c)
                for c in fill
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
            raw = (
                delta
                if base is None
                else base.unionByName(delta, allowMissingColumns=True)
            )
            resolved = self._resolve(raw)
            if not self.tombstone_deletes and DELETED_COL in resolved.columns:
                # drop the marker column too, not just the marker rows:
                # bucket dirs must stay column-identical whichever
                # writer folded them, or _read_state consumers would see
                # _deleted=false appear and vanish
                resolved = resolved.filter(
                    ~F.coalesce(F.col(DELETED_COL), F.lit(False))
                ).drop(DELETED_COL)
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
        self._fold(self.spark.read.option("mergeSchema", "true").parquet(*l0_files))
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
