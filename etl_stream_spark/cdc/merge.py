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
* batch and target shuffle once, on the same key set (the join key), and
  the dedup window reuses that exchange;
* no driver-side iteration over data — the only ``collect`` is the
  distinct *bucket id* list (bounded by ``num_buckets``).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.errors.exceptions.captured import AnalysisException

from etl_stream_spark.cdc.dedup import last_writer_wins
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
    """THE same-sequence tie-break of the merge engine, shared by the
    eager and merge-on-read modes: md5 over the data-column values (in
    sorted column-name order — callers pass them that way), the
    sequence, and the delete flag. Both engines hashing the same
    LOGICAL shape is what makes ``merge_on_read`` a true drop-in: on a
    pathological same-(key, sequence)-different-body collision, the
    survivor is the global max by (sequence, this hash) — independent
    of batch arrival order, batch cuts, or which engine resolved it.
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
        APPENDS the batch's LWW winners as delta files to the touched
        buckets — no state read, no join, no partition-overwrite commit
        — and reads resolve generations with the map-side-combinable
        LWW aggregation (same sequence ordering + the same stored-shape
        md5 tie-break as the eager path, so the visible state is
        identical — including under same-(key, sequence) collisions;
        see :func:`stored_shape_tie_break`). A bucket whose
        delta-file count exceeds ``compact_threshold`` is compacted in
        place on the next merge that touches it. Semantics notes vs the
        eager default: delete markers persist until compaction even with
        ``tombstone_deletes=False`` (a strictly smaller replay window),
        and a batch whose schema DROPS columns falls back to the eager
        join for that batch (column-absent-keeps-target needs the
        target's values). Reads pay one extra shuffle — choose eager for
        read-heavy tables, merge-on-read for trickle ingest."""
        if not keys:
            raise ValueError("ParquetMergeTable requires at least one key column")
        self.spark = spark
        self.path = path.rstrip("/")
        self.keys = list(keys)
        self.num_buckets = num_buckets
        self.tombstone_deletes = tombstone_deletes
        self.merge_on_read = merge_on_read
        self.compact_threshold = compact_threshold
        #: cached union of data columns ever stored (MOR sidecar); None
        #: until loaded. Driver-side only — never row data.
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

        self._stored_cols = sorted(set(cols))
        write_small_text(self.spark, self._cols_path, json.dumps(self._stored_cols))

    def _resolve(self, raw: DataFrame) -> DataFrame:
        """Collapse delta generations to the current row per key — the
        merge-on-read read path. Same winner as the eager merge: max by
        (sequence, stored-shape md5 tie-break), partial-aggregatable so
        the shuffle carries ~|keys| rows, not the delta log."""
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
            # target — merge's first-batch branch writes the identical
            # result (deletes dropped / tombstoned, sequence renamed).
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
        metadata columns; DELETE rows may carry PKs only)."""
        if self.merge_on_read and self._fast_append(batch):
            return
        if self.merge_on_read:
            # eager fallback (narrow batch / sidecar-less table): drain
            # L0 first — the eager rewrite replaces whole bucket dirs,
            # and any un-drained delta row it consumed would otherwise
            # survive in L0 and resurrect dropped keys at read time
            self.compact()
        # within-batch winners picked by the SHARED stored-shape
        # tie-break (not a hash of the raw batch columns): the
        # merge-on-read path appends colliding rows unresolved and
        # picks at read time, so both engines must hash the same
        # logical shape or they could install different survivors
        data = sorted(c for c in batch.columns if c not in _META_COLS)
        tie = stored_shape_tie_break(
            [F.col(c) for c in data],
            F.col(SEQUENCE_COL),
            F.col(OPERATION_COL) == OP_DELETE,
        )
        deduped = last_writer_wins(
            batch, self.keys, SEQUENCE_COL, tie_break=tie
        ).drop(TIMESTAMP_COL)
        # Persist the per-batch winners: both the bucket probe and the
        # state write consume them, and without the cache each action
        # re-runs the LWW shuffle AND the batch's upstream lineage. The
        # frame is micro-batch-sized (≤ one row per key in the batch) —
        # the standard foreachBatch cache, not a scale hazard.
        deduped = deduped.withColumn(BUCKET_COL, self._bucket_expr()).persist()
        try:
            self._merge_deduped(deduped)
            if self.merge_on_read:
                # eager fallback in MOR mode consolidated the touched
                # buckets; record the (possibly widened) schema
                stored = self._load_stored_cols() or []
                batch_data = [c for c in deduped.columns if c not in _META_COLS]
                self._save_stored_cols(set(stored) | set(batch_data))
        finally:
            deduped.unpersist()

    def _fast_append(self, batch: DataFrame) -> bool:
        """Merge-on-read fast path: ONE Spark job — project the raw
        batch to the stored shape (data cols + ``_seq`` + ``_deleted``
        marker + bucket) and append it. No state read, no join, no
        within-batch dedup: read-time resolution collapses generations
        by the same sequence ordering, with the SHARED stored-shape
        md5 tie-break (:func:`stored_shape_tie_break`) both engines
        use. The survivor of any same-(key, sequence) collision is
        therefore the global max by (sequence, tie) in BOTH modes —
        ``merge_on_read`` is a drop-in under arbitrary inputs in
        tombstone mode (property-tested). The one remaining asymmetry
        is inherent to non-tombstone deletes: a physically-removed row
        leaves no tie state, so an equal-sequence replay arriving
        AFTER the eager engine dropped the row re-inserts, while an
        un-drained L0 marker may still out-hash it — the documented
        non-tombstone replay window, unchanged.

        Returns False — caller runs the eager join — when the batch
        schema is NARROWER than the stored one: column-absent-keeps-
        target needs the target's values, since resolution takes the
        whole winning row. The sidecar tracking the stored column union
        makes that check one cached driver-side set comparison."""
        batch_data = [
            c for c in batch.columns if c not in _META_COLS
        ]
        stored = self._load_stored_cols()
        if stored is None and self.exists():
            # pre-MOR table without a sidecar: eager-merge this batch
            # (consolidating the touched buckets), then seed the sidecar
            # from the FULL stored schema (one mergeSchema root read —
            # untouched buckets may hold wider columns) so no later
            # fast-path append can miss a keeps-target column
            full = self._read_files()
            table_cols = [] if full is None else [
                c for c in full.columns if c not in _META_COLS
            ]
            self._stored_cols = sorted(set(table_cols) | set(batch_data))
            return False  # merge() runs eager, then persists the sidecar
        if stored is not None and not set(stored) <= set(batch_data):
            return False
        delta = batch.drop(TIMESTAMP_COL).select(
            *[F.col(c) for c in batch_data],
            F.col(SEQUENCE_COL).alias(SEQ_STATE_COL),
            (F.col(OPERATION_COL) == OP_DELETE).alias(DELETED_COL),
            self._bucket_expr().alias(BUCKET_COL),
        )
        # L0 append: unpartitioned, shuffle-free, one directory — the
        # committer stages a handful of files instead of one per bucket
        # (measured ~4× cheaper than a partitionBy append). The bucket
        # id rides along as a NORMAL column; compaction redistributes
        # it into the bucket layout.
        self._l0.append(delta)
        if stored is None or set(batch_data) - set(stored):
            self._save_stored_cols(set(stored or []) | set(batch_data))
        # counter-gated compaction: restart-resumed counter, one
        # listing per threshold
        self._l0.maybe_sweep(self.compact)
        return True

    def compact(self) -> None:
        """Drain the L0 delta log into the bucket layout: resolve every
        bucket L0 touches to one generation per key and rewrite those
        directories, then delete the consumed L0 files. With
        ``tombstone_deletes=False`` resolved delete markers are dropped
        here — after this point a sub-delete-sequence replay can
        re-insert, exactly the eager non-tombstone contract.

        Crash window: after the bucket rewrite, before the L0 deletes —
        consumed rows exist twice; re-resolving picks the identical
        winner (same sequence, same body), so recovery is simply the
        next compaction. Rewrite amplification per drain is the touched
        buckets once per ``compact_threshold`` batches — 1/threshold of
        the eager engine's per-batch rewrite."""
        l0_files = self._l0.files()
        if not l0_files:
            return
        l0 = self.spark.read.option("mergeSchema", "true").parquet(*l0_files)
        touched = [r[0] for r in l0.select(BUCKET_COL).distinct().collect()]
        base = self._read_files(touched)
        raw = (
            l0
            if base is None
            else base.unionByName(l0, allowMissingColumns=True)
        )
        resolved = self._resolve(raw)
        if not self.tombstone_deletes and DELETED_COL in resolved.columns:
            # drop the marker column too, not just the marker rows:
            # compacted bucket dirs must stay column-identical to the
            # eager engine (and to the drained-L0 raw read path), or
            # _read_state consumers would see _deleted=false appear and
            # vanish depending on whether L0 happened to be drained
            resolved = resolved.filter(
                ~F.coalesce(F.col(DELETED_COL), F.lit(False))
            ).drop(DELETED_COL)
        self._write(resolved, touched=touched)
        self._l0.delete_files(l0_files)

    def _merge_deduped(self, deduped: DataFrame) -> None:
        # Distinct bucket ids in this batch — bounded by num_buckets, the
        # only driver-side collect in the merge.
        touched = [r[0] for r in deduped.select(BUCKET_COL).distinct().collect()]
        if not touched:
            return

        target = self._read_state(buckets=touched)
        if target is None:
            first = deduped
            if self.tombstone_deletes:
                # even a never-matched DELETE leaves a marker: an insert
                # for the key replayed later (out of order) must lose
                first = first.withColumn(
                    DELETED_COL, F.col(OPERATION_COL) == OP_DELETE
                )
            else:
                first = first.filter(F.col(OPERATION_COL) != OP_DELETE)
            result = first.withColumnRenamed(SEQUENCE_COL, SEQ_STATE_COL).drop(
                OPERATION_COL
            )
            self._write(result)
            return

        b = deduped.alias("b")
        t = target.alias("t")
        t_data = [c for c in target.columns if c not in _META_COLS]
        b_data = [c for c in deduped.columns if c not in _META_COLS]
        all_data = t_data + [c for c in b_data if c not in t_data]

        cond = [F.col(f"t.{k}").eqNullSafe(F.col(f"b.{k}")) for k in self.keys]
        joined = t.join(b, cond, "full_outer")

        matched = F.col(f"t.{SEQ_STATE_COL}").isNotNull()
        has_src = F.col(f"b.{SEQUENCE_COL}").isNotNull()
        is_delete = F.col(f"b.{OPERATION_COL}") == OP_DELETE
        t_deleted = (
            F.coalesce(F.col(f"t.{DELETED_COL}"), F.lit(False))
            if DELETED_COL in target.columns
            else F.lit(False)
        )
        # Stored-value accessors shared by the tie-break and the output
        # projection: ``_b_stored`` is the value the row WOULD hold if
        # the source won — the batch's own column when present; for a
        # column absent from the batch schema, the keeps-target value on
        # update and a typed NULL on a winning delete (Kafka-tombstone
        # scrub; see pick() below for the full rationale).
        def _t_stored(col: str) -> F.Column:
            return F.col(f"t.{col}") if col in t_data else F.lit(None)

        def _b_stored(col: str) -> F.Column:
            if col in b_data:
                return F.col(f"b.{col}")
            return F.when(is_delete, F.lit(None)).otherwise(_t_stored(col))

        # Stale guard: a matched source row wins with a newer sequence
        # (zero-padded strings → lexicographic order == event order).
        # On an EQUAL sequence — an at-least-once redelivery, possibly
        # with a different body — the stored-shape tie-break decides:
        # both sides hash the row AS IT WOULD BE STORED (keeps-target
        # fill included, via the same accessors the output projection
        # uses), so the installed survivor is the max-hash stored
        # outcome — the same pick the merge-on-read resolution makes on
        # its stored rows, independent of batch cuts or arrival order.
        all_sorted = sorted(all_data)
        tie_t = stored_shape_tie_break(
            [_t_stored(c) for c in all_sorted],
            F.col(f"t.{SEQ_STATE_COL}"),
            t_deleted,
        )
        tie_b = stored_shape_tie_break(
            [_b_stored(c) for c in all_sorted],
            F.col(f"b.{SEQUENCE_COL}"),
            is_delete,
        )
        src_wins = has_src & (
            ~matched
            | (F.col(f"b.{SEQUENCE_COL}") > F.col(f"t.{SEQ_STATE_COL}"))
            | (
                (F.col(f"b.{SEQUENCE_COL}") == F.col(f"t.{SEQ_STATE_COL}"))
                & (tie_b > tie_t)
            )
        )

        if self.tombstone_deletes:
            # every key survives physically; deletion is a state bit the
            # stale guard protects like any other column
            keep = F.lit(True)
        else:
            # WHEN MATCHED/NOT MATCHED + DELETE with a winning (newer)
            # source sequence → row disappears; stale source or no
            # source → keep target.
            keep = ~(src_wins & is_delete) & (matched | (src_wins & ~is_delete))

        def pick(col: str) -> F.Column:
            # a column absent from the batch SCHEMA keeps the target's
            # value on matched update: the producer said nothing about
            # that column (an older producer, or a table whose schema
            # grew after the event was written), so overwriting it
            # with NULL would erase data no event deleted. (A NULL
            # *value* in a present column is a statement and still
            # overwrites.)
            #
            # A WINNING DELETE also takes the batch side — and when the
            # column is ABSENT from a PK-only delete's schema, a typed
            # NULL, never the keeps-target fallback: a tombstone marks
            # the row deleted, and retention demands the pre-image not
            # linger on it until compaction — Kafka-tombstone
            # semantics. (Only reachable in tombstone mode; winning
            # deletes are filtered out otherwise.)
            return (
                F.when(src_wins, _b_stored(col))
                .otherwise(_t_stored(col))
                .alias(col)
            )

        key_exprs = [
            F.coalesce(F.col(f"t.{k}"), F.col(f"b.{k}")).alias(k) for k in self.keys
        ]
        non_key_data = [c for c in all_data if c not in self.keys]
        seq_expr = (
            F.when(src_wins, F.col(f"b.{SEQUENCE_COL}"))
            .otherwise(F.col(f"t.{SEQ_STATE_COL}"))
            .alias(SEQ_STATE_COL)
        )
        bucket_expr = (
            F.coalesce(F.col(f"t.{BUCKET_COL}"), F.col(f"b.{BUCKET_COL}"))
            .alias(BUCKET_COL)
        )

        extra = []
        if self.tombstone_deletes or DELETED_COL in target.columns:
            extra.append(
                F.when(src_wins, is_delete).otherwise(t_deleted).alias(DELETED_COL)
            )
        result = joined.filter(keep).select(
            *key_exprs, *[pick(c) for c in non_key_data], seq_expr, bucket_expr, *extra
        )
        self._write(result, touched=touched)

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
