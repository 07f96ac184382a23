"""Per-table CDC batch application: grouping, truncate barrier, merge.

Reference parity:

* G1 group-events-by-table + parallel per-table flush
  (``src/destination/snowflake_destination.rs:1625-1786``) → driver loop
  over the (small, bounded) distinct-table list, per-table Spark jobs
  submitted from a thread pool (Spark schedules them concurrently);
* G8 truncate ordering barrier — events before a TRUNCATE are applied,
  the truncate runs, then later events continue; consecutive truncates
  collapse (``etl-destination/src/bigquery/core.rs:559-676``).

Only *event metadata* (table names, truncate sequences — both tiny and
bounded) is ever collected to the driver; row data stays distributed.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from etl_stream_spark.cdc.envelope import OP_TRUNCATE, OPERATION_COL, SEQUENCE_COL
from etl_stream_spark.cdc.merge import ParquetMergeTable
from etl_stream_spark.l0_log import ParquetLog, read_small_text, write_small_text
from etl_stream_spark.schema.identifiers import validate_identifier

#: the column of a multi-table batch that names each row's table
TABLE_COL = "table"
#: per-table merges of one batch that run at once
MAX_PARALLEL_TABLES = 4


def apply_with_truncate_barrier(
    table: ParquetMergeTable,
    events: DataFrame,
    trunc_seqs: list | None = None,
) -> None:
    """Apply one table's CDC events respecting TRUNCATE ordering (G8).

    Within one synchronous call nothing can observe the target between
    segments, and a TRUNCATE erases everything the earlier segments
    would have merged — so the pre-truncate segments are skipped
    entirely (consecutive truncates collapse for free, the reference's
    dedup at ``bigquery/core.rs:657-676``): one truncate, then one merge
    of the events after the last barrier.

    ``trunc_seqs`` lets a caller that already scanned the batch (the
    applier's fused discovery pass) hand over the truncate sequences
    instead of paying a second pass here."""
    if trunc_seqs is None:
        trunc_seqs = [
            r[0]
            for r in events.filter(F.col(OPERATION_COL) == OP_TRUNCATE)
            .select(SEQUENCE_COL)
            .distinct()
            .collect()
        ]
    trunc_seqs = sorted(trunc_seqs)
    data = events.filter(F.col(OPERATION_COL) != OP_TRUNCATE)
    if not trunc_seqs:
        table.merge(data)
        return
    table.truncate()
    table.merge(data.filter(F.col(SEQUENCE_COL) > trunc_seqs[-1]))


@dataclass
class CdcTableConfig:
    keys: list[str]
    num_buckets: int = 32
    #: optional data-quality gate (schema/expectations.py): rows
    #: violating a row-level expectation are parked in the table's
    #: quarantine instead of merged — the reference's value-validation
    #: reject behavior (P10, bigquery/validation.rs), with the rejects
    #: kept repairable instead of dropped
    expectations: list | None = None
    #: keep delete tombstones so out-of-order resubmission (quarantine
    #: repair, DLQ replay) cannot re-insert a deleted key — see
    #: ParquetMergeTable.tombstone_deletes
    tombstone_deletes: bool = False
    #: write-optimized LSM target for trickle micro-batches: merges
    #: append delta files, reads resolve, compaction drains — see
    #: ParquetMergeTable.merge_on_read
    merge_on_read: bool = False
    compact_threshold: int = 8


class CdcBatchApplier:
    """Routes a multi-table CDC micro-batch to per-table merge targets —
    the body of a Structured Streaming ``foreachBatch`` (SURVEY §3.2)."""

    def __init__(
        self,
        spark: SparkSession,
        base_path: str,
        tables: dict[str, CdcTableConfig],
        metrics=None,
        rollups: dict[str, "IncrementalRollup"] | None = None,
        histories: dict[str, "Scd2Table"] | None = None,
        join_views: list[tuple["IncrementalJoinView", str, str]] | None = None,
        txn_app_id: str | None = None,
    ) -> None:
        """``txn_app_id`` arms the exactly-once epoch replay guard (the
        Delta ``txnAppId``/``txnVersion`` pattern): epoch watermarks are
        scoped to this id, because Structured Streaming batch numbers
        restart at 0 with a NEW checkpoint — an unscoped watermark would
        silently discard every batch after a checkpoint reset until the
        numbering caught up. Use one id per (query, checkpoint)
        lifetime; change it whenever the checkpoint is recreated. None
        (default) disables the guard — replays then rely on the merge
        engine's stale-sequence idempotency, exactly as before."""
        self.spark = spark
        self.base_path = base_path.rstrip("/")
        self.txn_app_id = txn_app_id
        self.metrics = metrics  # optional MetricsRegistry
        self.rollups = dict(rollups or {})  # table name → IncrementalRollup
        self.histories = dict(histories or {})  # table name → Scd2Table
        # (view, fact_table_name, dim_table_name): a join view listens
        # to TWO tables, so its refresh runs in a sequential phase after
        # the parallel per-table merges (no concurrent view rewrites)
        self.join_views = list(join_views or [])
        self._targets: dict[str, ParquetMergeTable] = {}
        self._configs = dict(tables)

    def config(self, name: str) -> CdcTableConfig:
        return self._configs[name]

    def target(self, name: str) -> ParquetMergeTable:
        if name not in self._targets:
            validate_identifier(name, "table name")
            cfg = self._configs[name]
            self._targets[name] = ParquetMergeTable(
                self.spark,
                f"{self.base_path}/{name}",
                cfg.keys,
                cfg.num_buckets,
                tombstone_deletes=cfg.tombstone_deletes,
                merge_on_read=cfg.merge_on_read,
                compact_threshold=cfg.compact_threshold,
            )
        return self._targets[name]

    def _epoch_path(self, name: str) -> str:
        import hashlib

        # scoped by txn_app_id: watermarks from a previous query
        # lifetime (different checkpoint) must never gate this one
        tag = hashlib.md5(self.txn_app_id.encode()).hexdigest()[:12]
        return f"{self.base_path}/{name}/_meta_epoch_{tag}.json"

    def _last_epoch(self, name: str) -> int | None:
        text = read_small_text(self.spark, self._epoch_path(name))
        return None if text is None else int(text)

    def _set_last_epoch(self, name: str, epoch_id: int) -> None:
        write_small_text(self.spark, self._epoch_path(name), str(int(epoch_id)))

    def quarantine(self, name: str) -> ParquetLog:
        """The log of rows the expectation gate parked for ``name``."""
        return ParquetLog(self.spark, f"{self.base_path}/_quarantine/{name}")

    def read_quarantine(self, name: str) -> DataFrame | None:
        """Rows parked by the expectation gate for ``name`` (with their
        ``_violations``), or None when nothing is parked. The repair
        loop: fix the rows, drop ``_violations``, re-add the table
        column, and resubmit through :meth:`apply_batch` — the gate
        re-checks them, so an unrepaired row just parks again."""
        return self.quarantine(name).read()

    def apply_batch(self, events: DataFrame, epoch_id: int | None = None) -> None:
        # Fused discovery: ONE pass collects both the distinct table list
        # and each table's truncate sequences (both tiny and bounded), so
        # the per-table barrier and the rollup's has-truncate probe don't
        # each re-execute the batch lineage.
        meta = (
            events.groupBy(TABLE_COL)
            .agg(
                F.collect_set(
                    F.when(
                        F.col(OPERATION_COL) == OP_TRUNCATE, F.col(SEQUENCE_COL)
                    )
                ).alias("_trunc_seqs")
            )
            .collect()
        )
        trunc_by_table = {r[0]: sorted(r[1]) for r in meta}
        names = [n for n in trunc_by_table if n in self._configs]
        if not names:
            return

        def run(name: str) -> None:
            # Exactly-once replay guard (the standard foreachBatch
            # idempotency pattern): Structured Streaming re-delivers a
            # whole epoch after a crash; an epoch at or below the last
            # one COMMITTED for this table under this txn_app_id is
            # skipped. The eager merge is already idempotent through
            # the stale-sequence guard — this spares the re-run
            # entirely and, for merge-on-read targets, the duplicate
            # delta files a replay would append. The watermark is
            # written AFTER the apply: a crash in between re-runs the
            # epoch, which both engines tolerate.
            if epoch_id is not None and self.txn_app_id is not None:
                applied = self._last_epoch(name)
                if applied is not None and epoch_id <= applied:
                    return
            per_table = events.filter(F.col(TABLE_COL) == name).drop(TABLE_COL)
            # Right-to-be-forgotten suppression: erased keys never reach
            # the merge, the history, OR the quarantine — even on replays
            # (cdc/erasure.py). One FS existence check per table per
            # batch; the anti-join is against the bounded erasure list.
            from etl_stream_spark.cdc.erasure import erasure_list_for

            elist = erasure_list_for(self, name)
            if elist.exists():
                per_table = elist.suppress(per_table)
            exps = self._configs[name].expectations
            if exps:
                from etl_stream_spark.schema.expectations import split

                data = per_table.filter(F.col(OPERATION_COL) != OP_TRUNCATE)
                trunc = per_table.filter(F.col(OPERATION_COL) == OP_TRUNCATE)
                valid, quarantined = split(data, exps)
                # park rejects BEFORE the merge so a crash cannot lose
                # them; append-only, replayable after repair. The
                # observation counts the parked rows inside the write's
                # own job.
                parked = Observation()
                self.quarantine(name).append(
                    quarantined.observe(parked, F.count(F.lit(1)).alias("rows"))
                )
                if self.metrics is not None:
                    self.metrics.inc(
                        "cdc_rows_quarantined_total",
                        float(parked.get["rows"]),
                        labels={"table": name},
                    )
                per_table = valid.unionByName(trunc, allowMissingColumns=True)
            trunc_seqs = trunc_by_table.get(name, [])
            rollup = self.rollups.get(name)
            touched: list[tuple] = []
            has_trunc = bool(trunc_seqs)
            if rollup is not None:
                # pre-image group capture must precede the merge
                data_rows = per_table.filter(F.col(OPERATION_COL) != OP_TRUNCATE)
                touched = rollup.touched_groups(data_rows)
            history = self.histories.get(name)
            if history is not None:
                # history records pre-truncate versions, so it applies
                # with its own (segment-preserving) truncate handling
                history.apply_with_truncate_barrier(per_table, trunc_seqs)
            apply_with_truncate_barrier(
                self.target(name), per_table, trunc_seqs=trunc_seqs
            )
            if rollup is not None:
                if has_trunc:
                    # a truncate may extinguish groups absent from this
                    # batch — rebuild gold from the (small) post-truncate
                    # state instead of trusting the touched set
                    rollup.gold.truncate()
                rollup.refresh_groups(touched)
            if epoch_id is not None and self.txn_app_id is not None:
                self._set_last_epoch(name, epoch_id)
            if self.metrics is not None:
                self.metrics.inc("cdc_batches_applied_total", labels={"table": name})

        if len(names) == 1:
            run(names[0])
        else:
            with ThreadPoolExecutor(max_workers=MAX_PARALLEL_TABLES) as pool:
                list(pool.map(run, names))

        # Sequential view-maintenance phase: each join view sees the
        # fully merged state of both its tables (no concurrent view
        # rewrites). A TRUNCATE on either side invalidates keys beyond
        # the batch's own — the view rebuilds from current state then.
        # (The fused discovery pass already knows which tables carried
        # truncates — no per-view re-scan of the batch lineage.)
        def _per(name: str) -> DataFrame:
            return events.filter(F.col(TABLE_COL) == name).drop(TABLE_COL)

        for view, fact_name, dim_name in self.join_views:
            fact_per = _per(fact_name) if fact_name in names else None
            dim_per = _per(dim_name) if dim_name in names else None
            if bool(trunc_by_table.get(fact_name)) or bool(
                trunc_by_table.get(dim_name)
            ):
                view.view.truncate()
                view.refresh_full()
                continue
            if fact_per is not None:
                view.on_fact_batch(fact_per)
            if dim_per is not None:
                view.on_dim_batch(dim_per)


@dataclass
class MergeTask:
    """The scheduled landing→target merge loop
    (``etl-snowflake-py/etl_snowflake/task.py:154-190``): snapshot the
    landing watermark (G5), dedup+merge everything at or below it (G3/G4,
    honoring the truncate barrier), then purge the merged landing rows.

    The snapshot-first protocol makes the task safe to run concurrently
    with ongoing landing appends: rows arriving after the snapshot are
    untouched by both the merge and the purge and are picked up by the
    next run. Cadence comes from the caller (the reference's Snowflake
    TASK ``SCHEDULE`` ≙ however this is scheduled — a processing-time
    trigger, a cron, or a driver loop).

    A stream-fed landing is at-least-once: an epoch replayed after a
    crash lands its rows twice. The merge resolves each key by sequence
    (with the stored-shape tie-break on equal sequences), so a
    duplicated event picks the same winner as the original, and an event
    below a merged key's sequence loses; the duplicates cost nothing but
    the rows.
    """

    landing: "LandingTable"
    table: ParquetMergeTable

    def run_once(self) -> str | None:
        """One merge cycle; returns the consumed watermark sequence, or
        None when the landing was empty. A landing path that exists but
        cannot be read is a REAL error (corrupt files, storage fault) and
        raises — swallowing it would stall the merge loop silently while
        events accumulate unmerged."""
        if not self.landing.exists():
            return None
        max_seq = self.landing.max_sequence()
        if max_seq == "0":
            return None
        batch = self.landing.read().filter(F.col(SEQUENCE_COL) <= max_seq)
        apply_with_truncate_barrier(self.table, batch)
        self.landing.purge_upto(max_seq)
        return max_seq


class LandingTable(ParquetLog):
    """Append-only bronze landing log with CDC metadata columns, the
    analog of ``LANDING_<T>`` (``etl-snowflake-py/etl_snowflake/ddl.py:280-353``),
    appended to in batches or by ``sinks/append.py::start_landing_stream``.

    G5 purge: rows at or below a merged watermark sequence can be
    dropped; with checkpointed exactly-once ``foreachBatch`` the landing
    is optional and kept for audit/replay.
    """

    def read(self) -> DataFrame:
        """Every landed row; a frame with no columns once none is left."""
        df = super().read()
        return self.spark.createDataFrame([], "struct<>") if df is None else df

    def max_sequence(self) -> str:
        """``COALESCE(MAX(sequence), '0')`` watermark snapshot
        (``task.py:159-161``)."""
        df = self.read()
        if not df.columns:
            return "0"
        return df.agg(F.coalesce(F.max(SEQUENCE_COL), F.lit("0"))).first()[0]

    def purge_upto(self, max_seq: str) -> int:
        """Drop rows with sequence <= watermark (``task.py:186-189``)
        and return how many went: rewrites only the files holding such
        rows, and never touches an append landing meanwhile
        (:meth:`ParquetLog.delete_rows`). A crash before the deletes
        leaves retained rows twice; the merge's stale-sequence guard
        makes replaying them a no-op, and a later purge past their
        sequence removes both copies."""
        return self.delete_rows(F.col(SEQUENCE_COL) <= max_seq)
