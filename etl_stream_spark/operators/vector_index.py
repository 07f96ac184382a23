"""Persisted IVF index: build once, partition-pruned search many times,
maintained incrementally under inserts/updates/deletes.

:func:`~etl_stream_spark.operators.similarity.ivf_topk` and
``ivf_trained_topk`` train/probe per call — right for a one-shot query,
wasteful for the production pattern where one corpus serves many query
batches. ``IvfIndex`` persists the index the way a 100 TB deployment
would:

* ``centroids.parquet`` — k × dims rows (driver-bounded metadata);
* ``corpus/`` — the quantized vectors written **partitioned by cell**
  (``_cell=NN`` directories), so a search that probes ``nprobe`` of
  ``nlist`` cells reads only those directories: partition pruning at
  the *file listing* level, before any IO. Work per search batch is
  ``nprobe/nlist`` of the corpus, and re-building is the only full
  scan.

Incremental maintenance (the segment + tombstone + compaction design
every production vector store uses — new vectors must be searchable
without a full rebuild):

* every write carries a **generation number**; ``upsert`` appends the
  batch's rows to their assigned cells and, when an id MOVED cells,
  appends a tombstone to its old cell — so a probe of either cell
  resolves the id correctly by last-writer-wins on generation (live
  beats tombstone at equal generation);
* the id → (cell, generation) map rides on the bucket-pruned
  :class:`~etl_stream_spark.cdc.merge.ParquetMergeTable`, so an upsert
  batch reads only the map buckets its ids hash to — O(batch), not
  O(corpus);
* ``remove`` tombstones the ids' current cells; ``compact`` rewrites
  cells to their LWW winners and drops tombstones; ``rebuild_corpus``
  re-assigns a full corpus against the STORED centroids (the parity
  anchor: an index maintained by upserts must search identically to
  one rebuilt from the same logical corpus).

Determinism carries over from the similarity module: integer-quantized
vectors, exact integer-L2 training, cosine as one double division.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_stream_spark.cdc.envelope import (
    OP_DELETE,
    OP_UPDATE,
    OPERATION_COL,
    SEQUENCE_COL,
)
from etl_stream_spark.cdc.merge import ParquetMergeTable, bucket_expr_for
from etl_stream_spark.operators.similarity import (
    QUANT_SCALE,
    _assign_to,
    cosine_from_quantized,
    int_dot,
    int_norm_sq,
    kmeans_train,
    quantize,
)

CELL_COL = "_cell"
GEN_COL = "_gen"
TOMB_COL = "_tomb"

_MAP_BUCKETS = 32


class IvfIndex:
    """Disk-backed IVF index over an ``array<float>`` embedding column."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        nlist: int = 8,
        scale: int = QUANT_SCALE,
        compact_threshold: int = 8,
    ) -> None:
        self.spark = spark
        self.path = path.rstrip("/")
        self.nlist = nlist
        self.scale = scale
        self.compact_threshold = compact_threshold
        #: cached so the map's MOR compaction counter survives across
        #: upserts (a fresh instance per call would never reach its
        #: threshold and the map's L0 would grow unbounded)
        self._map_table: ParquetMergeTable | None = None

    @property
    def _cent_path(self) -> str:
        return os.path.join(self.path, "centroids.parquet")

    @property
    def _corpus_path(self) -> str:
        return os.path.join(self.path, "corpus")

    @property
    def _meta_path(self) -> str:
        return os.path.join(self.path, "meta.json")

    def _id_map(self, id_col: str) -> ParquetMergeTable:
        """id → (cell, generation), bucket-pruned lookups by id.

        merge_on_read: the per-upsert map maintenance is ONE shuffle-free
        L0 append instead of an eager fold + 32-directory partitioned
        rewrite — the map merge was most of the upsert's per-batch
        constant (the same job-count cut as the postings fwd table)."""
        if self._map_table is None:
            self._map_table = ParquetMergeTable(
                self.spark,
                os.path.join(self.path, "ids"),
                keys=[id_col],
                num_buckets=_MAP_BUCKETS,
                merge_on_read=True,
                compact_threshold=self.compact_threshold,
            )
        elif self._map_table.keys != [id_col]:
            # the cached table is keyed on the id_col of the FIRST call;
            # silently serving it for a different id_col would bucket-hash
            # (and stale-guard) on the wrong key — refuse loudly
            raise ValueError(
                f"IvfIndex at {self.path} is keyed on "
                f"{self._map_table.keys[0]!r}; cannot use id_col={id_col!r}"
            )
        return self._map_table

    def _gen(self) -> int:
        # driver-side FS file, not a parquet dataset: a Spark job per
        # generation read/bump would dominate small upserts
        from etl_stream_spark.l0_log import read_small_text

        text = read_small_text(self.spark, self._meta_path)
        return 0 if text is None else int(text)

    def _set_gen(self, g: int) -> None:
        from etl_stream_spark.l0_log import write_small_text

        write_small_text(self.spark, self._meta_path, str(int(g)))

    @staticmethod
    def _seq(g: int) -> F.Column:
        return F.lpad(F.lit(g).cast("string"), 20, "0")

    def _write_map(self, assigned: DataFrame, id_col: str, g: int, op: str) -> None:
        self._id_map(id_col).merge(
            assigned.select(
                F.col(id_col),
                F.col("cluster_id").cast("long").alias("cell"),
                F.lit(op).alias(OPERATION_COL),
                self._seq(g).alias(SEQUENCE_COL),
            )
        )

    def build(
        self,
        corpus: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        rounds: int = 2,
    ) -> None:
        """Train the coarse quantizer and write the cell-partitioned
        corpus — the only full corpus scan in the index lifecycle.

        Truncates any pre-existing id map first: merging gen-0 rows into
        a populated map would be rejected by the stale-sequence guard,
        leaving stale cell assignments (and permanent tombstones) that
        silently drop documents from every later search."""
        assigned, cents_py = kmeans_train(
            corpus, k=self.nlist, rounds=rounds, id_col=id_col, vec_col=vec_col,
            scale=self.scale,
        )
        cents = self.spark.createDataFrame(
            cents_py, "cluster_id long, _cent array<long>"
        )
        # repartition(1), NOT coalesce(1): a local-data frame is backed
        # by a default-parallelism-sliced Python RDD, and coalesce(1)
        # folds every slice into ONE task that round-trips the Python
        # worker per slice SERIALLY (~0.25 s each, ~7 s per write
        # measured); the k-row shuffle is free by comparison
        cents.repartition(1).write.mode("overwrite").parquet(self._cent_path)
        self._write_corpus(corpus, assigned, id_col, vec_col, g=0)
        self._id_map(id_col).truncate()
        self._write_map(assigned, id_col, 0, OP_UPDATE)
        # drain the map's L0 now: build is the full-scan path, and a
        # whole-corpus map sitting unresolved in the append log would
        # tax every probe until enough upserts triggered a sweep
        self._id_map(id_col).compact()
        self._set_gen(0)

    def rebuild_corpus(
        self, corpus: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
    ) -> None:
        """Re-assign a full logical corpus against the STORED centroids
        and overwrite the cell layout — the compaction-to-clean-slate
        path, and the parity anchor for incremental maintenance."""
        cents = self.spark.read.parquet(self._cent_path)
        vecs = corpus.select(F.col(id_col), quantize(vec_col, self.scale).alias("_v"))
        assigned = _assign_to(vecs, cents, id_col)
        self._write_corpus(corpus, assigned, id_col, vec_col, g=0)
        self._id_map(id_col).truncate()
        self._write_map(assigned, id_col, 0, OP_UPDATE)
        self._id_map(id_col).compact()  # same full-scan-path drain as build
        self._set_gen(0)

    def _write_corpus(
        self, corpus: DataFrame, assigned: DataFrame, id_col: str, vec_col: str, g: int
    ) -> None:
        vecs = corpus.select(F.col(id_col), quantize(vec_col, self.scale).alias("_v"))
        (
            vecs.join(assigned.select(id_col, "cluster_id"), id_col)
            .withColumnRenamed("cluster_id", CELL_COL)
            .withColumn(GEN_COL, F.lit(g).cast("long"))
            .withColumn(TOMB_COL, F.lit(False))
            .write.mode("overwrite")
            .partitionBy(CELL_COL)
            .parquet(self._corpus_path)
        )

    def _old_cells(self, ids: DataFrame, id_col: str) -> DataFrame:
        """Current (id, cell) for the given ids — reads ONLY the map
        buckets the ids hash to (O(batch), not O(corpus))."""
        m = self._id_map(id_col)
        with_b = ids.select(
            F.col(id_col), bucket_expr_for([id_col], _MAP_BUCKETS).alias("_b")
        )
        buckets = [r[0] for r in with_b.select("_b").distinct().collect()]
        state = m._read_state(buckets=buckets)
        if state is None:
            return ids.select(F.col(id_col), F.lit(None).cast("long").alias("cell")).limit(0)
        return state.join(ids.select(id_col), id_col, "left_semi").select(
            F.col(id_col), F.col("cell")
        )

    def upsert(
        self, batch: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
    ) -> None:
        """Make a batch of new or changed vectors searchable without
        touching the existing layout: assign against the stored
        centroids, append to the target cells at the next generation,
        and tombstone the OLD cell of every id that moved (same-cell
        updates need none — the higher generation supersedes in place).
        """
        g = self._gen() + 1
        cents = self.spark.read.parquet(self._cent_path)
        vecs = batch.select(F.col(id_col), quantize(vec_col, self.scale).alias("_v"))
        assigned = _assign_to(vecs, cents, id_col).select(id_col, "cluster_id")
        new_rows = (
            vecs.join(assigned, id_col)
            .withColumnRenamed("cluster_id", CELL_COL)
            .withColumn(GEN_COL, F.lit(g).cast("long"))
            .withColumn(TOMB_COL, F.lit(False))
        )
        old = self._old_cells(batch.select(id_col), id_col)
        moved = (
            old.join(assigned, id_col)
            .filter(F.col("cell") != F.col("cluster_id"))
            .select(
                F.col(id_col),
                F.lit(None).cast("array<long>").alias("_v"),
                F.col("cell").alias(CELL_COL),
                F.lit(g).cast("long").alias(GEN_COL),
                F.lit(True).alias(TOMB_COL),
            )
        )
        new_rows.unionByName(moved).write.mode("append").partitionBy(CELL_COL).parquet(
            self._corpus_path
        )
        self._write_map(assigned, id_col, g, OP_UPDATE)
        self._set_gen(g)

    def remove(self, ids: DataFrame, id_col: str = "vec_id") -> None:
        """Delete ids from the index: tombstone their current cells and
        drop them from the map. Unknown ids are ignored."""
        g = self._gen() + 1
        old = self._old_cells(ids.select(id_col), id_col)
        tombs = old.select(
            F.col(id_col),
            F.lit(None).cast("array<long>").alias("_v"),
            F.col("cell").alias(CELL_COL),
            F.lit(g).cast("long").alias(GEN_COL),
            F.lit(True).alias(TOMB_COL),
        )
        tombs.write.mode("append").partitionBy(CELL_COL).parquet(self._corpus_path)
        self._id_map(id_col).merge(
            old.select(
                F.col(id_col),
                F.col("cell"),
                F.lit(OP_DELETE).alias(OPERATION_COL),
                self._seq(g).alias(SEQUENCE_COL),
            )
        )
        self._set_gen(g)

    def compact(self, id_col: str = "vec_id") -> None:
        """Rewrite every cell to its live last-writer-wins rows (drop
        superseded generations and tombstones) — run on a maintenance
        cadence once the append tail dominates scan cost."""
        corpus = self.spark.read.parquet(self._corpus_path)
        # materialize BEFORE overwriting the directory being read — lazy
        # evaluation would scan files the overwrite just deleted
        survivors = (
            self._lww(corpus, id_col)
            .filter(~F.col(TOMB_COL))
            .localCheckpoint(eager=True)
        )
        (
            survivors.write.mode("overwrite")
            .partitionBy(CELL_COL)
            .parquet(self._corpus_path)
        )

    @staticmethod
    def _lww(rows: DataFrame, id_col: str) -> DataFrame:
        """Last-writer-wins per id over whatever cell subset ``rows``
        covers: highest generation wins; a live row beats a tombstone at
        the same generation (the moved-cell upsert writes both)."""
        if GEN_COL not in rows.columns:
            return rows  # pre-incremental layout: every row is current
        w = Window.partitionBy(id_col).orderBy(
            F.col(GEN_COL).desc(), F.col(TOMB_COL).asc(), F.col(CELL_COL)
        )
        return (
            rows.withColumn("_lww_rn", F.row_number().over(w))
            .filter(F.col("_lww_rn") == 1)
            .drop("_lww_rn")
        )

    def exists(self) -> bool:
        try:
            self.spark.read.parquet(self._cent_path).head(1)
            return True
        except Exception:
            return False

    def search(
        self,
        queries: DataFrame,
        k: int = 5,
        nprobe: int = 2,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> DataFrame:
        """Top-k per query over the probed cells only.

        The probed-cell set is collected (bounded by |queries| × nprobe
        cell ids) and becomes an ``isin`` filter on the partition
        column, so the corpus scan lists only those ``_cell=``
        directories."""
        cents = self.spark.read.parquet(self._cent_path)
        q = queries.select(
            F.col(id_col).alias("query_id"), quantize(vec_col, self.scale).alias("_qvec")
        )
        cosc = (
            int_dot(F.col("_qvec"), F.col("_cent")).cast("double")
            / F.sqrt(
                int_norm_sq(F.col("_qvec")).cast("double")
                * int_norm_sq(F.col("_cent")).cast("double")
            )
        ).alias("_cosc")
        pr = Window.partitionBy("query_id").orderBy(F.desc("_cosc"), F.col("cluster_id"))
        probed = (
            q.join(F.broadcast(cents))
            .select("query_id", "_qvec", "cluster_id", cosc)
            .withColumn("_pr", F.row_number().over(pr))
            .filter(F.col("_pr") <= nprobe)
            .select("query_id", "_qvec", F.col("cluster_id").alias(CELL_COL))
        )
        cells = [r[0] for r in probed.select(CELL_COL).distinct().collect()]
        corpus = self.spark.read.parquet(self._corpus_path).filter(
            F.col(CELL_COL).isin(cells)
        )
        # resolve the append tail: LWW per id over the probed subset,
        # tombstones out (a moved id's old cell holds its tombstone, so
        # either cell alone resolves correctly)
        corpus = self._lww(corpus, id_col)
        if TOMB_COL in corpus.columns:
            corpus = corpus.filter(~F.col(TOMB_COL))
        cand = corpus.join(F.broadcast(probed), CELL_COL).filter(
            F.col(id_col) != F.col("query_id")
        )
        scored = cand.select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            cosine_from_quantized(F.col("_qvec"), F.col("_v")).alias("cos_sim"),
        )
        rank = Window.partitionBy("query_id").orderBy(
            F.desc("cos_sim"), F.col("neighbor_id")
        )
        return (
            scored.withColumn("rank", F.row_number().over(rank).cast("long"))
            .filter(F.col("rank") <= k)
        )
