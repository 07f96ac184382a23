"""Append-only parquet logs, and the L0 append-log recipe built on them.

:class:`ParquetLog` is every append-only parquet directory of the CDC
stack: the landing (``cdc/pipeline.py::LandingTable``), the SCD2 closed
zone, a table's quarantine, its erasure list, forget's extra paths, and
each store's L0 delta log. It owns the one writer (``append``, under
the log's partition columns), the one listing (``files``), the one
reader (``read``: a ``mergeSchema`` read of exactly the listed files,
None when there is none) and the one row delete (``delete_rows``: find
the files holding the rows and count them in one pass, rewrite only
those files, under their own partition layout). The log keeps no file
list beside the directory, so a streaming writer lands through
``append`` from ``foreachBatch``: a file sink's ``_spark_metadata``
log would go on naming files a row delete replaced.

:class:`L0AppendLog` is a flat ``ParquetLog`` plus the sweep gate. The
pattern (proven on the merge table, the postings index, and the IVF id
map): a per-batch ``partitionBy`` committer plus an eager merge in a
store's hot path becomes

* **flat L0 append** — one shuffle-free write job per batch into a
  single underscore-prefixed directory (hidden from the store's root
  parquet read), measured ~4× cheaper than a many-directory committer
  for identical bytes;
* **counter-gated drain** — every ``sweep_threshold`` appends, ONE
  listing of the L0 directory decides whether to fold it into the
  store's real layout, so the expensive committer runs once per
  threshold, not per batch;
* **read-side idempotence collapse** — readers union the (bounded,
  ≤ threshold appends) L0 scan with the main layout and collapse
  duplicates by key/generation, which is what makes the drain's crash
  window (consumed rows existing twice) harmless.

The drain itself stays with each store because what "folding into the
layout" means is store-specific.

Restart behavior: the appends-since-sweep counter seeds itself from the
CURRENT L0 file count on an instance's first sweep check (one listing
RPC per instance lifetime), so a restarted writer resumes at the log's
true progress — the sweep fires at the same cumulative append count
with or without restarts (exactly so for single-file appends; when an
append stages multiple files the restarted writer sweeps no LATER —
early costs one extra listing, late was the defect), instead of
drifting by up to one full threshold per crash loop. A persisted counter file would close the same
gap but cost a metadata write per batch, which the per-batch job-count
rule forbids; the one-listing seed is free at steady state.

Driver-side metadata helpers (``read_small_text``/``write_small_text``)
live here too: tiny bookkeeping files (generation counters, column
sidecars) go straight through the Hadoop FS client because a Spark job
per meta read/write dominated small batches (merge stage 17.5 s→1.5 s
when these moved off parquet datasets).
"""

from __future__ import annotations

import os
from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def _hadoop_path(spark: SparkSession, path: str):
    jvm = spark.sparkContext._jvm
    return jvm.org.apache.hadoop.fs.Path(path)


def _hadoop_fs(spark: SparkSession, path: str):
    p = _hadoop_path(spark, path)
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    return p.getFileSystem(conf), p


def read_small_text(spark: SparkSession, path: str) -> str | None:
    """Driver-side read of a small metadata file (None if absent).

    For store bookkeeping — generation counters, column sidecars — a
    Spark job per read/write costs more than the operation it
    bookkeeps; these go straight through the Hadoop FS client.

    Falls back to ``<path>.old`` when the file is absent: the writer's
    rename-refused path (see :func:`write_small_text`) parks the
    previous committed value there before installing the new one, so a
    crash inside that window reads as the PREVIOUS value, never as
    absent — absent would parse as generation 0 and silently corrupt a
    populated index."""
    fs, p = _hadoop_fs(spark, path)
    if not fs.exists(p):
        old = _hadoop_path(spark, path + ".old")
        if not fs.exists(old):
            return None
        p = old
    stream = fs.open(p)
    try:
        return spark.sparkContext._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()


def write_small_text(spark: SparkSession, path: str, text: str) -> None:
    """Driver-side overwrite of a small metadata file — ATOMICALLY.

    A plain truncate-then-write (``fs.create(p, True)``) leaves an
    empty/partial file if the writer dies between create and close, and
    the readers of these files parse unguarded (``int(text)`` for
    generation counters, ``json.loads`` for the column sidecar). For the
    epoch guard and the sidecar an unparseable file could be treated as
    absent, but a generation counter reading 0 on a populated index
    silently corrupts the next upsert — so every metadata write goes
    through write-temp-then-rename. The rename is atomic on local FS and
    HDFS; where rename-onto-existing is refused, the fallback window is
    delete→rename, which a reader sees as absent (never partial).
    """
    fs, p = _hadoop_fs(spark, path)
    tmp = _hadoop_path(spark, path + ".tmp")
    out = fs.create(tmp, True)
    try:
        out.write(text.encode("utf-8"))
    finally:
        out.close()
    if not fs.rename(tmp, p):
        # HDFS-style rename refuses an existing destination. A bare
        # delete-then-rename would leave an ABSENT file if the writer
        # dies in between — and absent parses as generation 0, the
        # silent corruption this function exists to prevent. Park the
        # committed value at .old first: every crash point now reads as
        # either the old value or the new one (read_small_text falls
        # back to .old when the main file is missing).
        old = _hadoop_path(spark, path + ".old")
        fs.delete(old, False)  # stale backup from an earlier fallback
        if fs.exists(p) and not fs.rename(p, old):
            raise IOError(f"could not stage backup for metadata file {path}")
        if not fs.rename(tmp, p):
            raise IOError(f"could not commit metadata file {path}")
        fs.delete(old, False)


def partition_cols_of(base_path: str, file_path: str) -> list[str]:
    """Hive-style partition column names between ``base_path`` and a
    data file, in directory order (``.../dt=2020/hr=3/part-0.parquet``
    → ``['dt', 'hr']``). Pure path arithmetic — no listing."""
    base = _strip_scheme(base_path)
    rel = _strip_scheme(file_path)
    if rel.startswith(base):
        rel = rel[len(base):].strip("/")
    parts = rel.split("/")[:-1]
    return [p.split("=", 1)[0] for p in parts if "=" in p]


def _strip_scheme(p: str) -> str:
    head = p.split("/", 1)[0]
    return os.path.normpath(p.split(":", 1)[1]) if ":" in head else os.path.normpath(p)


def _select(df: DataFrame, where: Column | DataFrame, kept: bool = False) -> DataFrame:
    """The rows of ``df`` that :meth:`ParquetLog.delete_rows` removes
    (``kept``: the rest)."""
    if isinstance(where, DataFrame):
        how = "left_anti" if kept else "left_semi"
        return df.join(where, on=where.columns, how=how)
    doomed = F.coalesce(where, F.lit(False))
    return df.filter(~doomed if kept else doomed)


class ParquetLog:
    """An append-only parquet directory: the landing, the SCD2 closed
    zone, a quarantine, an erasure list, an L0 delta log. One writer,
    one listing, one reader and one row delete serve them all.

    The log keeps no file list of its own: :meth:`files` lists the
    directory, so a row delete that replaces files is seen by the next
    read at once. (A streaming file sink's ``_spark_metadata`` log would
    go on naming the replaced files; streams land through
    :meth:`append` from ``foreachBatch`` instead.)"""

    def __init__(
        self, spark: SparkSession, path: str, partition_cols: Sequence[str] = ()
    ) -> None:
        self.spark = spark
        self.path = path.rstrip("/")
        self.partition_cols = tuple(partition_cols)

    def exists(self) -> bool:
        """ONE FS existence check."""
        fs, p = _hadoop_fs(self.spark, self.path)
        return fs.exists(p)

    def append(self, df: DataFrame) -> None:
        """One append job, under the log's partition columns."""
        self._write(df, self.partition_cols)

    def _write(self, df: DataFrame, partition_cols: Sequence[str]) -> None:
        writer = df.write.mode("append")
        if partition_cols:
            writer = writer.partitionBy(*partition_cols)
        writer.parquet(self.path)

    def files(self) -> list[str]:
        """Data files in the log: ONE listing RPC per directory. Names
        Spark's reader hides (``_SUCCESS``, ``_temporary``, ``.crc``)
        are skipped; ``k=v`` partition directories are descended, so a
        flat log is one listing."""
        fs, root = _hadoop_fs(self.spark, self.path)
        if not fs.exists(root):
            return []
        out, dirs = [], [root]
        while dirs:
            for st in fs.listStatus(dirs.pop()):
                p = st.getPath()
                name = p.getName()
                if name.startswith(".") or (name.startswith("_") and "=" not in name):
                    continue
                if not st.isDirectory():
                    out.append(p.toString())
                elif "=" in name:
                    dirs.append(p)
        return out

    def _read(self, files: list[str]) -> DataFrame:
        return (
            self.spark.read.option("mergeSchema", "true")
            .option("basePath", self.path)
            .parquet(*files)
        )

    def read(self) -> DataFrame | None:
        """Every row in the log with the union of its files' columns
        (a file written before a column existed reads NULL for it), and
        its partition columns; None when the log holds no data file."""
        files = self.files()
        return self._read(files) if files else None

    def delete_rows(self, where: Column | DataFrame) -> int:
        """Remove the selected rows and return how many went: the rows
        ``where`` holds for, or, given a frame of key tuples, the rows
        whose key columns equal one of them (a NULL key matches none).

        One pass over the log finds the files holding such rows and
        counts the rows; only those files are rewritten, under their own
        partition layout. Concurrent-append safe: the retained rest of
        exactly those files is appended as new files, then those files
        are deleted, so an append landing meanwhile is never touched.
        Crash window: between the rewrite and the deletes, the retained
        rows exist twice, and re-running the delete keeps both copies:
        the landing's merge resolves them by sequence, an erasure list
        reads distinct."""
        files = self.files()
        if not files:
            return 0
        found = (
            _select(self._read(files).withColumn("_file", F.input_file_name()), where)
            .agg(F.count(F.lit(1)).alias("n"), F.collect_set("_file").alias("files"))
            .first()
        )
        if found.n == 0:
            return 0
        # input_file_name() is a URL-encoded URI; the listing names paths
        jvm = self.spark.sparkContext._jvm
        hit_files = {
            jvm.org.apache.hadoop.fs.Path(jvm.java.net.URI(u)).toString()
            for u in found.files
        }
        doomed_files = [f for f in files if f in hit_files]
        # persisted: isEmpty and the write would each scan the files
        retained = _select(self._read(doomed_files), where, kept=True).persist()
        try:
            if not retained.isEmpty():
                self._write(retained, partition_cols_of(self.path, doomed_files[0]))
        finally:
            retained.unpersist()
        self.delete_files(doomed_files)
        return found.n

    def delete_files(self, files: list[str]) -> None:
        """Remove ``files``; the caller must have materialized (written
        or checkpointed) whatever of their contents it keeps."""
        fs, _ = _hadoop_fs(self.spark, self.path)
        for f in files:
            fs.delete(_hadoop_path(self.spark, f), False)


class L0AppendLog(ParquetLog):
    """A flat :class:`ParquetLog` of un-drained append batches plus the
    counter-gated sweep that decides when to drain it.

    The owner supplies the drain (store-specific fold into the real
    layout) and the read-side collapse; this class owns the sweep gate
    — the machinery that must never diverge between stores."""

    def __init__(self, spark: SparkSession, path: str, sweep_threshold: int) -> None:
        super().__init__(spark, path)
        self.sweep_threshold = sweep_threshold
        #: None until the first sweep check seeds it from the listing —
        #: the restart-resume behavior documented in the module header
        self._appends_since_sweep: int | None = None

    def maybe_sweep(self, drain: Callable[[], None]) -> None:
        """Counter-gated sweep: once ``sweep_threshold`` appends have
        accumulated, ONE listing decides whether to drain (threshold is
        in FILES — an append adds one file per batch partition, so wide
        batches drain sooner; the listing is ground truth either way).
        The listing RPC amortizes to ~1/threshold per batch."""
        if self._appends_since_sweep is None:
            # restart resume: seed from the surviving file count (which
            # includes the append that triggered this call) so the sweep
            # fires at the same cumulative append count as an
            # uninterrupted writer
            self._appends_since_sweep = len(self.files())
        else:
            self._appends_since_sweep += 1
        if self._appends_since_sweep < self.sweep_threshold:
            return
        self._appends_since_sweep = 0
        # >=, not >: with one file per append the sweep must drain the
        # very check it fires on, or L0 would coast to ~2x the
        # threshold before the next sweep
        if len(self.files()) >= self.sweep_threshold:
            drain()

    def clear(self) -> None:
        """Drop the whole log (rebuild/truncate path) and reset the
        sweep counter."""
        fs, p = _hadoop_fs(self.spark, self.path)
        if fs.exists(p):
            fs.delete(p, True)
        self._appends_since_sweep = 0

    def reset_counter(self) -> None:
        self._appends_since_sweep = 0
