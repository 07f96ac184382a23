"""The L0 append-log recipe, extracted once for every store that uses it.

Pattern (proven on the merge table, the postings index, and the IVF id
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

This module owns the list/sweep/drain bookkeeping — the two private
copies it replaced had already diverged once (the same sweep-gate fix
had to be applied to both); the drain itself stays with each store
because what "folding into the layout" means is store-specific.

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

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


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


class L0AppendLog:
    """One flat parquet directory of un-drained append batches plus the
    counter-gated sweep that decides when to drain it.

    The owner supplies the drain (store-specific fold into the real
    layout) and the read-side collapse; this class owns listing,
    appending, the sweep gate, and file deletion — the machinery that
    must never diverge between stores."""

    def __init__(self, spark: SparkSession, path: str, sweep_threshold: int) -> None:
        self.spark = spark
        self.path = path.rstrip("/")
        self.sweep_threshold = sweep_threshold
        #: None until the first sweep check seeds it from the listing —
        #: the restart-resume behavior documented in the module header
        self._appends_since_sweep: int | None = None

    def files(self) -> list[str]:
        """Data files currently in the log — ONE listing RPC."""
        fs, _ = _hadoop_fs(self.spark, self.path)
        p = _hadoop_path(self.spark, self.path)
        if not fs.exists(p):
            return []
        return [
            st.getPath().toString()
            for st in fs.listStatus(p)
            if st.getPath().getName().endswith(".parquet")
        ]

    def append(self, df: DataFrame) -> None:
        """One shuffle-free append job — the L0 hot path."""
        df.write.mode("append").parquet(self.path)

    def read(self) -> DataFrame | None:
        """All un-drained rows (None when the log is empty). Bounded by
        the sweep cadence — at most ``sweep_threshold`` batches — so
        readers pay a small bounded scan, never a table scan."""
        files = self.files()
        if not files:
            return None
        return self.spark.read.parquet(*files)

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
        # very check it fires on, or L0 would coast to ~2x the bound
        # read() documents before the next sweep
        if len(self.files()) >= self.sweep_threshold:
            drain()

    def delete_files(self, files: list[str]) -> None:
        """Remove consumed files after a drain — the drain must have
        materialized (written or checkpointed) their contents first."""
        fs, _ = _hadoop_fs(self.spark, self.path)
        for f in files:
            fs.delete(_hadoop_path(self.spark, f), False)

    def clear(self) -> None:
        """Drop the whole log (rebuild/truncate path) and reset the
        sweep counter."""
        fs, p = _hadoop_fs(self.spark, self.path)
        if fs.exists(p):
            fs.delete(p, True)
        self._appends_since_sweep = 0

    def reset_counter(self) -> None:
        self._appends_since_sweep = 0
