"""Small-file compaction for append-heavy parquet tables.

Streaming appends (the landing table, K1) produce one file per
micro-batch per partition; at a 5-second trigger that is ~17k files a
day per pipeline — metadata pressure and tiny-scan overhead long before
data volume matters. Compaction rewrites a directory to
``ceil(bytes/target)`` files. On Delta/Iceberg this is ``OPTIMIZE`` /
``rewrite_data_files``; this parquet implementation keeps the same
public surface for the bucketed-parquet deployment, with a
write-then-swap so readers never observe a half-written directory
(POSIX rename; on object stores use the table format's transaction).
"""

from __future__ import annotations

import math
import os
import shutil
import uuid
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import SparkSession

from etl_stream_spark.l0_log import partition_cols_of

DEFAULT_TARGET_BYTES = 128 * 1024 * 1024
#: bin jobs of one :func:`compact_clustered` in flight at once: enough to
#: hide per-job scheduling constants, few enough not to starve a shared
#: scheduler
MAX_PARALLEL_BINS = 8


def parquet_files(path: str) -> list[tuple[str, int]]:
    """(file, bytes) for every parquet part under ``path`` (driver-side
    bounded metadata — one listing, no data read)."""
    out = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                full = os.path.join(root, f)
                out.append((full, os.path.getsize(full)))
    return out


def plan_bins(files: list[tuple[str, int]], target_bytes: int) -> list[list[str]]:
    """Greedy bin-packing of CONSECUTIVE (filename-ordered) files up to
    ``target_bytes`` per bin. Consecutive-only packing is what keeps a
    clustered layout clustered: Spark writers emit part files in
    partition order, so after a sort or a
    :func:`~etl_stream_spark.plans.zorder.write_zordered` range
    partition, filename order IS key order and each bin concatenates
    ADJACENT key ranges. A file already at/over target stays alone."""
    bins: list[list[str]] = []
    cur: list[str] = []
    cur_bytes = 0
    for fpath, size in sorted(files):
        if cur and cur_bytes + size > target_bytes:
            bins.append(cur)
            cur, cur_bytes = [], 0
        cur.append(fpath)
        cur_bytes += size
        if cur_bytes >= target_bytes:
            bins.append(cur)
            cur, cur_bytes = [], 0
    if cur:
        bins.append(cur)
    return bins


def _require_unpartitioned(path: str, files: list[tuple[str, int]], op: str) -> None:
    """Refuse to flatten a Hive-partitioned layout: partition-column
    VALUES live only in the directory names, so a whole-directory
    rewrite that stages outputs flat would silently drop (or
    NULL-infer) those columns for every future read.
    ``l0_log.py::ParquetLog.delete_rows`` preserves the layout per
    file set; the whole-directory compactors below do not — route partitioned
    tables through per-partition calls instead (one call per leaf
    directory keeps the dirname, and bin locality, intact)."""
    for fpath, _b in files:
        pcols = partition_cols_of(path, fpath)
        if pcols:
            raise ValueError(
                f"{op}: {path!r} is Hive-partitioned on {pcols} "
                f"(e.g. {fpath!r}); compact each leaf partition "
                "directory separately — a flat rewrite would lose the "
                "partition-column values stored in the directory names"
            )


def compact_clustered(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = DEFAULT_TARGET_BYTES,
) -> dict:
    """LOCALITY-PRESERVING compaction: bin-pack consecutive files.

    :func:`compact_parquet`'s plain ``coalesce`` rewrite is right for
    an unclustered landing table but wrong for a sorted or z-ordered
    layout — Spark orders read splits by SIZE (descending), so the
    coalesce groups mix non-adjacent key ranges and every compacted
    file's min/max balloons toward the full domain, killing manifest
    pruning. Here each output file is the concatenation of
    filename-consecutive inputs (Delta OPTIMIZE's bin-packing over an
    already-clustered table), so per-file spans stay the union of
    ADJACENT hyper-rectangles and ``plans/file_index.py`` keeps
    skipping after the rewrite — measured in ``tests/test_compaction``.

    One Spark job per multi-file bin (bounded by file count — the
    maintenance path pays jobs so the hot path opens fewer files);
    single-file bins are copied byte-for-byte. The bins are
    INDEPENDENT (disjoint input files, disjoint staged outputs), so
    the jobs are submitted from a small thread pool rather than
    sequentially — each bin job is a tiny coalesce(1) write whose wall
    time is dominated by per-job scheduling constants, and Spark's
    FIFO scheduler back-fills idle cores with the next bin's tasks
    (each job caps its own threads; a handful in flight is enough to
    hide the constants without starving a shared cluster). The new
    layout stages in a sibling directory while the original stays
    COMPLETE, then swaps in by rename (crash before the swap leaves
    readers untouched; the two-rename swap window is the
    table-format-metadata seam, as for :func:`compact_parquet`)."""
    files = parquet_files(path)
    _require_unpartitioned(path, files, "compact_clustered")
    bins = plan_bins(files, target_file_bytes)
    if len(bins) >= len(files):
        return {
            "files_before": len(files),
            "files_after": len(files),
            "rewritten": 0,
            "skipped": True,
        }
    schema = spark.read.parquet(path).schema
    stage = f"{path.rstrip('/')}_compact_{uuid.uuid4().hex[:8]}"
    os.makedirs(stage)

    def _pack(job: tuple[int, list[str]]) -> int:
        i, bin_files = job
        if len(bin_files) == 1:
            shutil.copy2(bin_files[0], os.path.join(stage, f"part-{i:05d}-kept.parquet"))
            return 0
        tmp = os.path.join(stage, f"_bin{i:05d}")
        (
            spark.read.schema(schema)
            .parquet(*bin_files)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(tmp)
        )
        for f in os.listdir(tmp):
            if f.endswith(".parquet") and not f.startswith("_"):
                os.rename(
                    os.path.join(tmp, f),
                    os.path.join(stage, f"part-{i:05d}-packed.parquet"),
                )
        shutil.rmtree(tmp)
        return 1

    with ThreadPoolExecutor(max_workers=min(MAX_PARALLEL_BINS, len(bins))) as pool:
        rewritten = sum(pool.map(_pack, enumerate(bins)))
    old = f"{stage}_old"
    os.rename(path, old)
    os.rename(stage, path)
    shutil.rmtree(old)
    return {
        "files_before": len(files),
        "files_after": len(bins),
        "rewritten": rewritten,
        "skipped": False,
    }


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = DEFAULT_TARGET_BYTES,
    min_files: int = 2,
) -> dict:
    """Rewrite ``path`` into ``ceil(total_bytes / target)`` files.

    No-op (and no rewrite amplification) when the directory already has
    fewer than ``min_files`` files or one file would not shrink the
    count. Returns a summary dict; the rewrite is a plain scan +
    repartition — one shuffle-free coalesce when shrinking.
    """
    files = parquet_files(path)
    _require_unpartitioned(path, files, "compact_parquet")
    total = sum(b for _f, b in files)
    n_target = max(1, math.ceil(total / target_file_bytes))
    if len(files) < min_files or n_target >= len(files):
        return {
            "files_before": len(files),
            "files_after": len(files),
            "bytes": total,
            "skipped": True,
        }

    df = spark.read.parquet(path)
    tmp = f"{path.rstrip('/')}_compact_{uuid.uuid4().hex[:8]}"
    # coalesce, not repartition: shrinking file counts needs no shuffle
    df.coalesce(n_target).write.mode("overwrite").parquet(tmp)
    old = f"{tmp}_old"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return {
        "files_before": len(files),
        "files_after": len(parquet_files(path)),
        "bytes": total,
        "skipped": False,
    }
