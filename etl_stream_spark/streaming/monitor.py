"""Lag/size monitoring (S6/G7 analog).

The reference polls ``SELECT sum(size) FROM pg_ls_waldir()`` per source
(``src/wal_monitor.rs:326-342``) to feed the alert state machine. The
Spark-native signals are (a) the same aggregation over any
(source, size) table and (b) ``StreamingQueryProgress`` — rows/sec,
batch durations, state size — which
``streaming/progress.py::ProgressMetricsListener`` exports.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BYTES_PER_MB = 1024 * 1024


def wal_size_mb(
    sizes: DataFrame, source_col: str = "source", size_col: str = "size_bytes"
) -> DataFrame:
    """``sum(size)::bigint / 1 MB`` per source (``wal_monitor.rs:326-342``).
    Partial (map-side) aggregation; shuffles one row per source."""
    return sizes.groupBy(source_col).agg(
        (F.sum(size_col) / F.lit(BYTES_PER_MB)).alias("wal_size_mb")
    )
