"""CDC core: envelope projection, last-writer-wins dedup, merge engine,
truncate barrier (SURVEY.md §2.4 G1-G5, G8)."""

from etl_stream_spark.cdc.dedup import last_writer_wins, last_writer_wins_agg
from etl_stream_spark.cdc.scd2 import Scd2Table
from etl_stream_spark.cdc.join_view import IncrementalJoinView
from etl_stream_spark.cdc.envelope import (
    OP_DELETE,
    OP_INSERT,
    OP_TRUNCATE,
    OP_UPDATE,
    make_sequence,
    with_cdc_metadata,
)
from etl_stream_spark.cdc.merge import ParquetMergeTable
from etl_stream_spark.cdc.rollup import IncrementalRollup
from etl_stream_spark.cdc.pipeline import (
    CdcBatchApplier,
    CdcTableConfig,
    LandingTable,
    MergeTask,
    apply_with_truncate_barrier,
)

__all__ = [
    "OP_DELETE",
    "OP_INSERT",
    "OP_TRUNCATE",
    "OP_UPDATE",
    "CdcBatchApplier",
    "CdcTableConfig",
    "IncrementalRollup",
    "LandingTable",
    "MergeTask",
    "ParquetMergeTable",
    "apply_with_truncate_barrier",
    "last_writer_wins",
    "last_writer_wins_agg",
    "Scd2Table",
    "IncrementalJoinView",
    "make_sequence",
    "with_cdc_metadata",
]
