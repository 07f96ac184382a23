"""CDC envelope: metadata columns and sequences.

Reference parity (SURVEY.md §1.3, §2.3):

* metadata columns OPERATION/SEQUENCE/TIMESTAMP appended to every landing
  row (``etl-snowflake-py/etl_snowflake/client.py:598-609``,
  ``ddl.py:337-344``);
* DELETE events carry the *old* row — PK-only when the source lacks
  REPLICA IDENTITY FULL — so landing columns are all-nullable and the
  merge DELETE branch matches on PK alone
  (``src/destination/snowflake_destination.rs:1675-1695``); the
  before-image projection is part of
  ``sources/envelope_decode.py::decode_cdc_json``;
* sequence strings are ``<µs-epoch>_<row-index:08d>`` — equal-length,
  zero-padded, so lexicographic order == event order
  (``client.py:598-604``; SURVEY §7.3 risk 1).

All projections are single ``select``/``withColumn`` passes — narrow
transformations, no shuffle, fully codegen'd by Catalyst.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

OP_INSERT = "INSERT"
OP_UPDATE = "UPDATE"
OP_DELETE = "DELETE"
OP_TRUNCATE = "TRUNCATE"

#: Metadata column names (Snowflake-landing spelling of the reference).
OPERATION_COL = "operation"
SEQUENCE_COL = "sequence"
TIMESTAMP_COL = "cdc_timestamp"

SEQ_INDEX_WIDTH = 8  # zero-pad width of the per-batch row index


def make_sequence(epoch_us: int, index: int) -> str:
    """``<µs-epoch>_<index:08d>`` — totally ordered under string compare
    for indexes < 10^8 per microsecond (reference format)."""
    return f"{epoch_us}_{index:0{SEQ_INDEX_WIDTH}d}"


def sequence_expr(epoch_us_col: Column, index_col: Column) -> Column:
    """Column-level version of :func:`make_sequence` (stays JVM-side)."""
    return F.concat_ws(
        "_", epoch_us_col.cast("string"), F.lpad(index_col.cast("string"), SEQ_INDEX_WIDTH, "0")
    )


def with_cdc_metadata(
    df: DataFrame,
    operation: Column | str,
    sequence: Column | str,
    timestamp: Column | None = None,
) -> DataFrame:
    """Append the three CDC metadata columns (P2)."""
    op_col = F.col(operation) if isinstance(operation, str) else operation
    seq_col = F.col(sequence) if isinstance(sequence, str) else sequence
    ts_col = timestamp if timestamp is not None else F.current_timestamp()
    return (
        df.withColumn(OPERATION_COL, op_col)
        .withColumn(SEQUENCE_COL, seq_col)
        .withColumn(TIMESTAMP_COL, ts_col)
    )
