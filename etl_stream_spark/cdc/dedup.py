"""Last-writer-wins dedup (G3) — the reference's single window function.

``ROW_NUMBER() OVER (PARTITION BY <pk...> ORDER BY sequence DESC)`` keep
rank 1 (``etl-snowflake-py/etl_snowflake/task.py:168-177``).

Scale notes:

* The window shuffles once on the PK; the aggregation form
  (:func:`last_writer_wins_agg`, the merge engine's resolution)
  pre-reduces each map task to one candidate per key before its
  shuffle.
* ``row_number`` needs no frame buffering (rank-only), so the state per
  key is O(1); skewed PKs are impossible by definition (PK ~ unique),
  skew can only come from *hot updating keys*, which is exactly the case
  where keeping one row per key shrinks data the most.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_stream_spark.cdc.envelope import SEQUENCE_COL

DEDUPE_RANK_COL = "_dedupe_id"


def content_tie_break(columns: Sequence[str]) -> F.Column:
    """Deterministic order among equal sequences: md5 over all columns.

    md5 (not xxhash64) because the repo's hashing convention is
    engine-portable md5, so a DuckDB oracle CAN mirror the tie-break:
    ``md5(concat_ws(chr(31), COALESCE(CAST(c AS VARCHAR), chr(0)), …))``.
    The null sentinel keeps ("a", NULL) and (NULL, "a") distinct. Shared
    by both LWW forms and the SCD2 within-batch ordering — one
    definition, or replayed-batch determinism would silently diverge.
    """
    parts = [F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in columns]
    return F.md5(F.concat_ws("\x1f", *parts))


def last_writer_wins(
    df: DataFrame,
    keys: Sequence[str],
    seq_col: str = SEQUENCE_COL,
    tie_break: F.Column | None = None,
) -> DataFrame:
    """Keep only the highest-sequence row per key.

    Sequences are unique per key by construction (µs-epoch + row index,
    or LSN) — but at-least-once redelivery CAN collide on an identical
    sequence with a different body, and ``row_number`` with a tied sort
    key picks by partition-internal order: nondeterministic across runs.
    A content hash over all non-window columns breaks ties
    deterministically (repo rule: explicit tie-breaks under every
    row_number), so replaying the same batch always installs the same
    survivor. Callers that must agree on the survivor with a DIFFERENT
    physical shape of the same rows pass an explicit ``tie_break``
    column computed over the shared logical shape.
    """
    if not keys:
        raise ValueError("last_writer_wins requires at least one key column")
    if tie_break is None:
        tie_break = content_tie_break(df.columns)
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(
        F.col(seq_col).desc(), tie_break.desc()
    )
    ranked = df.withColumn(DEDUPE_RANK_COL, F.row_number().over(w))
    return ranked.filter(F.col(DEDUPE_RANK_COL) == 1).drop(DEDUPE_RANK_COL)


def last_writer_wins_agg(
    df: DataFrame,
    keys: Sequence[str],
    seq_col: str = SEQUENCE_COL,
    tie_break: F.Column | None = None,
) -> DataFrame:
    """Aggregation-based LWW: picks the same survivor as
    :func:`last_writer_wins` (same sequence ordering, same md5
    tie-break), expressed as ``max`` over a ``(seq, tie, row)`` struct.

    Why a second form: ``max`` is partial-aggregatable, so each map
    task pre-reduces to one candidate per key and the shuffle carries
    ~|keys| rows instead of the whole log — the right plan for full-log
    replays (time travel, final-state reconstruction) where the input
    is every event ever written, and for the merge engine, which
    resolves a batch together with the touched buckets' state
    (``cdc/merge.py::ParquetMergeTable._resolve``).

    Struct comparison is field-by-field, so ``max`` orders by sequence
    first and the tie-break hash second — exactly the window's
    ``ORDER BY seq DESC, tie DESC`` with rank 1.
    """
    if not keys:
        raise ValueError("last_writer_wins_agg requires at least one key column")
    if tie_break is None:
        tie_break = content_tie_break(df.columns)
    packed = F.struct(
        F.col(seq_col).alias("_seq"),
        tie_break.alias("_tie"),
        F.struct(*[F.col(c) for c in df.columns]).alias("_row"),
    )
    return (
        df.groupBy(*[F.col(k) for k in keys])
        .agg(F.max(packed).alias("_w"))
        .select("_w._row.*")
    )
