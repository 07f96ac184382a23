"""CDC envelope decoding (S1): raw JSON change events → typed envelope.

The reference consumes decoded Postgres logical-replication events from
the external ``etl`` crate (``Cargo.toml:11``; flow at
``docs/data_flow.md:5-15``). The Spark-native source is any stream of
Debezium-style JSON records — Kafka ``value`` bytes or files — decoded
declaratively with ``from_json`` so Catalyst prunes unused payload
fields at the scan.

Envelope convention (Debezium pgoutput spelling):

    {"op": "c|r|u|d|t", "ts_ms": ..., "before": {...}, "after": {...},
     "source": {"lsn": ..., "table": ..., "schema": ...}}

``op`` codes map to the reference's operation vocabulary (insert/read
snapshot → INSERT, matching ``write_table_rows`` treating snapshot rows
as upserts, ``etl-destination/src/bigquery/core.rs:502-553``). The
sequence is LSN-derived (``bigquery/core.rs:574-606``), zero-padded so
lexicographic order == commit order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from etl_stream_spark.cdc.envelope import (
    OP_DELETE,
    OP_INSERT,
    OP_TRUNCATE,
    OP_UPDATE,
)

#: Debezium op-code → reference operation vocabulary.
_OP_MAP = {"c": OP_INSERT, "r": OP_INSERT, "u": OP_UPDATE, "d": OP_DELETE, "t": OP_TRUNCATE}


def cdc_envelope_schema(payload_schema: T.StructType) -> T.StructType:
    """Envelope StructType for ``from_json`` given the table's row type."""
    return T.StructType(
        [
            T.StructField("op", T.StringType()),
            T.StructField("ts_ms", T.LongType()),
            T.StructField("before", payload_schema),
            T.StructField("after", payload_schema),
            T.StructField(
                "source",
                T.StructType(
                    [
                        T.StructField("lsn", T.LongType()),
                        T.StructField("table", T.StringType()),
                        T.StructField("schema", T.StringType()),
                    ]
                ),
            ),
        ]
    )


def decode_cdc_json(
    raw: DataFrame,
    payload_schema: T.StructType,
    value_col: str = "value",
) -> DataFrame:
    """Decode a stream of raw JSON envelopes into flattened CDC rows with
    ``table``/``operation``/``sequence``/``cdc_timestamp`` metadata plus
    the payload columns (DELETE rows read the *before* image, P3).

    Exactly TWO projections and one filter — no shuffle; works
    identically on batch and streaming DataFrames. Malformed JSON rows
    decode to null ops and are dropped (TRY-parse semantics).

    Plan-construction cost is part of this function's contract: it runs
    once per MICRO-BATCH inside foreachBatch, and the previous
    withColumn-chain form (which called ``df.columns`` to flatten the
    payload, forcing a driver-side analysis mid-construction) measured
    ~330 ms of pure driver work per 10k-row batch — ~45% of the whole
    decode stage (round-9 probe). The envelope struct is
    bound to a column in its own projection so the JSON parse runs once
    per row (CollapseProject does not inline a non-cheap multi-ref
    alias — the round-8 tokenize-once rule); the payload fields come
    from ``payload_schema`` directly, never from ``df.columns``. Every
    field name and metadata value is escaped into the SQL strings, so
    this one plan serves any schema."""
    parse, flt, sel = _decode_exprs(payload_schema, value_col)
    return raw.selectExpr(parse).filter(flt).selectExpr(*sel)


def _sql_string(text: str) -> str:
    """``text`` as a Spark SQL string literal (backslash escapes are on
    by default, so both the backslash and the quote are escaped)."""
    return "'" + text.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _sql_ident(name: str) -> str:
    """``name`` as a backtick-quoted Spark SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


#: (payload_schema.json(), value_col) → prepared SQL expression strings.
#: Bounded by the number of distinct table schemas a process decodes.
_DECODE_EXPR_CACHE: dict = {}


def _decode_exprs(
    payload_schema: T.StructType, value_col: str
) -> tuple[str, str, list[str]]:
    """Compose (and cache) the decode plan as SQL strings. Column-object
    composition cost ~550 py4j socket roundtrips per call (measured
    ~200 ms); three ``selectExpr``/``filter`` string calls cost four.
    The strings are pure functions of the payload schema, so the cache
    key is the schema's JSON form (also what ``from_json`` is handed —
    JSON survives any field name that JSON itself can encode, and the
    literal and identifier escaping carries it into SQL unchanged)."""
    from etl_stream_spark.cdc.envelope import (
        OPERATION_COL,
        SEQUENCE_COL,
        TIMESTAMP_COL,
    )
    from etl_stream_spark.functions.sequences import _LSN_HEX_WIDTH

    key = (payload_schema.json(), value_col)
    got = _DECODE_EXPR_CACHE.get(key)
    if got is not None:
        return got
    schema_str = cdc_envelope_schema(payload_schema).json()
    parse = (
        f"from_json(cast({_sql_ident(value_col)} as string), "
        f"{_sql_string(schema_str)}) AS e"
    )
    codes = ", ".join(f"'{c}'" for c in _OP_MAP)
    # NULL op fails IN too, so one filter covers both legacy filters
    # (op non-null AND op maps to a known operation)
    flt = f"e.op IN ({codes})"
    mapped = (
        "CASE "
        + " ".join(f"WHEN e.op = '{c}' THEN '{n}'" for c, n in _OP_MAP.items())
        + " END"
    )

    # NB: this is the SQL spelling of functions/sequences.py::
    # lsn_sequence_expr and MUST stay in lockstep with it — decoded
    # sequences are compared lexicographically against every other
    # producer's during merges. Drift is pinned by
    # test_sources.py::test_decode_sequence_matches_canonical_format.
    def hex16(x: str) -> str:
        return f"lpad(lower(conv(cast({x} as string), 10, 16)), {_LSN_HEX_WIDTH}, '0')"

    seq = f"concat_ws('/', {hex16('e.source.lsn')}, {hex16('e.source.lsn')})"
    payload = "(CASE WHEN e.op = 'd' THEN e.before ELSE e.after END)"
    sel = [
        "e.source.table AS `table`",
        f"{mapped} AS `{OPERATION_COL}`",
        f"{seq} AS `{SEQUENCE_COL}`",
        f"timestamp_millis(e.ts_ms) AS `{TIMESTAMP_COL}`",
        *[
            f"{payload}.{_sql_ident(f)} AS {_sql_ident(f)}"
            for f in payload_schema.fieldNames()
        ],
    ]
    got = (parse, flt, sel)
    _DECODE_EXPR_CACHE[key] = got
    return got


def decode_cdc_json_with_dlq(
    raw: DataFrame,
    payload_schema: T.StructType,
    value_col: str = "value",
) -> tuple[DataFrame, DataFrame]:
    """Like :func:`decode_cdc_json`, but malformed envelopes are routed
    to a dead-letter DataFrame instead of silently dropped.

    Returns ``(decoded, dead_letters)``; the dead-letter side carries
    the raw value plus the failure reason. Both are projections of the
    same input, so on a stream each can feed its own sink (the DLQ is
    an append-only audit table — the reference logs-and-skips,
    losing the rows; SURVEY §2.3 P1).
    """
    parse, flt, sel = _decode_exprs(payload_schema, value_col)
    value = f"cast({_sql_ident(value_col)} as string)"
    # the same bound envelope ``e`` feeds both sides, so a good row's
    # JSON is parsed once, as in decode_cdc_json. from_json is
    # PERMISSIVE: malformed input yields an all-null struct, not NULL —
    # try_parse_json tells truly unparseable bytes apart
    bound = raw.selectExpr(
        parse,
        f"{value} AS raw_value",
        f"try_parse_json({value}) IS NOT NULL AS _json_ok",
    )
    ok = f"_json_ok AND coalesce({flt}, false)"
    bad = bound.filter(f"NOT ({ok})").selectExpr(
        "raw_value",
        "CASE WHEN NOT _json_ok THEN 'unparseable_json' "
        "WHEN e.op IS NULL THEN 'missing_op' ELSE 'unknown_op' END AS reason",
    )
    return bound.filter(ok).selectExpr(*sel), bad
