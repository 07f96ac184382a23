"""Schema evolution (§2.8 schema drift): new-column detection + merge.

Reference behavior: when incoming rows carry unseen columns, ALTER TABLE
ADD COLUMN (nullable) on landing+target and recreate the merge task
(``etl-snowflake-py/etl_snowflake/client.py:945-981``,
``ddl.py:412-441``). On parquet the ALTER is the typed schema the merge
engine (``cdc/merge.py``) keeps beside its files: :func:`evolve_struct`
widens it, and every read passes it, so old files read NULL for columns
added after them.
"""

from __future__ import annotations

from pyspark.sql import types as T

#: integral types in widening order
_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


def detect_new_columns(existing: T.StructType, incoming: T.StructType) -> list[T.StructField]:
    """Columns in ``incoming`` absent from ``existing`` (order kept) —
    the set math at ``client.py:945-981``. Case-insensitive match, as
    warehouse identifiers are."""
    have = {f.name.lower() for f in existing.fields}
    return [f for f in incoming.fields if f.name.lower() not in have]


def _nullable(dt: T.DataType) -> T.DataType:
    """``dt`` with every nested field, element and value nullable, as a
    parquet read returns it — so stored types compare on type alone."""
    if isinstance(dt, T.StructType):
        return T.StructType([T.StructField(f.name, _nullable(f.dataType)) for f in dt])
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable(dt.elementType))
    if isinstance(dt, T.MapType):
        return T.MapType(_nullable(dt.keyType), _nullable(dt.valueType))
    return dt


def _widens(old: T.DataType, new: T.DataType) -> bool:
    """Whether Spark's parquet readers read files holding ``old`` as
    ``new`` without loss: up the integral chain, int-or-narrower or
    float to double, decimal gaining integer digits and scale."""
    if isinstance(old, _INTEGRAL) and isinstance(new, _INTEGRAL):
        return _INTEGRAL.index(type(old)) < _INTEGRAL.index(type(new))
    if isinstance(new, T.DoubleType):
        return isinstance(old, (T.FloatType, *_INTEGRAL[:3]))
    both_decimal = isinstance(old, T.DecimalType) and isinstance(new, T.DecimalType)
    return both_decimal and 0 <= new.scale - old.scale <= new.precision - old.precision


def evolve_struct(existing: T.StructType, incoming: T.StructType) -> T.StructType:
    """The nullable schema a table holds after storing ``incoming`` over
    ``existing`` (names match case-insensitively and keep their stored
    spelling). A new column is appended (the ADD COLUMN path,
    ``ddl.py:412-441``) unless it is void (``F.lit(None)``): there is no
    type to store. A stored column keeps its type when the incoming one
    is void, equal or narrower (the writer casts it up), and widens when
    the reader can read the old files as the wider type. Any other type
    change raises ``ValueError``."""
    fields = [T.StructField(f.name, _nullable(f.dataType)) for f in existing]
    at = {f.name.lower(): i for i, f in enumerate(fields)}
    for f in incoming:
        i, new = at.get(f.name.lower()), _nullable(f.dataType)
        if i is None or isinstance(new, T.NullType):
            continue
        old = fields[i].dataType
        if old == new or _widens(new, old):
            continue
        if not _widens(old, new):
            raise ValueError(
                f"column {fields[i].name!r} is stored as {old.simpleString()}, "
                f"not {new.simpleString()}"
            )
        fields[i] = T.StructField(fields[i].name, new)
    added = [
        T.StructField(f.name, _nullable(f.dataType))
        for f in detect_new_columns(existing, incoming)
        if not isinstance(f.dataType, T.NullType)
    ]
    return T.StructType(fields + added)
