"""Z-order (Morton-curve) clustering for multi-dimensional scan pruning.

A table sorted by ONE column prunes beautifully on that column and not
at all on any other. Interleaving the bits of two (or more) quantized
sort keys — the Morton curve — gives every participating column
locality: rows close in z-value are close in EVERY dimension, so
per-file/row-group min-max stats become selective for predicates on
any of them. This is the technique behind Delta's OPTIMIZE ZORDER and
Iceberg's z-ordering rewrite (public algorithm — Morton 1966),
re-expressed as plain Spark expressions:

* each key is quantized to ``bits`` integer levels over its min/max
  domain (one bounded 1-row aggregate — the same shape as the
  histogram/quantile entries);
* the z-value interleaves the quantized bits as a single BIGINT, pure
  JVM integer arithmetic (whole-stage codegen, no UDFs);
* :func:`write_zordered` range-partitions on the z-value and sorts
  within partitions before writing — every output file covers a small
  hyper-rectangle of the key space instead of a full-domain stripe.

At 100 TB this is a write-once cost (one shuffle, same as any sort)
paid to make every later multi-predicate scan prune at the file level;
``tests/test_zorder.py`` measures the span shrinkage on real parquet
footers, and ``plans/file_index.py`` reads through the pruned layout.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Catalyst's ``sizeInBytes`` for a plan it cannot size (Long.MaxValue).
_UNSIZED_ESTIMATE = (1 << 63) - 1

#: Column dtypes :func:`with_zvalue_n` accepts directly (cast to long).
_INTEGRAL_DTYPES = ("tinyint", "smallint", "int", "bigint")


def quantize(col: Column, lo: Column, hi: Column, bits: int) -> Column:
    """Map ``col`` in [lo, hi] onto ``2**bits`` integer levels —
    monotone exact integer arithmetic, engine-portable: identical to
    DuckDB's ``((x - lo) * 2^bits) // (hi - lo + 1)``.

    The numerator is computed in DECIMAL(38,0) with Spark's integral
    ``div``: a BIGINT intermediate would overflow (ANSI error) once
    ``span * 2^bits`` exceeds 2^63 — e.g. epoch-micro keys at 16 bits —
    and a float division can return q-1 on >2^53 numerators. The
    decimal product is bounded by ``2^63 * 2^bits < 2^126 < 10^38``
    for any long-typed input, so no domain can overflow it.
    """
    levels = F.lit(1 << bits).cast("decimal(38,0)")
    num = (col.cast("decimal(38,0)") - lo.cast("decimal(38,0)")) * levels
    span = hi.cast("decimal(38,0)") - lo.cast("decimal(38,0)") + F.lit(1)
    return F.call_function("div", num, span).cast("long")


def interleave_bits_n(cols: list[Column], bits: int) -> Column:
    """Morton z-value of n ``bits``-level quantized keys: column j's
    bit i lands at position ``i·n + j`` (round-robin interleave — the
    general form real ZORDER rewrites use for 2-4 clustered columns).
    Pure shift/mask arithmetic — identical SQL runs on DuckDB for the
    oracle. Requires ``n · bits ≤ 63`` to stay in a signed BIGINT."""
    n = len(cols)
    if n * bits > 63:
        raise ValueError(f"{n} cols x {bits} bits exceeds a signed 64-bit z-value")
    terms = []
    for j, c in enumerate(cols):
        for i in range(bits):
            terms.append(
                F.shiftleft(F.shiftrightunsigned(c, i).bitwiseAND(F.lit(1)), i * n + j)
            )
    return reduce(lambda a, b: a.bitwiseOR(b), terms).cast("long")


def interleave_bits(x: Column, y: Column, bits: int) -> Column:
    """Two-column Morton z-value: x's bit i at position 2i, y's at
    2i+1 (the n-ary round-robin specialized to n = 2)."""
    return interleave_bits_n([x, y], bits)


def _as_integral(df: DataFrame, c: str) -> Column:
    """``c`` as a long-typed z-order key: integral columns cast, a
    timestamp becomes epoch microseconds, a date becomes epoch days —
    anything else (float keys have no exact quantization contract,
    strings no numeric domain) raises, the ``operators/ranking.py``
    discipline."""
    dt = dict(df.dtypes)[c]
    if dt.startswith(_INTEGRAL_DTYPES):
        return F.col(c).cast("long")
    if dt.startswith("timestamp"):
        return F.unix_micros(F.col(c)).cast("long")
    if dt == "date":
        return F.datediff(F.col(c), F.lit("1970-01-01").cast("date")).cast("long")
    raise ValueError(f"z-order column {c!r} must be integral/timestamp/date, got {dt}")


def with_zvalue_n(
    df: DataFrame,
    cols: list[str],
    bits: int = 16,
    z_col: str = "_z",
    sever_bounds: bool = False,
) -> DataFrame:
    """Append the z-value of n columns (integral, timestamp, or date —
    each normalized to a long key), each quantized over its observed
    min/max (one bounded 1-row aggregate broadcast into the plan —
    never a driver-side action).

    ``sever_bounds`` lazily checkpoints that 1-row aggregate: a caller
    whose plan consumes the returned frame MORE THAN ONCE (the
    ``write_zordered`` range-sample + write passes) would otherwise
    re-aggregate the full input per consumer — at 100 TB an entire
    extra table scan (Spark does not reliably reuse identical
    exchanges across subtrees). Single-consumer callers keep the
    default: the sever only splits one job into two there. Bounds are
    exact deterministic min/max, so severed and in-plan forms quantize
    identically."""
    keys = {c: _as_integral(df, c) for c in cols}
    aggs = []
    for c in cols:
        aggs.append(F.min(keys[c]).alias(f"_z{c}_lo"))
        aggs.append(F.max(keys[c]).alias(f"_z{c}_hi"))
    bounds = df.agg(*aggs)
    if sever_bounds:
        bounds = bounds.localCheckpoint(eager=False)
    framed = df.crossJoin(F.broadcast(bounds))
    qs = [
        quantize(keys[c], F.col(f"_z{c}_lo"), F.col(f"_z{c}_hi"), bits)
        for c in cols
    ]
    drop = [f"_z{c}_{s}" for c in cols for s in ("lo", "hi")]
    return framed.withColumn(z_col, interleave_bits_n(qs, bits)).drop(*drop)


def with_zvalue(
    df: DataFrame, x_col: str, y_col: str, bits: int = 16, z_col: str = "_z"
) -> DataFrame:
    """Two-column :func:`with_zvalue_n`."""
    return with_zvalue_n(df, [x_col, y_col], bits, z_col)


def write_zordered(
    df: DataFrame,
    path: str,
    *cols: str,
    num_files: int = 32,
    bits: int | None = None,
    mode: str = "overwrite",
    target_file_bytes: int | None = None,
) -> None:
    """Persist ``df`` z-order-clustered on ``cols`` (n-ary — 2 to 4
    clustered columns is the common real case, e.g. date × customer ×
    part): range partition + local sort on the z-value, one file per
    partition — each output file covers a compact hyper-rectangle, so
    min-max file stats prune scans filtered on ANY clustered column.
    (Range boundaries are sampled per write; that affects file balance
    only, never content — the layout is a physical property, not a
    query answer.)

    ``bits`` defaults to ``min(16, 63 // len(cols))`` so every
    documented column count fits a signed-BIGINT z-value out of the
    box (4 columns → 15 bits); an explicit ``bits`` past that budget
    still raises in :func:`interleave_bits_n`.

    ``target_file_bytes`` sizes the layout by OUTPUT bytes instead of a
    fixed file count (the Iceberg ``write.target-file-size-bytes``
    lever, guide §6): ``num_files`` is derived from Catalyst's
    driver-side size estimate of ``df`` — for a plain parquet scan that
    estimate IS the input's on-disk byte sum, so parquet→parquet
    rewrites land near the target without any extra Spark job. It is an
    estimate (projection/compression shift real sizes by a small
    factor), a file-sizing knob, never a correctness one; an explicit
    ``num_files`` is ignored when the target is given. An input Catalyst
    cannot size (e.g. a frame over an RDD) raises ``ValueError``: pass
    ``num_files`` for it."""
    if len(cols) < 2:
        raise ValueError("write_zordered needs at least two clustering columns")
    if bits is None:
        bits = min(16, 63 // len(cols))
    if target_file_bytes is not None:
        if target_file_bytes <= 0:
            raise ValueError("target_file_bytes must be positive")
        # py4j hands back scala.math.BigInt — round-trip through str.
        est = int(
            str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
        if est == _UNSIZED_ESTIMATE:
            # an RDD-backed or otherwise unsized plan: any count derived
            # from the sentinel is the clamp, not a layout
            raise ValueError(
                "write_zordered: Catalyst has no size estimate for this "
                "input, so target_file_bytes cannot size the layout; "
                "pass num_files instead"
            )
        # clamp a join-inflated estimate: the count is a sizing knob
        num_files = max(1, min(-(-est // int(target_file_bytes)), 1 << 20))
    # sever_bounds: the range-sample pass and the write pass below each
    # consume z — without the sever both re-run the full-input bounds
    # aggregate (one extra whole-table pass per write at scale)
    z = with_zvalue_n(df, list(cols), bits, sever_bounds=True)
    (
        z.repartitionByRange(num_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode(mode)
        .parquet(path)
    )
