"""Z-order layout: the pruning property, measured on real parquet
footers — not asserted from theory. A date-sorted layout's files each
cover ~the FULL custkey domain (no pruning for customer predicates); a
z-ordered layout's files cover compact hyper-rectangles, so min-max
file stats prune on EITHER dimension."""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
import pyspark.sql.functions as F

from etl_stream_spark.plans.zorder import (
    interleave_bits,
    interleave_bits_n,
    quantize,
    with_zvalue,
    with_zvalue_n,
)
from etl_stream_spark.session import load_table


def _file_spans(path: str, col: str) -> list[tuple[int, int]]:
    spans = []
    for f in glob.glob(os.path.join(path, "*.parquet")):
        md = pq.ParquetFile(f).metadata
        idx = md.schema.names.index(col)
        lo = min(md.row_group(g).column(idx).statistics.min for g in range(md.num_row_groups))
        hi = max(md.row_group(g).column(idx).statistics.max for g in range(md.num_row_groups))
        spans.append((lo, hi))
    return spans


def _avg_span_frac(spans: list[tuple[int, int]]) -> float:
    los = [s[0] for s in spans]
    his = [s[1] for s in spans]
    domain = max(his) - min(los) or 1
    return sum(h - l for l, h in spans) / len(spans) / domain


def test_quantize_and_interleave_bounds(spark):
    df = spark.range(1000).select(
        F.col("id").alias("x"), (F.lit(999) - F.col("id")).alias("y")
    )
    z = with_zvalue(df, "x", "y", bits=16)
    row = z.agg(F.min("_z"), F.max("_z")).first()
    assert 0 <= row[0] <= row[1] < (1 << 32)
    # monotone in x when y fixed: quantized x bits occupy even positions
    fixed = spark.range(100).select(
        F.col("id").alias("x"), F.lit(0).alias("y")
    )
    vals = [
        r["_z"]
        for r in with_zvalue(fixed, "x", "y", bits=16).orderBy("x").collect()
    ]
    assert vals == sorted(vals)


def test_three_column_interleave_round_robin(spark):
    """n-ary Morton: with bits=2 and n=3 the positions are fully
    enumerable — check the exact bit layout and the 63-bit guard."""
    import pytest as _pytest

    df = spark.createDataFrame([(3, 0, 2)], "a long, b long, c long")
    z = df.select(
        interleave_bits_n([F.col("a"), F.col("b"), F.col("c")], 2).alias("z")
    ).first()["z"]
    # a=0b11 -> bits at 0 and 3; b=0b00 -> none; c=0b10 -> bit1 at 3*1+2=5
    assert z == (1 << 0) | (1 << 3) | (1 << 5)
    with _pytest.raises(ValueError, match="64-bit"):
        interleave_bits_n([F.col("a")] * 4, 16)
    # 3-col zvalue end-to-end: bounded and monotone in the first key
    wide = spark.range(200).select(
        F.col("id").alias("x"), (F.col("id") % 7).alias("y"),
        (F.col("id") % 13).alias("w"),
    )
    out = with_zvalue_n(wide, ["x", "y", "w"], bits=8)
    row = out.agg(F.min("_z"), F.max("_z")).first()
    assert 0 <= row[0] <= row[1] < (1 << 24)


def test_quantize_wide_domain_exact(spark):
    """Wide-domain regression: the old BIGINT numerator form errored
    (ANSI overflow) once span·2^bits passed 2^63 — epoch-micro keys —
    and its double division could return q-1 on >2^53 numerators. The
    decimal-backed `div` must be exact integer floor division on ANY
    long domain (the DuckDB `//` contract)."""
    lo, hi = 0, (1 << 50)
    xs = [0, 1, hi // 3, 2**40 + 12345, hi - 1, hi]
    df = spark.createDataFrame([(x,) for x in xs], "x long")
    out = df.select(
        "x", quantize(F.col("x"), F.lit(lo), F.lit(hi), 16).alias("q")
    ).collect()
    span = hi - lo + 1
    for r in out:
        assert r["q"] == (r["x"] - lo) * 65536 // span, r


def test_with_zvalue_timestamp_and_date_keys(spark):
    """Timestamp/date z-order keys normalize to epoch micros/days —
    monotone in the time key; non-numeric columns are rejected."""
    import pytest as _pytest

    df = spark.range(100).select(
        F.col("id").alias("k"),
        F.timestamp_micros(F.col("id") * 1_000_000_000).alias("ts"),
        F.date_add(F.lit("2020-01-01").cast("date"), F.col("id").cast("int")).alias("d"),
        F.lit("s").alias("s"),
    )
    out = with_zvalue_n(df.select("k", "ts"), ["ts", "k"], bits=8)
    vals = [r["_z"] for r in out.orderBy("ts").collect()]
    assert vals == sorted(vals) and len(set(vals)) > 50
    out2 = with_zvalue_n(df.select("k", "d"), ["d", "k"], bits=8)
    assert out2.count() == 100
    with _pytest.raises(ValueError, match="integral"):
        with_zvalue_n(df, ["s", "k"], bits=8)


def test_three_column_write_zordered_narrows_all_spans(spark, tmp_path):
    """n-ary layout: clustering on THREE columns leaves every file
    covering a fraction of EVERY clustered domain (vs a 1-d sort where
    two of the three are full-domain stripes)."""
    from etl_stream_spark.plans.zorder import write_zordered

    orders = load_table(spark, "/root/testdata/sf0.001", "orders").select(
        "o_orderkey",
        "o_custkey",
        F.datediff(
            F.col("o_orderdate").cast("date"), F.to_date(F.lit("1970-01-01"))
        ).cast("long").alias("day"),
    )
    zpath = str(tmp_path / "z3")
    write_zordered(
        orders, zpath, "o_custkey", "day", "o_orderkey", num_files=27, bits=8
    )
    fracs = {
        c: _avg_span_frac(_file_spans(zpath, c))
        for c in ("o_custkey", "day", "o_orderkey")
    }
    for c, frac in fracs.items():
        assert frac < 0.75, (c, fracs)
    # pure re-layout: byte-identical multiset of rows
    a = sorted(map(tuple, spark.read.parquet(zpath).collect()))
    b = sorted(map(tuple, orders.collect()))
    assert a == b
    # guard: fewer than two clustering columns is a usage error
    import pytest as _pytest

    with _pytest.raises(ValueError, match="two clustering"):
        write_zordered(orders, zpath, "o_custkey")


def test_zordered_files_prune_on_both_dimensions(spark, tmp_path):
    orders = load_table(spark, "/root/testdata/sf0.001", "orders").select(
        "o_custkey",
        F.datediff(
            F.col("o_orderdate").cast("date"), F.to_date(F.lit("1970-01-01"))
        ).cast("long").alias("day"),
    )

    from etl_stream_spark.plans.zorder import write_zordered

    zpath = str(tmp_path / "zorder")
    dpath = str(tmp_path / "bydate")
    write_zordered(orders, zpath, "o_custkey", "day", num_files=16)
    (
        orders.repartitionByRange(16, "day")
        .sortWithinPartitions("day")
        .write.mode("overwrite")
        .parquet(dpath)
    )

    z_cust = _avg_span_frac(_file_spans(zpath, "o_custkey"))
    z_day = _avg_span_frac(_file_spans(zpath, "day"))
    d_cust = _avg_span_frac(_file_spans(dpath, "o_custkey"))
    d_day = _avg_span_frac(_file_spans(dpath, "day"))

    # date-sorted: perfect on day, useless on custkey (~full domain)
    assert d_cust > 0.8
    # z-ordered: BOTH dimensions prune — each file covers a fraction of
    # each domain, and custkey locality beats the date layout by a lot
    assert z_cust < d_cust / 2, (z_cust, d_cust)
    assert z_day < 0.6, z_day
    # the z layout trades a little day locality for custkey locality —
    # the whole point — but must stay far better than no day locality
    assert z_day < d_cust

    # correctness: the rewrite is a pure re-layout
    a = sorted(map(tuple, spark.read.parquet(zpath).collect()))
    b = sorted(map(tuple, orders.collect()))
    assert a == b


def test_pruned_read_entry_layout_skips_files(spark, tmp_path):
    """The ``orders_pruned_read`` catalog entry's exact layout and
    slice (3-col z-order, 32 files, custkey 30-90 × day 9500-10200 at
    sf0.001) must read STRICTLY fewer files than the table holds while
    returning exactly the full-scan rows — the oracle proves no rows
    are lost; this pins that the manifest actually skips."""
    from etl_stream_spark.plans.file_index import pruned_files, read_pruned
    from etl_stream_spark.plans.file_index import build_index
    from etl_stream_spark.plans.zorder import write_zordered

    o = load_table(spark, "/root/testdata/sf0.001", "orders").select(
        "o_orderkey",
        "o_custkey",
        F.datediff(
            F.col("o_orderdate").cast("date"), F.to_date(F.lit("1970-01-01"))
        ).cast("long").alias("_day"),
    )
    zpath, ipath = str(tmp_path / "z"), str(tmp_path / "idx")
    write_zordered(o, zpath, "o_custkey", "_day", "o_orderkey", num_files=32, bits=16)
    build_index(spark, zpath, ["o_custkey", "_day"], ipath)
    ranges = {"o_custkey": (30, 90), "_day": (9500, 10200)}
    n_total = len(glob.glob(os.path.join(zpath, "*.parquet")))
    n_read = len(pruned_files(spark, ipath, ranges))
    assert 0 < n_read < n_total, (n_read, n_total)
    got = read_pruned(spark, zpath, ipath, ranges).filter(
        F.col("o_custkey").between(30, 90) & F.col("_day").between(9500, 10200)
    )
    want = spark.read.parquet(zpath).filter(
        F.col("o_custkey").between(30, 90) & F.col("_day").between(9500, 10200)
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert want.count() > 0


def test_manifest_prunes_files_on_both_dimensions(spark, tmp_path):
    """End-to-end file skipping: z-ordered layout + manifest index —
    a range predicate on EITHER clustered column must read a strict
    subset of the files and still return exactly the full-scan rows."""
    from etl_stream_spark.plans.file_index import (
        build_index,
        pruned_files,
        read_pruned,
    )
    from etl_stream_spark.plans.zorder import write_zordered

    orders = load_table(spark, "/root/testdata/sf0.001", "orders").select(
        "o_orderkey",
        "o_custkey",
        F.datediff(
            F.col("o_orderdate").cast("date"), F.to_date(F.lit("1970-01-01"))
        ).cast("long").alias("day"),
    )
    zpath = str(tmp_path / "z")
    ipath = str(tmp_path / "idx")
    write_zordered(orders, zpath, "o_custkey", "day", num_files=16)
    build_index(spark, zpath, ["o_custkey", "day"], ipath)

    n_files = len(glob.glob(os.path.join(zpath, "*.parquet")))
    stats = spark.read.parquet(zpath).agg(
        F.min("o_custkey"), F.max("o_custkey"), F.min("day"), F.max("day")
    ).first()
    c_lo = stats[0] + (stats[1] - stats[0]) // 3
    c_hi = stats[0] + (stats[1] - stats[0]) // 2
    d_lo = stats[2] + (stats[3] - stats[2]) // 3
    d_hi = stats[2] + (stats[3] - stats[2]) // 2

    for ranges, col, lo, hi in [
        ({"o_custkey": (c_lo, c_hi)}, "o_custkey", c_lo, c_hi),
        ({"day": (d_lo, d_hi)}, "day", d_lo, d_hi),
        ({"o_custkey": (c_lo, c_hi), "day": (d_lo, d_hi)}, None, None, None),
    ]:
        files = pruned_files(spark, ipath, ranges)
        assert 0 < len(files) < n_files, (ranges, len(files), n_files)
        got = read_pruned(spark, zpath, ipath, ranges)
        want = spark.read.parquet(zpath)
        for c, (rlo, rhi) in ranges.items():
            got = got.filter(F.col(c).between(rlo, rhi))
            want = want.filter(F.col(c).between(rlo, rhi))
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        ) and want.count() > 0

    # empty intersection → empty frame with the table schema, no files
    none = read_pruned(spark, zpath, ipath, {"o_custkey": (10**12, None)})
    assert none.count() == 0 and none.schema == spark.read.parquet(zpath).schema


def test_build_index_footer_path_matches_distributed_pass(spark, tmp_path):
    """r8: ``build_index`` lifts per-file min/max straight from parquet
    FOOTERS (driver-side, bounded by file count) instead of a full
    distributed data pass. Pin (a) the fast path fires for integral
    columns and its manifest is ROW-IDENTICAL to the distributed
    pass's, and (b) a column whose footer stats are untrusted (double)
    falls back to the distributed pass rather than mis-indexing."""
    from etl_stream_spark.plans.file_index import _footer_stats, build_index

    orders = load_table(spark, "/root/testdata/sf0.001", "orders").select(
        "o_orderkey",
        "o_custkey",
        F.col("o_totalprice").cast("double").alias("price"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.to_date(F.lit("1970-01-01"))
        ).cast("long").alias("day"),
    )
    path = str(tmp_path / "t")
    orders.repartition(8).write.parquet(path)

    # (a) footer fast path fires and matches the distributed aggregate
    cols = ["o_custkey", "day"]
    assert _footer_stats(path, cols) is not None
    build_index(spark, path, cols, str(tmp_path / "idx_footer"))
    fast = spark.read.parquet(str(tmp_path / "idx_footer"))
    want = (
        spark.read.parquet(path)
        .groupBy(F.input_file_name().alias("file"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("o_custkey").alias("min_o_custkey"),
            F.max("o_custkey").alias("max_o_custkey"),
            F.min("day").alias("min_day"),
            F.max("day").alias("max_day"),
        )
    )
    assert fast.count() == 8
    assert sorted(map(tuple, fast.select(*want.columns).collect())) == sorted(
        map(tuple, want.collect())
    )
    # same names and types (nullability flags may differ between the
    # agg plan and createDataFrame — pruned_files treats both alike)
    assert [(f.name, f.dataType) for f in fast.select(*want.columns).schema] == [
        (f.name, f.dataType) for f in want.schema
    ]

    # (b) double column → no trusted footer stats → distributed fallback
    assert _footer_stats(path, ["price"]) is None
    build_index(spark, path, ["price"], str(tmp_path / "idx_fb"))
    fb = spark.read.parquet(str(tmp_path / "idx_fb"))
    assert fb.count() == 8 and {"min_price", "max_price"} <= set(fb.columns)


def test_manifest_driver_side_read_and_schema_stamp(spark, tmp_path):
    """r8 (optimization round): the manifest is read DRIVER-SIDE
    (pyarrow, zero Spark jobs per query) and the footer-built manifest
    carries the base table's Spark schema in its KV metadata so
    ``read_pruned`` never re-opens the base table's footers. Pin:
    (a) the schema stamp exists and round-trips to exactly the
    Spark-inferred schema, on BOTH the pruned and the empty path;
    (b) the driver-side pruning decision is row-identical to the SQL
    interval filter it replaced, on BOTH manifest shapes (footer-built
    single file, Spark-written fallback directory with _SUCCESS);
    (c) NULL stats prune exactly like SQL NULL comparisons."""
    import pyarrow.parquet as pq_

    from etl_stream_spark.plans.file_index import (
        _SCHEMA_KEY,
        _survives,
        build_index,
        pruned_files,
        read_pruned,
    )

    orders = load_table(spark, "/root/testdata/sf0.001", "orders").select(
        "o_orderkey",
        "o_custkey",
        F.col("o_totalprice").cast("double").alias("price"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.to_date(F.lit("1970-01-01"))
        ).cast("long").alias("day"),
    )
    path = str(tmp_path / "t")
    orders.repartition(8).write.parquet(path)

    # (a) footer-built manifest stamps the Spark schema
    ipath = str(tmp_path / "idx")
    build_index(spark, path, ["o_custkey", "day"], ipath)
    meta = pq_.read_table(ipath).schema.metadata
    assert meta is not None and _SCHEMA_KEY in meta
    base_schema = spark.read.parquet(path).schema
    assert meta[_SCHEMA_KEY].decode() == base_schema.json()
    ranges = {"o_custkey": (30, 90)}
    assert read_pruned(spark, path, ipath, ranges).schema == base_schema
    empty = read_pruned(spark, path, ipath, {"day": (10**12, None)})
    assert empty.schema == base_schema and empty.count() == 0

    # (b) driver-side pruning == the SQL interval filter, both shapes
    def spark_pruned(index_path, rngs):
        idx = spark.read.parquet(index_path)
        for c, (lo, hi) in rngs.items():
            if lo is not None:
                idx = idx.filter(F.col(f"max_{c}") >= lo)
            if hi is not None:
                idx = idx.filter(F.col(f"min_{c}") <= hi)
        return sorted(r["file"] for r in idx.select("file").collect())

    fpath = str(tmp_path / "idx_fb")
    build_index(spark, path, ["price"], fpath)  # double → Spark-written
    assert os.path.exists(os.path.join(fpath, "_SUCCESS"))
    for index_path, rngs in [
        (ipath, ranges),
        (ipath, {"o_custkey": (None, 50), "day": (9000, None)}),
        (fpath, {"price": (1000.0, 50000.0)}),
    ]:
        assert sorted(pruned_files(spark, index_path, rngs)) == spark_pruned(
            index_path, rngs
        ), rngs

    # (c) NULL stats are pruned when the column is bounded (SQL parity)
    assert not _survives({"max_x": None, "min_x": None}, {"x": (1, None)})
    assert not _survives({"max_x": 5, "min_x": None}, {"x": (1, 3)})
    assert _survives({"max_x": None, "min_x": None}, {})


def test_write_zordered_target_file_bytes_sizes_the_layout(spark, tmp_path):
    """The Iceberg-style ``target-file-size-bytes`` lever (r8 verdict
    item 6): ``num_files`` derives from the driver-side size estimate
    of the input — for a plain parquet scan, its on-disk byte sum — so
    parquet→parquet rewrites land near the target with no extra job.
    Pin the mechanics, not exact compression: file count equals
    ceil(input_bytes / target) of the SCANNED size, halving the target
    never produces fewer files, and content is unchanged."""
    from etl_stream_spark.plans.zorder import write_zordered

    src = str(tmp_path / "src")
    (
        spark.range(20000)
        .select(
            F.col("id").alias("a"),
            (F.col("id") * 37 % 9973).alias("b"),
            F.sha2(F.col("id").cast("string"), 256).alias("pad"),
        )
        .write.parquet(src)
    )
    input_bytes = sum(
        os.path.getsize(f) for f in glob.glob(f"{src}/*.parquet")
    )
    df = spark.read.parquet(src)

    out_big = str(tmp_path / "zb")
    target_big = input_bytes  # ~everything in one file
    write_zordered(df, out_big, "a", "b", target_file_bytes=target_big)
    n_big = len(glob.glob(f"{out_big}/*.parquet"))
    assert n_big == 1, n_big

    out_small = str(tmp_path / "zs")
    target_small = max(1, input_bytes // 8)
    write_zordered(df, out_small, "a", "b", target_file_bytes=target_small)
    n_small = len(glob.glob(f"{out_small}/*.parquet"))
    # ceil(input/(input//8)) is 8 or 9 depending on remainder
    assert 8 <= n_small <= 9, n_small

    # rewrite is content-preserving
    assert (
        spark.read.parquet(out_small).orderBy("a").collect()
        == df.orderBy("a").collect()
    )

    # guard rails
    import pytest as _pytest

    with _pytest.raises(ValueError):
        write_zordered(df, str(tmp_path / "zz"), "a", "b", target_file_bytes=0)


def test_write_zordered_refuses_an_unsized_estimate(spark, tmp_path):
    """An RDD-backed frame estimates Long.MaxValue bytes; sizing by
    ``target_file_bytes`` would plan a 2^20-way range partition. It
    must raise, naming ``num_files``, before any Spark job runs."""
    import pytest as _pytest

    from etl_stream_spark.plans.zorder import write_zordered

    sc = spark.sparkContext
    df = spark.createDataFrame(
        sc.parallelize([(i, i * 7 % 13) for i in range(50)]), "a long, b long"
    )
    out = str(tmp_path / "z")
    sc.setJobGroup("zorder_unsized", "unsized estimate")
    try:
        with _pytest.raises(ValueError, match="num_files"):
            write_zordered(df, out, "a", "b", target_file_bytes=1 << 20)
    finally:
        sc.setJobGroup("", "")
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    assert sc.statusTracker().getJobIdsForGroup("zorder_unsized") == []
    assert not os.path.exists(out)
