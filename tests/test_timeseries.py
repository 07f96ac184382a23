"""Time-series shapes: trajectory similarity (operators/timeseries.py)
with dense bucketing, exact integral reference, deterministic ranking
and partitioning invariance; the gap-fill spine and daily OLS trend of
the catalog against brute force."""

from __future__ import annotations

import datetime

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from etl_stream_spark.operators import timeseries as tsq

SCHEMA = "uid long, seq long, cents long"


def events(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def test_dense_trajectories_with_zero_buckets(spark):
    # order range 0..7 → with 4 buckets each bucket covers 2 positions
    df = events(spark, [(1, 0, 10), (1, 1, 5), (1, 6, 7), (2, 3, 4)])
    got = {
        r.uid: r.trajectory
        for r in tsq.bucket_trajectories(
            df, "uid", "seq", F.col("cents"), n_buckets=4
        ).collect()
    }
    assert got == {1: [15, 0, 0, 7], 2: [0, 4, 0, 0]}


def test_mean_is_integral_div(spark):
    df = events(spark, [(1, 0, 10), (2, 0, 5), (3, 1, 1)])
    traj = tsq.bucket_trajectories(df, "uid", "seq", F.col("cents"), n_buckets=2)
    ref = tsq.mean_trajectory(traj, n_buckets=2).first()._ref
    assert ref == [5, 0]  # (10+5+0) div 3, (0+0+1) div 3


def test_rank_deterministic_ties_and_partitioning(spark):
    rows = [(u, s, (u * 7 + s) % 50) for u in range(20) for s in range(10)]
    df = events(spark, rows)

    def run(d):
        traj = tsq.bucket_trajectories(d, "uid", "seq", F.col("cents"), 4)
        return [
            (r.uid, r.dist2)
            for r in tsq.rank_by_distance(
                traj, tsq.mean_trajectory(traj, 4), "uid", k=5
            ).collect()
        ]

    a = run(df.repartition(1))
    b = run(df.repartition(13, "cents"))
    assert a == b
    assert [d for _u, d in a] == sorted(d for _u, d in a)


# -- property: gap-fill equals the brute-force dense spine ---------------

buckets_st = st.dictionaries(
    st.integers(min_value=0, max_value=60),
    st.integers(min_value=0, max_value=1000),
    min_size=1,
    max_size=25,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(observed=buckets_st)
def test_zero_fill_matches_bruteforce_dense_spine(spark, observed):
    """For ANY sparse set of observed day buckets, the single-pass
    gap-fill (lead + posexplode) produces exactly the dense
    [min, max] spine with observed counts in place and zeros in the
    gaps — the contract the spine-join formulation had, minus its
    second scan."""
    from etl_stream_spark.catalog import _zero_fill_buckets

    df = spark.createDataFrame(
        [(d, n) for d, n in observed.items()], "b long, n long"
    ).select(F.timestamp_seconds(F.col("b") * 86400).alias("day"), "n")
    # replace(tzinfo=UTC): the session renders UTC-naive datetimes;
    # naive .timestamp() would reinterpret them in the host's local
    # timezone and break this assertion on any non-UTC test box
    out = {
        int(r.day.replace(tzinfo=datetime.timezone.utc).timestamp()) // 86400: r.n
        for r in _zero_fill_buckets(df, "day", "day").collect()
    }
    lo, hi = min(observed), max(observed)
    want = {d: observed.get(d, 0) for d in range(lo, hi + 1)}
    assert out == want


class TestDailyTrendProperties:
    def test_matches_bruteforce_ols(self, spark):
        """The catalog OLS over sf0.001 equals a pure-Python least
        squares over the same dense zero-filled daily cents series."""
        import duckdb

        from etl_stream_spark.catalog import orders_daily_trend

        sf = "/root/testdata/sf0.001"
        got = orders_daily_trend(spark, sf).collect()[0]
        con = duckdb.connect()
        rows = con.execute(
            f"""
            SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS d,
                   CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
            FROM read_parquet('{sf}/orders.parquet') GROUP BY 1 ORDER BY 1
            """
        ).fetchall()
        lo, hi = rows[0][0], rows[-1][0]
        by_day = dict(rows)
        ys, cur = [], lo
        while cur <= hi:
            ys.append(by_day.get(cur, 0))
            cur = cur + __import__("datetime").timedelta(days=1)
        n = len(ys)
        sx, sy = sum(range(n)), sum(ys)
        sxy = sum(i * y for i, y in enumerate(ys))
        sxx = sum(i * i for i in range(n))
        slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
        intercept = (sy - slope * sx) / n
        assert got.n_days == n
        assert abs(got.slope_per_day - slope / 100.0) <= 1e-4
        assert abs(got.intercept - intercept / 100.0) <= 1e-2
