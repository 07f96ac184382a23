"""As-of and interval join semantics on constructed micro-data (the
DuckDB ASOF JOIN oracle checks value-exactness at sf0.01; these pin the
corner cases: inclusive ties, no-match nulls, per-key isolation), and
autocorrelation against brute-force Pearson."""

from __future__ import annotations

import datetime as dt
import random

import pyspark.sql.functions as F

from etl_stream_spark.operators.temporal import asof_join, interval_join


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


def test_asof_backward_semantics(spark):
    left = spark.createDataFrame(
        [
            (1, "u1", _ts("2026-01-01 10:00:00")),  # before any right → null
            (2, "u1", _ts("2026-01-01 12:00:00")),  # after r1 → r1
            (3, "u1", _ts("2026-01-01 13:00:00")),  # tie with r2 → r2 (inclusive)
            (4, "u1", _ts("2026-01-01 15:00:00")),  # after r2 → r2
            (5, "u2", _ts("2026-01-01 23:00:00")),  # other key, no right rows
        ],
        "id long, k string, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            ("u1", _ts("2026-01-01 11:00:00"), 100),
            ("u1", _ts("2026-01-01 13:00:00"), 200),
        ],
        "k string, rts timestamp, val long",
    )
    out = {
        r["id"]: r["val"]
        for r in asof_join(left, right, on="k", left_ts="ts", right_ts="rts").collect()
    }
    assert out == {1: None, 2: 100, 3: 200, 4: 200, 5: None}


def test_asof_join_keeps_all_left_rows(spark):
    left = spark.range(10).select(
        F.lit("k").alias("k"),
        F.col("id"),
        F.expr("timestamp_micros(cast(id * 1000000 as long))").alias("ts"),
    )
    right = spark.createDataFrame([], "k string, rts timestamp, v long")
    out = asof_join(left, right, on="k", left_ts="ts", right_ts="rts")
    assert out.count() == 10
    assert out.filter(F.col("v").isNotNull()).count() == 0


def test_interval_join_bounds(spark):
    events = spark.createDataFrame(
        [
            ("u1", _ts("2026-01-01 10:00:00")),  # == start → in
            ("u1", _ts("2026-01-01 10:59:59")),  # just inside
            ("u1", _ts("2026-01-01 11:00:00")),  # == end → out (half-open)
            ("u2", _ts("2026-01-01 10:30:00")),  # wrong key
        ],
        "a_user string, a_ts timestamp",
    )
    spans = spark.createDataFrame(
        [("u1", _ts("2026-01-01 10:00:00"), _ts("2026-01-01 11:00:00"), 7)],
        "k string, lo timestamp, hi timestamp, span_id long",
    )
    out = interval_join(
        events, spans, on=("a_user", "k"), ts_col="a_ts", start_col="lo", end_col="hi"
    )
    assert out.count() == 2


def test_asof_plan_is_single_shuffle_window(spark):
    left = spark.range(100).select(
        (F.col("id") % 5).cast("string").alias("k"),
        F.col("id"),
        F.expr("timestamp_micros(id * 1000000)").alias("ts"),
    )
    right = spark.range(20).select(
        (F.col("id") % 5).cast("string").alias("k"),
        F.expr("timestamp_micros(id * 5000000)").alias("rts"),
        (F.col("id") * 10).alias("v"),
    )
    plan = (
        asof_join(left, right, on="k", left_ts="ts", right_ts="rts")
        ._jdf.queryExecution().executedPlan().toString()
    )
    # carry-forward formulation: a window over the union — no join node,
    # no cartesian/range nested loop anywhere in the plan
    assert "Window" in plan
    assert "NestedLoop" not in plan and "Cartesian" not in plan


class TestAsofTolerance:
    def test_backward_and_forward_bounds(self, spark):
        import datetime as dt

        B = dt.datetime(2026, 1, 1)
        left = spark.createDataFrame(
            [(1, "k", B + dt.timedelta(minutes=60))], "id long, k string, ts timestamp"
        )
        right = spark.createDataFrame(
            [
                ("k", B + dt.timedelta(minutes=10), 10),   # 50 min before
                ("k", B + dt.timedelta(minutes=55), 55),   # 5 min before
                ("k", B + dt.timedelta(minutes=90), 90),   # 30 min after
            ],
            "k string, rts timestamp, payload long",
        )
        from etl_stream_spark.operators.temporal import asof_join, asof_join_forward

        back = asof_join(left, right, on="k", left_ts="ts", right_ts="rts")
        assert back.collect()[0]["payload"] == 55
        back_tol = asof_join(
            left, right, on="k", left_ts="ts", right_ts="rts", tolerance="1 MINUTE"
        )
        assert back_tol.collect()[0]["payload"] is None  # 5 min > 1 min window

        fwd = asof_join_forward(left, right, on="k", left_ts="ts", right_ts="rts")
        assert fwd.collect()[0]["payload"] == 90
        fwd_tol = asof_join_forward(
            left, right, on="k", left_ts="ts", right_ts="rts", tolerance="10 MINUTE"
        )
        assert fwd_tol.collect()[0]["payload"] is None  # 30 min > 10 min lookahead
        fwd_tol_ok = asof_join_forward(
            left, right, on="k", left_ts="ts", right_ts="rts", tolerance="30 MINUTE"
        )
        assert fwd_tol_ok.collect()[0]["payload"] == 90  # inclusive bound


class TestInterpolateAt:
    def _run(self, spark, grid_rows, obs_rows):
        import datetime as dt

        from etl_stream_spark.operators.temporal import interpolate_at

        base = dt.datetime(2026, 1, 1)
        grid = spark.createDataFrame(
            [("k", base + dt.timedelta(minutes=m)) for m in grid_rows],
            "k string, gts timestamp",
        )
        obs = spark.createDataFrame(
            [("k", base + dt.timedelta(minutes=m), v) for m, v in obs_rows],
            "k string, ots timestamp, v double",
        )
        out = interpolate_at(
            grid, obs, on="k", grid_ts="gts", obs_ts="ots", value_col="v"
        )
        return {
            int((r.gts - base).total_seconds() // 60): r.value
            for r in out.collect()
        }

    def test_midpoint_and_exact_hits(self, spark):
        got = self._run(
            spark, [0, 30, 60, 45], [(0, 10.0), (60, 20.0)]
        )
        assert got[0] == 10.0  # coincident observation: exact
        assert got[60] == 20.0
        assert got[30] == 15.0  # halfway
        assert got[45] == 17.5  # three-quarters

    def test_endpoint_clamping(self, spark):
        got = self._run(spark, [-60, 0, 120], [(0, 5.0), (60, 9.0)])
        assert got[-60] == 5.0  # before first obs: back-fill
        assert got[120] == 9.0  # after last obs: forward-fill

    def test_no_observations_yields_null(self, spark):
        got = self._run(spark, [0, 30], [])
        assert got == {0: None, 30: None}

    def test_uneven_spacing(self, spark):
        # obs at 0 (v=0) and 90 (v=9): grid 30 → 3.0, grid 60 → 6.0
        got = self._run(spark, [30, 60], [(0, 0.0), (90, 9.0)])
        assert got == {30: 3.0, 60: 6.0}


class TestAutocorrelationProperties:
    def test_periodic_series_has_unit_acf_at_period(self, spark):
        from etl_stream_spark.operators.temporal import autocorrelation

        series = [(t, [3, 9, 1, 7][t % 4]) for t in range(48)]
        df = spark.createDataFrame(series, "bucket long, n long")
        out = {
            r.lag: r
            for r in autocorrelation(df, "bucket", "n", lags=(1, 2, 4, 8)).collect()
        }
        assert out[4].acf == 1.0 and out[8].acf == 1.0
        assert out[4].n_pairs == 44
        assert out[1].acf < 1.0

    def test_constant_series_yields_null_acf(self, spark):
        from etl_stream_spark.operators.temporal import autocorrelation

        df = spark.createDataFrame(
            [(t, 5) for t in range(30)], "bucket long, n long"
        )
        out = autocorrelation(df, "bucket", "n", lags=(1, 2)).collect()
        assert all(r.acf is None for r in out)

    def test_matches_bruteforce_pearson(self, spark):
        from etl_stream_spark.operators.temporal import autocorrelation

        rng = random.Random(13)
        vals = [rng.randint(0, 50) for _ in range(80)]
        df = spark.createDataFrame(
            list(enumerate(vals)), "bucket long, n long"
        )
        out = {
            r.lag: r.acf
            for r in autocorrelation(df, "bucket", "n", lags=(1, 5)).collect()
        }
        for lag in (1, 5):
            xs, ys = vals[:-lag], vals[lag:]
            n = float(len(xs))
            sx, sy = float(sum(xs)), float(sum(ys))
            sxy = float(sum(x * y for x, y in zip(xs, ys)))
            sxx = float(sum(x * x for x in xs))
            syy = float(sum(y * y for y in ys))
            want = (n * sxy - sx * sy) / (
                ((n * sxx - sx * sx) * (n * syy - sy * sy)) ** 0.5
            )
            assert abs(out[lag] - want) <= 1e-6, lag

    def test_partitioning_invariance(self, spark):
        from etl_stream_spark.operators.temporal import autocorrelation

        rng = random.Random(17)
        vals = [(t, rng.randint(0, 9)) for t in range(100)]
        df = spark.createDataFrame(vals, "bucket long, n long")
        assert _rows(autocorrelation(df, "bucket", "n")) == _rows(
            autocorrelation(df.repartition(23), "bucket", "n")
        )
