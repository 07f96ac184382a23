"""Heavy-hitters operator: the Misra-Gries completeness guarantee under
adversarial skew, partitioning invariance, and the capacity guard."""

from __future__ import annotations

import collections
import math

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from etl_stream_spark.operators.frequency import _mg_update, heavy_hitters, mg_hot_candidates

weighted_stream_st = st.lists(
    st.tuples(st.integers(min_value=0, max_value=30), st.integers(1, 50)),
    min_size=1,
    max_size=200,
)


@settings(max_examples=300, deadline=None)
@given(stream=weighted_stream_st, capacity=st.integers(min_value=1, max_value=12))
def test_mg_invariants_hold_on_random_weighted_streams(stream, capacity):
    """Driver-side property sweep (no Spark): for ANY weighted stream
    and capacity, the summary (1) never overcounts, (2) undercounts by
    at most n/(capacity+1), and (3) therefore keeps every item whose
    true weight exceeds n/(capacity+1) — the bound heavy_hitters'
    candidate-completeness argument rests on."""
    counters: dict = {}
    for item, w in stream:
        _mg_update(counters, item, capacity, w)
    assert len(counters) <= capacity
    exact = collections.Counter()
    for item, w in stream:
        exact[item] += w
    n = sum(exact.values())
    bound = n // (capacity + 1)
    for k, c in counters.items():
        assert 0 < c <= exact[k]
        assert exact[k] - c <= bound
    for k, cnt in exact.items():
        if cnt > bound:
            assert k in counters, (k, cnt, bound, dict(counters))


def _skewed_rows() -> list[tuple[str]]:
    """A stream with planted heavy hitters drowning in a long tail:
    3 hot keys (1200/800/500 of n=4000) + 1500 singleton-ish tail keys,
    interleaved so every partition sees tail pressure around the hot
    keys (the decrement path runs constantly at capacity << vocab)."""
    rows: list[tuple[str]] = []
    hot = [("hot_a", 1200), ("hot_b", 800), ("hot_c", 500)]
    tails = [f"tail_{i}" for i in range(1500)]
    ti = 0
    for name, cnt in hot:
        for _ in range(cnt):
            rows.append((name,))
            rows.append((tails[ti % len(tails)],))
            ti += 1
    # n = 2*2500 = 5000: hot shares 24% / 16% / 10%, tail ≤ 2/5000
    return rows


def _exact(df, phi):
    n = df.count()
    import math

    thr = math.ceil(phi * n)
    return {
        (r["item"], r["cnt"])
        for r in df.groupBy(F.col("v").alias("item"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= thr)
        .collect()
    }


class TestHeavyHitters:
    @pytest.fixture(scope="class")
    def skewed(self, spark):
        return spark.createDataFrame(_skewed_rows(), "v string")

    def test_matches_exact_groupby_under_decrement_pressure(self, spark, skewed):
        # capacity defaults to 2/phi = 40 << 1503 distinct values: the
        # summaries decrement constantly, yet the verified output must
        # equal the exact GROUP BY ... HAVING answer.
        out = heavy_hitters(skewed, "v", phi=0.05)
        got = {(r.item, r.cnt) for r in out.collect()}
        assert got == _exact(skewed, 0.05)
        assert got == {("hot_a", 1200), ("hot_b", 800), ("hot_c", 500)}

    def test_partitioning_invariance(self, spark, skewed):
        base = {
            (r.item, r.cnt, r.share)
            for r in heavy_hitters(skewed.coalesce(1), "v", phi=0.05).collect()
        }
        for parts in (3, 17):
            got = {
                (r.item, r.cnt, r.share)
                for r in heavy_hitters(
                    skewed.repartition(parts), "v", phi=0.05
                ).collect()
            }
            assert got == base

    def test_threshold_is_exact_not_estimated(self, spark):
        # 100 of one key in n=1000 is exactly the 10% boundary:
        # ceil(.1*1000)=100 ⇒ included; at phi just above it drops out.
        rows = [("edge",)] * 100 + [(f"t{i}",) for i in range(900)]
        df = spark.createDataFrame(rows, "v string")
        assert {r.item for r in heavy_hitters(df, "v", phi=0.1).collect()} == {"edge"}
        assert heavy_hitters(df, "v", phi=0.11).count() == 0

    def test_threshold_compares_phi_exactly(self, spark):
        # phi = 0.07, n = 100: a float product puts the bar at
        # ceil(7.000000000000001) = 8, but a key seen exactly 7 times
        # holds exactly 7% and is heavy (as DECIMAL CEIL in the oracle
        # has it). 20 distinct keys < capacity, so the MG pass is exact.
        rows = [("x",)] * 7 + [(f"k{i}",) for i in range(18) for _ in range(5)]
        rows += [("k18",)] * 3
        df = spark.createDataFrame(rows, "v string")
        assert df.count() == 100
        assert {(r.item, r.cnt) for r in heavy_hitters(df, "v", phi=0.07).collect()} == {
            ("x", 7)
        }
        assert {r.item for r in mg_hot_candidates(df, "v", phi=0.07).collect()} == {"x"}

    def test_nulls_ignored_and_share(self, spark):
        df = spark.createDataFrame(
            [("a",)] * 6 + [(None,)] * 4 + [("b",)] * 2, "v string"
        )
        rows = {r.item: r for r in heavy_hitters(df, "v", phi=0.5).collect()}
        # n excludes nulls: n=8, threshold=4 ⇒ only 'a'
        assert set(rows) == {"a"}
        assert rows["a"].cnt == 6
        assert rows["a"].share == 0.75

    def test_weighted_matches_exact_groupby_sum(self, spark):
        # budget question: exact SUM(w) >= ceil(phi*total_w), verified
        # under decrement pressure (capacity 40 << 300 keys)
        rows = [("big", 500), ("mid", 200)] + [(f"t{i}", 2) for i in range(300)]
        df = spark.createDataFrame(rows, "k string, w long")
        got = {
            (r.item, r.cnt, r.share)
            for r in heavy_hitters(df, "k", phi=0.05, weight_col="w").collect()
        }
        total = 500 + 200 + 600
        thr = math.ceil(0.05 * total)
        want = {
            ("big", 500, round(500 / total, 6)),
            ("mid", 200, round(200 / total, 6)),
        }
        assert thr > 2 and got == want

    def test_weighted_rejects_float_weights(self, spark):
        df = spark.createDataFrame([("a", 1.5)], "k string, w double")
        with pytest.raises(ValueError, match="integral"):
            heavy_hitters(df, "k", phi=0.5, weight_col="w")

    def test_weighted_ignores_nonpositive_weights(self, spark):
        df = spark.createDataFrame(
            [("a", 6), ("a", 0), ("b", -3), ("b", 2)], "k string, w long"
        )
        rows = {r.item: r.cnt for r in heavy_hitters(df, "k", phi=0.5, weight_col="w").collect()}
        assert rows == {"a": 6}  # total = 8, threshold 4; b has only 2

    def test_capacity_guard(self, spark, skewed):
        with pytest.raises(ValueError, match="capacity"):
            heavy_hitters(skewed, "v", phi=0.05, capacity=10)

    def test_mg_update_classic_bound(self):
        # textbook property: after any stream, undercount ≤ n/capacity
        import collections

        stream = (["x"] * 300) + [f"y{i}" for i in range(600)] + (["x"] * 100)
        counters: dict = {}
        for it in stream:
            _mg_update(counters, it, 50)
        exact = collections.Counter(stream)
        for k, c in counters.items():
            assert c <= exact[k]
            assert exact[k] - c <= len(stream) // 50
        assert "x" in counters  # 400/1000 >> n/capacity = 20

    def test_mg_update_weighted_bound(self):
        # batched weighted updates must honor the same undercount bound
        import collections

        weighted = [("x", 40), ("y", 25)] + [(f"z{i}", 3) for i in range(200)] + [
            ("x", 60),
            ("y", 15),
        ]
        counters: dict = {}
        for it, w in weighted:
            _mg_update(counters, it, 30, w)
        exact = collections.Counter()
        for it, w in weighted:
            exact[it] += w
        n = sum(exact.values())
        for k, c in counters.items():
            assert c <= exact[k]
            assert exact[k] - c <= n // (30 + 1)
        assert "x" in counters and counters["x"] >= 100 - n // 31
