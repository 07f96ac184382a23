"""Governance and anomaly operators: k-anonymity audit, median/MAD
robust anomaly detection, CUSUM change points and Benford digit shares
(brute-force parity and partitioning invariance)."""

from __future__ import annotations

import random

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from etl_stream_spark.operators.anomaly import mad_anomaly_report
from etl_stream_spark.operators.privacy import k_anonymity_report, qi_group_sizes


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


class TestKAnonymity:
    def _df(self, spark):
        rows = (
            # QI (nation, band): class sizes 3, 1, 2
            [("A", 0)] * 3
            + [("A", 1)]
            + [("B", 0)] * 2
        )
        return spark.createDataFrame(rows, "nation string, band long")

    def test_group_sizes(self, spark):
        got = {
            (r.nation, r.band): r.group_size
            for r in qi_group_sizes(self._df(spark), ["nation", "band"]).collect()
        }
        assert got == {("A", 0): 3, ("A", 1): 1, ("B", 0): 2}

    def test_report_counts_unsafe_classes_and_rows(self, spark):
        rep = {
            r.nation: r
            for r in k_anonymity_report(
                self._df(spark), ["nation", "band"], k=3
            ).collect()
        }
        a, b = rep["A"], rep["B"]
        assert (a.n_groups, a.min_group_size) == (2, 1)
        assert (a.n_unsafe_groups, a.rows_at_risk, a.n_rows) == (1, 1, 4)
        # B's single class of 2 is below k=3: whole nation at risk
        assert (b.n_unsafe_groups, b.rows_at_risk, b.n_rows) == (1, 2, 2)

    def test_k_anonymous_dataset_has_no_risk(self, spark):
        rep = k_anonymity_report(self._df(spark), ["nation", "band"], k=1).collect()
        assert all(r.n_unsafe_groups == 0 and r.rows_at_risk == 0 for r in rep)

    def test_by_must_be_a_qi_column(self, spark):
        with pytest.raises(ValueError):
            k_anonymity_report(self._df(spark), ["nation"], k=2, by="band")


class TestMadAnomaly:
    def test_hampel_filter_known_values(self, spark):
        df = spark.createDataFrame(
            [("t", float(v)) for v in (1, 2, 3, 4, 100)]
            + [("u", 5.0), ("u", 5.0), ("u", 5.0)],
            "grp string, value double",
        )
        rep = {
            r.grp: r
            for r in mad_anomaly_report(df, "value", ["grp"], k=3.0).collect()
        }
        t = rep["t"]
        # median 3, devs [2,1,0,1,97], MAD 1 -> only 97 > 3*1
        assert (t.n_events, t.med_value, t.mad_value) == (5, 3.0, 1.0)
        assert (t.n_anomalies, t.max_abs_dev) == (1, 97.0)
        u = rep["u"]  # constant series: MAD 0, nothing exceeds 0 strictly
        assert (u.mad_value, u.n_anomalies) == (0.0, 0)

    def test_outliers_do_not_inflate_threshold(self, spark):
        # mean/std would let two big outliers mask each other; MAD does not
        vals = [10.0] * 20 + [1000.0, -1000.0]
        df = spark.createDataFrame([("g", v) for v in vals], "grp string, value double")
        (r,) = mad_anomaly_report(df, "value", ["grp"]).collect()
        assert r.n_anomalies == 2

    def test_nulls_excluded(self, spark):
        df = spark.createDataFrame(
            [("g", 1.0), ("g", None), ("g", 3.0)], "grp string, value double"
        )
        (r,) = mad_anomaly_report(df, "value", ["grp"]).collect()
        assert r.n_events == 2


class TestMadAnomalyProperties:
    def test_partitioning_invariance(self, spark):
        from etl_stream_spark.operators.anomaly import mad_anomaly_report

        rng = random.Random(7)
        rows = [
            (f"g{i % 3}", round(rng.uniform(-50, 50), 2)) for i in range(200)
        ]
        df = spark.createDataFrame(rows, "grp string, value double")
        a = _rows(mad_anomaly_report(df, "value", ["grp"]))
        b = _rows(mad_anomaly_report(df.repartition(11), "value", ["grp"]))
        assert a == b and len(a) == 3


class TestKAnonymityProperties:
    def test_accounting_identities(self, spark):
        from etl_stream_spark.operators.privacy import k_anonymity_report

        rng = random.Random(3)
        rows = [
            (f"n{rng.randint(0, 4)}", f"s{rng.randint(0, 2)}")
            for _ in range(300)
        ]
        df = spark.createDataFrame(rows, "nation string, seg string")
        rep = k_anonymity_report(df, ["nation", "seg"], k=20).collect()
        # per-nation rows partition the dataset exactly
        assert sum(r.n_rows for r in rep) == 300
        for r in rep:
            assert 0 <= r.rows_at_risk <= r.n_rows
            assert 0 <= r.n_unsafe_groups <= r.n_groups
            # every unsafe class has < k rows, so risk < k * unsafe count
            assert r.rows_at_risk < 20 * max(r.n_unsafe_groups, 1) or (
                r.n_unsafe_groups == 0 and r.rows_at_risk == 0
            )

    def test_masking_repairs_k_anonymity(self, spark):
        """Generalizing the fine QI column (the masking module's bucket
        strategy) must weakly GROW every equivalence class — the
        audit→mask→re-audit loop the two modules exist to close."""
        from etl_stream_spark.functions.masking import mask_columns
        from etl_stream_spark.operators.privacy import qi_group_sizes

        rng = random.Random(9)
        rows = [(rng.randint(0, 4), float(rng.randint(0, 999))) for _ in range(400)]
        df = spark.createDataFrame(rows, "nation long, bal double")
        fine_min = min(
            r.group_size
            for r in qi_group_sizes(df, ["nation", "bal"]).collect()
        )
        coarse = mask_columns(df, {"bal": "bucket:500"})
        coarse_min = min(
            r.group_size
            for r in qi_group_sizes(coarse, ["nation", "bal"]).collect()
        )
        assert coarse_min >= fine_min


class TestCusumProperties:
    def _brute(self, counts):
        n, total = len(counts), sum(counts)
        prefix, out = 0, []
        for k, c in enumerate(counts, 1):
            prefix += c
            out.append(n * prefix - k * total)
        return out

    def test_matches_bruteforce_and_flags_level_shift(self, spark):
        from etl_stream_spark.operators.anomaly import cusum_changepoints

        counts = [5] * 10 + [50] * 10
        df = spark.createDataFrame(
            list(enumerate(counts, 1)), "bucket long, n long"
        )
        got = cusum_changepoints(df, "bucket", "n").orderBy("bucket").collect()
        want = self._brute(counts)
        assert [r.cusum_scaled for r in got] == want
        # the peak |S_k| sits exactly at the shift boundary (bucket 10)
        peaks = [r.bucket for r in got if r.is_peak]
        assert peaks == [10]
        # telescoping identity: S_n == 0 always
        assert got[-1].cusum_scaled == 0

    def test_partitioning_invariance(self, spark):
        from etl_stream_spark.operators.anomaly import cusum_changepoints

        rng = random.Random(11)
        counts = [rng.randint(0, 100) for _ in range(60)]
        df = spark.createDataFrame(
            list(enumerate(counts, 1)), "bucket long, n long"
        )
        a = _rows(cusum_changepoints(df, "bucket", "n"))
        b = _rows(cusum_changepoints(df.repartition(13), "bucket", "n"))
        assert a == b
        # exactly one peak row
        assert sum(1 for r in a if r[3]) == 1


class TestBenfordProperties:
    def test_counts_and_ppm_identities(self, spark):
        from etl_stream_spark.operators.anomaly import (
            BENFORD_EXPECTED_PPM,
            benford_report,
        )

        # 1-, 2-, 3-digit values; zero/negative excluded; digit 9 absent
        vals = [1, 12, 123, 222, 2999, 345, 40, 41, 5, -7, 0]
        df = spark.createDataFrame([(v,) for v in vals], "amount long")
        got = {r.digit: r for r in benford_report(df, "amount").collect()}
        assert sorted(got) == list(range(1, 10))
        counts = {1: 3, 2: 2, 3: 1, 4: 2, 5: 1, 9: 0}
        for d in range(1, 10):
            assert got[d].n_values == counts.get(d, 0), d
        # observed shares round half-up to ppm and sum to ~1e6
        total = sum(counts.values())
        for d in range(1, 10):
            n = counts.get(d, 0)
            assert got[d].observed_ppm == (2 * n * 1_000_000 + total) // (
                2 * total
            ), d
            assert got[d].expected_ppm == BENFORD_EXPECTED_PPM[d]
            assert got[d].delta_ppm == got[d].observed_ppm - got[d].expected_ppm
        assert sum(BENFORD_EXPECTED_PPM.values()) == 1_000_000
        assert abs(sum(r.observed_ppm for r in got.values()) - 1_000_000) <= 9

    def test_partitioning_invariance(self, spark):
        from etl_stream_spark.operators.anomaly import benford_report

        rng = random.Random(5)
        vals = [(rng.randint(1, 10**6),) for _ in range(500)]
        df = spark.createDataFrame(vals, "amount long")
        assert _rows(benford_report(df, "amount")) == _rows(
            benford_report(df.repartition(17), "amount")
        )


counts_st = st.lists(
    st.integers(min_value=0, max_value=10_000), min_size=2, max_size=40
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(counts=counts_st)
def test_cusum_matches_bruteforce_on_random_series(spark, counts):
    """For ANY count series: exact scaled-integer CUSUM per bucket,
    telescoping S_n == 0, and exactly one peak at the earliest argmax
    of |S_k|."""
    from etl_stream_spark.operators.anomaly import cusum_changepoints

    df = spark.createDataFrame(list(enumerate(counts, 1)), "bucket long, n long")
    got = cusum_changepoints(df, "bucket", "n").orderBy("bucket").collect()
    n, total, prefix = len(counts), sum(counts), 0
    want = []
    for k, c in enumerate(counts, 1):
        prefix += c
        want.append(n * prefix - k * total)
    assert [r.cusum_scaled for r in got] == want
    assert got[-1].cusum_scaled == 0
    peak_want = max(range(n), key=lambda i: (abs(want[i]), -i)) + 1
    assert [r.bucket for r in got if r.is_peak] == [peak_want]


amounts_st = st.lists(
    st.integers(min_value=-100, max_value=10**9), min_size=1, max_size=60
).filter(lambda xs: any(x > 0 for x in xs))


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(amounts=amounts_st)
def test_benford_matches_bruteforce_on_random_amounts(spark, amounts):
    """For ANY integer amounts (nonpositives excluded): exact per-digit
    counts, half-up integer-space ppm shares, full 9-digit spine."""
    from etl_stream_spark.operators.anomaly import benford_report

    df = spark.createDataFrame([(v,) for v in amounts], "amount long")
    got = {r.digit: r for r in benford_report(df, "amount").collect()}
    pos = [v for v in amounts if v > 0]
    want = {d: sum(1 for v in pos if str(v)[0] == str(d)) for d in range(1, 10)}
    total = len(pos)
    assert sorted(got) == list(range(1, 10))
    for d in range(1, 10):
        assert got[d].n_values == want[d], d
        assert got[d].observed_ppm == (2 * want[d] * 1_000_000 + total) // (
            2 * total
        ), d
