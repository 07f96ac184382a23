"""Semantic invariants for the extended relational shapes (the DuckDB
oracle gate in scripts/check_correctness.py is the value-exact check;
these assert structural properties cheaply at sf0.001)."""

from __future__ import annotations

import random
from fractions import Fraction

import pyspark.sql.functions as F
import pytest

from etl_stream_spark import relational_ext as rx
from etl_stream_spark.session import load_table

SF = "/root/testdata/sf0.001"


def test_catalog_registration():
    from etl_stream_spark.catalog import CATALOG

    for name, _fn, sql in rx.EXTRA_QUERIES:
        assert name in CATALOG
        assert CATALOG[name].oracle == sql


def test_q2_rows_are_group_minima(spark):
    out = rx.q2_cheapest_parts(spark, SF)
    part = load_table(spark, SF, "part")
    mins = part.groupBy("p_type", "p_size").agg(
        F.min(F.col("p_retailprice").cast("decimal(18,2)")).alias("true_min")
    )
    joined = out.join(mins, ["p_type", "p_size"])
    assert joined.filter(F.col("retail_price") != F.col("true_min")).count() == 0
    assert out.count() > 0


def test_q13_distribution_accounts_for_every_customer(spark):
    out = rx.q13_customer_distribution(spark, SF).collect()
    n_cust = load_table(spark, SF, "customer").count()
    assert sum(r["custdist"] for r in out) == n_cust


def test_q15_top_supplier_is_argmax(spark):
    rows = rx.q15_top_supplier(spark, SF).collect()
    assert len(rows) >= 1
    revs = {r["total_revenue"] for r in rows}
    assert len(revs) == 1  # ties all at the max


def test_rollup_has_grand_total(spark):
    rows = rx.rollup_order_revenue(spark, SF).collect()
    grand = [r for r in rows if r["o_orderpriority"] is None and r["o_orderstatus"] is None]
    assert len(grand) == 1
    n_orders = load_table(spark, SF, "orders").count()
    assert grand[0]["n_orders"] == n_orders
    # subtotal consistency: per-priority rows sum to the grand total
    per_prio = [
        r for r in rows if r["o_orderpriority"] is not None and r["o_orderstatus"] is None
    ]
    assert sum(r["n_orders"] for r in per_prio) == n_orders
    assert sum(r["total_price"] for r in per_prio) == grand[0]["total_price"]


def test_history_running_total_is_monotone(spark):
    out = rx.customer_order_history(spark, SF)
    w_prev = F.lag("running_total").over(
        __import__("pyspark.sql", fromlist=["Window"]).Window.partitionBy(
            "o_custkey"
        ).orderBy("o_orderdate", "o_orderkey")
    )
    bad = (
        out.withColumn("prev_rt", w_prev)
        .filter(F.col("prev_rt").isNotNull() & (F.col("running_total") < F.col("prev_rt")))
        .count()
    )
    assert bad == 0
    # first order per customer has no predecessor
    firsts = out.filter(F.col("prev_price").isNull()).count()
    n_cust_with_orders = out.select("o_custkey").distinct().count()
    assert firsts == n_cust_with_orders


def test_q17_filter_is_strict_subset(spark):
    row = rx.q17_small_quantity_revenue(spark, SF).collect()[0]
    li = load_table(spark, SF, "lineitem")
    part = load_table(spark, SF, "part").filter(F.col("p_brand") == "Brand#3")
    all_brand3 = li.join(part, li.l_partkey == part.p_partkey).count()
    assert 0 <= row["n_lines"] < all_brand3


@pytest.mark.parametrize(
    "name",
    ["q4_late_shipment_priority", "q7_nation_trade", "q8_market_share",
     "q12_priority_lines", "q16_part_supplier_counts", "q19_disjunctive_revenue",
     "order_price_quantiles"],
)
def test_shapes_execute_nonempty(spark, name):
    fn = dict((n, f) for n, f, _ in rx.EXTRA_QUERIES)[name]
    assert fn(spark, SF).count() > 0


# -- exact-arithmetic rules of part_xyz_classes and supplier_lead_time:
# the integer forms must equal their rational definitions on any input


def _xyz_int(series: list[int]) -> str:
    """The catalog's integer rule: with s = Σq, s2 = Σq², n = len,
    X ⟺ 4·(n·s2 − s²) < s², Y ⟺ n·s2 − s² < s², else Z."""
    n, s, s2 = len(series), sum(series), sum(q * q for q in series)
    spread = n * s2 - s * s
    if 4 * spread < s * s:
        return "X"
    if spread < s * s:
        return "Y"
    return "Z"


def _xyz_exact(series: list[int]) -> str:
    """Exact rational cv² = (n·Σq² − s²)/s² vs 1/4 and 1."""
    n, s, s2 = len(series), sum(series), sum(q * q for q in series)
    cv2 = Fraction(n * s2 - s * s, s * s)
    if cv2 < Fraction(1, 4):
        return "X"
    if cv2 < 1:
        return "Y"
    return "Z"


def test_xyz_integer_rule_equals_exact_rational_cv():
    rng = random.Random(7)
    for _ in range(3000):
        n = rng.randint(1, 12)
        series = [rng.randint(1, 60) for _ in range(n)]
        assert _xyz_int(series) == _xyz_exact(series), series


def test_xyz_boundary_cases():
    assert _xyz_int([5, 5, 5, 5]) == "X"  # constant → cv = 0
    assert _xyz_int([4, 2]) == "X"  # cv = 1/3
    # cv exactly 0.5 (2|a−b| = a+b): the boundary must fall to Y on
    # both engines — the strict < is what the integer form pins
    assert _xyz_int([3, 1]) == "Y" and _xyz_exact([3, 1]) == "Y"
    assert _xyz_int([5, 1]) == "Y"  # cv = 2/3
    assert _xyz_int([9, 1, 1, 1]) == "Z"  # cv ≥ 1
    assert _xyz_int([7]) == "X"  # single week → zero variance


def _mean_2dp_int(s: int, n: int) -> float:
    """The catalog's sign-aware half-up integer rounding of s/n to 2dp."""
    q = (2 * abs(s) * 100 + n) // (2 * n)
    return (-q if s < 0 else q) / 100.0


def test_lead_time_mean_rounding_equals_exact_half_up():
    rng = random.Random(11)
    for _ in range(3000):
        n = rng.randint(1, 500)
        s = rng.randint(-(10**7), 10**7)
        # exact half-up on the rational s·100/n
        scaled = Fraction(abs(s) * 100, n)
        q, r = divmod(scaled.numerator, scaled.denominator)
        want = q + (1 if 2 * r >= scaled.denominator else 0)
        want = (-want if s < 0 else want) / 100.0
        assert _mean_2dp_int(s, n) == want, (s, n)
