"""Bounded-memory frequent-item detection (heavy hitters).

The hot-key question — which tokens dominate a corpus, which customers
dominate an order stream, which join keys will skew a shuffle — is the
one exact ``GROUP BY`` answers at a cost proportional to the number of
*distinct* keys. At 100 TB that shuffle is the bottleneck the question
was trying to diagnose. The classic answer is a Misra–Gries summary
(Misra & Gries, "Finding repeated elements", Sci. Comput. Program.
1982): a fixed budget of ``capacity`` counters per partition, with the
guarantee that any item whose partition frequency exceeds
``n_p / capacity`` survives the summary.

This operator runs the standard two-pass distributed form:

1. **summarize** — an Arrow-batched ``mapInPandas`` keeps a Misra–Gries
   dict per partition (memory = ``capacity`` counters, independent of
   data size) and emits only the surviving candidate items;
2. **verify** — candidates (≤ ``partitions × capacity`` rows, shuffled
   as a ``distinct`` then joined back) get *exact* counts in one
   semi-joined aggregation pass, and only items with true count
   ``≥ ceil(phi · n)`` are returned.

With ``capacity ≥ 2 / phi`` the candidate union provably contains every
global phi-heavy hitter regardless of how rows are partitioned: if an
item's count in every partition p were ≤ ``n_p / capacity``, its total
would be ≤ ``n / capacity ≤ phi·n / 2 < phi·n``. The verification pass
then makes the final answer *exact and partitioning-invariant* — the
output is precisely ``{item : count(item) ≥ ceil(phi·n)}`` with true
counts, which is why a plain ``GROUP BY … HAVING`` oracle can check it
bit-for-bit while the engine never shuffles the full key space.

No reference analog: the reference engine has no frequency-sketch
surface; this is part of the training-data-pipeline extension layer
(skew diagnosis before a join is exactly how ``salted_join`` picks its
hot keys at scale).
"""

from __future__ import annotations

import math
from fractions import Fraction
from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plans.partitioning import ensure_parallelism


def _at_least_phi(count: Column, n: Column, phi: float) -> Column:
    """``count >= ceil(phi * n)`` in exact arithmetic. For an integer
    count that is ``count >= phi * n``, i.e. ``count * den >= num * n``
    with ``phi = num / den`` read from its decimal spelling, as the
    DuckDB oracles' DECIMAL literal reads it (a float product rounds:
    ``0.07 * 100`` is ``7.000000000000001``). decimal(38,0) keeps both
    products exact."""
    q = Fraction(str(phi))
    dec = "decimal(38,0)"
    return count.cast(dec) * F.lit(q.denominator).cast(dec) >= (
        F.lit(q.numerator).cast(dec) * n.cast(dec)
    )


def _mg_update(counters: dict, item, capacity: int, w: int = 1) -> None:
    """One weighted Misra–Gries step (Berinde et al., "Space-optimal
    heavy hitters with strong error bounds", PODS 2009 — the weighted
    generalization of the classic decrement-all): count if tracked,
    admit if room, else decrement every counter by
    ``d = min(w, min_counter)`` and admit the remainder.

    Guarantee: each decrement event discards ``d × (capacity + 1)``
    total weight (``d`` from every tracked counter plus ``d`` of the
    arriving item), so the sum of decrements — the undercount of ANY
    item — is ≤ ``n / (capacity + 1)``, the same bound the unit-weight
    form gives. Weighted steps let the summarize pass feed per-batch
    ``value_counts`` instead of per-row updates."""
    if item in counters:
        counters[item] += w
    elif len(counters) < capacity:
        counters[item] = w
    else:
        d = min(w, min(counters.values()))
        dead = []
        for k in counters:
            counters[k] -= d
            if counters[k] == 0:
                dead.append(k)
        for k in dead:
            del counters[k]
        if w > d:
            counters[item] = w - d


def _mg_summary(items: DataFrame, capacity: int, item_type: str) -> DataFrame:
    """One distributed Misra–Gries pass over ``items`` (item, w rows):
    per partition, the surviving counters with their RESIDUAL counts
    plus one null-item row carrying the partition's total weight (the
    denominator rides along instead of costing a second full scan).
    Eagerly checkpointed — ≤ partitions × (capacity + 1) rows — so the
    two consumers (candidates, total) never re-run the corpus pass."""

    def _summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict = {}
        n = 0
        for pdf in batches:
            # vectorized pre-aggregation: one weighted MG step per
            # DISTINCT item in the Arrow batch, not one per row
            sums = pdf.groupby("item", sort=False)["w"].sum()
            n += int(sums.sum())
            for item, w in sums.items():
                _mg_update(counters, item, capacity, int(w))
        keys = list(counters.keys())
        yield pd.DataFrame(
            {
                "item": keys + [None],
                "c": [counters[k] for k in keys] + [None],
                "n": [None] * len(keys) + [n],
            }
        )

    return (
        ensure_parallelism(items)
        .mapInPandas(_summarize, schema=f"item {item_type}, c long, n long")
        .localCheckpoint()
    )


def mg_hot_candidates(
    df: DataFrame,
    item_col: str,
    phi: float = 0.01,
    capacity: int | None = None,
) -> DataFrame:
    """PROVEN φ-heavy items from the Misra–Gries pass ALONE — one scan
    of ``df``, no exact-verification pass. Returns ``(item,)``.

    Soundness with no second scan: an MG residual only ever UNDERcounts
    (``ΣC(x) ≤ f(x)``), so any item whose summed residuals reach
    ``⌈φn⌉`` provably holds ≥ φ of all rows — zero false positives, and
    ``Σ_x ΣC(x) ≤ n`` bounds the result at ``1/φ`` items. What it can
    miss: only items within the merged MG error band of the threshold
    (``φn ≤ f(x) < φn + n/(capacity+1) ≤ 1.5·φn`` at the default
    capacity) — marginal keys, never the 10-100×-φ monsters that
    actually cause stragglers.

    The right detector wherever the consumer tolerates a marginal miss
    but pays per scan: skew salting (an unsalted near-threshold key is
    just the plain join's behavior), pre-filters, cache admission. Use
    :func:`heavy_hitters` when the exact ≥φ set or exact counts are
    the answer — it pays one more full pass for them."""
    if capacity is None:
        capacity = math.ceil(2.0 / phi)
    if capacity < math.ceil(2.0 / phi):
        raise ValueError(
            f"capacity={capacity} < 2/phi={math.ceil(2.0 / phi)}: the "
            "Misra-Gries residual bound would not be tight enough to "
            "prove heaviness near the threshold"
        )
    items = df.select(
        F.col(item_col).alias("item"), F.lit(1).cast("long").alias("w")
    ).filter(F.col("item").isNotNull())
    item_type = df.schema[item_col].dataType.simpleString()
    summary = _mg_summary(items, capacity, item_type)
    cand = (
        summary.filter(F.col("item").isNotNull())
        .groupBy("item")
        .agg(F.sum("c").alias("_c"))
    )
    total = summary.filter(F.col("item").isNull()).agg(F.sum("n").alias("_n"))
    return (
        cand.crossJoin(F.broadcast(total))
        .filter(_at_least_phi(F.col("_c"), F.col("_n"), phi))
        .select("item")
    )


def heavy_hitters(
    df: DataFrame,
    item_col: str,
    phi: float = 0.01,
    capacity: int | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """Items whose exact frequency is ``≥ ceil(phi · n)``, with exact
    counts and corpus share. Deterministic for any ``capacity ≥ 2/phi``
    (the default); smaller capacities void the completeness guarantee
    and are rejected.

    With ``weight_col`` the same machinery answers the WEIGHTED
    question — which keys hold ≥ phi of an additive budget (revenue per
    customer, characters per source, bytes per table) — by feeding the
    weighted MG steps per-batch weight sums instead of value counts;
    ``n`` becomes the total weight and the bound/guarantee carry over
    verbatim. Weights must be non-negative integers (quantize money to
    cents first — integer sums keep the verification pass and the
    oracle bit-deterministic); rows with NULL or ≤ 0 weight are
    ignored.

    Returns ``(item, cnt BIGINT, share DOUBLE)``.
    """
    if capacity is None:
        capacity = math.ceil(2.0 / phi)
    if capacity < math.ceil(2.0 / phi):
        raise ValueError(
            f"capacity={capacity} < 2/phi={math.ceil(2.0 / phi)}: the "
            "Misra-Gries candidate union would not be guaranteed to "
            "contain every phi-heavy hitter"
        )
    if weight_col is None:
        items = df.select(
            F.col(item_col).alias("item"), F.lit(1).cast("long").alias("w")
        )
    else:
        wt = df.schema[weight_col].dataType.simpleString()
        if wt not in ("tinyint", "smallint", "int", "bigint"):
            raise ValueError(
                f"weight_col must be an integral type, got {wt}: quantize "
                "(e.g. money to cents) before calling"
            )
        items = df.select(
            F.col(item_col).alias("item"),
            F.col(weight_col).cast("long").alias("w"),
        ).filter(F.col("w") > 0)
    items = items.filter(F.col("item").isNotNull())
    item_type = df.schema[item_col].dataType.simpleString()

    summary = _mg_summary(items, capacity, item_type)
    candidates = summary.filter(F.col("item").isNotNull()).select("item").distinct()
    # exact verification: aggregate only rows carrying a candidate item
    # (AQE broadcasts the bounded candidate side on its own — no hint).
    counts = items.join(candidates, "item", "left_semi").groupBy("item").agg(
        F.sum("w").alias("cnt")
    )
    total = summary.filter(F.col("item").isNull()).agg(F.sum("n").alias("_n"))
    return (
        counts.crossJoin(F.broadcast(total))
        .filter(_at_least_phi(F.col("cnt"), F.col("_n"), phi))
        .select(
            "item",
            F.col("cnt").cast("bigint").alias("cnt"),
            F.round(F.col("cnt").cast("double") / F.col("_n"), 6).alias("share"),
        )
    )
