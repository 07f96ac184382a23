"""Graph operators (operators/graph.py): integer PageRank parity with a
pure-Python reference, partitioning invariance, mass conservation; the
triangle census against brute force and the in-row pair expansion."""

from __future__ import annotations

import itertools
import random

from pyspark.sql import functions as F

from etl_stream_spark.operators.graph import SCALE, pagerank


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def py_pagerank(edge_list, iterations=3, num=85, den=100):
    nodes = sorted({n for e in edge_list for n in e})
    n = len(nodes)
    outdeg = {}
    for s, _d in edge_list:
        outdeg[s] = outdeg.get(s, 0) + 1
    base = ((den - num) * SCALE) // (den * n)
    r = {v: SCALE // n for v in nodes}
    for _ in range(iterations):
        s = {v: 0 for v in nodes}
        for u, v in edge_list:
            s[v] += r[u] // outdeg[u]
        r = {v: base + (num * s[v]) // den for v in nodes}
    return r


def sym(pairs):
    e = set()
    for a, b in pairs:
        e.add((a, b))
        e.add((b, a))
    return sorted(e)


def test_matches_python_reference(spark):
    pairs = [(1, 2), (2, 3), (3, 4), (1, 4), (4, 5), (6, 1)]
    edges = sym(pairs)
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r["rank"] for r in pagerank(df, iterations=3).collect()}
    assert got == py_pagerank(edges, iterations=3)
    # hub node 4 (degree 3) outranks leaf node 5 (degree 1)
    assert got[4] > got[5]


def test_partitioning_invariant_and_mass_conserved(spark):
    edges = sym((i, (i * 3 + 1) % 17) for i in range(17))
    df = spark.createDataFrame(edges, "src long, dst long")
    a = sorted(map(tuple, pagerank(df.repartition(1), iterations=2).collect()))
    b = sorted(map(tuple, pagerank(df.repartition(9, "dst"), iterations=2).collect()))
    assert a == b
    total = sum(r for _n, r in a)
    n = len({x for e in edges for x in e})
    # truncation only ever loses mass, deterministically, and at most
    # ~1 unit per div: n divs at init + (|E| + n) per iteration
    assert SCALE - (2 * (len(edges) + n) + n) <= total <= SCALE

class TestTriangleStats:
    def _stats(self, spark, edges):
        from etl_stream_spark.operators.graph import triangle_stats

        df = spark.createDataFrame(edges, "a long, b long")
        return triangle_stats(df).collect()[0]

    def test_single_triangle(self, spark):
        r = self._stats(spark, [(1, 2), (2, 3), (1, 3)])
        assert (r.n_nodes, r.n_edges, r.n_triangles) == (3, 3, 1)
        # each node closes one wedge -> 3 wedges, clustering 3*1/3 = 1.0
        assert (r.n_wedges, r.global_clustering) == (3, 1.0)

    def test_path_has_wedge_but_no_triangle(self, spark):
        r = self._stats(spark, [(1, 2), (2, 3)])
        assert (r.n_triangles, r.n_wedges) == (0, 1)
        assert r.global_clustering == 0.0

    def test_k4_counts_four_triangles_once_each(self, spark):
        edges = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
        r = self._stats(spark, edges)
        assert (r.n_nodes, r.n_edges, r.n_triangles) == (4, 6, 4)
        # every node has degree 3 -> 4 * C(3,2) = 12 wedges
        assert r.n_wedges == 12 and r.global_clustering == 1.0

    def test_disconnected_components_sum(self, spark):
        r = self._stats(spark, [(1, 2), (2, 3), (1, 3), (10, 11)])
        assert (r.n_nodes, r.n_triangles) == (5, 1)


class TestTriangleCensusProperties:
    def _brute(self, edges):
        nodes = sorted({v for e in edges for v in e})
        es = {tuple(sorted(e)) for e in edges}
        tri = sum(
            1
            for a, b, c in itertools.combinations(nodes, 3)
            if (a, b) in es and (b, c) in es and (a, c) in es
        )
        deg = {n: 0 for n in nodes}
        for a, b in es:
            deg[a] += 1
            deg[b] += 1
        wedges = sum(d * (d - 1) // 2 for d in deg.values())
        return len(nodes), len(es), wedges, tri

    def test_matches_bruteforce_on_random_graphs(self, spark):
        from etl_stream_spark.operators.graph import triangle_stats

        rng = random.Random(42)
        for trial in range(8):
            n = rng.randint(3, 12)
            possible = list(itertools.combinations(range(1, n + 1), 2))
            edges = rng.sample(possible, rng.randint(1, len(possible)))
            want = self._brute(edges)
            got = triangle_stats(
                spark.createDataFrame(edges, "a long, b long")
            ).collect()[0]
            assert (
                got.n_nodes,
                got.n_edges,
                got.n_wedges,
                got.n_triangles,
            ) == want, (trial, edges)

    def test_partitioning_invariance(self, spark):
        from etl_stream_spark.operators.graph import triangle_stats

        edges = [(a, b) for a in range(1, 9) for b in range(a + 1, 9)
                 if (a * 7 + b) % 3 != 0]
        df1 = spark.createDataFrame(edges, "a long, b long")
        df7 = df1.repartition(7)
        assert _rows(triangle_stats(df1)) == _rows(triangle_stats(df7))


class TestInRowPairGeneration:
    def test_pair_multiset_equals_self_join(self, spark):
        """part_copurchase_triangles' in-row C(k,2) expansion must equal
        the two-sided self-join's pair multiset — including single-item
        groups (no pairs) and pre-distinct duplicate rows."""
        rows = [
            (1, 10), (1, 20), (1, 30), (1, 30),  # dup (order,part) row
            (2, 20), (2, 10),                     # unsorted input order
            (3, 5),                               # singleton: no pairs
            (4, 7), (4, 7),                       # dup-only: no pairs
        ]
        li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long").distinct()

        x, y = li.alias("x"), li.alias("y")
        join_pairs = x.join(
            y,
            (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
            & (F.col("x.l_partkey") < F.col("y.l_partkey")),
        ).select(F.col("x.l_partkey").alias("a"), F.col("y.l_partkey").alias("b"))

        parts = li.groupBy("l_orderkey").agg(
            F.sort_array(F.collect_set("l_partkey")).alias("_ps")
        )
        inrow_pairs = parts.select(
            F.explode(
                F.expr(
                    "flatten(transform(_ps, (x, i) -> "
                    "transform(slice(_ps, i + 2, size(_ps)), "
                    "y -> struct(x as a, y as b))))"
                )
            ).alias("_p")
        ).select("_p.a", "_p.b")

        assert _rows(join_pairs) == _rows(inrow_pairs)
        assert _rows(inrow_pairs) == [(10, 20), (10, 20), (10, 30), (20, 30)]

    def test_triangle_stats_checkpoint_preserves_census(self, spark):
        """The lazily checkpointed edge frame must not change the census
        (a known 4-clique: 4 nodes, 6 edges, 12 wedges, 4 triangles)."""
        from etl_stream_spark.operators.graph import triangle_stats

        edges = spark.createDataFrame(
            [(a, b) for a in range(1, 5) for b in range(a + 1, 5)],
            "a long, b long",
        )
        row = triangle_stats(edges).collect()[0]
        assert (
            row["n_nodes"],
            row["n_edges"],
            row["n_wedges"],
            row["n_triangles"],
        ) == (4, 6, 12, 4)
        assert row["global_clustering"] == 1.0
