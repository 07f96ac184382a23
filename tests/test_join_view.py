"""Incremental JOIN view (`cdc/join_view.py`): after ANY interleaving of
fact/dim CDC batches, the maintained view must equal the full join of
current states — the delta-maintenance invariant."""

from __future__ import annotations

import uuid

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from etl_stream_spark.cdc import OP_DELETE, OP_INSERT, OP_UPDATE, ParquetMergeTable
from etl_stream_spark.cdc.join_view import IncrementalJoinView

FACT_SCHEMA = "oid long, cid long, amount long, operation string, sequence string"
DIM_SCHEMA = "cid long, name string, operation string, sequence string"


def seq(i: int) -> str:
    return f"{i:020d}"


def build(spark, tmp):
    root = f"{tmp}/jv_{uuid.uuid4().hex}"
    fact = ParquetMergeTable(spark, f"{root}/fact", keys=["oid"], num_buckets=4)
    dim = ParquetMergeTable(spark, f"{root}/dim", keys=["cid"], num_buckets=4)
    view = IncrementalJoinView(
        spark, f"{root}/view", fact, dim, fk_cols=["cid"], dim_payload=["name"]
    )
    return fact, dim, view


def expected(fact, dim):
    f = {r["oid"]: r for r in fact.read().collect()} if fact.read().columns else {}
    d = {r["cid"]: r["name"] for r in dim.read().collect()} if dim.read().columns else {}
    return {
        oid: (r["cid"], r["amount"], d.get(r["cid"]))
        for oid, r in f.items()
    }


def view_rows(view):
    df = view.read()
    if not df.columns:
        return {}
    has_name = "name" in df.columns  # schema evolves on first dim refresh
    return {
        r["oid"]: (r["cid"], r["amount"], r["name"] if has_name else None)
        for r in df.collect()
    }


# ops: (side, op, key, fk_or_payload)
fact_ev = st.tuples(
    st.just("F"),
    st.sampled_from([OP_INSERT, OP_UPDATE, OP_DELETE]),
    st.integers(min_value=1, max_value=4),   # oid
    st.integers(min_value=1, max_value=3),   # cid
)
dim_ev = st.tuples(
    st.just("D"),
    st.sampled_from([OP_INSERT, OP_UPDATE, OP_DELETE]),
    st.integers(min_value=1, max_value=3),   # cid
    st.integers(min_value=0, max_value=5),   # name variant
)
log_st = st.lists(st.one_of(fact_ev, dim_ev), min_size=1, max_size=10)
cuts_st = st.lists(st.integers(min_value=1, max_value=9), max_size=3, unique=True)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(log=log_st, cuts=cuts_st)
def test_view_equals_full_join_after_any_batching(spark, tmp_path, log, cuts):
    fact, dim, view = build(spark, str(tmp_path))
    bounds = sorted({c for c in cuts if c < len(log)}) + [len(log)]
    start = 0
    gseq = 0
    for end in bounds:
        if end <= start:
            continue
        chunk = log[start:end]
        start = end
        frows, drows = [], []
        for side, op, key, aux in chunk:
            gseq += 1
            if side == "F":
                frows.append((key, aux, key * 100 + aux, op, seq(gseq)))
            else:
                drows.append((key, f"n{aux}", op, seq(gseq)))
        if frows:
            fb = spark.createDataFrame(frows, FACT_SCHEMA)
            fact.merge(fb)
            view.on_fact_batch(fb)
        if drows:
            db = spark.createDataFrame(drows, DIM_SCHEMA)
            dim.merge(db)
            view.on_dim_batch(db)
    assert view_rows(view) == expected(fact, dim)


def test_dim_update_rewrites_referencing_rows_only(spark, tmp_path):
    fact, dim, view = build(spark, str(tmp_path))
    fb = spark.createDataFrame(
        [(1, 1, 101, OP_INSERT, seq(1)), (2, 2, 202, OP_INSERT, seq(2))],
        FACT_SCHEMA,
    )
    db = spark.createDataFrame([(1, "alice", OP_INSERT, seq(3))], DIM_SCHEMA)
    fact.merge(fb)
    view.on_fact_batch(fb)
    dim.merge(db)
    view.on_dim_batch(db)
    assert view_rows(view) == {1: (1, 101, "alice"), 2: (2, 202, None)}

    # dim rename flows to order 1; dim delete nulls it again
    db2 = spark.createDataFrame([(1, "alicia", OP_UPDATE, seq(4))], DIM_SCHEMA)
    dim.merge(db2)
    view.on_dim_batch(db2)
    assert view_rows(view)[1] == (1, 101, "alicia")

    db3 = spark.createDataFrame([(1, None, OP_DELETE, seq(5))], DIM_SCHEMA)
    dim.merge(db3)
    view.on_dim_batch(db3)
    assert view_rows(view) == {1: (1, 101, None), 2: (2, 202, None)}


def test_pipeline_wiring_with_truncate_rebuild(spark, tmp_path):
    """CdcBatchApplier maintains the join view across multi-table
    batches; a fact-side TRUNCATE rebuilds the view from current state
    instead of leaving stale rows."""
    from etl_stream_spark.cdc import OP_TRUNCATE
    from etl_stream_spark.cdc.pipeline import CdcBatchApplier, CdcTableConfig

    applier = CdcBatchApplier(
        spark,
        str(tmp_path / "silver"),
        {
            "orders": CdcTableConfig(keys=["oid"], num_buckets=4),
            "cust": CdcTableConfig(keys=["cid"], num_buckets=4),
        },
    )
    view = IncrementalJoinView(
        spark,
        str(tmp_path / "view"),
        applier.target("orders"),
        applier.target("cust"),
        fk_cols=["cid"],
        dim_payload=["name"],
    )
    applier.join_views.append((view, "orders", "cust"))

    orders_rows = [
        (1, 1, 101, OP_INSERT, seq(1), "orders"),
        (2, 2, 202, OP_INSERT, seq(2), "orders"),
    ]
    cust_rows = [(1, "alice", OP_INSERT, seq(3), "cust")]
    ob = spark.createDataFrame(
        orders_rows,
        "oid long, cid long, amount long, operation string, sequence string, table string",
    )
    cb = spark.createDataFrame(
        cust_rows, "cid long, name string, operation string, sequence string, table string"
    )
    applier.apply_batch(ob)
    applier.apply_batch(cb)
    assert view_rows(view) == {1: (1, 101, "alice"), 2: (2, 202, None)}

    # truncate orders, then a fresh order arrives in the same batch
    tb = spark.createDataFrame(
        [
            (None, None, None, OP_TRUNCATE, seq(4), "orders"),
            (3, 1, 303, OP_INSERT, seq(5), "orders"),
        ],
        "oid long, cid long, amount long, operation string, sequence string, table string",
    )
    applier.apply_batch(tb)
    assert view_rows(view) == {3: (1, 303, "alice")}


def test_rollup_composes_over_join_view(spark, tmp_path):
    """Silver→view→gold composition: an IncrementalRollup whose silver
    IS the join view's merge table maintains segment-level aggregates
    over the enriched rows — medallion layering out of the box."""
    from pyspark.sql import functions as F

    from etl_stream_spark.cdc.rollup import IncrementalRollup

    fact, dim, view = build(spark, str(tmp_path))
    rollup = IncrementalRollup(
        spark,
        view.view,
        str(tmp_path / "gold"),
        group_cols=["name"],
        aggs={"total": lambda: F.sum("amount").cast("long")},
    )

    fb = spark.createDataFrame(
        [(1, 1, 100, OP_INSERT, seq(1)), (2, 1, 50, OP_INSERT, seq(2)),
         (3, 2, 7, OP_INSERT, seq(3))],
        FACT_SCHEMA,
    )
    db = spark.createDataFrame(
        [(1, "alice", OP_INSERT, seq(4)), (2, "bob", OP_INSERT, seq(5))],
        DIM_SCHEMA,
    )
    fact.merge(fb); view.on_fact_batch(fb)
    dim.merge(db); view.on_dim_batch(db)
    rollup.refresh_groups([("alice",), ("bob",), (None,)])
    gold = {r["name"]: r["total"] for r in rollup.read().collect()}
    assert gold == {"alice": 150, "bob": 7}

    # dim rename moves the whole group; rollup refresh follows
    db2 = spark.createDataFrame([(1, "alicia", OP_UPDATE, seq(6))], DIM_SCHEMA)
    dim.merge(db2); view.on_dim_batch(db2)
    rollup.refresh_groups([("alice",), ("alicia",)])
    gold = {r["name"]: r["total"] for r in rollup.read().collect()}
    assert gold == {"alicia": 150, "bob": 7}


def test_narrow_dim_batches_and_null_fk(spark, tmp_path):
    """Review-found edge cases: (1) dim state missing a declared payload
    column (narrow early batches under schema evolution) must not crash
    the refresh; (2) a NULL fk must stay unreferenced even when a
    NULL-keyed dim row exists (plain-equality join semantics)."""
    fact, dim, view = build(spark, str(tmp_path))
    # dim batch WITHOUT the declared 'name' payload column
    narrow = spark.createDataFrame(
        [(1, OP_INSERT, seq(1))], "cid long, operation string, sequence string"
    )
    dim.merge(narrow)
    fb = spark.createDataFrame(
        [(1, 1, 101, OP_INSERT, seq(2)), (2, None, 202, OP_INSERT, seq(3))],
        FACT_SCHEMA,
    )
    fact.merge(fb)
    view.on_fact_batch(fb)  # must not raise despite missing 'name'
    assert view_rows(view) == {1: (1, 101, None), 2: (None, 202, None)}

    # NULL-keyed dim row must never attach to the NULL-fk fact row
    nulldim = spark.createDataFrame(
        [(None, "ghost", OP_INSERT, seq(4)), (1, "alice", OP_UPDATE, seq(5))],
        DIM_SCHEMA,
    )
    dim.merge(nulldim)
    view.on_dim_batch(nulldim)
    assert view_rows(view) == {1: (1, 101, "alice"), 2: (None, 202, None)}


#: Spark jobs of a fact refresh whose keys' fact buckets are all gone:
#: the bucket-id collect, then the view's fold of the PK deletes (delta
#: bucket collect, emptied-bucket probe, write). The deletes carry every
#: stored view column as NULL, so no fill of absent columns reads the
#: view first.
FACT_GONE_REFRESH_JOBS = 8


def test_fact_gone_refresh_sends_full_width_deletes(spark, tmp_path):
    from test_core_path_ledger import jobs_of

    fact, dim, view = build(spark, str(tmp_path))
    db = spark.createDataFrame([(1, "alice", OP_INSERT, seq(1))], DIM_SCHEMA)
    dim.merge(db)
    view.on_dim_batch(db)
    fb = spark.createDataFrame([(1, 1, 101, OP_INSERT, seq(2))], FACT_SCHEMA)
    fact.merge(fb)
    view.on_fact_batch(fb)
    assert view_rows(view) == {1: (1, 101, "alice")}

    gone = spark.createDataFrame([(1, None, None, OP_DELETE, seq(3))], FACT_SCHEMA)
    fact.merge(gone)
    assert fact._read_state(buckets=list(range(fact.num_buckets))) is None
    _, jobs = jobs_of(spark, lambda: view.on_fact_batch(gone))
    assert jobs == FACT_GONE_REFRESH_JOBS
    assert view_rows(view) == {}
