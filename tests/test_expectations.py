"""Declarative expectations engine (`schema/expectations.py`): counts,
set-level rules, and the valid/quarantine split."""

from __future__ import annotations

from etl_stream_spark.schema import expectations as ex

ROWS = [
    (1, 10, "O", 5.0),
    (2, 10, "O", -1.0),   # range violation
    (2, 20, "X", 7.0),    # duplicate id + bad status
    (None, 30, "F", 2.0), # null id
    (4, 99, "P", 3.0),    # fk violation (99 not in ref)
]
SCHEMA = "id long, cust long, status string, price double"


def _exps(spark):
    ref = spark.createDataFrame([(10,), (20,), (30,)], "ck long")
    return [
        ex.not_null("id"),
        ex.unique("id"),
        ex.foreign_key(["cust"], ref, ["ck"]),
        ex.accepted_values("status", ["O", "F", "P"]),
        ex.in_range("price", 0.0, 100.0),
    ]


def test_check_counts_every_rule(spark):
    df = spark.createDataFrame(ROWS, SCHEMA)
    got = {
        r["expectation"]: (r["violations"], r["passed"])
        for r in ex.check(df, _exps(spark)).collect()
    }
    assert got == {
        "not_null(id)": (1, False),
        "unique(id)": (1, False),           # 4 non-null ids, 3 distinct
        "foreign_key(cust)": (1, False),    # cust=99
        "accepted_values(status)": (1, False),
        "in_range(price)": (1, False),
    }
    # n_rows rides along on every row
    assert all(
        r["n_rows"] == 5 for r in ex.check(df, _exps(spark)).collect()
    )


def test_check_all_green(spark):
    df = spark.createDataFrame([(1, 10, "O", 5.0)], SCHEMA)
    rep = ex.check(df, _exps(spark)).collect()
    assert all(r["passed"] and r["violations"] == 0 for r in rep)


def test_split_quarantines_row_level_violations(spark):
    df = spark.createDataFrame(ROWS, SCHEMA)
    valid, quarantined = ex.split(df, _exps(spark))
    # row-level rules only (not_null, accepted_values, in_range):
    # (1,...) and (4,...) are clean; both id=2 rows and the null-id row
    # each violate one row-level rule
    assert {r["id"] for r in valid.collect()} == {1, 4}
    got = sorted(
        (str(r["id"]), tuple(sorted(r["_violations"])))
        for r in quarantined.collect()
    )
    assert got == [
        ("2", ("accepted_values(status)",)),
        ("2", ("in_range(price)",)),
        ("None", ("not_null(id)",)),
    ]


def test_pipeline_quarantine_gate(spark, tmp_path):
    """CdcBatchApplier with per-table expectations: violating rows are
    parked under _quarantine/<table> and never reach the merge target;
    clean rows merge normally."""
    from pyspark.sql import functions as F

    from etl_stream_spark.cdc import OP_INSERT
    from etl_stream_spark.cdc.pipeline import CdcBatchApplier, CdcTableConfig

    applier = CdcBatchApplier(
        spark,
        str(tmp_path / "silver"),
        {
            "t": CdcTableConfig(
                keys=["id"],
                num_buckets=4,
                expectations=[ex.not_null("v"), ex.in_range("v", 0, 100)],
            )
        },
    )
    batch = spark.createDataFrame(
        [
            (1, 5, OP_INSERT, "00000000000000000001", "t"),
            (2, None, OP_INSERT, "00000000000000000002", "t"),   # null v
            (3, 999, OP_INSERT, "00000000000000000003", "t"),    # range
        ],
        "id long, v long, operation string, sequence string, table string",
    )
    applier.apply_batch(batch)
    assert {r["id"] for r in applier.target("t").read().collect()} == {1}
    q = spark.read.parquet(str(tmp_path / "silver" / "_quarantine" / "t"))
    got = {r["id"]: list(r["_violations"]) for r in q.collect()}
    assert got == {2: ["not_null(v)"], 3: ["in_range(v)"]}


def test_quarantine_counter_counts_parked_rows(spark, tmp_path):
    """cdc_rows_quarantined_total counts parked ROWS: three violating
    rows add 3, and an all-valid batch adds 0 (its observation reports
    an empty write instead of leaving ``Observation.get`` waiting)."""
    from concurrent.futures import ThreadPoolExecutor

    from etl_stream_spark.cdc import OP_INSERT
    from etl_stream_spark.cdc.pipeline import CdcBatchApplier, CdcTableConfig
    from etl_stream_spark.streaming.metrics import MetricsRegistry

    metrics = MetricsRegistry()
    applier = CdcBatchApplier(
        spark,
        str(tmp_path / "silver"),
        {"t": CdcTableConfig(keys=["id"], num_buckets=4, expectations=[ex.not_null("v")])},
        metrics=metrics,
    )

    def batch(rows):
        return spark.createDataFrame(
            [(i, v, OP_INSERT, f"{seq:020d}", "t") for i, v, seq in rows],
            "id long, v long, operation string, sequence string, table string",
        )

    with ThreadPoolExecutor(1) as pool:
        pool.submit(
            applier.apply_batch,
            batch([(1, 5, 1), (2, None, 2), (3, None, 3), (4, None, 4)]),
        ).result(timeout=120)
        assert metrics.get("cdc_rows_quarantined_total", {"table": "t"}) == 3
        pool.submit(applier.apply_batch, batch([(5, 1, 5), (6, 2, 6)])).result(timeout=120)
        assert metrics.get("cdc_rows_quarantined_total", {"table": "t"}) == 3
    assert applier.read_quarantine("t").count() == 3


def test_quarantine_repair_loop(spark, tmp_path):
    """Park → repair → resubmit: a repaired row passes the gate on
    replay and merges; read_quarantine exposes the parked rows."""
    from pyspark.sql import functions as F

    from etl_stream_spark.cdc import OP_INSERT
    from etl_stream_spark.cdc.pipeline import CdcBatchApplier, CdcTableConfig

    applier = CdcBatchApplier(
        spark,
        str(tmp_path / "silver"),
        {"t": CdcTableConfig(keys=["id"], num_buckets=4,
                             expectations=[ex.not_null("v")])},
    )
    applier.apply_batch(
        spark.createDataFrame(
            [(1, None, OP_INSERT, "00000000000000000001", "t")],
            "id long, v long, operation string, sequence string, table string",
        )
    )
    assert applier.target("t").read().count() == 0
    parked = applier.read_quarantine("t")
    assert parked is not None and parked.count() == 1

    repaired = (
        parked.drop("_violations")
        .withColumn("v", F.lit(7))
        .withColumn("sequence", F.lit("00000000000000000002"))
        .withColumn("table", F.lit("t"))
    )
    applier.apply_batch(repaired)
    rows = applier.target("t").read().collect()
    assert [(r["id"], r["v"]) for r in rows] == [(1, 7)]
