"""Dead-letter routing for malformed CDC envelopes + landing-table
compaction."""

from __future__ import annotations

import json

import pyspark.sql.functions as F
import pyspark.sql.types as T

from etl_stream_spark.plans.compaction import compact_parquet, parquet_files
from etl_stream_spark.sources.envelope_decode import (
    decode_cdc_json,
    decode_cdc_json_with_dlq,
)

PAYLOAD = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
    ]
)


def _envelope(op: str, lsn: int, id_: int, name: str) -> str:
    return json.dumps(
        {
            "op": op,
            "ts_ms": 1700000000000,
            "source": {"table": "t", "lsn": lsn},
            "after": {"id": id_, "name": name},
            "before": None,
        }
    )


def test_dlq_splits_good_and_bad(spark):
    rows = [
        (_envelope("c", 1, 1, "a"),),
        ("{not json at all",),
        (json.dumps({"ts_ms": 1, "source": {"table": "t", "lsn": 2}}),),  # no op
        (_envelope("x", 3, 2, "b"),),  # unknown op code
        (_envelope("u", 4, 1, "a2"),),
    ]
    raw = spark.createDataFrame(rows, "value string")
    good, bad = decode_cdc_json_with_dlq(raw, PAYLOAD)
    assert good.count() == 2  # the c and u envelopes
    assert sorted(r["operation"] for r in good.collect()) == ["INSERT", "UPDATE"]
    got = {r["reason"] for r in bad.collect()}
    assert got == {"unparseable_json", "missing_op", "unknown_op"}
    assert bad.count() == 3
    # the plain decoder drops the same three rows silently
    assert decode_cdc_json(raw, PAYLOAD).count() == 2


def test_dlq_plans_parse_the_envelope_once(spark):
    """Both sides of the DLQ split read one bound envelope: the decoded
    plan parses the full envelope schema once per row (plus the filter's
    op-only probe), and the dead-letter plan never parses more than op."""
    raw = spark.createDataFrame([(_envelope("c", 1, 1, "a"),)], "value string")
    good, bad = decode_cdc_json_with_dlq(raw, PAYLOAD)
    for df, full_parses in ((good, 1), (bad, 0)):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("from_json") == 2, plan
        assert plan.count("StructField(ts_ms") == full_parses, plan


def test_compaction_shrinks_file_count(spark, tmp_path):
    path = str(tmp_path / "landing")
    # simulate many micro-batch appends → many small files
    for i in range(8):
        spark.range(i * 10, (i + 1) * 10).write.mode("append").parquet(path)
    before = spark.read.parquet(path)
    before_rows = sorted(r["id"] for r in before.collect())
    assert len(parquet_files(path)) >= 8

    stats = compact_parquet(spark, path, target_file_bytes=10 * 1024 * 1024)
    assert not stats["skipped"]
    assert stats["files_after"] < stats["files_before"]
    after = spark.read.parquet(path)
    assert sorted(r["id"] for r in after.collect()) == before_rows


def test_compaction_noop_when_already_compact(spark, tmp_path):
    path = str(tmp_path / "one")
    spark.range(100).coalesce(1).write.parquet(path)
    stats = compact_parquet(spark, path)
    assert stats["skipped"]


def test_dlq_works_on_streams(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    (src / "a.txt").write_text(_envelope("c", 1, 1, "a") + "\n" + "garbage")
    raw = spark.readStream.schema("value string").text(str(src))
    good, bad = decode_cdc_json_with_dlq(raw, PAYLOAD)
    qg = (
        good.writeStream.format("memory").queryName("dlq_good")
        .option("checkpointLocation", str(tmp_path / "c1"))
        .trigger(availableNow=True).start()
    )
    qb = (
        bad.writeStream.format("memory").queryName("dlq_bad")
        .option("checkpointLocation", str(tmp_path / "c2"))
        .trigger(availableNow=True).start()
    )
    qg.awaitTermination(300), qb.awaitTermination(300)
    assert spark.table("dlq_good").count() == 1
    assert spark.table("dlq_bad").collect()[0]["reason"] == "unparseable_json"
