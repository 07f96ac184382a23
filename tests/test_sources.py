"""Source layer: envelope decode (S1), initial copy (S2), config scan (S3)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_stream_spark.cdc.merge import ParquetMergeTable
from etl_stream_spark.schema.identifiers import InvalidIdentifierError
from etl_stream_spark.sources import (
    INITIAL_COPY_SEQUENCE,
    PipelineSpec,
    decode_cdc_json,
    initial_copy,
    load_pipeline_specs,
    read_cdc_file_stream,
    specs_from_rows,
)
from etl_stream_spark.sources.envelope_decode import cdc_envelope_schema

PAYLOAD = T.StructType(
    [T.StructField("id", T.LongType()), T.StructField("name", T.StringType())]
)


def _envelope(op, lsn, before=None, after=None, table="users"):
    return json.dumps(
        {
            "op": op,
            "ts_ms": 1700000000000 + lsn,
            "before": before,
            "after": after,
            "source": {"lsn": lsn, "table": table, "schema": "public"},
        }
    )


class TestEnvelopeDecode:
    def test_decode_ops_and_delete_before_image(self, spark):
        rows = [
            (_envelope("c", 10, after={"id": 1, "name": "a"}),),
            (_envelope("u", 20, before={"id": 1, "name": "a"}, after={"id": 1, "name": "b"}),),
            (_envelope("d", 30, before={"id": 1}),),
            (_envelope("r", 5, after={"id": 2, "name": "snap"}),),
            ("{broken json",),
        ]
        raw = spark.createDataFrame(rows, "value string")
        out = decode_cdc_json(raw, PAYLOAD).orderBy("sequence").collect()
        assert [r["operation"] for r in out] == ["INSERT", "INSERT", "UPDATE", "DELETE"]
        # DELETE reads the before image (PK-only row → name null)
        d = out[-1]
        assert d["id"] == 1 and d["name"] is None
        assert [r["table"] for r in out] == ["users"] * 4
        seqs = [r["sequence"] for r in out]
        assert seqs == sorted(seqs) and len(set(seqs)) == 4

    def test_decode_is_streaming_compatible(self, spark, tmp_path):
        src = tmp_path / "stream_src"
        src.mkdir()
        (src / "a.json").write_text(
            "\n".join(
                json.dumps({"value": _envelope("c", i, after={"id": i, "name": f"n{i}"})})
                for i in range(3)
            )
        )
        raw = read_cdc_file_stream(spark, str(src), "value string", fmt="json")
        assert raw.isStreaming
        decoded = decode_cdc_json(raw, PAYLOAD)
        q = (
            decoded.writeStream.format("memory")
            .queryName("decode_stream_test")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)
        got = spark.sql("SELECT * FROM decode_stream_test").collect()
        assert len(got) == 3 and all(r["operation"] == "INSERT" for r in got)

    def test_decode_parses_json_once_and_honors_value_col(self, spark):
        """r9 internals pin: the old withColumn+``e.*`` form let
        CollapseProject inline the JSON parse into every field — SEVEN
        from_json sites in the optimized plan, one full parse per
        output column per row. The rewrite binds the envelope in its
        own projection: exactly TWO sites survive — the full parse,
        once, plus the pushed-down filter's copy which OptimizeJsonExprs
        prunes to a struct<op> probe. A custom ``value_col`` (the Kafka
        path) must decode identically."""
        rows = [(_envelope("c", 10, after={"id": 1, "name": "a"}),)]
        raw = spark.createDataFrame(rows, "value string")
        out = decode_cdc_json(raw, PAYLOAD)
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("from_json") == 2, plan
        # the filter's copy parses ONLY op (schema-pruned probe) …
        assert "Filter from_json(StructField(op,StringType,true), value" in plan, plan
        # … so the full envelope schema is parsed exactly once
        assert plan.count("StructField(ts_ms") == 1, plan
        want = [tuple(r) for r in out.collect()]
        got = [
            tuple(r)
            for r in decode_cdc_json(
                raw.withColumnRenamed("value", "kafka_value"), PAYLOAD, "kafka_value"
            ).collect()
        ]
        assert got == want and want[0][1] == "INSERT"
        # zero-padded lsn ordering survives the SQL-string form
        assert want[0][2] == "000000000000000a/000000000000000a"

    def test_decode_sequence_matches_canonical_format(self, spark):
        """The SQL-string decode hand-spells lsn_sequence_expr; decoded
        sequences are merged lexicographically against other producers'
        sequences, so the two spellings must never drift. This pin
        fails the moment sequences.py changes width/separator/format
        without the decode string following."""
        from pyspark.sql import functions as F

        from etl_stream_spark.functions.sequences import lsn_sequence_expr

        lsn = 81985529216486895  # exercises every hex digit class
        raw = spark.createDataFrame(
            [(_envelope("c", lsn, after={"id": 1, "name": "a"}),)],
            "value string",
        )
        got = decode_cdc_json(raw, PAYLOAD).select("sequence").first()[0]
        want = (
            spark.range(1)
            .select(lsn_sequence_expr(F.lit(lsn), F.lit(lsn)).alias("s"))
            .first()["s"]
        )
        assert got == want

    def test_decode_falls_back_for_sql_unsafe_field_names(self, spark):
        """Names and metadata that SQL text must escape — a quote, a
        backtick and a backslash in field names, a quote and a backslash in
        a field's metadata, a backtick in ``value_col`` — decode through the one
        SQL-string plan (its expression cache holds the schema) with the
        usual envelope semantics."""
        import json as _json

        from pyspark.sql import types as T

        from etl_stream_spark.sources.envelope_decode import _DECODE_EXPR_CACHE

        ps = T.StructType(
            [
                T.StructField("id", T.LongType(), metadata={"note": "it's a \\ key"}),
                T.StructField("weird'na`me", T.StringType()),
                T.StructField("back\\slash", T.StringType()),
            ]
        )
        env = _json.dumps(
            {
                "op": "c",
                "ts_ms": 1000,
                "after": {"id": 5, "weird'na`me": "x", "back\\slash": "y"},
                "source": {"lsn": 9, "table": "t", "schema": "s"},
            }
        )
        raw = spark.createDataFrame([(env,)], "`kafka``value` string")
        out = decode_cdc_json(raw, ps, "kafka`value").collect()
        assert (ps.json(), "kafka`value") in _DECODE_EXPR_CACHE
        assert len(out) == 1
        r = out[0]
        assert r["id"] == 5 and r["weird'na`me"] == "x" and r["back\\slash"] == "y"
        assert r["operation"] == "INSERT"
        assert r["sequence"].startswith("0000000000000009/")


class TestInitialCopy:
    def test_snapshot_then_cdc_wins(self, spark, tmp_path):
        target = ParquetMergeTable(spark, str(tmp_path / "t"), keys=["id"], num_buckets=4)
        snap = spark.createDataFrame([(1, "one"), (2, "two")], "id long, name string")
        initial_copy(target, snap)
        assert {(r["id"], r["name"]) for r in target.read().collect()} == {
            (1, "one"),
            (2, "two"),
        }
        # a CDC update with any real sequence beats the snapshot stamp
        upd = spark.createDataFrame(
            [(1, "one-v2", "UPDATE", "00000000000000000010")],
            "id long, name string, operation string, sequence string",
        ).withColumn("cdc_timestamp", F.current_timestamp())
        target.merge(upd)
        assert {(r["id"], r["name"]) for r in target.read().collect()} == {
            (1, "one-v2"),
            (2, "two"),
        }
        assert INITIAL_COPY_SEQUENCE < "00000000000000000010"


class TestConfigDb:
    def test_specs_from_rows_defaults(self):
        specs = specs_from_rows(
            [{"pipeline_id": "p1", "source_path": "/s", "destination_path": "/d"}]
        )
        s = specs[0]
        assert s.status == "START"
        assert s.batch_max_size == 1000 and s.batch_max_fill_ms == 5000
        assert s.trigger_interval == "5000 milliseconds"

    def test_invalid_pipeline_id_rejected(self):
        with pytest.raises(InvalidIdentifierError):
            PipelineSpec(pipeline_id="p1; DROP TABLE", source_path="/s", destination_path="/d")

    def test_load_from_json_config(self, spark, tmp_path):
        cfg = tmp_path / "config"
        cfg.mkdir()
        (cfg / "pipelines.json").write_text(
            json.dumps(
                {
                    "pipeline_id": "p2",
                    "source_path": "/src",
                    "destination_path": "/dst",
                    "status": "PAUSE",
                    "tables": ["a", "b"],
                    "batch_max_fill_ms": 250,
                }
            )
        )
        specs = load_pipeline_specs(spark, str(cfg))
        assert len(specs) == 1
        assert specs[0].status == "PAUSE" and specs[0].tables == ("a", "b")
        assert specs[0].trigger_interval == "250 milliseconds"


class TestEnvelopeSchema:
    def test_schema_shape(self):
        sch = cdc_envelope_schema(PAYLOAD)
        assert {f.name for f in sch.fields} == {"op", "ts_ms", "before", "after", "source"}
        assert sch["before"].dataType == PAYLOAD


class TestSnapshotStreamHandoff:
    def test_initial_copy_then_stream_converges(self, spark, tmp_path):
        """S2 handoff: bulk snapshot loads first, then the CDC stream
        replays — including an event that raced the snapshot (already
        reflected in it): the end state is as if each change applied
        exactly once."""
        import json as _json

        from etl_stream_spark.cdc.pipeline import CdcBatchApplier, CdcTableConfig
        from etl_stream_spark.sinks.append import start_merge_stream

        target_base = tmp_path / "silver"
        table = ParquetMergeTable(
            spark, str(target_base / "users"), keys=["id"], num_buckets=4
        )
        # snapshot already contains the effect of the lsn=5 update
        snap = spark.createDataFrame([(1, "one-v2"), (2, "two")], "id long, name string")
        initial_copy(table, snap)

        src = tmp_path / "cdc"
        src.mkdir()
        events = [
            _envelope("u", 5, before={"id": 1, "name": "one"}, after={"id": 1, "name": "one-v2"}),
            _envelope("c", 9, after={"id": 3, "name": "three"}),
            _envelope("d", 12, before={"id": 2}),
        ]
        (src / "a.json").write_text(
            "\n".join(_json.dumps({"value": e}) for e in events)
        )
        raw = read_cdc_file_stream(spark, str(src), "value string")
        decoded = decode_cdc_json(raw, PAYLOAD).withColumn("table", F.lit("users"))
        applier = CdcBatchApplier(
            spark, str(target_base), {"users": CdcTableConfig(keys=["id"], num_buckets=4)}
        )
        q = start_merge_stream(
            decoded, applier, checkpoint=str(tmp_path / "ckpt"), available_now=True
        )
        q.awaitTermination(120)
        state = {(r["id"], r["name"]) for r in table.read().collect()}
        assert state == {(1, "one-v2"), (3, "three")}
