"""Schema evolution (§2.8 drift): new-column detection and merge."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_stream_spark.cdc.merge import ParquetMergeTable
from etl_stream_spark.schema.evolution import detect_new_columns, evolve_struct


class TestSchemaEvolution:
    def test_detect_new_columns_case_insensitive(self):
        existing = T.StructType([T.StructField("id", T.LongType())])
        incoming = T.StructType(
            [
                T.StructField("ID", T.LongType()),
                T.StructField("email", T.StringType()),
            ]
        )
        new = detect_new_columns(existing, incoming)
        assert [f.name for f in new] == ["email"]

    def test_evolve_struct_appends_nullable(self):
        existing = T.StructType([T.StructField("id", T.LongType(), False)])
        incoming = T.StructType([T.StructField("email", T.StringType(), False)])
        evolved = evolve_struct(existing, incoming)
        assert [f.name for f in evolved.fields] == ["id", "email"]
        assert evolved["email"].nullable is True

    def test_merge_table_accepts_new_column(self, spark, tmp_path):
        """Drifted batch with an extra column merges; old rows read null
        (the ENABLE_SCHEMA_EVOLUTION / mergeSchema path)."""
        target = ParquetMergeTable(spark, str(tmp_path / "t"), keys=["id"], num_buckets=4)
        b1 = spark.createDataFrame(
            [(1, "a", "INSERT", "00000000000000000001")],
            "id long, name string, operation string, sequence string",
        ).withColumn("cdc_timestamp", F.current_timestamp())
        target.merge(b1)
        b2 = spark.createDataFrame(
            [(2, "b", "new@x", "INSERT", "00000000000000000002")],
            "id long, name string, email string, operation string, sequence string",
        ).withColumn("cdc_timestamp", F.current_timestamp())
        target.merge(b2)
        rows = {r["id"]: r.asDict() for r in target.read().collect()}
        assert rows[2]["email"] == "new@x"
        assert rows[1].get("email") is None
