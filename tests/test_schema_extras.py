"""Validation (P10): decimal bounds and per-column value rules."""

from __future__ import annotations

import datetime

from etl_stream_spark.schema.validation import (
    ValidationReport,
    decimal_fits,
    validate_frame,
)


class TestValidation:
    def test_decimal_fits(self):
        assert decimal_fits(38, 10)
        assert decimal_fits(76, 38)
        assert not decimal_fits(77, 10)
        assert not decimal_fits(76, 39)

    def test_validate_frame_counts_violations(self, spark):
        df = spark.createDataFrame(
            [
                (1.0, datetime.date(2024, 1, 1)),
                (float("nan"), datetime.date(2024, 1, 1)),
                (float("inf"), None),
                (None, datetime.date(2024, 1, 1)),
            ],
            "x double, d date",
        )
        reports = {(r.column, r.rule): r.violations for r in validate_frame(df)}
        assert reports[("x", "finite")] == 2
        assert reports[("d", "date_range")] == 0

    def test_validate_frame_no_applicable_columns(self, spark):
        df = spark.createDataFrame([(1, "a")], "id long, s string")
        assert validate_frame(df) == []
