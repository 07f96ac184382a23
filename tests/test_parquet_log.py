"""ParquetLog (l0_log.py): the one writer, listing, reader and row delete
of every append-only parquet directory — and the stream-fed landing that
must stay readable after MergeTask purges it."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from etl_stream_spark.cdc.merge import ParquetMergeTable
from etl_stream_spark.cdc.pipeline import LandingTable, MergeTask
from etl_stream_spark.l0_log import ParquetLog
from etl_stream_spark.sinks.append import start_landing_stream
from etl_stream_spark.sources.file_source import read_cdc_file_stream


def names(path):
    """Data file names under ``path``, relative to it."""
    out = set()
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet") and not f.startswith("."):
                out.add(os.path.relpath(os.path.join(root, f), path))
    return out


class TestRead:
    def test_absent_or_only_hidden_entries_read_none(self, spark, tmp_path):
        assert ParquetLog(spark, str(tmp_path / "absent")).read() is None
        path = tmp_path / "hidden"
        (path / "_temporary" / "0").mkdir(parents=True)
        (path / "_SUCCESS").write_text("")
        log = ParquetLog(spark, str(path))
        assert log.exists()
        assert log.files() == []
        assert log.read() is None

    def test_reads_the_union_of_drifted_columns(self, spark, tmp_path):
        log = ParquetLog(spark, str(tmp_path / "log"))
        log.append(spark.createDataFrame([(1, "a")], "id long, v string"))
        log.append(spark.createDataFrame([(2, 7)], "id long, n long"))
        rows = {tuple(r) for r in log.read().select("id", "v", "n").collect()}
        assert rows == {(1, "a", None), (2, None, 7)}

    def test_partition_directories_are_listed_and_read(self, spark, tmp_path):
        log = ParquetLog(spark, str(tmp_path / "log"), partition_cols=("dt",))
        log.append(
            spark.createDataFrame([(1, "x"), (2, "y")], "id long, dt string")
        )
        assert {os.path.dirname(n) for n in names(log.path)} == {"dt=x", "dt=y"}
        assert len(log.files()) == 2
        assert {(r.id, r.dt) for r in log.read().collect()} == {(1, "x"), (2, "y")}


class TestDeleteRows:
    def fill(self, spark, log):
        """Three appends, one file each: ids 1-2, 3-4 and 5."""
        for ids in ([1, 2], [3, 4], [5]):
            log.append(
                spark.createDataFrame([(i, f"v{i}") for i in ids], "id long, v string")
                .coalesce(1)
            )

    def test_rewrites_only_files_holding_removed_rows(self, spark, tmp_path):
        log = ParquetLog(spark, str(tmp_path / "log"))
        self.fill(spark, log)
        before = names(log.path)
        assert len(before) == 3
        removed = log.delete_rows(F.col("id").isin(2, 5))
        assert removed == 2
        after = names(log.path)
        # the file holding 3-4 keeps its name; the other two are replaced
        assert len(before & after) == 1 and len(before - after) == 2
        assert {r.id for r in log.read().collect()} == {1, 3, 4}

    def test_key_frame_selects_rows_and_null_keys_stay(self, spark, tmp_path):
        log = ParquetLog(spark, str(tmp_path / "log"))
        log.append(
            spark.createDataFrame([(1, "a"), (2, "b"), (None, "t")], "id long, v string")
        )
        keys = spark.createDataFrame([(2,), (None,)], "id long")
        assert log.delete_rows(keys) == 1
        assert {(r.id, r.v) for r in log.read().collect()} == {(1, "a"), (None, "t")}

    def test_no_match_touches_nothing(self, spark, tmp_path):
        log = ParquetLog(spark, str(tmp_path / "log"))
        self.fill(spark, log)
        before = names(log.path)
        assert log.delete_rows(F.col("id") > 99) == 0
        assert names(log.path) == before
        assert ParquetLog(spark, str(tmp_path / "absent")).delete_rows(F.lit(True)) == 0

    def test_partition_layout_kept(self, spark, tmp_path):
        log = ParquetLog(spark, str(tmp_path / "log"), partition_cols=("dt",))
        log.append(
            spark.createDataFrame(
                [(1, "x"), (2, "x"), (3, "y")], "id long, dt string"
            )
        )
        # a log opened without its partition columns keeps them too
        assert ParquetLog(spark, log.path).delete_rows(F.col("id") == 1) == 1
        assert {os.path.dirname(n) for n in names(log.path)} == {"dt=x", "dt=y"}
        assert {(r.id, r.dt) for r in log.read().collect()} == {(2, "x"), (3, "y")}

    def test_append_during_the_delete_is_untouched(self, spark, tmp_path):
        """An append that lands after the retained rows were rewritten and
        before the doomed files go survives the delete."""

        class RacedLog(ParquetLog):
            def delete_files(self, files):
                self.append(spark.createDataFrame([(9, "late")], "id long, v string"))
                super().delete_files(files)

        log = RacedLog(spark, str(tmp_path / "log"))
        self.fill(spark, log)
        assert log.delete_rows(F.col("id") <= 2) == 2
        assert {r.id for r in log.read().collect()} == {3, 4, 5, 9}


def test_merge_task_on_a_stream_fed_landing(spark, tmp_path):
    """A landing fed by start_landing_stream stays readable after
    MergeTask purges it, and a second cycle merges the rows that landed
    since: the target matches last-writer-wins over every event."""
    src = tmp_path / "in"
    src.mkdir()
    landing = LandingTable(spark, str(tmp_path / "landing"))
    target = ParquetMergeTable(spark, str(tmp_path / "target"), keys=["id"], num_buckets=4)
    task = MergeTask(landing, target)
    schema = "id long, name string, operation string, sequence string"
    seq = lambda i: f"{i:020d}"  # noqa: E731

    def land(name, events):
        (src / name).write_text(
            "\n".join(
                json.dumps({"id": i, "name": n, "operation": op, "sequence": seq(s)})
                for i, n, op, s in events
            )
        )
        q = start_landing_stream(
            read_cdc_file_stream(spark, str(src), schema),
            landing.path,
            str(tmp_path / "ckpt"),
            available_now=True,
        )
        assert q.awaitTermination(120)

    first = [(1, "a", "INSERT", 1), (2, "b", "INSERT", 2), (3, "c", "INSERT", 3)]
    second = [
        (1, "a2", "UPDATE", 4),
        (2, None, "DELETE", 5),
        (3, "stale", "UPDATE", 2),  # older than the merged c
        (4, "d", "INSERT", 6),
    ]
    land("a.json", first)
    assert task.run_once() == seq(3)
    assert landing.read().count() == 0
    land("b.json", second)
    assert landing.read().count() == 4
    assert task.run_once() == seq(6)
    assert landing.read().count() == 0

    want: dict[int, tuple[int, str]] = {}
    for i, n, op, s in first + second:
        if i in want and want[i][0] >= s:
            continue
        want[i] = (s, n if op != "DELETE" else None)
    assert {r.id: r.name for r in target.read().collect()} == {
        i: n for i, (_s, n) in want.items() if n is not None
    }
