"""Streaming layer: reconciler, alert state machine, resilience, monitor,
and the end-to-end file-source → foreachBatch-merge pipeline."""

from __future__ import annotations

import json
import time

import pytest
from pyspark.sql import functions as F

from etl_stream_spark.cdc.merge import ParquetMergeTable
from etl_stream_spark.cdc.pipeline import CdcBatchApplier, CdcTableConfig
from etl_stream_spark.sinks.append import start_landing_stream, start_merge_stream
from etl_stream_spark.sources import PipelineSpec, decode_cdc_json, read_cdc_file_stream
from etl_stream_spark.streaming import (
    AlertStateMachine,
    AlertStatus,
    CircuitBreaker,
    CircuitOpenError,
    PipelineManager,
    detect_new_tables,
    retry_with_backoff,
    sustained_threshold_alerts,
    wal_size_mb,
)

import tests.test_sources as ts


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


class TestAlertStateMachine:
    def setup_method(self):
        self.m = AlertStateMachine(warning_mb=3000, danger_mb=6000, sustain_mins=10)

    def test_classify(self):
        assert self.m.classify(100) == AlertStatus.NORMAL
        assert self.m.classify(3000) == AlertStatus.WARNING
        assert self.m.classify(6000) == AlertStatus.DANGER

    def test_fires_once_after_sustain(self):
        t0 = 1000.0
        assert self.m.observe("s1", 4000, t0) is None  # episode starts
        assert self.m.observe("s1", 4100, t0 + 5 * 60) is None  # not sustained yet
        fired = self.m.observe("s1", 4200, t0 + 10 * 60)
        assert fired is not None
        assert fired.status == AlertStatus.WARNING and fired.threshold_mb == 3000
        assert fired.duration_mins == pytest.approx(10.0)
        # notified — no refire while episode continues
        assert self.m.observe("s1", 4300, t0 + 20 * 60) is None

    def test_status_change_resets_episode(self):
        t0 = 0.0
        self.m.observe("s1", 4000, t0)
        self.m.observe("s1", 7000, t0 + 5 * 60)  # WARNING→DANGER resets timer
        assert self.m.observe("s1", 7000, t0 + 14 * 60) is None  # only 9 min in DANGER
        fired = self.m.observe("s1", 7000, t0 + 15 * 60)
        assert fired is not None and fired.status == AlertStatus.DANGER

    def test_normal_never_fires(self):
        for minute in range(0, 60, 5):
            assert self.m.observe("s1", 10, minute * 60.0) is None

    def test_sources_independent(self):
        self.m.observe("a", 4000, 0.0)
        self.m.observe("b", 100, 0.0)
        assert self.m.observe("a", 4000, 600.0) is not None
        assert self.m.observe("b", 100, 600.0) is None


class TestSustainedThresholdStream:
    def test_streaming_alerts(self, spark, tmp_path):
        src = tmp_path / "obs"
        src.mkdir()
        obs = [
            {"source": "s1", "wal_size_mb": 4000.0, "obs_ts": 0.0},
            {"source": "s1", "wal_size_mb": 4500.0, "obs_ts": 300.0},
            {"source": "s1", "wal_size_mb": 5000.0, "obs_ts": 700.0},  # ≥10 min → fire
            {"source": "s2", "wal_size_mb": 10.0, "obs_ts": 0.0},
            {"source": "s2", "wal_size_mb": 12.0, "obs_ts": 700.0},
        ]
        (src / "obs.json").write_text("\n".join(json.dumps(o) for o in obs))
        stream = read_cdc_file_stream(
            spark, str(src), "source string, wal_size_mb double, obs_ts double"
        )
        alerts = sustained_threshold_alerts(stream)
        q = (
            alerts.writeStream.format("memory")
            .queryName("alerts_test")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.sql("SELECT * FROM alerts_test").collect()
        assert len(got) == 1
        a = got[0]
        assert a["source"] == "s1" and a["status"] == "WARNING"
        assert a["duration_mins"] == pytest.approx(700.0 / 60.0)

    def test_state_persists_across_batches(self, spark, tmp_path):
        """Episode spanning two micro-batches still fires exactly once:
        maxFilesPerTrigger=1 splits the two files into two batches and
        the keyed state carries the episode start across them."""
        src = tmp_path / "obs2"
        src.mkdir()
        (src / "a.json").write_text(
            json.dumps({"source": "s1", "wal_size_mb": 4000.0, "obs_ts": 0.0})
        )
        (src / "b.json").write_text(
            json.dumps({"source": "s1", "wal_size_mb": 4100.0, "obs_ts": 660.0})
        )
        stream = read_cdc_file_stream(
            spark, str(src), "source string, wal_size_mb double, obs_ts double",
            max_files_per_trigger=1,
        )
        alerts = sustained_threshold_alerts(stream)
        q = (
            alerts.writeStream.format("memory")
            .queryName("alerts_test2")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt2"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert q.lastProgress is None or q.recentProgress  # ran some batches
        got = spark.sql("SELECT * FROM alerts_test2").collect()
        assert len(got) == 1 and got[0]["duration_mins"] == pytest.approx(11.0)


class TestResilience:
    def test_retry_succeeds_after_failures(self):
        calls = {"n": 0}
        sleeps: list[float] = []

        def flaky():
            calls["n"] += 1
            if calls["n"] < 3:
                raise OSError("transient")
            return "ok"

        assert retry_with_backoff(flaky, attempts=3, sleep=sleeps.append) == "ok"
        assert sleeps == [0.05, 0.1]

    def test_retry_exhausts(self):
        with pytest.raises(OSError):
            retry_with_backoff(
                lambda: (_ for _ in ()).throw(OSError("down")), attempts=3, sleep=lambda _: None
            )

    def test_circuit_breaker_lifecycle(self):
        now = {"t": 0.0}
        cb = CircuitBreaker(clock=lambda: now["t"])

        def boom():
            raise OSError("sink down")

        for _ in range(5):  # 5 failures in window → open
            with pytest.raises(OSError):
                cb.call(boom)
        assert cb.state == "open"
        with pytest.raises(CircuitOpenError):
            cb.call(lambda: "x")
        now["t"] = 31.0  # cooldown elapsed → half-open probe
        assert cb.call(lambda: "a") == "a"
        assert cb.state == "half_open"
        assert cb.call(lambda: "b") == "b"  # 2nd success closes
        assert cb.state == "closed"

    def test_half_open_failure_reopens(self):
        now = {"t": 0.0}
        cb = CircuitBreaker(clock=lambda: now["t"])
        for _ in range(5):
            with pytest.raises(OSError):
                cb.call(lambda: (_ for _ in ()).throw(OSError()))
        now["t"] = 31.0
        with pytest.raises(OSError):
            cb.call(lambda: (_ for _ in ()).throw(OSError()))
        assert cb.state == "open"

    def test_old_failures_age_out(self):
        now = {"t": 0.0}
        cb = CircuitBreaker(clock=lambda: now["t"])
        for i in range(4):
            now["t"] = i * 30.0  # failures spread over 90 s — window is 60 s
            with pytest.raises(OSError):
                cb.call(lambda: (_ for _ in ()).throw(OSError()))
        assert cb.state == "closed"


class TestMonitor:
    def test_wal_size_mb(self, spark):
        df = spark.createDataFrame(
            [("s1", 1024 * 1024), ("s1", 2 * 1024 * 1024), ("s2", 512 * 1024)],
            "source string, size_bytes long",
        )
        got = {r["source"]: r["wal_size_mb"] for r in wal_size_mb(df).collect()}
        assert got == {"s1": 3.0, "s2": 0.5}


class TestPipelineManagerAndE2E:
    def _write_events(self, path, events):
        path.mkdir(parents=True, exist_ok=True)
        (path / f"{time.time_ns()}.json").write_text(
            "\n".join(json.dumps({"value": e}) for e in events)
        )

    def test_reconcile_and_end_to_end_merge(self, spark, tmp_path):
        src_dir = tmp_path / "events"
        self._write_events(
            src_dir,
            [
                ts._envelope("c", 10, after={"id": 1, "name": "a"}),
                ts._envelope("c", 11, after={"id": 2, "name": "b"}),
                ts._envelope("u", 12, before={"id": 1, "name": "a"}, after={"id": 1, "name": "a2"}),
                ts._envelope("d", 13, before={"id": 2}),
            ],
        )
        base = tmp_path / "silver"

        def build(spark_, spec):
            raw = read_cdc_file_stream(spark_, spec.source_path, "value string")
            decoded = decode_cdc_json(raw, ts.PAYLOAD)
            applier = CdcBatchApplier(
                spark_,
                spec.destination_path,
                {"users": CdcTableConfig(keys=["id"], num_buckets=4)},
            )
            return start_merge_stream(
                decoded,
                applier,
                checkpoint=str(tmp_path / "ckpt" / spec.pipeline_id),
                available_now=True,
            )

        mgr = PipelineManager(spark, build)
        spec = PipelineSpec(
            pipeline_id="p1",
            source_path=str(src_dir),
            destination_path=str(base),
            tables=("users",),
        )
        actions = mgr.sync([spec])
        assert actions == {"p1": "started"}
        mgr.running["p1"].awaitTermination(120)

        target = ParquetMergeTable(spark, str(base / "users"), keys=["id"], num_buckets=4)
        state = {(r["id"], r["name"]) for r in target.read().collect()}
        assert state == {(1, "a2")}  # id=2 deleted, id=1 updated

        # PAUSE stops the (finished) query; removal drops it
        paused = PipelineSpec(
            pipeline_id="p1",
            source_path=str(src_dir),
            destination_path=str(base),
            status="PAUSE",
        )
        assert mgr.sync([paused]) == {"p1": "stopped"}
        assert mgr.sync([]) == {}
        mgr.stop_all()

    def test_detect_new_tables(self):
        assert detect_new_tables({"a"}, ["a", "b"]) == {"b"}
        assert detect_new_tables({"a", "b"}, ["a", "b"]) == set()

    def test_check_new_tables_triggers_restart(self, spark, tmp_path):
        class FakeQuery:
            isActive = True

            def __init__(self):
                self.stopped = False

            def stop(self):
                self.stopped = True
                self.isActive = False

        mgr = PipelineManager(spark, build=lambda s, sp: FakeQuery())
        spec = PipelineSpec(
            pipeline_id="p9", source_path="/s", destination_path="/d", tables=("a",)
        )
        mgr.sync([spec])
        assert mgr.check_new_tables({"p9": ["a", "b"]}) == ["p9"]
        assert "p9" not in mgr.running
        # next sync restarts it
        assert mgr.sync([spec]) == {"p9": "started"}

    def test_landing_stream_appends(self, spark, tmp_path):
        src_dir = tmp_path / "ev2"
        self._write_events(src_dir, [ts._envelope("c", i, after={"id": i, "name": "x"}) for i in range(5)])
        raw = read_cdc_file_stream(spark, str(src_dir), "value string")
        decoded = decode_cdc_json(raw, ts.PAYLOAD)
        q = start_landing_stream(
            decoded,
            path=str(tmp_path / "landing"),
            checkpoint=str(tmp_path / "lckpt"),
            available_now=True,
        )
        q.awaitTermination(120)
        landed = spark.read.parquet(str(tmp_path / "landing"))
        assert landed.count() == 5
        assert set(landed.columns) >= {"id", "name", "operation", "sequence", "cdc_timestamp"}


class TestMetrics:
    def test_counters_gauges_exposition(self):
        from etl_stream_spark.streaming.metrics import MetricsRegistry

        m = MetricsRegistry()
        m.describe("events_applied_total", "CDC events applied")
        m.inc("events_applied_total", 5, labels={"table": "users"})
        m.inc("events_applied_total", 2, labels={"table": "users"})
        m.set_gauge("wal_size_mb", 123.5, labels={"source": "s1"})
        assert m.get("events_applied_total", {"table": "users"}) == 7
        text = m.exposition()
        assert "# HELP events_applied_total CDC events applied" in text
        assert '# TYPE events_applied_total counter' in text
        assert 'events_applied_total{table="users"} 7' in text
        assert 'wal_size_mb{source="s1"} 123.5' in text

    def test_health_snapshot(self, spark):
        from etl_stream_spark.streaming.metrics import health_snapshot

        class FakeQuery:
            def __init__(self, active):
                self.isActive = active

        mgr = PipelineManager(spark, build=lambda s, sp: FakeQuery(True))
        spec = PipelineSpec(
            pipeline_id="hp", source_path="/s", destination_path="/d", tables=("t",)
        )
        mgr.sync([spec])
        snap = health_snapshot(mgr)
        assert snap["status"] == "healthy"
        assert snap["pipelines"]["hp"] == {"active": True, "tables": ["t"]}
        mgr.running["hp"].isActive = False
        assert health_snapshot(mgr)["status"] == "degraded"


class TestStreamingSessionWindows:
    def test_agrees_with_batch_sessionization(self, spark):
        """F.session_window streaming sessions must produce the same
        per-user session counts as the oracle-checked batch
        gaps-and-islands query (same 30-minute gap)."""
        from etl_stream_spark.catalog import CATALOG

        sf = "/root/testdata/sf0.001"
        sw = {
            r["user_id"]: r["n"]
            for r in CATALOG["streaming_session_windows"]
            .fn(spark, sf)
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        batch = {
            r["user_id"]: r["n_sessions"]
            for r in CATALOG["user_session_stats"].fn(spark, sf).collect()
        }
        assert sw == batch


class TestCheckpointResume:
    def test_restart_processes_only_new_files_exactly_once(self, spark, tmp_path):
        """The exactly-once resume contract (SURVEY §2.8): stop a
        checkpointed landing stream, add input, restart with the SAME
        checkpoint — rows from before the restart are not re-landed and
        rows added while stopped land exactly once."""
        import json as _json

        from etl_stream_spark.sinks.append import start_landing_stream
        from etl_stream_spark.sources.file_source import read_cdc_file_stream

        src = tmp_path / "in"
        src.mkdir()
        land = str(tmp_path / "landing")
        ckpt = str(tmp_path / "ckpt")
        schema = "id long, payload string"

        def write_file(name, ids):
            (src / name).write_text(
                "\n".join(_json.dumps({"id": i, "payload": f"p{i}"}) for i in ids)
            )

        def run_once():
            stream = read_cdc_file_stream(spark, str(src), schema)
            q = start_landing_stream(stream, land, ckpt, available_now=True)
            q.awaitTermination(120)

        write_file("a.json", [1, 2, 3])
        run_once()
        write_file("b.json", [4, 5, 6])
        run_once()

        landed = sorted(r.id for r in spark.read.parquet(land).collect())
        assert landed == [1, 2, 3, 4, 5, 6]  # no loss, no duplicates


class TestStreamingCusumParity:
    def test_stream_equals_batch_report(self, spark):
        """The streaming CUSUM monitor must reproduce the batch
        change-point report exactly — counts are additive, so however
        the stream is batched the final bucket frame is identical."""
        from etl_stream_spark.catalog import (
            events_cusum_changepoint,
            streaming_cusum_monitor,
        )

        sf = "/root/testdata/sf0.001"
        batch = _rows(events_cusum_changepoint(spark, sf))
        stream = _rows(streaming_cusum_monitor(spark, sf))
        assert stream == batch
