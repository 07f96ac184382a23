"""Spark-job ledger of the CDC core path.

Static JSON micro-batches run through ``decode_cdc_json`` →
``CdcBatchApplier.apply_batch`` on both engines: three merge-on-read
tables (nine batches, so each table crosses one L0 drain at the
default ``compact_threshold`` of 8) and two eager tables (three
batches). The number of Spark jobs each batch launches is exact and
free of timing noise, so it is pinned: a change that adds a job to the
core path fails here, and one that removes a job updates the pins.

Jobs are counted by the job-id delta around each batch, read after the
listener bus drains. Job groups are thread-local and would miss the
jobs the applier's per-table pool threads submit. The same job range
also gives the source input records per change row, summed from the
status store the way ``perfbench/run.py::StatusCounters`` sums them:
every record a non-skipped stage reads, from a file or from a cached
block, counts.
"""

from __future__ import annotations

import json
import random
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import types as T

from etl_stream_spark.cdc.pipeline import CdcBatchApplier, CdcTableConfig
from etl_stream_spark.sources.envelope_decode import decode_cdc_json

PAYLOAD = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("v", T.LongType()),
    ]
)

#: jobs per batch, as measured on the core path
#: fused table discovery (an AQE map stage plus the result) and one L0
#: append per table
MOR_NON_DRAIN_JOBS = 5
#: the 8th append of each table also folds its L0 into the bucket
#: layout (7 jobs per table). The L0 and bucket reads pass the table's
#: typed schema, so neither runs a footer-scan job.
MOR_DRAIN_JOBS = 26
#: two eager tables, each folding its batch into the touched buckets:
#: the first batch into empty targets (8 jobs per table), later ones
#: with a bucket read and an emptied-bucket probe (10 jobs per table)
EAGER_FIRST_JOBS = 16
EAGER_JOBS = 20
#: source input records per change row, over the whole run: the
#: decoded batch is read once per table write, and the fold also reads
#: the touched buckets' state
MOR_INPUT_RECORDS_PER_ROW = 4.91
EAGER_INPUT_RECORDS_PER_ROW = 3.87


def _last_job(spark) -> int:
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return max(sc.statusTracker().getJobIdsForGroup(), default=-1)


def jobs_of(spark, fn):
    """``fn()`` and the number of Spark jobs it ran. The call runs in a
    job group of its own, so jobs that other threads run meanwhile (a
    stream another test left running) are not counted; jobs ``fn`` runs
    on threads of its own are not counted either."""
    sc = spark.sparkContext
    group = f"jobs_of-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _input_records(spark, first: int, last: int) -> int:
    """Records read by the non-skipped stages of jobs ``first..last``.

    A job lists the stages of the shuffles it reuses under their
    original ids. The store may already have evicted such a stage
    (``spark.ui.retainedStages``) when an earlier job ran it long ago;
    it did not run in this job, so it counts like a skipped one."""
    from py4j.protocol import Py4JJavaError

    store = spark.sparkContext._jsc.sc().statusStore()
    total = 0
    for jid in range(first, last + 1):
        sids = store.job(jid).stageIds()
        for i in range(sids.size()):
            try:
                st = store.lastStageAttempt(sids.apply(i))
            except Py4JJavaError:
                continue
            if st.status().toString() != "SKIPPED":
                total += st.inputRecords()
    return total


def _batches(tables: list[str], n_batches: int, rows_per_table: int, seed: int):
    """Debezium envelopes per batch, plus the last-writer-wins state they
    leave behind (``{table: {id: name}}``)."""
    rng = random.Random(seed)
    lsn = 0
    state: dict[str, dict[int, str]] = {t: {} for t in tables}
    out = []
    for b in range(n_batches):
        rows = []
        for t in tables:
            live = state[t]
            for _ in range(rows_per_table):
                lsn += 1
                key = rng.randrange(3 * rows_per_table)
                row = {"id": key, "name": f"{t}-{b}-{lsn}", "v": lsn}
                if key in live and rng.random() < 0.1:
                    op, before, after = "d", {"id": key}, None
                    del live[key]
                else:
                    op, before, after = ("u" if key in live else "c"), None, row
                    live[key] = row["name"]
                env = {
                    "op": op,
                    "ts_ms": 1_700_000_000_000 + lsn,
                    "before": before,
                    "after": after,
                    "source": {"lsn": lsn, "table": t, "schema": "public"},
                }
                rows.append(json.dumps(env))
        out.append(rows)
    return out, state


def _run(spark, root, tables, merge_on_read, n_batches, rows_per_table, seed):
    app = CdcBatchApplier(
        spark,
        str(root / "tables"),
        {
            t: CdcTableConfig(keys=["id"], num_buckets=8, merge_on_read=merge_on_read)
            for t in tables
        },
    )
    batches, want = _batches(tables, n_batches, rows_per_table, seed)
    # one parquet file per batch, as a file-source trigger delivers it:
    # one partition, so every L0 append adds one file and the drain lands
    # on the 8th batch
    root.mkdir()
    frames = []
    for i, rows in enumerate(batches):
        path = str(root / f"in-{i}.parquet")
        pq.write_table(pa.table({"value": rows}), path)
        frames.append(spark.read.schema("value string").parquet(path))
    # the main thread may carry a job group left by an earlier test
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    jobs, records = [], 0
    for epoch, raw in enumerate(frames):
        j0 = _last_job(spark)
        app.apply_batch(decode_cdc_json(raw, PAYLOAD), epoch)
        j1 = _last_job(spark)
        jobs.append(j1 - j0)
        records += _input_records(spark, j0 + 1, j1)
    for t in tables:
        got = {r["id"]: r["name"] for r in app.target(t).read().collect()}
        assert got == want[t], t
    return jobs, round(records / (n_batches * len(tables) * rows_per_table), 2)


def test_core_path_job_ledger(spark, tmp_path):
    mor, mor_records = _run(
        spark, tmp_path / "mor", ["t0", "t1", "t2"], True, 9, 67, seed=3
    )
    eager, eager_records = _run(
        spark, tmp_path / "eager", ["e0", "e1"], False, 3, 100, seed=5
    )
    assert mor == [MOR_NON_DRAIN_JOBS] * 7 + [MOR_DRAIN_JOBS, MOR_NON_DRAIN_JOBS], mor
    assert mor_records == MOR_INPUT_RECORDS_PER_ROW, mor_records
    assert eager == [EAGER_FIRST_JOBS, EAGER_JOBS, EAGER_JOBS], eager
    assert eager_records == EAGER_INPUT_RECORDS_PER_ROW, eager_records
