#!/usr/bin/env python3
"""CDC ingest benchmark on the engine's real streaming path.

    python3 perfbench/run.py --workload trickle --seed 1 --seconds 20 --trace 0

One fresh process per run: inputs are generated from ``--seed`` (numpy +
pyarrow, before Spark starts), then one Structured Streaming query on
``local[nproc]`` drains the pre-generated backlog with ``availableNow``:

    readStream(parquet) -> decode_cdc_json -> foreachBatch(
        CdcBatchApplier.apply_batch) -> ParquetMergeTable.merge/compact
        -> L0AppendLog

After the stream, every target's ``read()`` is compared with the
generator's expected state. The last stdout line is one JSON object:
end-to-end metrics with ``--trace 0``, per-layer metrics (from a span
recorder and Spark's status store) with ``--trace 1``. Workloads,
metric definitions and the layer map are in ``NOTES.md``.
"""

from __future__ import annotations

import time

PROC_T0 = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
from dataclasses import dataclass  # noqa: E402
from datetime import datetime  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import numpy as np  # noqa: E402


@dataclass(frozen=True)
class Workload:
    tables: tuple[gen.TableSpec, ...]
    rows_per_batch: int
    merge_on_read: bool
    #: input files per trigger; None = one per core
    files_per_batch: int | None
    #: batches run before the measured window (counted in setup_s),
    #: chosen from A/A runs
    warmup_batches: int
    #: the window is a whole number of these units (one drain cycle on
    #: a merge-on-read stream, one batch on the eager engine)
    unit_batches: int
    #: nominal seconds per unit on a 4-core box: --seconds picks the
    #: unit count, so the window is fixed by batch index for a given
    #: --seconds and does not depend on how fast this run happens to be
    unit_s: float
    min_units: int
    #: batch_tail_ms percentile
    tail_p: float

    @property
    def tail_batches(self) -> int:
        """Untimed batches after the window. A merge-on-read window ends
        on a drain; these leave the final reads at L0 depth
        COMPACT_THRESHOLD // 2, mid-cycle."""
        return COMPACT_THRESHOLD // 2 if self.merge_on_read else 0


COMPACT_THRESHOLD = 8  # CdcTableConfig default: one L0 drain per 8 appends

WORKLOADS = {
    # Per-batch fixed cost dominates: three tables in one ordered stream,
    # one input file per trigger, merge-on-read appends with a drain
    # every 8th batch. tail_p sits inside the drain mode (drains are the
    # top 1/8 of a window made of whole cycles) from two cycles on.
    "trickle": Workload(
        tables=(
            gen.TableSpec("orders", 12_000, 0.5),
            gen.TableSpec("customers", 4_000, 0.2),
            gen.TableSpec("payments", 8_000, 0.3),
        ),
        rows_per_batch=2_000,
        merge_on_read=True,
        files_per_batch=1,
        warmup_batches=COMPACT_THRESHOLD,
        unit_batches=COMPACT_THRESHOLD,
        unit_s=6.5,
        min_units=2,
        tail_p=93.75,
    ),
    # Data volume dominates: two tables on the eager engine, populated by
    # a 3-batch snapshot, one input file per core per trigger.
    "backfill": Workload(
        tables=(
            gen.TableSpec("orders", 250_000, 0.5, preload=60_000),
            gen.TableSpec("payments", 250_000, 0.5, preload=60_000),
        ),
        rows_per_batch=40_000,
        merge_on_read=False,
        files_per_batch=None,
        warmup_batches=4,
        unit_batches=1,
        unit_s=3.9,
        min_units=4,
        tail_p=90.0,
    ),
}


def _payload_schema():
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("status", T.StringType()),
            T.StructField("amount", T.DoubleType()),
            T.StructField("qty", T.LongType()),
            T.StructField("note", T.StringType()),
        ]
    )


def _ts(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Progress:
    """Collects every progress event of the query (durations per trigger
    phase, trigger start time) through a streaming query listener."""

    def __init__(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        self.events: dict[int, tuple[dict, float]] = {}
        self._cv = threading.Condition()
        outer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                with outer._cv:
                    outer.events[p.batchId] = (dict(p.durationMs), _ts(p.timestamp))
                    outer._cv.notify_all()

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _Listener()

    def wait_for(self, n: int, timeout: float) -> bool:
        with self._cv:
            return self._cv.wait_for(lambda: len(self.events) >= n, timeout)


class StatusCounters:
    """Status-store totals over the measured window (traced run only).

    The window's job-id range is marked at its edges, off the batches'
    blocking path; the per-job details are read once the stream ends.
    The store keeps ``spark.ui.retainedJobs`` (default 1000) jobs, well
    above a run's job count, and a job evicted anyway raises instead of
    being silently missed."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext._jsc.sc()
        self.store = self.sc.statusStore()

    def last_job(self) -> int:
        self.sc.listenerBus().waitUntilEmpty(30_000)
        return max(self.spark.sparkContext.statusTracker().getJobIdsForGroup(), default=-1)

    def totals(self, first: int, last: int) -> dict[str, int]:
        """Sums over jobs ``first..last``; skipped stages do not count."""
        from py4j.protocol import Py4JJavaError

        tot = dict(jobs=0, stages=0, tasks=0, input_records=0,
                   shuffle_write_bytes=0, output_bytes=0)
        for jid in range(first, last + 1):
            try:
                job = self.store.job(jid)
            except Py4JJavaError as exc:
                raise RuntimeError(f"job {jid} left the status store") from exc
            tot["jobs"] += 1
            sids = job.stageIds()
            for i in range(sids.size()):
                st = self.store.lastStageAttempt(sids.apply(i))
                if st.status().toString() == "SKIPPED":
                    continue
                tot["stages"] += 1
                tot["tasks"] += st.numCompleteTasks()
                tot["input_records"] += st.inputRecords()
                tot["shuffle_write_bytes"] += st.shuffleWriteBytes()
                tot["output_bytes"] += st.outputBytes()
        return tot


def _cpu_ticks() -> list[int]:
    """Host-wide CPU tick counters (user .. steal) from ``/proc/stat``."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _gc_ms(spark) -> int:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(beans.get(i).getCollectionTime() for i in range(beans.size()))


def _calib_ms(spark, nproc: int) -> float:
    """A fixed CPU-bound aggregate, median of three after two untimed
    passes: box drift marker. Every run makes these passes before its
    stream, so traced and untraced runs warm the JVM alike."""
    times = []
    for _ in range(5):
        t = time.perf_counter()
        spark.range(0, 30_000_000, 1, nproc).selectExpr("sum(id % 7)").collect()
        times.append((time.perf_counter() - t) * 1e3)
    return np.median(times[2:])


def run(workload: str, seed: int, seconds: int, traced: bool, work: str) -> dict:
    wl = WORKLOADS[workload]
    nproc = len(os.sched_getaffinity(0))
    fpb = wl.files_per_batch or nproc
    units = max(wl.min_units, round(seconds / wl.unit_s))
    window = units * wl.unit_batches
    snapshot_batches = sum(t.preload for t in wl.tables) // wl.rows_per_batch
    spec = gen.StreamSpec(
        tables=wl.tables,
        rows_per_batch=wl.rows_per_batch,
        batches=wl.warmup_batches + window + wl.tail_batches - snapshot_batches,
    )

    # -- inputs and oracle (not counted in setup_s) ------------------------
    g0 = time.time()
    ev = gen.generate_events(spec, seed)
    stream_dir = gen.write_inputs(ev, spec, os.path.join(work, "in"), fpb)
    expected = gen.final_state(ev)
    digests = {
        t.name: gen.state_digest(ev, expected.get(ti, []))
        for ti, t in enumerate(wl.tables)
    }
    gen_s = time.time() - g0

    # -- session ------------------------------------------------------------
    from etl_stream_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{workload}",
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_conf={
            "spark.driver.memory": "3g",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    get_spark_s = time.perf_counter() - t
    jvm = spark.sparkContext._gateway.proc
    try:
        return _measure(spark, wl, stream_dir, digests, fpb, window, traced,
                        work, nproc, gen_s, get_spark_s, jvm.pid)
    finally:
        spark.stop()
        spark.sparkContext._gateway.shutdown()
        # the gateway JVM exits when its stdin closes
        jvm.stdin.close()
        jvm.wait(60)


def _measure(spark, wl, stream_dir, digests, fpb, window, traced, work, nproc,
             gen_s, get_spark_s, jvm_pid) -> dict:
    from etl_stream_spark.cdc.pipeline import CdcBatchApplier, CdcTableConfig
    from etl_stream_spark.sources.envelope_decode import decode_cdc_json
    from spans import Recorder

    schema = _payload_schema()
    app = CdcBatchApplier(
        spark,
        os.path.join(work, "tables"),
        {
            t.name: CdcTableConfig(
                keys=["id"],
                merge_on_read=wl.merge_on_read,
                compact_threshold=COMPACT_THRESHOLD,
            )
            for t in wl.tables
        },
    )
    rec = Recorder() if traced else None
    status = StatusCounters(spark) if traced else None
    c0 = time.time()
    calib_start = _calib_ms(spark, nproc)
    calib_s = time.time() - c0
    if traced:
        rec.install()

    w0, w1 = wl.warmup_batches, wl.warmup_batches + window
    n_batches = w1 + wl.tail_batches
    ticks0 = _cpu_ticks()
    marks: dict[str, int] = {}

    def mark(edge: str, job: int) -> None:
        marks["job" + edge], marks["gc" + edge] = job, _gc_ms(spark)

    def body(df, epoch_id):
        if traced and epoch_id == w1:
            # the first tail batch marks where the window's jobs end,
            # before it starts its own
            mark("1", status.last_job())
        root = rec.root("stream.foreach", epoch_id) if traced else None
        try:
            app.apply_batch(decode_cdc_json(df, schema), epoch_id)
        finally:
            if traced:
                rec.close_root(root)
        if traced and epoch_id == w0 - 1:
            # the last warm-up batch marks where the window's jobs begin
            mark("0", status.last_job() + 1)

    progress = Progress()
    spark.streams.addListener(progress.listener)
    query = (
        spark.readStream.schema("value string")
        .option("maxFilesPerTrigger", fpb)
        .parquet(stream_dir)
        .writeStream.foreachBatch(body)
        .option("checkpointLocation", os.path.join(work, "checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    if not query.awaitTermination(150):
        query.stop()
    progress.wait_for(n_batches, 30)
    spark.streams.removeListener(progress.listener)
    events = progress.events
    if any(b not in events for b in range(n_batches)):
        raise RuntimeError(f"stream stopped after {len(events)} of {n_batches} batches")
    if traced and "job1" not in marks:  # the window ran to the end of the stream
        mark("1", status.last_job())

    trig = [events[b][0]["triggerExecution"] for b in range(w0, w1)]
    first_start = events[w0][1]
    window_end = events[w1 - 1][1] + trig[-1] / 1e3
    window_rows = window * wl.rows_per_batch

    # -- correctness: every target against the oracle ----------------------
    checks = failed = 0
    for name, (n, h) in digests.items():
        checks += 1
        got = app.target(name).read().selectExpr(*gen.SPARK_DIGEST_SQL).collect()[0]
        if (got["n"], int(got["h"] or 0)) != (n, h):
            failed += 1
            print(f"# {name}: got {got['n']} rows/{got['h']}, want {n}/{h}", file=sys.stderr)

    ticks = [b - a for a, b in zip(ticks0, _cpu_ticks())]
    print(
        f"# gen {gen_s:.1f}s get_spark {get_spark_s:.1f}s "
        f"calib {calib_start:.0f}ms steal {ticks[7] / max(1, sum(ticks)):.1%} "
        f"batches {[events[b][0]['triggerExecution'] for b in sorted(events)]}",
        file=sys.stderr,
    )
    e2e = {
        "setup_s": (first_start - PROC_T0 - gen_s - calib_s, "s"),
        "rows_per_s": (window_rows / (window_end - first_start), "rows/s"),
        "batch_p50_ms": (np.median(trig), "ms"),
        "batch_tail_ms": (np.percentile(trig, wl.tail_p), "ms"),
        "peak_rss_mb": (
            (_vm_hwm_kb(jvm_pid) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss)
            / 1024,
            "MB",
        ),
    }
    if not traced:
        metrics = e2e
    else:
        spark_tot = status.totals(marks["job0"], marks["job1"])
        metrics = _layers(rec, events, w0, w1, spark_tot, window_rows)
        metrics["spark.gc_ms_per_batch"] = ((marks["gc1"] - marks["gc0"]) / window, "ms")
        metrics["session.get_spark_s"] = (get_spark_s, "s")
        metrics["trace.batch_p50_ms"] = (np.median(trig), "ms")
        files = sorted(os.listdir(stream_dir))[w0 * fpb:(w0 + 1) * fpb]
        dec = []
        for _ in range(3):
            t = time.perf_counter()
            decode_cdc_json(
                spark.read.parquet(*[os.path.join(stream_dir, f) for f in files]), schema
            ).count()
            dec.append((time.perf_counter() - t) * 1e3)
        metrics["sources.decode_ms_per_krow"] = (
            np.median(dec) / (wl.rows_per_batch / 1000), "ms/krow")
        metrics["box.calib_start_ms"] = (calib_start, "ms")
        metrics["box.calib_end_ms"] = (_calib_ms(spark, nproc), "ms")
        rec.uninstall()
    return {
        "correct": failed == 0,
        "attempted": n_batches + checks,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def _layers(rec, events, w0, w1, tot, window_rows) -> dict:
    """Per-layer metrics over the measured window's batches."""
    kids = rec.children()
    by_id = {s.id: s for s in rec.spans}
    in_win = [s for s in rec.spans if s.trace is not None and w0 <= s.trace < w1]
    n = w1 - w0

    def named(name):
        return [s for s in in_win if s.name == name]

    def ancestor(span, name):
        p = by_id.get(span.parent)
        while p is not None and p.name != name:
            p = by_id.get(p.parent)
        return p

    def descendants(span, name):
        out, todo = [], list(kids.get(span.id, []))
        while todo:
            s = todo.pop()
            if s.name == name:
                out.append(s)
            todo.extend(kids.get(s.id, []))
        return out

    def phase(b, key):
        return events[b][0].get(key, 0)

    roots = {s.trace: s for s in named("stream.foreach")}
    applies = {s.trace: s for s in named("pipeline.apply")}
    merge_ms, drain_ms, apply_self = [], [], []
    for b, ap in applies.items():
        merges = [k for k in kids.get(ap.id, []) if k.name == "merge.merge"]
        drains = [d for m in merges for d in descendants(m, "merge.drain")]
        merge_ms.append(rec.covered_ms(ap, merges) - rec.covered_ms(ap, drains))
        apply_self.append(ap.ms - rec.covered_ms(ap, merges))
        if drains:
            drain_ms.append(rec.covered_ms(ap, drains))
    foreach_self = [
        rec.self_ms(r, kids, only={"pipeline.apply"}) for r in roots.values()
    ]
    # the final reads, outside any batch: L0 depth COMPACT_THRESHOLD // 2
    # on trickle (the tail batches), none on the eager engine
    reads = [s for s in rec.spans if s.name == "merge.read" and s.trace is None]
    depth = [
        f.n for f in rec.spans
        if f.name == "l0_log.files" and f.trace is None
        and ancestor(f, "merge.read") is not None
    ]
    appends = named("l0_log.append")
    return {
        "streaming.trigger_overhead_ms": (np.median(
            [phase(b, "triggerExecution") - phase(b, "addBatch") for b in range(w0, w1)]),
            "ms"),
        "streaming.latest_offset_ms": (np.median([phase(b, "latestOffset") for b in range(w0, w1)]), "ms"),
        "streaming.wal_commit_ms": (np.median([phase(b, "walCommit") for b in range(w0, w1)]), "ms"),
        "streaming.commit_offsets_ms": (np.median([phase(b, "commitOffsets") for b in range(w0, w1)]), "ms"),
        "streaming.sink_dispatch_ms": (np.median(
            [phase(b, "addBatch") - roots[b].ms for b in range(w0, w1)]), "ms"),
        "sources.decode_build_ms": (np.median(foreach_self), "ms"),
        "pipeline.apply_ms": (np.median([a.ms for a in applies.values()]), "ms"),
        "pipeline.apply_self_ms": (np.median(apply_self), "ms"),
        "merge.merge_ms": (np.median(merge_ms), "ms"),
        "merge.drain_ms": (sum(drain_ms) / len(drain_ms) if drain_ms else 0.0, "ms"),
        "merge.drains": (len(named("merge.drain")), "count"),
        "merge.read_ms": (sum(s.ms for s in reads) / len(reads), "ms"),
        "l0_log.append_ms": (
            sum(s.ms for s in appends) / len(appends) if appends else 0.0, "ms"),
        "l0_log.listings_per_batch": (len(named("l0_log.files")) / n, "count"),
        "l0_log.depth_at_read": (sum(depth) / len(depth) if depth else 0.0, "files"),
        "spark.jobs_per_batch": (tot["jobs"] / n, "count"),
        "spark.stages_per_batch": (tot["stages"] / n, "count"),
        "spark.tasks_per_batch": (tot["tasks"] / n, "count"),
        "spark.input_records_per_row": (tot["input_records"] / window_rows, "rows/row"),
        "spark.shuffle_write_bytes_per_row": (tot["shuffle_write_bytes"] / window_rows, "B/row"),
        "spark.output_bytes_per_row": (tot["output_bytes"] / window_rows, "B/row"),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.path.dirname(HERE)
    if not os.path.isfile(os.path.join(root, "etl_stream_spark", "__init__.py")):
        print(f"# no etl_stream_spark package under {root}", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, f".perfbench_work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    try:
        out = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
