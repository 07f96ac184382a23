"""The merge engine's documented durability contract (cdc/merge.py::
_write): the commit is per-bucket-directory, and recovery from any
crash window is re-running the same batch. These tests CONSTRUCT the
two bad on-disk states a mid-commit crash can leave and prove the
documented recovery repairs them."""

from __future__ import annotations

import shutil

from etl_stream_spark.cdc import OP_DELETE, OP_INSERT, ParquetMergeTable, make_sequence

EVENT_SCHEMA = "id long, name string, qty long, operation string, sequence string"


def ev(id_, name, qty, op, seq_idx):
    return (id_, name, qty, op, make_sequence(1_700_000_000_000_000, seq_idx))


def state(t):
    return {r.id: (r.name, r.qty) for r in t.read().collect()}


def bucket_dir(t, key_df_row_id, spark):
    b = (
        spark.createDataFrame([(key_df_row_id,)], "id long")
        .select(t._bucket_expr().alias("b"))
        .first()
        .b
    )
    return f"{t.path}/_bucket={b}", b


def test_unswapped_emptied_bucket_repaired_by_replay(spark, tmp_path):
    """Worst window: a batch deletes every row of a bucket; the crash
    lands AFTER the new (empty) output commit but BEFORE the emptied
    directory's removal — the bucket still serves its old rows. The
    docs promise re-running the same batch repairs it."""
    t = ParquetMergeTable(spark, str(tmp_path / "t"), keys=["id"], num_buckets=4)
    t.merge(
        spark.createDataFrame(
            [ev(i, f"n{i}", i, OP_INSERT, i) for i in range(1, 9)], EVENT_SCHEMA
        )
    )
    victim_dir, _b = bucket_dir(t, 3, spark)
    backup = str(tmp_path / "backup")
    shutil.copytree(victim_dir, backup)

    batch = spark.createDataFrame(
        [
            ev(i, None, None, OP_DELETE, 100 + i)
            for r in spark.read.parquet(victim_dir).select("id").collect()
            for i in [r.id]
        ],
        EVENT_SCHEMA,
    )
    t.merge(batch)
    deleted_ids = {r.id for r in spark.read.parquet(backup).collect()}
    assert not deleted_ids & set(state(t))

    # simulate the crash window: the old directory resurfaces
    shutil.rmtree(victim_dir, ignore_errors=True)
    shutil.copytree(backup, victim_dir)
    assert deleted_ids & set(state(t)), "fixture: stale rows visible again"

    t.merge(batch)  # the documented recovery
    assert not deleted_ids & set(state(t))
    # untouched keys unharmed throughout
    assert set(state(t)) == set(range(1, 9)) - deleted_ids


def test_partially_swapped_commit_repaired_by_replay(spark, tmp_path):
    """Crash mid-swap: one touched bucket carries the NEW contents, a
    second touched bucket still carries the OLD. Re-running the same
    batch must land both (new-side replay is a stale no-op, old-side
    replay applies)."""
    t = ParquetMergeTable(spark, str(tmp_path / "t2"), keys=["id"], num_buckets=4)
    t.merge(
        spark.createDataFrame(
            [ev(i, f"n{i}", i, OP_INSERT, i) for i in range(1, 9)], EVENT_SCHEMA
        )
    )
    # two keys in two DIFFERENT buckets
    ka, kb = 1, 2
    dir_a, ba = bucket_dir(t, ka, spark)
    dir_b, bb = bucket_dir(t, kb, spark)
    assert ba != bb, "fixture needs two distinct buckets"
    backup_b = str(tmp_path / "backup_b")
    shutil.copytree(dir_b, backup_b)

    batch = spark.createDataFrame(
        [ev(ka, "a-v2", 11, OP_INSERT, 201), ev(kb, "b-v2", 22, OP_INSERT, 202)],
        EVENT_SCHEMA,
    )
    t.merge(batch)
    assert state(t)[ka] == ("a-v2", 11) and state(t)[kb] == ("b-v2", 22)

    # crash window: bucket B's swap never happened
    shutil.rmtree(dir_b, ignore_errors=True)
    shutil.copytree(backup_b, dir_b)
    assert state(t)[kb] == (f"n{kb}", kb)

    t.merge(batch)  # recovery
    assert state(t)[ka] == ("a-v2", 11)  # stale replay: no double-apply
    assert state(t)[kb] == ("b-v2", 22)  # missed swap: applied


def test_mor_compaction_crash_window_is_idempotent(spark, tmp_path):
    """Merge-on-read compaction deletes consumed L0 files AFTER the
    bucket rewrite commits. A crash in between leaves every consumed row
    twice (bucket dir + L0). Reads must resolve to the identical state
    (same sequence, same body → same winner), and the next compaction
    heals the duplication."""
    import shutil

    from etl_stream_spark.cdc import ParquetMergeTable, make_sequence
    from etl_stream_spark.cdc.envelope import OP_INSERT, OP_UPDATE

    t = ParquetMergeTable(
        spark,
        str(tmp_path / "t"),
        keys=["id"],
        num_buckets=4,
        merge_on_read=True,
        compact_threshold=50,
    )
    schema = "id long, v string, operation string, sequence string"
    t.merge(
        spark.createDataFrame(
            [(k, f"a{k}", OP_INSERT, make_sequence(1, k)) for k in range(6)], schema
        )
    )
    t.merge(
        spark.createDataFrame(
            [(k, f"b{k}", OP_UPDATE, make_sequence(2, k)) for k in range(3)], schema
        )
    )
    want = {r.id: r.v for r in t.read().collect()}
    assert want == {0: "b0", 1: "b1", 2: "b2", 3: "a3", 4: "a4", 5: "a5"}

    # snapshot L0, compact, then restore L0 — the exact crash window
    l0_dir = tmp_path / "t" / "_delta"
    stash = tmp_path / "stash"
    shutil.copytree(l0_dir, stash)
    t.compact()
    assert t._l0.files() == []
    for f in stash.iterdir():
        shutil.copy(f, l0_dir / f.name)
    assert t._l0.files() != []

    # every consumed row exists twice; the read still resolves identically
    assert {r.id: r.v for r in t.read().collect()} == want
    # recovery is simply the next compaction
    t.compact()
    assert t._l0.files() == []
    assert {r.id: r.v for r in t.read().collect()} == want
