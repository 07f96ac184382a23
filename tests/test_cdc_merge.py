"""CDC core tests — FIXTURES.md F2 scenario coverage (1-7)."""

from __future__ import annotations

from decimal import Decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_stream_spark.cdc import (
    OP_DELETE,
    OP_INSERT,
    OP_TRUNCATE,
    OP_UPDATE,
    ParquetMergeTable,
    last_writer_wins,
    make_sequence,
)
from etl_stream_spark.cdc.envelope import sequence_expr, with_cdc_metadata
from etl_stream_spark.cdc.pipeline import (
    CdcBatchApplier,
    CdcTableConfig,
    apply_with_truncate_barrier,
    LandingTable,
)

EVENT_SCHEMA = "id long, name string, qty long, operation string, sequence string"


def ev(id_, name, qty, op, seq_idx):
    return (id_, name, qty, op, make_sequence(1_700_000_000_000_000, seq_idx))


def make_batch(spark, rows):
    return spark.createDataFrame(rows, EVENT_SCHEMA)


def state_dict(table):
    return {r["id"]: (r["name"], r["qty"]) for r in table.read().collect()}


@pytest.fixture()
def target(spark, tmp_path):
    return ParquetMergeTable(spark, str(tmp_path / "target"), keys=["id"], num_buckets=4)


class TestSequence:
    def test_zero_padded_total_order(self):
        a = make_sequence(1000, 5)
        b = make_sequence(1000, 40)
        c = make_sequence(1001, 0)
        assert a < b < c  # lexicographic == numeric given fixed pad

    def test_sequence_expr(self, spark):
        df = spark.range(3).select(
            sequence_expr(F.lit(123), F.col("id")).alias("seq")
        )
        assert [r.seq for r in df.collect()] == [
            "123_00000000",
            "123_00000001",
            "123_00000002",
        ]


class TestEnvelope:
    def test_with_cdc_metadata(self, spark):
        df = spark.createDataFrame([(1, "a")], "id long, v string")
        out = with_cdc_metadata(df, F.lit("INSERT"), F.lit("1_0"))
        assert set(out.columns) == {"id", "v", "operation", "sequence", "cdc_timestamp"}


class TestDedup:
    def test_last_writer_wins(self, spark):
        df = make_batch(
            spark,
            [ev(1, "a", 1, OP_INSERT, 0), ev(1, "b", 2, OP_UPDATE, 1), ev(2, "c", 3, OP_INSERT, 2)],
        )
        out = last_writer_wins(df, ["id"])
        got = {r["id"]: r["name"] for r in out.collect()}
        assert got == {1: "b", 2: "c"}


class TestMergeScenarios:
    def test_s1_insert_update_update_same_batch(self, spark, target):
        target.merge(
            make_batch(
                spark,
                [
                    ev(1, "a", 1, OP_INSERT, 0),
                    ev(1, "b", 2, OP_UPDATE, 1),
                    ev(1, "c", 3, OP_UPDATE, 2),
                ],
            )
        )
        assert state_dict(target) == {1: ("c", 3)}

    def test_s2_insert_delete_same_batch(self, spark, target):
        target.merge(
            make_batch(spark, [ev(1, "a", 1, OP_INSERT, 0), ev(1, None, None, OP_DELETE, 1)])
        )
        assert state_dict(target) == {}

    def test_s3_delete_with_pk_only(self, spark, target):
        target.merge(make_batch(spark, [ev(1, "a", 1, OP_INSERT, 0), ev(2, "b", 2, OP_INSERT, 1)]))
        # DELETE row carries only the PK (no REPLICA IDENTITY FULL)
        target.merge(make_batch(spark, [ev(1, None, None, OP_DELETE, 2)]))
        assert state_dict(target) == {2: ("b", 2)}

    def test_s4_update_for_never_inserted_pk_inserts(self, spark, target):
        target.merge(make_batch(spark, [ev(7, "ghost", 9, OP_UPDATE, 0)]))
        assert state_dict(target) == {7: ("ghost", 9)}

    def test_s5_out_of_order_across_batches_older_loses(self, spark, target):
        target.merge(make_batch(spark, [ev(1, "new", 2, OP_UPDATE, 10)]))
        target.merge(make_batch(spark, [ev(1, "old", 1, OP_UPDATE, 5)]))  # stale replay
        assert state_dict(target) == {1: ("new", 2)}
        # stale DELETE must lose too
        target.merge(make_batch(spark, [ev(1, None, None, OP_DELETE, 7)]))
        assert state_dict(target) == {1: ("new", 2)}

    def test_multi_batch_upsert_and_unmatched_rows_survive(self, spark, target):
        target.merge(
            make_batch(
                spark, [ev(i, f"n{i}", i, OP_INSERT, i) for i in range(20)]
            )
        )
        target.merge(make_batch(spark, [ev(3, "upd", 99, OP_UPDATE, 100)]))
        st = state_dict(target)
        assert len(st) == 20
        assert st[3] == ("upd", 99)
        assert st[7] == ("n7", 7)

    def test_delete_empties_bucket(self, spark, target):
        # All rows of one bucket deleted → the partition must not go stale.
        target.merge(make_batch(spark, [ev(1, "a", 1, OP_INSERT, 0)]))
        target.merge(make_batch(spark, [ev(1, None, None, OP_DELETE, 1)]))
        assert state_dict(target) == {}
        target.merge(make_batch(spark, [ev(1, "back", 5, OP_INSERT, 2)]))
        assert state_dict(target) == {1: ("back", 5)}

    def test_s7_schema_evolution_new_column(self, spark, target):
        target.merge(make_batch(spark, [ev(1, "a", 1, OP_INSERT, 0)]))
        evolved = spark.createDataFrame(
            [(2, "b", 2, "extra", OP_INSERT, make_sequence(1_700_000_000_000_001, 0))],
            "id long, name string, qty long, new_col string, operation string, sequence string",
        )
        target.merge(evolved)
        rows = {r["id"]: r.asDict() for r in target.read().collect()}
        assert rows[2]["new_col"] == "extra"
        assert rows[1]["new_col"] is None  # old rows null-filled


class TestTombstones:
    """tombstone_deletes=True: out-of-order replay safety. Without a
    tombstone, an event resubmitted AFTER a newer DELETE (quarantine
    repair, DLQ replay) finds no matching key and re-inserts it."""

    @pytest.fixture()
    def ttarget(self, spark, tmp_path):
        return ParquetMergeTable(
            spark,
            str(tmp_path / "ttarget"),
            keys=["id"],
            num_buckets=4,
            tombstone_deletes=True,
        )

    def test_stale_replay_after_delete_loses(self, spark, ttarget):
        ttarget.merge(make_batch(spark, [ev(1, "a", 1, OP_INSERT, 0)]))
        ttarget.merge(make_batch(spark, [ev(1, None, None, OP_DELETE, 5)]))
        assert state_dict(ttarget) == {}
        # the repaired original insert comes back late — must stay dead
        ttarget.merge(make_batch(spark, [ev(1, "a", 1, OP_INSERT, 0)]))
        assert state_dict(ttarget) == {}

    def test_delete_before_insert_first_batch(self, spark, ttarget):
        # delete arrives first (its batch decoded fine, the insert was
        # quarantined) — even a never-matched DELETE leaves a marker
        ttarget.merge(make_batch(spark, [ev(1, None, None, OP_DELETE, 5)]))
        assert state_dict(ttarget) == {}
        ttarget.merge(make_batch(spark, [ev(1, "a", 1, OP_INSERT, 0)]))
        assert state_dict(ttarget) == {}

    def test_newer_insert_resurrects(self, spark, ttarget):
        ttarget.merge(make_batch(spark, [ev(1, "a", 1, OP_INSERT, 0)]))
        ttarget.merge(make_batch(spark, [ev(1, None, None, OP_DELETE, 5)]))
        ttarget.merge(make_batch(spark, [ev(1, "back", 9, OP_INSERT, 8)]))
        assert state_dict(ttarget) == {1: ("back", 9)}

    def test_stale_delete_still_loses(self, spark, ttarget):
        ttarget.merge(make_batch(spark, [ev(1, "new", 2, OP_UPDATE, 10)]))
        ttarget.merge(make_batch(spark, [ev(1, None, None, OP_DELETE, 7)]))
        assert state_dict(ttarget) == {1: ("new", 2)}

    def test_compaction_purges_only_watermarked(self, spark, ttarget):
        ttarget.merge(
            make_batch(
                spark,
                [
                    ev(1, "a", 1, OP_INSERT, 0),
                    ev(2, "b", 2, OP_INSERT, 1),
                    ev(3, "c", 3, OP_INSERT, 2),
                ],
            )
        )
        ttarget.merge(
            make_batch(
                spark,
                [ev(1, None, None, OP_DELETE, 5), ev(2, None, None, OP_DELETE, 9)],
            )
        )
        from etl_stream_spark.cdc.merge import DELETED_COL

        raw = ttarget._read_state()
        assert raw.filter(F.col(DELETED_COL)).count() == 2
        # watermark between the two deletes: only the older purges
        ttarget.compact_tombstones(make_sequence(1_700_000_000_000_000, 7))
        raw = ttarget._read_state()
        assert raw.filter(F.col(DELETED_COL)).count() == 1
        assert state_dict(ttarget) == {3: ("c", 3)}
        # post-compaction the purged key has no marker: a replay below
        # the watermark must never happen again (caller's contract)
        ttarget.merge(make_batch(spark, [ev(2, "late", 2, OP_INSERT, 12)]))
        assert state_dict(ttarget) == {2: ("late", 2), 3: ("c", 3)}

    def test_reader_without_flag_sees_filtered_state(self, spark, ttarget):
        ttarget.merge(make_batch(spark, [ev(1, "a", 1, OP_INSERT, 0)]))
        ttarget.merge(make_batch(spark, [ev(1, None, None, OP_DELETE, 5)]))
        plain = ParquetMergeTable(
            spark, ttarget.path, keys=["id"], num_buckets=4
        )
        assert state_dict(plain) == {}


class TestTruncateBarrier:
    def test_s6_truncate_interleaved(self, spark, target):
        events = make_batch(
            spark,
            [
                ev(1, "pre", 1, OP_INSERT, 0),
                ev(2, "pre", 2, OP_INSERT, 1),
                ev(None, None, None, OP_TRUNCATE, 2),
                ev(3, "post", 3, OP_INSERT, 3),
            ],
        )
        apply_with_truncate_barrier(target, events)
        assert state_dict(target) == {3: ("post", 3)}

    def test_consecutive_truncates_collapse(self, spark, target):
        events = make_batch(
            spark,
            [
                ev(1, "x", 1, OP_INSERT, 0),
                ev(None, None, None, OP_TRUNCATE, 1),
                ev(None, None, None, OP_TRUNCATE, 2),
                ev(9, "y", 2, OP_INSERT, 3),
            ],
        )
        apply_with_truncate_barrier(target, events)
        assert state_dict(target) == {9: ("y", 2)}


class TestBatchApplier:
    def test_multi_table_routing(self, spark, tmp_path):
        applier = CdcBatchApplier(
            spark,
            str(tmp_path / "tables"),
            {"t1": CdcTableConfig(keys=["id"]), "t2": CdcTableConfig(keys=["id"])},
        )
        events = spark.createDataFrame(
            [
                ("t1", 1, "a", 1, OP_INSERT, make_sequence(1, 0)),
                ("t2", 1, "b", 2, OP_INSERT, make_sequence(1, 1)),
                ("t1", 1, "a2", 3, OP_UPDATE, make_sequence(1, 2)),
                ("t3", 1, "ignored", 0, OP_INSERT, make_sequence(1, 3)),  # unregistered
            ],
            "table string, id long, name string, qty long, operation string, sequence string",
        )
        applier.apply_batch(events)
        assert state_dict(applier.target("t1")) == {1: ("a2", 3)}
        assert state_dict(applier.target("t2")) == {1: ("b", 2)}


class TestLanding:
    def test_append_watermark_purge(self, spark, tmp_path):
        landing = LandingTable(spark, str(tmp_path / "landing"))
        landing.append(
            make_batch(spark, [ev(1, "a", 1, OP_INSERT, 0), ev(2, "b", 2, OP_INSERT, 1)])
        )
        landing.append(make_batch(spark, [ev(3, "c", 3, OP_INSERT, 2)]))
        assert landing.read().count() == 3
        wm = landing.max_sequence()
        assert wm == make_sequence(1_700_000_000_000_000, 2)
        landing.purge_upto(make_sequence(1_700_000_000_000_000, 1))
        assert landing.read().count() == 1


class TestTombstonePermutationInvariance:
    def test_any_batch_order_converges_to_same_state(self, spark, tmp_path):
        """With tombstones, the merged state is a pure function of the
        event SET — any replay/resubmission order of whole batches
        converges to the same table. (This is exactly what the
        quarantine/DLQ repair loop needs, and exactly what physical
        deletes break: a delete that loses its row also loses the
        sequence state that stale replays must compare against.)"""
        import itertools

        batches = [
            [ev(1, "a1", 1, OP_INSERT, 0), ev(2, "b1", 1, OP_INSERT, 1)],
            [ev(1, None, None, OP_DELETE, 5), ev(3, "c1", 1, OP_INSERT, 6)],
            [ev(1, "a2", 2, OP_UPDATE, 3), ev(2, None, None, OP_DELETE, 9)],
            [ev(3, "c2", 7, OP_UPDATE, 8), ev(4, "d1", 4, OP_INSERT, 2)],
        ]
        # global winners: 1→DELETE(5)>UPDATE(3); 2→DELETE(9);
        # 3→UPDATE(8); 4→INSERT(2)
        expected = {3: ("c2", 7), 4: ("d1", 4)}
        orders = list(itertools.permutations(range(4)))[::5]  # 5 of 24
        for i, order in enumerate(orders):
            t = ParquetMergeTable(
                spark,
                str(tmp_path / f"perm{i}"),
                keys=["id"],
                num_buckets=4,
                tombstone_deletes=True,
            )
            for bi in order:
                t.merge(make_batch(spark, batches[bi]))
            assert state_dict(t) == expected, order


class TestPrunedStateRead:
    """The path-level state pruning (merge reads only touched _bucket=
    dirs) must not leak into semantics: columns living only in UNtouched
    buckets survive merges that never see them."""

    def test_column_in_untouched_bucket_survives(self, spark, tmp_path):
        from etl_stream_spark.cdc.merge import bucket_expr_for

        # two keys guaranteed to land in different buckets
        rows = spark.range(1, 60).select(
            F.col("id"), bucket_expr_for(["id"], 4).alias("b")
        ).collect()
        by_bucket = {}
        for r in rows:
            by_bucket.setdefault(r["b"], r["id"])
        k_a, k_b = by_bucket[0], by_bucket[1]

        target = ParquetMergeTable(
            spark, str(tmp_path / "t"), keys=["id"], num_buckets=4
        )
        target.merge(make_batch(
            spark, [ev(k_a, "a", 1, OP_INSERT, 0), ev(k_b, "b", 2, OP_INSERT, 1)]
        ))
        # evolved batch adds `extra`, touches ONLY k_a's bucket
        evolved = spark.createDataFrame(
            [(k_a, "a2", 1, "ex", "INSERT",
              make_sequence(1_700_000_000_000_001, 0))],
            "id long, name string, qty long, extra string, "
            "operation string, sequence string",
        )
        target.merge(evolved)
        # old-schema batch touching ONLY k_b's bucket: its pruned state
        # read never sees `extra`
        target.merge(make_batch(
            spark, [ev(k_b, "b2", 3, OP_UPDATE, 2)]
        ))

        got = {r["id"]: r for r in target.read().collect()}
        assert got[k_a]["extra"] == "ex"      # survived the blind merge
        assert got[k_b]["name"] == "b2"       # the update applied
        assert got[k_b]["extra"] is None      # evolution null-fills


class TestTombstonePayload:
    def test_winning_delete_drops_pre_image(self, spark, tmp_path):
        """Kafka-tombstone semantics: a winning
        DELETE takes the batch row's data values — NULL for PK-only
        deletes — so the pre-image does not linger in storage until
        compaction (retention/RTBF window)."""
        t = ParquetMergeTable(
            spark,
            str(tmp_path / "t"),
            keys=["id"],
            num_buckets=4,
            tombstone_deletes=True,
        )
        t.merge(make_batch(spark, [ev(1, "secret", 42, OP_INSERT, 0)]))
        t.merge(make_batch(spark, [ev(1, None, None, OP_DELETE, 5)]))
        raw = t._read_state().filter(F.col("id") == 1).collect()
        assert len(raw) == 1
        assert raw[0]["name"] is None and raw[0]["qty"] is None
        assert state_dict(t) == {}

    def test_pk_only_schema_delete_also_drops_pre_image(self, spark, tmp_path):
        """A delete whose SCHEMA carries only the key (no nulled data
        columns) must scrub too — the column-absent keeps-target
        fallback applies to updates, never to winning deletes."""
        t = ParquetMergeTable(
            spark,
            str(tmp_path / "t2"),
            keys=["id"],
            num_buckets=4,
            tombstone_deletes=True,
        )
        t.merge(make_batch(spark, [ev(1, "secret", 42, OP_INSERT, 0)]))
        pk_only = spark.createDataFrame(
            [(1, OP_DELETE, make_sequence(1_700_000_000_000_000, 5))],
            "id long, operation string, sequence string",
        )
        t.merge(pk_only)
        raw = t._read_state().filter(F.col("id") == 1).collect()
        assert len(raw) == 1
        assert raw[0]["name"] is None and raw[0]["qty"] is None
        assert state_dict(t) == {}


class TestSmallTextAtomicity:
    """Metadata files (generation counters, column sidecars, epoch
    guards) commit via write-temp-then-rename: readers parse them
    unguarded, so a torn write must be impossible — they see either the
    old content or the new, never a partial file."""

    def test_overwrite_roundtrip_and_no_tmp_residue(self, spark, tmp_path):
        from etl_stream_spark.l0_log import read_small_text, write_small_text

        p = str(tmp_path / "meta" / "gen.txt")
        assert read_small_text(spark, p) is None
        write_small_text(spark, p, "7")
        assert read_small_text(spark, p) == "7"
        write_small_text(spark, p, "8")  # overwrite an existing file
        assert read_small_text(spark, p) == "8"
        import os

        assert not os.path.exists(p + ".tmp")

    def test_crash_before_rename_preserves_old_content(self, spark, tmp_path):
        """Simulate dying after the temp write: the destination keeps
        its committed content; a later successful write supersedes the
        orphaned temp file rather than tripping over it."""
        from etl_stream_spark.l0_log import read_small_text, write_small_text

        p = str(tmp_path / "gen.txt")
        write_small_text(spark, p, "42")
        with open(p + ".tmp", "w") as fh:  # orphan from a crashed writer
            fh.write("tor")  # torn partial content
        assert read_small_text(spark, p) == "42"
        write_small_text(spark, p, "43")
        assert read_small_text(spark, p) == "43"

    def test_backup_fallback_never_reads_absent(self, spark, tmp_path):
        """On filesystems where rename refuses an existing destination,
        the writer parks the committed value at .old before installing
        the new one. A crash inside that window must read as the OLD
        value — absent would parse as generation 0 and silently corrupt
        a populated index. A later successful write cleans the backup
        up and supersedes it."""
        import os

        from etl_stream_spark.l0_log import read_small_text, write_small_text

        p = str(tmp_path / "gen.txt")
        write_small_text(spark, p, "7")
        os.rename(p, p + ".old")  # crash between backup-rename and commit
        crc = os.path.join(str(tmp_path), ".gen.txt.crc")
        if os.path.exists(crc):  # keep the checksum FS consistent
            os.rename(crc, os.path.join(str(tmp_path), ".gen.txt.old.crc"))
        assert read_small_text(spark, p) == "7"  # previous value, not None
        write_small_text(spark, p, "8")
        assert read_small_text(spark, p) == "8"
        assert not os.path.exists(p + ".old") or read_small_text(spark, p) == "8"


class TestMergeOnRead:
    """merge_on_read=True: L0 delta appends + read-time resolution must
    be observationally identical to the eager engine."""

    def _mor(self, spark, tmp_path, threshold=3, tomb=False):
        return ParquetMergeTable(
            spark,
            str(tmp_path / f"mor_{threshold}_{tomb}"),
            keys=["id"],
            num_buckets=4,
            merge_on_read=True,
            compact_threshold=threshold,
            tombstone_deletes=tomb,
        )

    def test_within_batch_duplicates_resolve_like_window(self, spark, tmp_path):
        t = self._mor(spark, tmp_path)
        t.merge(
            make_batch(
                spark, [ev(1, "a", 1, OP_INSERT, 0), ev(1, "b", 2, OP_UPDATE, 1)]
            )
        )
        assert state_dict(t) == {1: ("b", 2)}

    def test_stale_cross_batch_event_loses_without_state_read(self, spark, tmp_path):
        t = self._mor(spark, tmp_path)
        t.merge(make_batch(spark, [ev(1, "new", 9, OP_UPDATE, 10)]))
        t.merge(make_batch(spark, [ev(1, "old", 1, OP_UPDATE, 3)]))
        assert state_dict(t) == {1: ("new", 9)}

    def test_delete_marker_holds_until_compaction(self, spark, tmp_path):
        t = self._mor(spark, tmp_path, threshold=50)
        t.merge(make_batch(spark, [ev(1, "a", 1, OP_INSERT, 0)]))
        t.merge(make_batch(spark, [ev(1, None, None, OP_DELETE, 5)]))
        assert state_dict(t) == {}
        # pre-compaction, a stale replay loses to the L0 delete marker
        t.merge(make_batch(spark, [ev(1, "a", 1, OP_INSERT, 0)]))
        assert state_dict(t) == {}
        # post-compaction (non-tombstone) the marker drops — eager contract
        t.compact()
        assert state_dict(t) == {}

    def test_narrow_batch_appends_and_keeps_target_columns(self, spark, tmp_path):
        t = self._mor(spark, tmp_path, threshold=50)
        t.merge(make_batch(spark, [ev(1, "a", 7, OP_INSERT, 0)]))
        narrow = spark.createDataFrame(
            [(1, "b", OP_UPDATE, make_sequence(1_700_000_000_000_000, 5))],
            "id long, name string, operation string, sequence string",
        ).coalesce(1)
        depth = len(t._l0.files())
        t.merge(narrow)  # qty absent from batch schema → filled from state
        # a narrow batch is appended like any other (one partition, one
        # file), not drained
        assert len(t._l0.files()) == depth + 1
        assert state_dict(t) == {1: ("b", 7)}  # qty kept from target
        t.compact()
        assert state_dict(t) == {1: ("b", 7)}

    def test_compaction_bounds_files_and_preserves_state(self, spark, tmp_path):
        t = self._mor(spark, tmp_path, threshold=2)
        for i in range(7):
            t.merge(make_batch(spark, [ev(1 + i % 3, f"v{i}", i, OP_UPDATE, i)]))
        assert state_dict(t) == {1: ("v6", 6), 2: ("v4", 4), 3: ("v5", 5)}
        # the counter-gated sweep kept L0 bounded
        assert len(t._l0.files()) <= 2 * (t.compact_threshold + 1)

    def test_sweep_fires_at_same_append_count_across_restarts(self, spark, tmp_path):
        """The sweep counter seeds itself from the surviving L0 file
        count, so a crash-restart loop between appends cannot defer the
        drain: with single-file appends a writer restarted after every
        batch drains at exactly the same cumulative append count as an
        uninterrupted one (previously the instance-local counter reset
        to 0 per restart, deferring the sweep by up to one full
        threshold per crash). Multi-file appends make a restarted
        writer sweep no LATER (the seed counts files, a superset of
        appends) — early is the safe direction, late was the defect."""

        def run(path, restart_every_batch):
            def make():
                return ParquetMergeTable(
                    spark,
                    path,
                    keys=["id"],
                    num_buckets=4,
                    merge_on_read=True,
                    compact_threshold=4,
                )

            t = make()
            drained_at = []
            for i in range(6):
                if restart_every_batch:
                    t = make()  # fresh instance per batch = crash loop
                # single-partition batch → exactly one L0 file per append
                t.merge(
                    make_batch(spark, [ev(i, f"v{i}", i, OP_UPDATE, i)]).coalesce(1)
                )
                if not t._l0.files():
                    drained_at.append(i)
            return t, drained_at

        steady, steady_drains = run(str(tmp_path / "steady"), False)
        crashy, crashy_drains = run(str(tmp_path / "crashy"), True)
        assert steady_drains == crashy_drains != []
        assert state_dict(steady) == state_dict(crashy)

    def test_purge_keys_covers_pending_deltas(self, spark, tmp_path):
        t = self._mor(spark, tmp_path, threshold=50)
        t.merge(
            make_batch(
                spark, [ev(1, "pii", 1, OP_INSERT, 0), ev(2, "keep", 2, OP_INSERT, 1)]
            )
        )
        removed = t.purge_keys(spark.createDataFrame([(1,)], "id long"))
        assert removed == 1
        assert state_dict(t) == {2: ("keep", 2)}
        assert t._l0.files() == []  # drained, nothing to resurrect

    def test_adopts_pre_mor_table(self, spark, tmp_path):
        eager = ParquetMergeTable(
            spark, str(tmp_path / "adopt"), keys=["id"], num_buckets=4
        )
        eager.merge(make_batch(spark, [ev(1, "a", 1, OP_INSERT, 0)]))
        mor = ParquetMergeTable(
            spark,
            str(tmp_path / "adopt"),
            keys=["id"],
            num_buckets=4,
            merge_on_read=True,
            compact_threshold=50,
        )
        mor.merge(make_batch(spark, [ev(2, "b", 2, OP_INSERT, 1)]))
        mor.merge(make_batch(spark, [ev(1, "a2", 3, OP_UPDATE, 2)]))
        assert state_dict(mor) == {1: ("a2", 3), 2: ("b", 2)}

    def test_tombstone_mode_keeps_markers_through_compaction(self, spark, tmp_path):
        t = self._mor(spark, tmp_path, threshold=50, tomb=True)
        t.merge(make_batch(spark, [ev(1, "a", 1, OP_INSERT, 0)]))
        t.merge(make_batch(spark, [ev(1, None, None, OP_DELETE, 5)]))
        t.compact()
        assert state_dict(t) == {}
        # marker survived compaction: stale replay still loses
        t.merge(make_batch(spark, [ev(1, "a", 1, OP_INSERT, 0)]))
        assert state_dict(t) == {}


class TestSchemaSidecar:
    @pytest.mark.parametrize("mor", [False, True], ids=["eager", "mor"])
    def test_sidecar_is_widened_before_the_data_it_describes(
        self, spark, tmp_path, mor
    ):
        """``_meta_cols.json`` lists every data column the table stores,
        so a later batch lacking one keeps the target's value. A crash
        between the sidecar write and the data write must not leave
        stored data the sidecar does not cover: after a restart, a
        narrow update would drop the column it never heard of."""
        path = str(tmp_path / "t")

        def open_table():
            return ParquetMergeTable(
                spark,
                path,
                keys=["id"],
                num_buckets=4,
                merge_on_read=mor,
                compact_threshold=50,
            )

        narrow_schema = "id long, name string, operation string, sequence string"

        def narrow(name, seq_idx):
            seq = make_sequence(1_700_000_000_000_000, seq_idx)
            return spark.createDataFrame([(1, name, OP_UPDATE, seq)], narrow_schema)

        t = open_table()
        t.merge(narrow("a", 0))

        def crash(cols):
            raise RuntimeError("crash during the sidecar write")

        t._save_stored_cols = crash
        wide = make_batch(spark, [ev(1, "a", 7, OP_UPDATE, 1)])
        with pytest.raises(RuntimeError, match="crash"):
            t.merge(wide)

        def qty(table):  # None while no stored file holds the column
            return [r.asDict().get("qty") for r in table.read().collect()]

        # restart: whatever the crash left visible, a narrow update keeps
        t = open_table()
        kept = qty(t)
        t.merge(narrow("b", 2))
        assert qty(t) == kept

        # the restarted writer widens the sidecar on the next wide batch
        t.merge(make_batch(spark, [ev(1, "b", 7, OP_UPDATE, 3)]))
        t.merge(narrow("c", 4))
        assert state_dict(t) == {1: ("c", 7)}


#: every (narrow, value, wide, value) type pair the drift rule widens
#: (``schema.evolution._widens``); decimals at each parquet physical
#: width (int32 up to precision 9, int64 up to 18, binary above)
WIDENINGS = [
    ("tinyint", 5, "smallint", 300),
    ("tinyint", 5, "int", 70_000),
    ("tinyint", 5, "bigint", 2**40),
    ("smallint", 300, "int", 70_000),
    ("smallint", 300, "bigint", 2**40),
    ("int", 70_000, "bigint", 2**40),
    ("tinyint", 5, "double", 2.5),
    ("smallint", 300, "double", 2.5),
    ("int", 70_000, "double", 2.5),
    ("float", 1.5, "double", 0.1),
    ("decimal(5,2)", Decimal("1.25"), "decimal(7,2)", Decimal("12345.67")),
    ("decimal(5,2)", Decimal("1.25"), "decimal(7,3)", Decimal("1234.125")),
    ("decimal(9,2)", Decimal("1234567.89"), "decimal(12,2)", Decimal("1234567890.12")),
    ("decimal(9,2)", Decimal("1234567.89"), "decimal(12,4)", Decimal("12345678.1234")),
    ("decimal(5,2)", Decimal("1.25"), "decimal(20,2)", Decimal("10" * 9)),
    (
        "decimal(12,2)",
        Decimal("1234567890.12"),
        "decimal(20,4)",
        Decimal("1234567890123456.1234"),
    ),
]


class TestTypedSchema:
    """The sidecar holds the typed schema, and every read of the table
    passes it: a batch whose column type differs from the stored one is
    cast up, widens the table, or is refused before it writes — never
    stored as a second type that later reads cannot merge."""

    def _open(self, spark, tmp_path, mor, name="t"):
        return ParquetMergeTable(
            spark,
            str(tmp_path / name),
            keys=["id"],
            num_buckets=4,
            merge_on_read=mor,
            compact_threshold=50,
        )

    def _fresh_key(self, spark, table, key):
        """A key in a different bucket from ``key``: its batch reads no
        stored file, so only the sidecar knows the stored type."""
        from etl_stream_spark.cdc.merge import bucket_expr_for

        rows = spark.range(64).select(
            "id", bucket_expr_for(["id"], table.num_buckets).alias("b")
        ).collect()
        home = next(r["b"] for r in rows if r["id"] == key)
        return next(r["id"] for r in rows if r["b"] != home)

    def _batch(self, spark, key, v, vtype, seq_idx):
        return spark.createDataFrame(
            [(key, v, OP_INSERT, make_sequence(1_700_000_000_000_000, seq_idx))],
            f"id long, v {vtype}, operation string, sequence string",
        )

    @pytest.mark.parametrize("mor", [False, True], ids=["eager", "mor"])
    def test_changed_type_is_refused_before_any_write(self, spark, tmp_path, mor):
        t = self._open(spark, tmp_path, mor)
        t.merge(self._batch(spark, 1, 5, "int", 0))
        files = sorted(str(p) for p in (tmp_path / "t").rglob("*.parquet"))
        key = self._fresh_key(spark, t, 1)
        with pytest.raises(ValueError, match="'v'"):
            t.merge(self._batch(spark, key, "x", "string", 1))
        assert sorted(str(p) for p in (tmp_path / "t").rglob("*.parquet")) == files
        # the table, and a restarted writer, still read it
        for table in (t, self._open(spark, tmp_path, mor)):
            out = table.read()
            assert out.schema["v"].dataType == T.IntegerType()
            assert [tuple(r) for r in out.collect()] == [(1, 5)]

    def test_widenings_name_every_accepted_pair(self, spark):
        """:data:`WIDENINGS` lists every non-decimal pair the drift rule
        widens, so the test below reads each of them back."""
        from etl_stream_spark.schema.evolution import _widens

        atomic = [
            "tinyint", "smallint", "int", "bigint", "float", "double",
            "string", "boolean", "date", "timestamp",
        ]
        accepted = {
            (a, b)
            for a in atomic
            for b in atomic
            if _widens(T._parse_datatype_string(a), T._parse_datatype_string(b))
        }
        listed = {(a, b) for a, _, b, _ in WIDENINGS if not a.startswith("decimal")}
        assert accepted == listed

    @pytest.mark.parametrize("wide_first", [False, True], ids=["widen", "cast_up"])
    @pytest.mark.parametrize("mor", [False, True], ids=["eager", "mor"])
    def test_wider_type_widens_the_table(self, spark, tmp_path, mor, wide_first):
        """One column per :data:`WIDENINGS` pair. ``widen``: the narrow
        type is stored first and the wide batch widens the table, whose
        old files then read as the wide type. ``cast_up``: the wide type
        is stored first and the narrow batch is cast up to it."""
        cols = [f"c{i}" for i in range(len(WIDENINGS))]
        narrow = [(narrow_t, narrow_v) for narrow_t, narrow_v, _, _ in WIDENINGS]
        wide = [(wide_t, wide_v) for _, _, wide_t, wide_v in WIDENINGS]

        def batch(key, typed, seq_idx):
            shape = ", ".join(f"{c} {t}" for c, (t, _) in zip(cols, typed))
            return spark.createDataFrame(
                [
                    (
                        key,
                        *[v for _, v in typed],
                        OP_INSERT,
                        make_sequence(1_700_000_000_000_000, seq_idx),
                    )
                ],
                f"id long, {shape}, operation string, sequence string",
            )

        def check(table, want):
            out = table.read()
            for c, (wide_t, _) in zip(cols, wide):
                assert out.schema[c].dataType == T._parse_datatype_string(wide_t), c
            got = {r["id"]: r for r in out.collect()}
            assert set(got) == set(want)
            for key, typed in want.items():
                for c, (_, v) in zip(cols, typed):
                    assert got[key][c] == v, (c, key)

        t = self._open(spark, tmp_path, mor)
        first, second = (wide, narrow) if wide_first else (narrow, wide)
        t.merge(batch(1, first, 0))
        key = self._fresh_key(spark, t, 1)
        t.merge(batch(key, second, 1))
        want = {1: first, key: second}
        check(t, want)
        if mor:
            t.compact()
            assert t._l0.files() == []
            check(t, want)
        # a narrower batch after the widening casts up
        t.merge(batch(1, narrow, 2))
        check(t, {**want, 1: narrow})

    @pytest.mark.parametrize("mor", [False, True], ids=["eager", "mor"])
    def test_narrower_key_buckets_as_stored(self, spark, tmp_path, mor):
        """An int key over a stored bigint key is cast up BEFORE it is
        hashed: xxhash64 hashes the two types differently, and a key in
        a second bucket would read twice and escape updates, deletes
        and erasure."""
        from etl_stream_spark.cdc.merge import bucket_expr_for

        t = self._open(spark, tmp_path, mor)

        def bucket(k, dtype):
            col = F.lit(k).cast(dtype)
            return spark.range(1).select(bucket_expr_for([col], 4)).first()[0]

        # keys whose int hash lands in another bucket than their bigint
        # hash; each goes alone in its batch, so the batch touches only
        # the bucket its key hashes to
        upd, dele, gone = [k for k in range(16) if bucket(k, "int") != bucket(k, "bigint")][:3]

        def batch(rows, id_type):
            return spark.createDataFrame(
                [
                    (k, v, op, make_sequence(1_700_000_000_000_000, seq_idx))
                    for k, v, op, seq_idx in rows
                ],
                f"id {id_type}, v int, operation string, sequence string",
            )

        t.merge(batch([(k, k, OP_INSERT, k) for k in range(16)], "bigint"))
        if mor:
            t.compact()  # the next drain then touches the int buckets only
        t.merge(batch([(upd, 100, OP_UPDATE, 20)], "int"))
        t.merge(batch([(dele, None, OP_DELETE, 21)], "int"))
        want = sorted(
            (k, 100 if k == upd else k) for k in range(16) if k != dele
        )
        assert sorted(tuple(r) for r in t.read().collect()) == want
        if mor:
            t.compact()
            assert sorted(tuple(r) for r in t.read().collect()) == want
        assert t.stored_schema()["id"].dataType == T.LongType()
        assert t.purge_keys(spark.createDataFrame([(gone,)], "id int")) == 1
        want = [r for r in want if r[0] != gone]
        assert sorted(tuple(r) for r in t.read().collect()) == want

    @pytest.mark.parametrize("mor", [False, True], ids=["eager", "mor"])
    def test_wider_key_is_refused_before_any_write(self, spark, tmp_path, mor):
        """A key column never widens: its stored rows are bucketed by
        the hash of the stored type."""
        t = self._open(spark, tmp_path, mor)
        t.merge(
            spark.createDataFrame(
                [(1, 5, OP_INSERT, make_sequence(1_700_000_000_000_000, 0))],
                "id int, v int, operation string, sequence string",
            )
        )
        files = sorted(str(p) for p in (tmp_path / "t").rglob("*.parquet"))
        with pytest.raises(ValueError, match="'id'"):
            t.merge(
                spark.createDataFrame(
                    [(1, 6, OP_UPDATE, make_sequence(1_700_000_000_000_000, 1))],
                    "id long, v int, operation string, sequence string",
                )
            )
        assert sorted(str(p) for p in (tmp_path / "t").rglob("*.parquet")) == files
        assert t.stored_schema()["id"].dataType == T.IntegerType()
        assert [tuple(r) for r in t.read().collect()] == [(1, 5)]

    @pytest.mark.parametrize("mor", [False, True], ids=["eager", "mor"])
    def test_void_column_stores_a_typed_null(self, spark, tmp_path, mor):
        t = self._open(spark, tmp_path, mor)
        t.merge(self._batch(spark, 1, 5, "int", 0))
        key = self._fresh_key(spark, t, 1)
        t.merge(
            self._batch(spark, key, 7, "int", 1)
            .withColumn("v", F.lit(None))
            .withColumn("never_stored", F.lit(None))
        )
        assert t.stored_schema().fieldNames() == ["id", "v"]
        assert {tuple(r) for r in t.read().collect()} == {(1, 5), (key, None)}
        # the files themselves hold the stored type: a read that infers
        # the schema from their footers agrees with the sidecar
        path = str(tmp_path / "t" / ("_delta" if mor else ""))
        inferred = spark.read.option("mergeSchema", "true").parquet(path)
        assert inferred.schema["v"].dataType == T.IntegerType()

    @pytest.mark.parametrize("mor", [False, True], ids=["eager", "mor"])
    def test_names_only_sidecar_upgrades_on_first_merge(self, spark, tmp_path, mor):
        """A sidecar that lists column names only (the format before it
        held types) is seeded from the files, and the first merge saves
        the typed schema. Merge-on-read keeps ``qty`` in L0 alone, so
        the seed must read L0 as well as the bucket layout."""
        import json

        from etl_stream_spark.l0_log import write_small_text

        t = self._open(spark, tmp_path, mor)
        t.merge(make_batch(spark, [ev(1, "a", 1, OP_INSERT, 0), ev(2, "b", 2, OP_INSERT, 1)]))
        sidecar = tmp_path / "t" / "_meta_cols.json"
        write_small_text(spark, str(sidecar), json.dumps(["id", "name", "qty"]))

        t = self._open(spark, tmp_path, mor)
        t.merge(
            spark.createDataFrame(
                [(2, "b2", OP_UPDATE, make_sequence(1_700_000_000_000_000, 2))],
                "id long, name string, operation string, sequence string",
            )
        )
        saved = T.StructType.fromJson(json.loads(sidecar.read_text()))
        assert [(f.name, f.dataType) for f in saved.fields] == [
            ("id", T.LongType()),
            ("name", T.StringType()),
            ("qty", T.LongType()),
        ]
        assert state_dict(t) == {1: ("a", 1), 2: ("b2", 2)}

    def test_bucket_state_read_launches_no_job(self, spark, tmp_path):
        """Building the touched buckets' state is planning only: the
        read passes the stored schema, so no footer scan runs."""
        from test_core_path_ledger import jobs_of

        t = self._open(spark, tmp_path, mor=False)
        t.merge(make_batch(spark, [ev(i, "a", i, OP_INSERT, i) for i in range(8)]))
        state, jobs = jobs_of(spark, lambda: t._read_state(sorted(t._existing_buckets())))
        assert jobs == 0
        assert state.count() == 8


class TestMorStateConsumers:
    """_read_state consumers (rollups, join views, checksums) were
    written against the eager contract: a non-tombstone table's state
    never contains delete-marker rows. The MOR read path must uphold
    that — un-drained L0 markers may suppress replays but never surface
    as live rows."""

    def test_non_tombstone_state_has_no_marker_rows(self, spark, tmp_path):
        t = ParquetMergeTable(
            spark,
            str(tmp_path / "t"),
            keys=["id"],
            num_buckets=4,
            merge_on_read=True,
            compact_threshold=50,
        )
        t.merge(
            make_batch(
                spark, [ev(1, "a", 1, OP_INSERT, 0), ev(2, "b", 2, OP_INSERT, 1)]
            )
        )
        t.merge(make_batch(spark, [ev(2, None, None, OP_DELETE, 5)]))
        state = t._read_state()
        from etl_stream_spark.cdc.merge import DELETED_COL

        assert DELETED_COL not in state.columns
        assert {r["id"] for r in state.collect()} == {1}
        # the marker still suppresses a stale replay until compaction
        t.merge(make_batch(spark, [ev(2, "b", 2, OP_INSERT, 1)]))
        assert state_dict(t) == {1: ("a", 1)}

    def test_compacted_buckets_are_column_identical_to_eager(self, spark, tmp_path):
        """compact() must not leave a _deleted column behind in
        non-tombstone mode: bucket dirs are the long-lived layout, and a
        schema that flips between having and lacking the marker column
        depending on whether L0 happened to be drained is an asymmetry
        every _read_state consumer would have to defend against."""
        from etl_stream_spark.cdc.merge import DELETED_COL

        t = ParquetMergeTable(
            spark,
            str(tmp_path / "cc"),
            keys=["id"],
            num_buckets=4,
            merge_on_read=True,
            compact_threshold=50,
        )
        t.merge(
            make_batch(
                spark, [ev(1, "a", 1, OP_INSERT, 0), ev(2, "b", 2, OP_INSERT, 1)]
            )
        )
        t.merge(make_batch(spark, [ev(2, None, None, OP_DELETE, 5)]))
        t.compact()
        assert t._l0.files() == []
        # drained-L0 raw passthrough: same columns the eager engine writes
        raw = t._read_state()
        assert DELETED_COL not in raw.columns
        assert state_dict(t) == {1: ("a", 1)}

    def test_rollup_over_mor_silver_ignores_deleted_keys(self, spark, tmp_path):
        from etl_stream_spark.cdc.rollup import IncrementalRollup

        silver = ParquetMergeTable(
            spark,
            str(tmp_path / "silver"),
            keys=["id"],
            num_buckets=4,
            merge_on_read=True,
            compact_threshold=50,
        )
        rollup = IncrementalRollup(
            spark,
            silver,
            str(tmp_path / "gold"),
            group_cols=["name"],
            aggs={"n": lambda: F.count(F.lit(1)).cast("long")},
        )
        b1 = make_batch(
            spark, [ev(1, "g", 1, OP_INSERT, 0), ev(2, "g", 2, OP_INSERT, 1)]
        )
        rollup.merge_and_refresh(b1)
        # replica-identity-full delete of k2 → fast-path L0 marker
        b2 = make_batch(spark, [ev(2, "g", None, OP_DELETE, 5)])
        rollup.merge_and_refresh(b2)
        gold = {r["name"]: r["n"] for r in rollup.read().collect()}
        assert gold == {"g": 1}  # marker row must not count as live
