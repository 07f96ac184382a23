"""Property-based merge-engine test: random CDC event logs, randomly cut
into micro-batches, must converge to the state a sequential Python
oracle computes (state equivalence, SURVEY.md §5).

Hypothesis generates the log shape (ops, keys, payloads, batch cuts,
truncate placement); one Spark session replays it through
ParquetMergeTable + the truncate barrier. Examples are kept small and
the deadline disabled because each replay runs real Spark jobs.
"""

from __future__ import annotations

import uuid

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from etl_stream_spark.cdc.envelope import make_sequence
from etl_stream_spark.cdc.merge import ParquetMergeTable
from etl_stream_spark.cdc.pipeline import apply_with_truncate_barrier

KEYS = [1, 2, 3]
OPS = ["INSERT", "UPDATE", "DELETE", "TRUNCATE"]

event_st = st.tuples(
    st.sampled_from(OPS),
    st.sampled_from(KEYS),
    st.integers(min_value=0, max_value=99),
)
log_st = st.lists(event_st, min_size=1, max_size=14)
# cut points that slice the log into consecutive micro-batches
cuts_st = st.lists(st.integers(min_value=1, max_value=13), max_size=3, unique=True)


def oracle_replay(events: list[tuple[str, int, int, str]]) -> dict[int, tuple[int, str]]:
    """Sequential per-event application — the reference's WAL-order
    semantics (op, key, payload, seq applied in sequence order)."""
    state: dict[int, tuple[int, str]] = {}
    for op, key, payload, seq in events:
        if op == "TRUNCATE":
            state.clear()
        elif op == "DELETE":
            state.pop(key, None)
        else:  # INSERT / UPDATE both upsert
            state[key] = (payload, seq)
    return state


@pytest.mark.slow
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(log=log_st, cuts=cuts_st)
def test_random_log_converges_to_oracle_state(spark, tmp_path_factory, log, cuts):
    events = [
        (op, key, payload, make_sequence(1_700_000_000_000_000 + i, i))
        for i, (op, key, payload) in enumerate(log)
    ]
    expected = oracle_replay(events)

    table = ParquetMergeTable(
        spark,
        str(tmp_path_factory.mktemp("prop") / f"t_{uuid.uuid4().hex[:8]}"),
        keys=["id"],
        num_buckets=4,
    )
    bounds = sorted({c for c in cuts if c < len(events)})
    batches, start = [], 0
    for b in [*bounds, len(events)]:
        if b > start:
            batches.append(events[start:b])
            start = b
    for batch in batches:
        df = spark.createDataFrame(
            [
                (key, payload if op != "DELETE" else None, op, seq)
                for op, key, payload, seq in batch
            ],
            "id long, payload long, operation string, sequence string",
        ).withColumn("cdc_timestamp", F.current_timestamp())
        apply_with_truncate_barrier(table, df)

    got = {r["id"]: r["payload"] for r in table.read().collect()}
    assert got == {k: p for k, (p, _) in expected.items()}


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from([1, 2, 3, 4]),          # key
            st.integers(min_value=0, max_value=3),  # sequence (ties likely)
            st.one_of(st.none(), st.integers(min_value=0, max_value=5)),  # payload
        ),
        min_size=1,
        max_size=20,
    )
)
def test_lww_agg_matches_window_form(spark, rows):
    """The aggregation-based LWW must install the exact survivor the
    window form does — including on duplicated sequences, where both
    fall back to the md5 content tie-break, and NULL payloads."""
    from etl_stream_spark.cdc.dedup import last_writer_wins, last_writer_wins_agg

    df = spark.createDataFrame(
        [(k, f"{s:020d}", v) for k, s, v in rows],
        "id long, sequence string, v long",
    )
    win = {tuple(r) for r in last_writer_wins(df, ["id"]).collect()}
    agg = {tuple(r) for r in last_writer_wins_agg(df, ["id"]).collect()}
    assert agg == win


def _collision_tie(key: int, payload: int | None, seq: str, is_delete: bool) -> str:
    """Python mirror of merge.stored_shape_tie_break for the collision
    oracle: md5 over sorted data-column values (id, payload), the
    sequence, and the delete flag — NULLs as the \\x00 sentinel."""
    import hashlib

    parts = [
        str(key),
        "\x00" if payload is None else str(payload),
        seq,
        "true" if is_delete else "false",
    ]
    return hashlib.md5("\x1f".join(parts).encode()).hexdigest()


collision_event_st = st.tuples(
    st.sampled_from(["INSERT", "UPDATE", "DELETE"]),
    st.sampled_from([1, 2]),                    # few keys → collisions likely
    st.integers(min_value=0, max_value=1),      # sequence slot (ties likely)
    st.integers(min_value=0, max_value=3),      # payload (bodies differ)
)


@pytest.mark.slow
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    log=st.lists(collision_event_st, min_size=1, max_size=10),
    cuts=cuts_st,
    threshold=st.integers(min_value=1, max_value=3),
)
def test_modes_agree_under_sequence_collisions(
    spark, tmp_path_factory, log, cuts, threshold
):
    """Same-(key, sequence)-DIFFERENT-body collisions — outside the
    construction guarantee — must still install the SAME survivor in
    the eager and merge-on-read engines: the global max by (sequence,
    stored-shape tie-break), independent of batch cuts. Tombstone mode,
    where even winning deletes leave comparable tie state; the
    non-tombstone physical-delete replay window is documented
    separately."""
    events = [
        (op, key, payload, make_sequence(1_700_000_000_000_000, slot))
        for op, key, slot, payload in log
    ]
    # oracle: per key, max by (sequence, tie); delete winner → absent
    winners: dict[int, tuple[str, str, str, int | None]] = {}
    for op, key, payload, seq in events:
        body = None if op == "DELETE" else payload
        tie = _collision_tie(key, body, seq, op == "DELETE")
        cur = winners.get(key)
        if cur is None or (seq, tie) > (cur[0], cur[1]):
            winners[key] = (seq, tie, op, body)
    expected = {
        k: body for k, (_s, _t, op, body) in winners.items() if op != "DELETE"
    }

    bounds = sorted({c for c in cuts if c < len(events)})
    batches, start = [], 0
    for b in [*bounds, len(events)]:
        if b > start:
            batches.append(events[start:b])
            start = b

    states = []
    for mor in (False, True):
        table = ParquetMergeTable(
            spark,
            str(tmp_path_factory.mktemp("tie") / f"t_{uuid.uuid4().hex[:8]}"),
            keys=["id"],
            num_buckets=4,
            tombstone_deletes=True,
            merge_on_read=mor,
            compact_threshold=threshold,
        )
        for batch in batches:
            df = spark.createDataFrame(
                [
                    (key, payload if op != "DELETE" else None, op, seq)
                    for op, key, payload, seq in batch
                ],
                "id long, payload long, operation string, sequence string",
            ).withColumn("cdc_timestamp", F.current_timestamp())
            table.merge(df)
        states.append({r["id"]: r["payload"] for r in table.read().collect()})
    assert states[0] == expected  # eager matches the (seq, tie) oracle
    assert states[1] == expected  # merge-on-read installs the same survivors


def test_narrow_batch_collision_is_arrival_order_independent(spark, tmp_path):
    """Same-(key, sequence) collisions carried by NARROW batches (a
    column missing from the batch schema) must still install one
    arrival-order-independent survivor, on either engine: the tie
    hashes the row AS IT WOULD BE STORED (keeps-target fill), so both
    arrival orders compare the same two stored outcomes."""
    from pyspark.sql import functions as F

    base = spark.createDataFrame(
        [(1, 1, 2, "UPDATE", make_sequence(1_700_000_000_000_000, 5))],
        "id long, a long, b long, operation string, sequence string",
    )
    narrow = "id long, a long, operation string, sequence string"
    n9 = spark.createDataFrame(
        [(1, 9, "UPDATE", make_sequence(1_700_000_000_000_000, 5))], narrow
    )
    n7 = spark.createDataFrame(
        [(1, 7, "UPDATE", make_sequence(1_700_000_000_000_000, 5))], narrow
    )
    states = []
    for mor in (False, True):
        for order in ((n9, n7), (n7, n9)):
            t = ParquetMergeTable(
                spark,
                str(tmp_path / f"nb_{mor}_{id(order)}"),
                keys=["id"],
                num_buckets=4,
                tombstone_deletes=True,
                merge_on_read=mor,
            )
            t.merge(base.withColumn("cdc_timestamp", F.current_timestamp()))
            for b in order:
                t.merge(b.withColumn("cdc_timestamp", F.current_timestamp()))
            states.append(
                tuple(sorted((r["id"], r["a"], r["b"]) for r in t.read().collect()))
            )
    assert len(set(states)) == 1, states
    # the loser arrived in both orders, so the survivor is the max-hash
    # stored outcome, and the kept column survives either way
    assert states[0][0][2] == 2


@pytest.mark.slow
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(log=log_st, cuts=cuts_st, threshold=st.integers(min_value=1, max_value=4))
def test_merge_on_read_random_log_converges(
    spark, tmp_path_factory, log, cuts, threshold
):
    """The merge-on-read engine must converge to the same sequential
    oracle state as the eager engine for ANY log, batch cut, and
    compaction cadence — interleaved compactions (including the
    truncate-barrier path) may never change the visible state."""
    events = [
        (op, key, payload, make_sequence(1_700_000_000_000_000 + i, i))
        for i, (op, key, payload) in enumerate(log)
    ]
    expected = oracle_replay(events)

    table = ParquetMergeTable(
        spark,
        str(tmp_path_factory.mktemp("morprop") / f"t_{uuid.uuid4().hex[:8]}"),
        keys=["id"],
        num_buckets=4,
        merge_on_read=True,
        compact_threshold=threshold,
    )
    bounds = sorted({c for c in cuts if c < len(events)})
    batches, start = [], 0
    for b in [*bounds, len(events)]:
        if b > start:
            batches.append(events[start:b])
            start = b
    for batch in batches:
        df = spark.createDataFrame(
            [
                (key, payload if op != "DELETE" else None, op, seq)
                for op, key, payload, seq in batch
            ],
            "id long, payload long, operation string, sequence string",
        ).withColumn("cdc_timestamp", F.current_timestamp())
        apply_with_truncate_barrier(table, df)

    got = {r["id"]: r["payload"] for r in table.read().collect()}
    assert got == {k: p for k, (p, _) in expected.items()}
    # a final drain changes nothing
    table.compact()
    got2 = {r["id"]: r["payload"] for r in table.read().collect()}
    assert got2 == got
