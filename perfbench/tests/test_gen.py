"""The generator is byte-deterministic per seed and its vectorized oracle
agrees with an event-by-event last-writer-wins replay."""

import hashlib
import json
import os

import numpy as np
import pyarrow.parquet as pq
import pytest

import gen

TINY = gen.StreamSpec(
    tables=(
        gen.TableSpec("a", 40, 0.6, preload=30),
        gen.TableSpec("b", 15, 0.4, preload=10),
    ),
    rows_per_batch=40,
    batches=5,
)


def _tree_digest(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            h.update(str(os.stat(p).st_mtime_ns).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _written(tmp_path, seed, tag):
    ev = gen.generate_events(TINY, seed)
    gen.write_inputs(ev, TINY, str(tmp_path / tag), files_per_batch=3)
    return _tree_digest(tmp_path / tag)


def test_inputs_are_byte_identical_per_seed(tmp_path):
    assert _written(tmp_path, 7, "x") == _written(tmp_path, 7, "y")
    assert _written(tmp_path, 7, "x2") != _written(tmp_path, 8, "z")


def test_file_split_does_not_change_rows(tmp_path):
    ev = gen.generate_events(TINY, 3)
    rows = {}
    for fpb in (1, 4):
        stream = gen.write_inputs(ev, TINY, str(tmp_path / str(fpb)), fpb)
        files = sorted(os.listdir(stream))
        assert len(files) == (TINY.batches + 1) * fpb
        rows[fpb] = [v for f in files for v in pq.read_table(os.path.join(stream, f))["value"].to_pylist()]
    assert rows[1] == rows[4]


def test_envelopes_decode_to_the_generated_events(tmp_path):
    ev = gen.generate_events(TINY, 5)
    stream = gen.write_inputs(ev, TINY, str(tmp_path / "in"), 1)
    values = []
    for f in sorted(os.listdir(stream)):
        values += pq.read_table(os.path.join(stream, f))["value"].to_pylist()
    assert len(values) == len(ev.key)
    for i, v in enumerate(values):
        e = json.loads(v)
        assert e["source"]["lsn"] == ev.lsn[i]
        assert e["source"]["table"] == TINY.tables[ev.table[i]].name
        assert e["op"] == "rcud"[ev.op[i]]
        if ev.op[i] == gen.OP_DELETE:
            assert e["after"] is None and e["before"] == {"id": int(ev.key[i])}
        else:
            row = e["after"]
            assert row["id"] == ev.key[i]
            assert round(row["amount"] * 100) == ev.cents[i]
            text = "|".join(str(row[c]) for c in ("id", "status"))
            assert gen.row_text(ev, i).startswith(text + f"|{ev.cents[i]}|{row['qty']}|")


@pytest.mark.parametrize("seed", range(6))
def test_oracle_matches_brute_force_lww(seed):
    ev = gen.generate_events(TINY, seed)
    fast = gen.final_state(ev)
    slow = gen.brute_force_state(ev)
    for ti in range(len(TINY.tables)):
        want = sorted(slow.get(ti, {}).values())
        assert list(fast.get(ti, np.array([], dtype=int))) == want


def test_oracle_sees_deletes_and_reinserts():
    ev = gen.generate_events(TINY, 11)
    assert (ev.op == gen.OP_DELETE).any()
    state = gen.final_state(ev)
    live = {(int(ev.table[i]), int(ev.key[i])) for idx in state.values() for i in idx}
    # a key whose last event is a delete is absent
    last = {}
    for i in np.argsort(ev.lsn):
        last[(int(ev.table[i]), int(ev.key[i]))] = int(ev.op[i])
    assert live == {k for k, op in last.items() if op != gen.OP_DELETE}


def test_lsns_strictly_increase_and_batches_tile_the_stream():
    ev = gen.generate_events(TINY, 2)
    assert (np.diff(ev.lsn) > 0).all()
    assert ev.n_preload == 40 and ev.bounds[1] == 40  # one snapshot batch
    assert ev.bounds[0] == 0 and ev.bounds[-1] == len(ev.key)
    assert set(ev.table[: ev.n_preload]) == {0, 1}
    assert (ev.op[: ev.n_preload] == gen.OP_SNAPSHOT).all()


def test_digest_is_order_insensitive():
    ev = gen.generate_events(TINY, 4)
    idx = gen.final_state(ev)[0]
    assert gen.state_digest(ev, idx) == gen.state_digest(ev, idx[::-1])
    assert gen.state_digest(ev, idx) != gen.state_digest(ev, idx[1:])
