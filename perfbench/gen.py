"""Seeded CDC input generator and its oracle.

Runs in one process with numpy + pyarrow, before Spark starts. It writes
Debezium-style JSON envelopes (one ``value`` string column) as parquet
files, one group of files per micro-batch, and computes from the same
arrays what the engine must end up holding: the last writer by LSN per
key, deleted keys absent.

The program under test only ever sees the written files; the expected
state stays in this process.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

STATUSES = np.array(
    ["new", "paid", "packed", "shipped", "delivered", "returned", "held", "void"]
)
NOTE_WORDS = np.array(
    ["alpha", "bravo", "delta", "echo", "kilo", "lima", "oscar", "romeo",
     "sierra", "tango", "victor", "zulu"]
)
OP_SNAPSHOT, OP_CREATE, OP_UPDATE, OP_DELETE = 0, 1, 2, 3
_OP_CODES = np.array(["r", "c", "u", "d"])

LSN_BASE = 0x16B3748
TS_BASE_MS = 1_700_000_000_000
#: input files get strictly increasing modification times from here, so
#: the file source (which orders by mtime) replays them in batch order
MTIME_BASE = 1_600_000_000
#: key skew: key index = floor(key_space * u ** SKEW), u uniform
SKEW = 2.0
#: share of change events that are deletes
DELETE_SHARE = 0.05


@dataclass(frozen=True)
class TableSpec:
    name: str
    key_space: int
    weight: float = 1.0
    #: rows of the seeded snapshot (initial copy) that opens the stream
    preload: int = 0


@dataclass(frozen=True)
class StreamSpec:
    tables: tuple[TableSpec, ...]
    rows_per_batch: int
    #: change batches after the snapshot batches
    batches: int


@dataclass
class Events:
    """Every change event of a run, in LSN order (preload first)."""

    table: np.ndarray  # int index into StreamSpec.tables
    key: np.ndarray
    op: np.ndarray
    lsn: np.ndarray
    status: np.ndarray  # index into STATUSES
    cents: np.ndarray
    qty: np.ndarray
    note: np.ndarray  # index into NOTE_WORDS
    #: events [0, n_preload) are the snapshot; batch b is the slice
    #: [bounds[b], bounds[b + 1]), snapshot batches first
    n_preload: int
    bounds: np.ndarray = field(repr=False)


def _draw(rng, n, key_space, perm):
    u = rng.random(n)
    return perm[np.minimum((key_space * u**SKEW).astype(np.int64), key_space - 1)]


def generate_events(spec: StreamSpec, seed: int) -> Events:
    rng = np.random.default_rng(seed)
    weights = np.array([t.weight for t in spec.tables], dtype=float)
    weights /= weights.sum()
    perms = [rng.permutation(t.key_space) + 1 for t in spec.tables]

    parts_t, parts_k = [np.zeros(0, np.int64)], [np.zeros(0, np.int64)]
    for ti, t in enumerate(spec.tables):
        if t.preload:
            parts_t.append(np.full(t.preload, ti, dtype=np.int64))
            parts_k.append(rng.choice(t.key_space, t.preload, replace=False) + 1)
    n_pre = int(sum(len(k) for k in parts_k))
    if n_pre % spec.rows_per_batch:
        raise ValueError("the snapshot must fill whole batches")
    # the initial copy interleaves its tables
    mix = rng.permutation(n_pre)
    parts_t = [np.concatenate(parts_t)[mix]]
    parts_k = [np.concatenate(parts_k)[mix]]
    n_stream = spec.rows_per_batch * spec.batches
    st = rng.choice(len(spec.tables), n_stream, p=weights).astype(np.int64)
    sk = np.empty(n_stream, dtype=np.int64)
    for ti, t in enumerate(spec.tables):
        sel = st == ti
        sk[sel] = _draw(rng, int(sel.sum()), t.key_space, perms[ti])
    table = np.concatenate(parts_t + [st])
    key = np.concatenate(parts_k + [sk])
    n = len(key)

    op = np.full(n, OP_SNAPSHOT, dtype=np.int64)
    is_del = rng.random(n_stream) < DELETE_SHARE
    # an upsert is a create on its key's first appearance, else an update
    flat = table * (1 << 40) + key
    _, first = np.unique(flat, return_index=True)
    seen_before = np.ones(n, dtype=bool)
    seen_before[first] = False
    stream_op = np.where(seen_before[n_pre:], OP_UPDATE, OP_CREATE)
    op[n_pre:] = np.where(is_del, OP_DELETE, stream_op)

    lsn = LSN_BASE + np.cumsum(rng.integers(1, 97, n, dtype=np.int64))
    bounds = spec.rows_per_batch * np.arange(
        n_pre // spec.rows_per_batch + spec.batches + 1, dtype=np.int64
    )
    return Events(
        table=table,
        key=key,
        op=op,
        lsn=lsn,
        status=rng.integers(0, len(STATUSES), n),
        cents=rng.integers(0, 5_000_000, n),
        qty=rng.integers(1, 500, n),
        note=rng.integers(0, len(NOTE_WORDS), n),
        n_preload=n_pre,
        bounds=bounds,
    )


def _envelopes(ev: Events, lo: int, hi: int, table_names) -> pa.Array:
    """JSON envelopes for events [lo, hi), built with arrow kernels."""
    s = slice(lo, hi)

    def txt(a):
        return pc.cast(pa.array(a), pa.string())

    idx = txt(ev.key[s])
    cents = ev.cents[s]
    amount = pc.binary_join_element_wise(
        txt(cents // 100), pc.utf8_lpad(txt(cents % 100), 2, "0"), "."
    )
    status = pa.array(STATUSES[ev.status[s]])
    note = pa.array(NOTE_WORDS[ev.note[s]])
    row = pc.binary_join_element_wise(
        '{"id":', idx, ',"status":"', status, '","amount":', amount,
        ',"qty":', txt(ev.qty[s]), ',"note":"', note, '"}', "",
    )
    key_only = pc.binary_join_element_wise('{"id":', idx, "}", "")
    op = ev.op[s]
    is_del = pa.array(op == OP_DELETE)
    before = pc.if_else(is_del, key_only, "null")
    after = pc.if_else(is_del, "null", row)
    names = pa.array(np.asarray(table_names)[ev.table[s]])
    ts = txt(TS_BASE_MS + (ev.lsn[s] - LSN_BASE) // 8)
    return pc.binary_join_element_wise(
        '{"op":"', pa.array(_OP_CODES[op]), '","ts_ms":', ts,
        ',"before":', before, ',"after":', after,
        ',"source":{"lsn":', txt(ev.lsn[s]), ',"table":"', names,
        '","schema":"public"}}', "",
    )


def _write(path: str, values: pa.Array, mtime: int) -> None:
    pq.write_table(pa.table({"value": values}), path, compression="snappy")
    os.utime(path, (mtime, mtime))


def write_inputs(ev: Events, spec: StreamSpec, root: str, files_per_batch: int) -> str:
    """Write the whole backlog (snapshot batches, then change batches)
    under ``root`` and return its directory.

    Each batch becomes ``files_per_batch`` files with consecutive mtimes,
    so a file source with ``maxFilesPerTrigger=files_per_batch`` replays
    exactly one generated batch per trigger. File contents depend on the
    seed only; ``files_per_batch`` decides only where the cuts inside a
    batch fall.
    """
    names = [t.name for t in spec.tables]
    os.makedirs(root)
    for b in range(len(ev.bounds) - 1):
        lo, hi = int(ev.bounds[b]), int(ev.bounds[b + 1])
        cuts = np.linspace(lo, hi, files_per_batch + 1).astype(np.int64)
        for f in range(files_per_batch):
            n = b * files_per_batch + f
            _write(
                os.path.join(root, f"part-{n:06d}.parquet"),
                _envelopes(ev, int(cuts[f]), int(cuts[f + 1]), names),
                MTIME_BASE + n,
            )
    return root


# -- oracle -----------------------------------------------------------------


def final_state(ev: Events) -> dict[int, np.ndarray]:
    """Indices of the surviving event per key, per table: the last writer
    by LSN wins, a winning delete removes the key. Vectorized;
    ``brute_force_state`` is the loop reference."""
    t, k, lsn = ev.table, ev.key, ev.lsn
    order = np.lexsort((lsn, k, t))
    ts, ks = t[order], k[order]
    last = np.ones(len(order), dtype=bool)
    last[:-1] = (ts[1:] != ts[:-1]) | (ks[1:] != ks[:-1])
    win = order[last]
    win = win[ev.op[win] != OP_DELETE]
    return {ti: np.sort(win[ev.table[win] == ti]) for ti in np.unique(t)}


def brute_force_state(ev: Events) -> dict[int, dict[int, int]]:
    """Event-by-event replay in LSN order: table → key → event index."""
    state: dict[int, dict[int, int]] = {}
    for i in np.argsort(ev.lsn, kind="stable"):
        tab = state.setdefault(int(ev.table[i]), {})
        if ev.op[i] == OP_DELETE:
            tab.pop(int(ev.key[i]), None)
        else:
            tab[int(ev.key[i])] = int(i)
    return state


def row_text(ev: Events, i: int) -> str:
    """Canonical row text; the engine-side hash builds the same string."""
    return (
        f"{ev.key[i]}|{STATUSES[ev.status[i]]}|{ev.cents[i]}"
        f"|{ev.qty[i]}|{NOTE_WORDS[ev.note[i]]}"
    )


def row_hash(text: str) -> int:
    """First 15 hex digits of the md5, as Spark's ``conv`` reads them."""
    return int(hashlib.md5(text.encode()).hexdigest()[:15], 16)


def state_digest(ev: Events, idx: np.ndarray) -> tuple[int, int]:
    """(row count, order-insensitive hash) of the rows at ``idx``."""
    return len(idx), sum(row_hash(row_text(ev, int(i))) for i in idx)


#: Spark SQL twin of ``row_text`` + ``row_hash`` summed over a frame
SPARK_DIGEST_SQL = (
    "count(*) AS n",
    "cast(sum(cast(conv(substr(md5(concat_ws('|', id, status, "
    "cast(round(amount * 100) as bigint), qty, note)), 1, 15), 16, 10) "
    "as decimal(38, 0))) as string) AS h",
)
