"""Seeded input generators for the benchmark workloads.

Everything here is NumPy + pyarrow: inputs are built from the workload seed
alone and written as parquet files before any timing starts, so the engine
only ever sees staged files. The same seed gives byte-identical inputs.

Row shape is the transcript model (``conv_id``, ``turn_idx`` keyed;
``role``/``text``/``tool`` payload; ``ts`` version column); changelog rows
add ``seq`` and ``op``.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_TS_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in microseconds
ROLES = np.array(["user", "assistant", "tool"], dtype=object)
TOOLS = np.array(["search", "python", "browser", "calculator"], dtype=object)
FILLER = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do "

SOURCE_SCHEMA = pa.schema([
    ("conv_id", pa.string()),
    ("turn_idx", pa.int32()),
    ("role", pa.string()),
    ("text", pa.string()),
    ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])
CHANGELOG_SCHEMA = pa.schema(
    [("seq", pa.int64()), ("op", pa.string())] + list(SOURCE_SCHEMA)
)
SOURCE_DDL = ("conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
CHANGELOG_DDL = "seq long, op string, " + SOURCE_DDL


@dataclass(frozen=True)
class Keyspace:
    """``n_convs`` conversations of ``turns`` turns each; ``text_bytes`` of
    payload text per row."""

    n_convs: int
    turns: int
    text_bytes: int

    @property
    def n_rows(self) -> int:
        return self.n_convs * self.turns

    # events land this far past the newest snapshot row, so an on-time
    # event always beats the snapshot and a late one (see changelog) may not
    @property
    def event_epoch_us(self) -> int:
        return BASE_TS_US + (self.n_convs * 3600 + 86_400) * 1_000_000


def _conv_ids(conv: np.ndarray) -> np.ndarray:
    return np.char.add("conv_", np.char.zfill(conv.astype("U8"), 6)).astype(object)


def _text(prefix: np.ndarray, ks: Keyspace) -> np.ndarray:
    pad = (FILLER * (ks.text_bytes // len(FILLER) + 1))[: ks.text_bytes]
    return np.char.add(prefix.astype("U40"), pad).astype(object)


def _table(cols: dict, schema: pa.Schema) -> pa.Table:
    arrays = []
    for f in schema:
        v = cols[f.name]
        if pa.types.is_timestamp(f.type):
            arrays.append(pa.array(v.astype("int64"), pa.int64()).cast(f.type))
        else:
            arrays.append(pa.array(v, f.type, from_pandas=True))
    return pa.Table.from_arrays(arrays, schema=schema)


def write_parquet(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def source_snapshot(ks: Keyspace, seed: int, present: np.ndarray | None = None,
                    version: np.ndarray | None = None) -> pa.Table:
    """The bootstrap snapshot: every (conv, turn) key of the keyspace, or only
    those flagged in ``present``. ``version`` (per key, default 0) is folded
    into text and ts, so a changed row differs in payload and version."""
    key = np.arange(ks.n_rows, dtype=np.int64)
    if present is not None:
        key = key[present]
    ver = np.zeros(len(key), np.int64) if version is None else version[key]
    conv = key // ks.turns
    turn = (key % ks.turns).astype(np.int32)
    rng = np.random.default_rng([seed, 1])
    tool_all = np.where(rng.random(ks.n_rows) < 0.2,
                        TOOLS[rng.integers(0, len(TOOLS), ks.n_rows)], None)
    ts = (BASE_TS_US + (conv * 3600 + turn * 60) * 1_000_000
          + ver * 1_000)  # a new version is 1 ms newer per generation
    prefix = np.char.add(
        np.char.add(np.char.add("s", str(seed)), np.char.add("-", key.astype("U10"))),
        np.char.add("-v", ver.astype("U6")),
    )
    return _table({
        "conv_id": _conv_ids(conv),
        "turn_idx": turn,
        "role": ROLES[turn % 3],
        "text": _text(np.char.add(prefix, " "), ks),
        "tool": tool_all[key],
        "ts": ts,
    }, SOURCE_SCHEMA)


def hot_convs(ks: Keyspace, seed: int, n_hot: int = 5) -> np.ndarray:
    """The seeded set of hot conversations the changelog concentrates on."""
    rng = np.random.default_rng([seed, 2])
    return rng.choice(ks.n_convs, size=n_hot, replace=False)


def changelog_batch(ks: Keyspace, seed: int, batch: int, n_events: int,
                    hot_fraction: float = 0.3) -> pa.Table:
    """One closed-loop batch of CDC events, with ``seq`` continuing across
    batches (batch ``b`` holds seqs ``[b*n_events, (b+1)*n_events)``).

    Per batch: ``hot_fraction`` of events on the 5 hot conversations, the
    rest uniform over the keyspace (so every bucket is touched); 10%
    deletes and 15% inserts, a third of those on brand-new turn indexes;
    10% late events (older than the key's snapshot row or older than an
    earlier event, so last-writer-wins must drop them); 3% timestamp ties
    broken by ``seq``; and ~2% exact re-deliveries of an earlier event of
    the same batch (same ``seq``, same payload)."""
    rng = np.random.default_rng([seed, 3, batch])
    hot = hot_convs(ks, seed)
    seq = batch * n_events + np.arange(n_events, dtype=np.int64)
    is_hot = rng.random(n_events) < hot_fraction
    conv = np.where(is_hot, hot[rng.integers(0, len(hot), n_events)],
                    rng.integers(0, ks.n_convs, n_events))
    turn = rng.integers(0, ks.turns, n_events)
    op_r = rng.random(n_events)
    op = np.full(n_events, "update", dtype=object)
    op[op_r < 0.10] = "delete"
    op[(op_r >= 0.10) & (op_r < 0.25)] = "insert"
    new_key = (op == "insert") & (rng.random(n_events) < 0.33)
    turn = np.where(new_key, ks.turns + rng.integers(0, 5, n_events), turn)

    ts = ks.event_epoch_us + seq * 1_000
    late_r = rng.random(n_events)
    snapshot_ts = BASE_TS_US + (conv * 3600 + turn * 60) * 1_000_000
    ts = np.where(late_r < 0.05, snapshot_ts - rng.integers(1, 3600, n_events) * 1_000_000, ts)
    ts = np.where((late_r >= 0.05) & (late_r < 0.10),
                  ts - rng.integers(1, 2 * n_events, n_events) * 1_000, ts)
    tie = (rng.random(n_events) < 0.03) & (np.arange(n_events) > 0)
    ts = np.where(tie, np.roll(ts, 1), ts)

    role = ROLES[rng.integers(0, 3, n_events)].copy()
    text = _text(np.char.add(np.char.add("e", seq.astype("U12")), " "), ks)
    tool = np.where(rng.random(n_events) < 0.1,
                    TOOLS[rng.integers(0, len(TOOLS), n_events)], None)
    deletes = op == "delete"
    role[deletes] = None
    text[deletes] = None
    tool[deletes] = None
    # exact re-deliveries: copy earlier rows of this batch verbatim
    dup = np.flatnonzero(rng.random(n_events) < 0.02)
    order = np.concatenate([np.arange(n_events), dup])
    cols = {
        "seq": seq, "op": op, "conv_id": _conv_ids(conv),
        "turn_idx": turn.astype(np.int32), "role": role, "text": text,
        "tool": tool, "ts": ts,
    }
    return _table({k: v[order] for k, v in cols.items()}, CHANGELOG_SCHEMA)


class Generations:
    """Successive full source generations for the snapshot-sync workload.

    Generation 0 is :func:`source_snapshot`. Each later generation changes
    ``change_frac`` of the present rows (new version: new text and ts) and
    flips presence for ``flip_frac`` of all keys (present rows are removed,
    removed rows come back at a new version)."""

    def __init__(self, ks: Keyspace, seed: int, change_frac: float = 0.10,
                 flip_frac: float = 0.05) -> None:
        self.ks, self.seed = ks, seed
        self.change_frac, self.flip_frac = change_frac, flip_frac
        self.present = np.ones(ks.n_rows, bool)
        self.version = np.zeros(ks.n_rows, np.int64)
        self.gen = 0
        # what the last advance() did, as a sync would classify it
        self.delta = {"n_create": 0, "n_update": 0, "n_delete": 0}

    def current(self) -> pa.Table:
        return source_snapshot(self.ks, self.seed, self.present, self.version)

    def advance(self) -> pa.Table:
        self.gen += 1
        rng = np.random.default_rng([self.seed, 4, self.gen])
        n = self.ks.n_rows
        change = self.present & (rng.random(n) < self.change_frac)
        flip = rng.random(n) < self.flip_frac
        readd = flip & ~self.present
        self.delta = {"n_create": int(readd.sum()),
                      "n_update": int((change & ~flip).sum()),
                      "n_delete": int((flip & self.present).sum())}
        self.version[change | readd] = self.gen
        self.present ^= flip
        return self.current()
