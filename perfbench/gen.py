"""Seeded change-event generator (pyarrow and numpy only, no Spark).

Writes MongoDB-shaped change events in the engine's ``EVENT_SCHEMA``
layout as parquet files, and independently computes what a correct
replication must end with: the latest insert/update per key by
``(clusterTime, token)``, deletes dropped, plus the op counts the health
listener must report.

Every file is written under a dot-prefixed temporary name and renamed into
place, so a file-stream source never lists a partial file.

Open loop: files on a fixed schedule from ``--start-at`` (epoch seconds),
whatever the consumer is doing::

    python3 perfbench/gen.py tail --seed 1 --out DIR --rate 2000 --cadence-ms 250 \
        --duration-s 12 --start-at 1700000000.0 --keys 105000 --preload-keys 100000

It writes ``expected.parquet`` (state columns) and ``report.json`` (op
counts and how late the writer ran) beside the event files.
"""

from __future__ import annotations

import argparse
import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["signup", "click", "view", "purchase", "error"])

# Arrow twin of mongodb_cdc_spark.sources.changefeed.EVENT_SCHEMA.
EVENT_ARROW_SCHEMA = pa.schema(
    [
        pa.field("_id", pa.string(), False),
        pa.field("operationType", pa.string(), False),
        pa.field("clusterTime", pa.timestamp("us", tz="UTC"), False),
        pa.field("documentKey", pa.struct([pa.field("_id", pa.int64(), False)]), False),
        pa.field(
            "fullDocument",
            pa.struct(
                [
                    pa.field("_id", pa.int64(), False),
                    pa.field("event_type", pa.string()),
                    pa.field("value", pa.float64()),
                    pa.field("props", pa.string()),
                ]
            ),
        ),
    ]
)

# Columns of ParquetUpsertTarget's state table.
STATE_ARROW_SCHEMA = pa.schema(
    [
        pa.field("_id", pa.int64()),
        pa.field("event_type", pa.string()),
        pa.field("value", pa.float64()),
        pa.field("props", pa.string()),
        pa.field("cluster_ts", pa.timestamp("us", tz="UTC")),
        pa.field("token", pa.string()),
    ]
)

# clusterTime of event 0; later events are spaced by the logical step.
BASE_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


class Events:
    """A column-wise block of change events, in token order."""

    def __init__(self, seq, keys, ops, ts_us, etype, value, props):
        self.seq, self.keys, self.ops, self.ts_us = seq, keys, ops, ts_us
        self.etype, self.value, self.props = etype, value, props

    def __len__(self) -> int:
        return len(self.seq)

    def slice(self, lo: int, hi: int) -> "Events":
        return Events(*(a[lo:hi] for a in self._cols()))

    def _cols(self):
        return (self.seq, self.keys, self.ops, self.ts_us, self.etype, self.value, self.props)

    def to_arrow(self) -> pa.Table:
        ops = np.array(["insert", "update", "delete"])[self.ops]
        live = self.ops != 2
        doc = pa.StructArray.from_arrays(
            [
                pa.array(self.keys, pa.int64()),
                pa.array(EVENT_TYPES[self.etype]),
                pa.array(self.value, pa.float64()),
                pa.array(np.char.add(np.char.add('{"k": ', self.props.astype(str)), "}")),
            ],
            fields=list(EVENT_ARROW_SCHEMA.field("fullDocument").type),
            mask=pa.array(~live),
        )
        return pa.table(
            [
                pa.array(np.char.zfill(self.seq.astype(str), 12)),
                pa.array(ops),
                pa.array(self.ts_us, pa.timestamp("us", tz="UTC")),
                pa.StructArray.from_arrays(
                    [pa.array(self.keys, pa.int64())],
                    fields=list(EVENT_ARROW_SCHEMA.field("documentKey").type),
                ),
                doc,
            ],
            schema=EVENT_ARROW_SCHEMA,
        )


def skewed_keys(rng: np.random.Generator, n: int, n_keys: int, skew: float) -> np.ndarray:
    """``n`` draws over ``n_keys`` keys with Zipf-like frequencies
    (p(rank r) ~ 1 / r**skew); ranks are scattered over the key space so
    hot keys do not share a hash bucket."""
    ranks = np.arange(1, n_keys + 1, dtype=np.float64)
    p = ranks ** -skew
    p /= p.sum()
    rank_of_draw = rng.choice(n_keys, size=n, p=p)
    return rng.permutation(n_keys)[rank_of_draw].astype(np.int64)


def make_events(
    rng: np.random.Generator,
    n: int,
    n_keys: int,
    skew: float,
    delete_share: float,
    first_seq: int,
    step_us: int,
    seen: np.ndarray,
) -> Events:
    """``n`` events in token order. A non-delete event is an insert when its
    key was not seen before (``seen`` is updated in place), else an update;
    ``delete_share`` of all events are deletes."""
    keys = skewed_keys(rng, n, n_keys, skew)
    deletes = rng.random(n) < delete_share
    ops = np.full(n, 1, dtype=np.int8)
    ops[deletes] = 2
    live_idx = np.flatnonzero(~deletes)
    live_keys = keys[live_idx]
    # first live occurrence of each unseen key is its insert
    uniq, first = np.unique(live_keys, return_index=True)
    fresh = ~seen[uniq]
    ops[live_idx[first[fresh]]] = 0
    seen[uniq] = True
    seq = np.arange(first_seq, first_seq + n, dtype=np.int64)
    return Events(
        seq=seq,
        keys=keys,
        ops=ops,
        ts_us=BASE_US + seq * step_us,
        etype=rng.integers(0, len(EVENT_TYPES), n),
        value=np.round(rng.random(n) * 560.0, 2),
        props=rng.integers(0, 100, n),
    )


def preload_events(n_keys: int, rng: np.random.Generator, seen: np.ndarray) -> Events:
    """One insert per key 0..n_keys-1, all before the stream's first event."""
    seen[:n_keys] = True
    seq = np.arange(n_keys, dtype=np.int64)
    return Events(
        seq=seq,
        keys=seq.copy(),
        ops=np.zeros(n_keys, dtype=np.int8),
        ts_us=BASE_US - 1_000_000_000 + seq,
        etype=rng.integers(0, len(EVENT_TYPES), n_keys),
        value=np.round(rng.random(n_keys) * 560.0, 2),
        props=rng.integers(0, 100, n_keys),
    )


def expected_state(blocks: list[Events]) -> pa.Table:
    """Latest insert/update per key by (clusterTime, token); deletes dropped."""
    cat = Events(*(np.concatenate(cols) for cols in zip(*(b._cols() for b in blocks))))
    keep = cat.ops != 2
    live = Events(*(a[keep] for a in cat._cols()))
    order = np.lexsort((live.seq, live.ts_us))
    live = Events(*(a[order] for a in live._cols()))
    # last occurrence per key in (ts, token) order
    rev_keys = live.keys[::-1]
    _, rev_first = np.unique(rev_keys, return_index=True)
    idx = np.sort(len(live) - 1 - rev_first)
    last = Events(*(a[idx] for a in live._cols()))
    return pa.table(
        [
            pa.array(last.keys, pa.int64()),
            pa.array(EVENT_TYPES[last.etype]),
            pa.array(last.value, pa.float64()),
            pa.array(np.char.add(np.char.add('{"k": ', last.props.astype(str)), "}")),
            pa.array(last.ts_us, pa.timestamp("us", tz="UTC")),
            pa.array(np.char.zfill(last.seq.astype(str), 12)),
        ],
        schema=STATE_ARROW_SCHEMA,
    )


def op_counts(blocks: list[Events]) -> dict[str, int]:
    ops = np.concatenate([b.ops for b in blocks]) if blocks else np.zeros(0, np.int8)
    return {
        "events": int(len(ops)),
        "inserts": int((ops == 0).sum()),
        "updates": int((ops == 1).sum()),
        "deletes": int((ops == 2).sum()),
    }


def write_atomic(table: pa.Table, out_dir: str, name: str) -> None:
    tmp = os.path.join(out_dir, f".{name}.tmp")
    pq.write_table(table, tmp)
    os.rename(tmp, os.path.join(out_dir, name))


def write_json(obj: dict, path: str) -> None:
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.rename(tmp, path)


def tail(
    seed: int,
    out: str,
    rate: int,
    cadence_ms: int,
    duration_s: float,
    start_at: float,
    keys: int,
    preload_keys: int,
    skew: float = 0.6,
    delete_share: float = 0.2,
) -> dict:
    """Open-loop writer. Event ``i`` is due at ``start_at + i / rate``;
    the file holding events due in ``[start_at + k*c, start_at + (k+1)*c)``
    is renamed into ``out/events`` at ``start_at + (k+1)*c``, whether or not
    the consumer has kept up. ``out/preload`` holds one insert per preloaded
    key, for the consumer to load before the schedule starts."""
    rng = np.random.default_rng(seed)
    seen = np.zeros(keys, dtype=bool)
    pre = preload_events(preload_keys, rng, seen)
    per_file = max(1, rate * cadence_ms // 1000)
    n_files = int(duration_s * 1000 // cadence_ms)
    step_us = 1_000_000 // rate
    ev = make_events(rng, per_file * n_files, keys, skew, delete_share, preload_keys, step_us, seen)
    ev_dir = os.path.join(out, "events")
    os.makedirs(ev_dir, exist_ok=True)
    tables = [ev.slice(k * per_file, (k + 1) * per_file).to_arrow() for k in range(n_files)]
    late = []
    for k, table in enumerate(tables):
        due = start_at + (k + 1) * cadence_ms / 1000.0
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        write_atomic(table, ev_dir, f"part-{k:06d}.parquet")
        late.append(max(0.0, time.time() - due))
    report = {
        **op_counts([ev]),
        "files": n_files,
        "events_per_file": per_file,
        "late_max_s": max(late, default=0.0),
        "late_p99_s": float(np.quantile(late, 0.99)) if late else 0.0,
    }
    write_atomic(expected_state([pre, ev]), out, "expected.parquet")
    write_json(report, os.path.join(out, "report.json"))
    return report


def write_preload(seed: int, out: str, keys: int, preload_keys: int, files: int = 1) -> list[str]:
    """The preload block ``tail`` assumes, as insert events in ``files``
    files under ``out/preload`` (same seed, so the same rows); returns
    their paths in key order."""
    rng = np.random.default_rng(seed)
    seen = np.zeros(keys, dtype=bool)
    pre = preload_events(preload_keys, rng, seen)
    pre_dir = os.path.join(out, "preload")
    os.makedirs(pre_dir, exist_ok=True)
    paths = []
    step = -(-preload_keys // files)
    for i, lo in enumerate(range(0, preload_keys, step)):
        write_atomic(pre.slice(lo, lo + step).to_arrow(), pre_dir, f"part-{i:06d}.parquet")
        paths.append(os.path.join(pre_dir, f"part-{i:06d}.parquet"))
    return paths


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="mode", required=True)
    t = sub.add_parser("tail")
    t.add_argument("--seed", type=int, required=True)
    t.add_argument("--out", required=True)
    t.add_argument("--keys", type=int, required=True)
    t.add_argument("--skew", type=float, default=0.6)
    t.add_argument("--delete-share", type=float, default=0.2)
    t.add_argument("--rate", type=int, required=True)
    t.add_argument("--cadence-ms", type=int, required=True)
    t.add_argument("--duration-s", type=float, required=True)
    t.add_argument("--start-at", type=float, required=True)
    t.add_argument("--preload-keys", type=int, default=0)
    a = ap.parse_args(argv)
    tail(a.seed, a.out, a.rate, a.cadence_ms, a.duration_s, a.start_at,
         a.keys, a.preload_keys, a.skew, a.delete_share)


if __name__ == "__main__":
    main()
