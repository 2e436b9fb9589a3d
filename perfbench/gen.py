"""Seeded input generators for the benchmark.

Everything the program sees is made here from ``--seed``: the same seed
gives byte-identical inputs, another seed gives different ones. The
generators use NumPy, pandas and pyarrow; they never touch Spark, and
they run before ``setup_s`` starts.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Every constant below that shapes the log is an assumption, not a
# measurement of real traffic; README.md ("Input assumptions") gives the
# reason for each.
TABLES = ("users", "orders", "items")
PK_SPACE = 3000  # distinct pks per table; Zipf-skewed draws over it
ZIPF_S = 1.0
ACTION_P = {"write": 0.15, "update": 0.75, "delete": 0.10}
DUP_SHARE = 0.05  # redelivered copies, as a share of fresh events
EVENTS_PER_FILE = 1000  # fresh events; a file holds these plus its copies
TXN_MEAN = 10
JITTER_S = 6 * 3600  # ts disorder: +-6 h around the log position
LOG_START = dt.datetime(2026, 1, 5)
LOG_SPAN_S = 4 * 86400  # a full log spans four event dates plus jitter

ARROW_SCHEMA = pa.schema(
    [
        pa.field("schema_name", pa.string()),
        pa.field("table", pa.string()),
        pa.field("action", pa.string()),
        pa.field("pk", pa.string()),
        pa.field("row", pa.map_(pa.string(), pa.string())),
        pa.field("old_row", pa.map_(pa.string(), pa.string())),
        pa.field("ts", pa.timestamp("us", tz="UTC")),
        pa.field("offset", pa.int64()),
        pa.field("txn_id", pa.string()),
    ]
)


def change_log(seed: int, n_files: int) -> list[pd.DataFrame]:
    """A change-event log in ``schemas.CHANGE_EVENT`` shape, cut into
    ``n_files`` batches of ``EVENTS_PER_FILE`` fresh events each.

    Zipf-skewed pks per table, a write/update/delete mix, ``ts``
    disorder that crosses event dates, transactions of about
    ``TXN_MEAN`` events, and ``DUP_SHARE`` redelivered copies placed in
    the same file as their original (a redelivery inside one fetch;
    redelivered epochs are the ledger's job, not the row dedup's)."""
    rng = np.random.default_rng(seed)
    n = n_files * EVENTS_PER_FILE
    weights = 1.0 / np.arange(1, PK_SPACE + 1) ** ZIPF_S
    weights /= weights.sum()
    table_idx = rng.integers(0, len(TABLES), n)
    pk_num = rng.choice(PK_SPACE, size=n, p=weights)
    actions = np.array(list(ACTION_P))
    action = actions[rng.choice(len(actions), size=n, p=list(ACTION_P.values()))]
    offset = np.arange(n, dtype=np.int64) + int(rng.integers(0, 1 << 20)) * 1000
    # txn boundaries: geometric-ish sizes with mean TXN_MEAN
    sizes = rng.integers(TXN_MEAN // 2, TXN_MEAN + TXN_MEAN // 2 + 1, n // 4 + 2)
    txn_of = np.repeat(np.arange(len(sizes)), sizes)[:n]
    pos_s = np.arange(n) * (LOG_SPAN_S / max(n, 1))
    jitter = rng.integers(-JITTER_S, JITTER_S + 1, n)
    ts_us = (
        int(LOG_START.replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
        + ((pos_s + jitter) * 1_000_000).astype(np.int64)
    )
    value = rng.integers(0, 1_000_000, n)
    status = np.array(["new", "paid", "shipped", "closed"])[rng.integers(0, 4, n)]

    tables = np.array(TABLES)[table_idx]
    pks = pk_num.astype(str)
    rows = [
        None
        if a == "delete"
        else [("id", p), ("v", str(v)), ("status", s), ("seq", str(o))]
        for a, p, v, s, o in zip(action, pks, value, status, offset)
    ]
    old_rows = [
        None if a == "write" else [("id", p), ("v", str(v // 2))]
        for a, p, v in zip(action, pks, value)
    ]
    frame = pd.DataFrame(
        {
            "schema_name": "app",
            "table": tables,
            "action": action,
            "pk": pks,
            "row": rows,
            "old_row": old_rows,
            "ts": ts_us,
            "offset": offset,
            "txn_id": np.char.add(f"s{seed}-t", txn_of.astype(str)),
        }
    )
    out = []
    for i in range(n_files):
        part = frame.iloc[i * EVENTS_PER_FILE : (i + 1) * EVENTS_PER_FILE]
        k = int(round(len(part) * DUP_SHARE))
        dups = part.iloc[np.sort(rng.choice(len(part), size=k, replace=False))]
        both = pd.concat([part, dups])
        # redelivered copies land at random places inside the file
        out.append(both.iloc[rng.permutation(len(both))].reset_index(drop=True))
    return out


def stage(frames: list[pd.DataFrame], directory: str) -> list[str]:
    """Write every batch to ``directory`` as ``part-<i>.parquet`` ahead
    of the run; the workloads move them into place (a rename) when a
    round starts, so no generator I/O falls inside a timed phase."""
    os.makedirs(directory)
    paths = [os.path.join(directory, f"part-{i:05d}.parquet") for i in range(len(frames))]
    for f, p in zip(frames, paths):
        write_file(f, p)
    return paths


def write_file(frame: pd.DataFrame, path: str) -> None:
    """Land one batch as a parquet file, atomically (write, then
    rename), so a streaming source never lists a half-written file."""
    data = frame.copy()
    data["ts"] = pd.to_datetime(data["ts"], unit="us", utc=True)
    table = pa.Table.from_pandas(data, schema=ARROW_SCHEMA, preserve_index=False)
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    pq.write_table(table, tmp)
    os.rename(tmp, path)


READ_KINDS = ("replay", "last_change", "rebuild")
REPLAY_SPAN_S = 3600  # replay ranges are one hour of event time
LOOKUP_PKS = 5


def read_ops(seed: int, n: int, events: pd.DataFrame) -> list[tuple]:
    """A seeded sequence of ``n`` store reads (a multiple of three) over
    the time span of ``events``. Every block of three holds one call of
    each kind in a seeded order:

    * ``("replay", table, action | None, t0_us, t1_us)``: one hour of
      one topic (half the calls name an action);
    * ``("last_change", table, pks)``: ``LOOKUP_PKS`` Zipf-drawn pks;
    * ``("rebuild", table, as_of_us)``: a whole table as of a point.

    The draws are stratified so that every seed asks for the same mix of
    costs: each kind cycles through the tables, and the k-th replay
    start and the k-th rebuild instant fall in the k-th of ``n / 3``
    equal slices of the span; the order is then shuffled. Times are
    whole seconds, so a string literal carries them exactly."""
    if n % len(READ_KINDS):
        raise ValueError(f"{n} reads do not make whole blocks of {len(READ_KINDS)}")
    rng = np.random.default_rng(seed)
    m = n // len(READ_KINDS)
    lo, hi = int(events["ts"].min()) // 1_000_000, int(events["ts"].max()) // 1_000_000
    weights = 1.0 / np.arange(1, PK_SPACE + 1) ** ZIPF_S
    weights /= weights.sum()

    def tables():
        return [TABLES[i] for i in rng.permutation(np.arange(m) % len(TABLES))]

    def instants(span_lo: int, span_hi: int):
        edges = span_lo + (np.arange(m) + rng.random(m)) * (span_hi - span_lo) / m
        return [int(x) * 1_000_000 for x in rng.permutation(edges)]

    actions = [None if i % 2 else str(rng.choice(list(ACTION_P))) for i in rng.permutation(m)]
    replays = [
        ("replay", t, a, t0, t0 + REPLAY_SPAN_S * 1_000_000)
        for t, a, t0 in zip(tables(), actions, instants(lo, hi - REPLAY_SPAN_S))
    ]
    lookups = [
        ("last_change", t, sorted({str(p) for p in rng.choice(PK_SPACE, LOOKUP_PKS, p=weights)}))
        for t in tables()
    ]
    rebuilds = [("rebuild", t, as_of) for t, as_of in zip(tables(), instants(lo, hi))]
    by_kind = {"replay": replays, "last_change": lookups, "rebuild": rebuilds}
    ops: list[tuple] = []
    for k in range(m):
        ops += [by_kind[str(kind)][k] for kind in rng.permutation(READ_KINDS)]
    return ops
