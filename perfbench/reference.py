"""Reference answers computed with pandas from the generated events,
and the canonical row hashing both sides go through.

The store is modelled exactly: the rows it should hold are the distinct
``(txn_id, pk, offset)`` events of every committed batch, with a
compaction replacing everything before it by the latest non-delete image
per ``(schema_name, table, pk)``. The broadcast publisher is modelled as
one payload line per delivered row.
"""

from __future__ import annotations

import datetime as dt
import hashlib

import pandas as pd

KEY = ["txn_id", "pk", "offset"]
_EPOCH = dt.datetime(1970, 1, 1)


def distinct(frames: list[pd.DataFrame]) -> pd.DataFrame:
    """The events a store must hold after committing ``frames``: one row
    per event identity, redelivered copies dropped."""
    return pd.concat(frames, ignore_index=True).drop_duplicates(KEY).reset_index(drop=True)


def latest_per_pk(events: pd.DataFrame) -> pd.DataFrame:
    """``compact_txn``'s contract: the latest image per (schema_name,
    table, pk) by (ts, offset), deletes dropped."""
    last = events.sort_values(["ts", "offset"]).groupby(
        ["schema_name", "table", "pk"], sort=False
    ).tail(1)
    return last[last["action"] != "delete"].reset_index(drop=True)


def payloads(rows: pd.DataFrame) -> pd.Series:
    """``fanout.payload_expr``'s wire format, ``"{table}_{action} {pk}"``,
    one line per row."""
    return rows["table"] + "_" + rows["action"] + " " + rows["pk"]


def ts_us(v) -> int:
    """A collected Spark timestamp (naive, session zone UTC) in µs."""
    return (v - _EPOCH) // dt.timedelta(microseconds=1)


def _canon(v) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple)):  # pandas/pyarrow map cells: [(k, v), ...]
        return _canon(dict(v))
    return str(v)


def digest(rows, ordered: bool = False) -> tuple[int, str]:
    """Row count and a value hash of ``rows`` (tuples). Unordered
    results are sorted first; ``ordered`` keeps the given order so the
    hash also checks it."""
    return digest_lines(["\x01".join(_canon(c) for c in r) for r in rows], ordered)


def digest_lines(lines, ordered: bool = False) -> tuple[int, str]:
    """``digest`` of rows already in canonical form, one string each."""
    lines = list(lines)
    if not ordered:
        lines.sort()
    h = hashlib.sha256("\x02".join(lines).encode()).hexdigest()
    return len(lines), h


def key_lines(events: pd.DataFrame) -> pd.Series:
    """The canonical form of each row's ``KEY`` (``txn_id``, ``pk``,
    ``offset``), built column-wise: ``digest_lines(key_lines(df))`` equals
    ``digest`` over the ``KEY`` tuples."""
    return events["txn_id"] + "\x01" + events["pk"] + "\x01" + events["offset"].astype(str)


# --- reads ---------------------------------------------------------------


def replay(live: pd.DataFrame, table: str, action: str | None, t0_us: int, t1_us: int):
    """``EventStore.replay``: the topic's events with t0 <= ts < t1, in
    (ts, offset) order."""
    m = (live["table"] == table) & (live["ts"] >= t0_us) & (live["ts"] < t1_us)
    if action is not None:
        m &= live["action"] == action
    sel = live[m].sort_values(["ts", "offset"])
    return digest(zip(sel["pk"], sel["action"], sel["offset"], sel["ts"]), ordered=True)


def last_change(live: pd.DataFrame, table: str, pks: list[str]):
    """``EventStore.last_change`` restricted to ``pks``: max ts and max
    offset per pk."""
    sel = live[(live["table"] == table) & live["pk"].isin(pks)]
    agg = sel.groupby("pk").agg(last_ts=("ts", "max"), last_offset=("offset", "max"))
    return digest(zip(agg.index, agg["last_ts"], agg["last_offset"]))


def rebuild(live: pd.DataFrame, table: str, as_of_us: int):
    """``EventStore.rebuild``: each pk's latest image at ``as_of``,
    deletes dropped."""
    upto = live[(live["table"] == table) & (live["ts"] <= as_of_us)]
    last = upto.sort_values(["ts", "offset"]).groupby("pk", sort=False).tail(1)
    last = last[last["action"] != "delete"]
    return digest(zip(last["pk"], last["row"], last["ts"]))
