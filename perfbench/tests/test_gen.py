"""The benchmark's own tests: seeded generation and the statistics the
run relies on. No Spark; run with

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import harness  # noqa: E402
import reference  # noqa: E402


def _files(tmp_path, seed, n=3):
    out = []
    for i, f in enumerate(gen.change_log(seed, n)):
        p = tmp_path / f"s{seed}-{i}.parquet"
        gen.write_file(f, str(p))
        out.append(p.read_bytes())
    return out


def test_same_seed_same_inputs(tmp_path):
    assert _files(tmp_path, 5) == _files(tmp_path, 5)
    ev = reference.distinct(gen.change_log(5, 3))
    assert gen.read_ops(9, 12, ev) == gen.read_ops(9, 12, ev)


def test_other_seed_other_inputs(tmp_path):
    assert _files(tmp_path, 5) != _files(tmp_path, 6)
    ev = reference.distinct(gen.change_log(5, 3))
    assert gen.read_ops(9, 12, ev) != gen.read_ops(10, 12, ev)


def test_log_shape():
    frames = gen.change_log(3, 4)
    log = pd.concat(frames)
    fresh = 4 * gen.EVENTS_PER_FILE
    # redelivered copies sit in the file of their original
    assert all(len(f) == len(f.drop_duplicates(reference.KEY)) + round(
        gen.EVENTS_PER_FILE * gen.DUP_SHARE) for f in frames)
    assert len(reference.distinct(frames)) == fresh
    assert set(log["action"]) == set(gen.ACTION_P)
    days = pd.to_datetime(log["ts"], unit="us").dt.date.nunique()
    assert days >= 4, "ts disorder must cross several event dates"
    disorder = (log.sort_values("offset")["ts"].diff() < 0).mean()
    assert disorder > 0.3
    # Zipf skew: the hottest pk takes far more than a uniform share
    top = log["pk"].value_counts().iloc[0] / len(log)
    assert top > 20 / gen.PK_SPACE
    assert log.groupby("txn_id").size().median() == pytest.approx(gen.TXN_MEAN, abs=2)


def test_read_mix_is_fixed_per_block():
    ev = reference.distinct(gen.change_log(2, 2))
    ops = gen.read_ops(4, 30, ev)
    for i in range(0, 30, 3):
        assert sorted(op[0] for op in ops[i : i + 3]) == sorted(gen.READ_KINDS)


def test_tail_rank_and_plateau():
    xs = [float(i) for i in range(1, 25)]
    value, rank = harness.tail(xs)
    assert value == 14.0 and rank == "p58 of 24"  # ten samples above it
    with pytest.raises(ValueError):
        harness.tail(xs[:10])
    harness.check_plateau("flat", [1.0] * 12, 0.1)
    with pytest.raises(harness.PlateauError):
        harness.check_plateau("falling", [2.0] * 4 + [1.5] * 4 + [1.0] * 4, 0.1)


def test_self_time_subtracts_children():
    tr = harness.Tracer(enabled=True)
    with tr.span("outer", op="a"):
        with tr.span("inner"):
            pass
    outer, inner = tr.spans
    assert inner["parent"] == outer["id"] and inner["op"] == "a"
    (self_t,) = tr.self_times("outer")
    assert self_t == pytest.approx(
        (outer["end"] - outer["start"]) - (inner["end"] - inner["start"])
    )
    assert harness.Tracer(enabled=False).span("x") is harness.Tracer._NULL


def test_reference_latest_per_pk_drops_deletes():
    ev = pd.DataFrame(
        {
            "schema_name": "app",
            "table": "t",
            "pk": ["1", "1", "2", "2"],
            "action": ["write", "update", "write", "delete"],
            "ts": [1, 2, 1, 2],
            "offset": [1, 2, 3, 4],
            "txn_id": "x",
        }
    )
    got = reference.latest_per_pk(ev)
    assert list(got["pk"]) == ["1"] and list(got["action"]) == ["update"]


def test_digest_counts_copies_and_ignores_order():
    # the broadcast check compares multisets: a dropped or an extra copy
    # of a payload line must change the digest, the line order must not
    lines = reference.payloads(pd.DataFrame({"table": ["t", "t"], "action": ["write", "delete"], "pk": ["1", "2"]}))
    assert list(lines) == ["t_write 1", "t_delete 2"]
    once = reference.digest([("a",), ("b",)])
    assert reference.digest([("b",), ("a",)]) == once
    assert reference.digest([("a",), ("b",), ("a",)]) != once
    assert harness.geomean([1.0, 4.0]) == pytest.approx(2.0)
    ev = reference.distinct(gen.change_log(1, 1))
    assert reference.digest_lines(reference.key_lines(ev)) == reference.digest(
        ev[reference.KEY].itertuples(index=False)
    )
