"""store_reads: one consumer issues a seeded sequence of replay,
last_change and rebuild calls against a transactional event store that
holds a compacted base plus a tail of uncompacted epochs.

Read cost grows with the epochs since the last compaction, because
``TransactionalEventStore.log()`` unions one scan per committed
directory; this workload holds that number fixed (``TAIL_EPOCHS``).
"""

from __future__ import annotations

import datetime as dt
import os
import time

import pyarrow.parquet as pq

import gen
import harness
import reference

BASE_EPOCHS = 2
TAIL_EPOCHS = 3
WARM_READS = 48
READS_PER_S = 3.0  # timed reads per --seconds; ~0.33 s per read on 4 cores
SNAPSHOT_COLS = ["table", "pk", "action", "offset", "txn_id"]


def plan(seconds: int) -> int:
    """Timed read calls: fixed work for a given --seconds, a multiple of
    nine so every third of the timed phase holds whole blocks."""
    return max(18, 9 * round(seconds * READS_PER_S / 9))


def _lit(us: int) -> str:
    return (dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=us)).strftime("%Y-%m-%d %H:%M:%S")


def expected(live, op) -> tuple[int, str]:
    kind = op[0]
    if kind == "replay":
        return reference.replay(live, *op[1:])
    if kind == "last_change":
        return reference.last_change(live, *op[1:])
    return reference.rebuild(live, *op[1:])


class Reads:
    """Runs read ops through the program's read API: plan (building the
    read frame, manifest read included) and exec (collecting it) are
    separate spans, and each op runs under its own job group."""

    def __init__(self, spark, store, tracer: harness.Tracer):
        self.spark = spark
        self.store = store
        self.tr = tracer
        self.counters = harness.SparkCounters(spark) if tracer.enabled else None
        self.op_counters: list[dict] = []  # Spark's counters per op, traced runs
        self.latencies: list[float] = []
        self.kinds: list[str] = []

    def run(self, op) -> tuple[int, str]:
        from pyspark.sql import functions as F

        kind = op[0]
        gid = f"read-{len(self.latencies)}-{kind}"
        if self.tr.enabled:
            self.spark.sparkContext.setJobGroup(gid, gid)
        t = time.perf_counter()
        with self.tr.span(f"event_store.{kind}", op=gid):
            with self.tr.span("event_store.plan"):
                if kind == "replay":
                    _, table, action, t0, t1 = op
                    df = self.store.replay(table, action, _lit(t0), _lit(t1))
                elif kind == "last_change":
                    _, table, pks = op
                    df = self.store.last_change(table).filter(F.col("pk").isin(pks))
                else:
                    _, table, as_of = op
                    df = self.store.rebuild(table, _lit(as_of))
            with self.tr.span("event_store.exec"):
                rows = df.collect()
        self.latencies.append(time.perf_counter() - t)
        self.kinds.append(kind)
        if self.tr.enabled:
            self.spark.sparkContext.setJobGroup("bench", "bench")
            # read now: the status store keeps only the newest stages
            self.op_counters.append(self.counters.groups([gid]))
        ts = reference.ts_us
        if kind == "replay":
            return reference.digest(
                ((r["pk"], r["action"], r["offset"], ts(r["ts"])) for r in rows), ordered=True
            )
        if kind == "last_change":
            return reference.digest((r["pk"], ts(r["last_ts"]), r["last_offset"]) for r in rows)
        return reference.digest((r["pk"], r["row"], ts(r["ts"])) for r in rows)


def trace_store(tracer, store) -> None:
    """Spans around the store's append and its manifest reads and commits."""
    tracer.wrap(store, "append_epoch", "event_store.append")
    tracer.wrap(store.commits, "commit_with_retry", "commit_log.commit")
    tracer.wrap(store.commits, "committed", "commit_log.read")
    tracer.wrap(store.commits, "files", "commit_log.read")


def build_store(spark, work: str, paths, tracer):
    """The compacted base plus the uncompacted tail, written from the
    staged files through ``append_epoch`` and ``compact_txn``."""
    from meepo_spark.cdc.event_store import TransactionalEventStore
    from meepo_spark.schemas import CHANGE_EVENT

    store = TransactionalEventStore(spark, os.path.join(work, "store"))
    trace_store(tracer, store)
    for epoch, p in enumerate(paths):
        if epoch == BASE_EPOCHS:
            with tracer.span("event_store.compact"):
                store.compact_txn()
        batch = spark.read.schema(CHANGE_EVENT).parquet(p).dropDuplicates(reference.KEY)
        if not store.append_epoch(batch, epoch):
            raise RuntimeError(f"epoch {epoch} was already committed")
    return store


def check_compaction(snapshot_dir: str, want: tuple[int, str]) -> list[str]:
    """Compare a ``compact_txn`` snapshot with the digest of the pandas
    latest-per-pk reference."""
    snap = pq.read_table(snapshot_dir, columns=SNAPSHOT_COLS).to_pandas()
    got = reference.digest(snap.itertuples(index=False))
    if got == want:
        return []
    return [f"compact_txn: {got[0]} rows vs pandas latest-per-pk {want[0]}"]


def prepare(work: str, seed: int, seconds: int) -> dict:
    """Generate and stage the inputs, the read calls and their reference
    answers (no Spark, not timed; run in a child process)."""
    frames = gen.change_log(seed, BASE_EPOCHS + TAIL_EPOCHS)
    events = reference.distinct(frames)
    base = reference.latest_per_pk(reference.distinct(frames[:BASE_EPOCHS]))
    live = reference.distinct([base, reference.distinct(frames[BASE_EPOCHS:])])
    warm_ops = gen.read_ops(seed + 1, WARM_READS, events)
    timed_ops = gen.read_ops(seed + 2, plan(seconds), events)
    return {
        "paths": gen.stage(frames, os.path.join(work, "staged")),
        "n_events": len(events),
        "warm_ops": warm_ops,
        "timed_ops": timed_ops,
        "want": [expected(live, op) for op in warm_ops + timed_ops],
        "want_snapshot": reference.digest(base[SNAPSHOT_COLS].itertuples(index=False)),
    }


def run(spark, work: str, inp: dict, tracer, setup_t0: float) -> dict:
    warm_ops, timed_ops = inp["warm_ops"], inp["timed_ops"]
    with tracer.span("warmup"):
        store = build_store(spark, work, inp["paths"], tracer)
        reads = Reads(spark, store, tracer)
        got = [reads.run(op) for op in warm_ops]
    setup_s = time.perf_counter() - setup_t0

    n_warm = len(reads.latencies)
    t = time.perf_counter()
    got += [reads.run(op) for op in timed_ops]
    wall = time.perf_counter() - t
    rss = harness.peak_rss_mb(spark)

    t = time.perf_counter()
    # after compaction the manifest lists the snapshot first, then the tail
    bad = check_compaction(store.commits.files()[0], inp["want_snapshot"])
    failed = 0  # timed reads only; a wrong warm-up read still fails the run
    for i, (op, g, w) in enumerate(zip(warm_ops + timed_ops, got, inp["want"])):
        if g != w:
            failed += i >= len(warm_ops)
            bad.append(f"{op[:2]}: got {g[0]} rows, hash differs from the reference")
    samples, kinds = reads.latencies[n_warm:], reads.kinds[n_warm:]
    kind_med = {k: harness.median([x for x, kind in zip(samples, kinds) if kind == k]) for k in gen.READ_KINDS}
    out = {
        "setup_s": setup_s,
        "peak_rss_mb": sum(rss.values()),
        "rss_mb": rss,
        "work_per_s": len(timed_ops) / wall,
        # the kinds differ in cost, so a median over all calls would
        # jump between kinds; each kind's median, then their geomean
        "latency_s": harness.geomean(kind_med.values()),
        "samples": samples,
        # each call relative to its kind's median, so the plateau rule
        # compares thirds of the phase without the kind mix moving them
        "plateau_samples": [x / kind_med[kind] for x, kind in zip(samples, kinds)],
        "warmup_samples": [x / kind_med[kind] for x, kind in zip(reads.latencies[:n_warm], reads.kinds)],
        "attempted": len(timed_ops),
        "failed": failed,
        "checks": bad,
        "names": ("reads_per_s", "reads/s", "read_p50_s", "read_tail_s"),
        "timed_s": wall,
        "check_s": time.perf_counter() - t,
    }
    if tracer.enabled:
        per_op = reads.op_counters[n_warm:]
        timed = {k: sum(c[k] for c in per_op) for k in harness.COUNTER_KEYS}
        out["layers"] = common_layers(tracer, store, timed, len(timed_ops), wall, inp["n_events"])
        out["layers"].update(read_layers(tracer, store, timed["tasks"] / len(per_op)))
    return out


def span_med(tracer, name: str) -> float:
    d = tracer.durations(name)
    return harness.median(d) if d else 0.0


def read_layers(tracer, store, tasks_per_read: float) -> dict:
    """The read path's own layers (store_reads only)."""
    return {
        "event_store.plan_s": span_med(tracer, "event_store.plan"),
        "event_store.exec_s": span_med(tracer, "event_store.exec"),
        "event_store.replay_s": span_med(tracer, "event_store.replay"),
        "event_store.last_change_s": span_med(tracer, "event_store.last_change"),
        "event_store.rebuild_s": span_med(tracer, "event_store.rebuild"),
        "event_store.live_dirs": float(len(store.commits.files())),
        "read.tasks": tasks_per_read,
    }


def common_layers(tracer, store, timed: dict, n_ops: int, wall: float, n_events: int) -> dict:
    """Per-layer metrics that both workloads measure. ``timed`` holds
    Spark's counters over the timed phase's ``n_ops`` operations;
    ``n_events`` is the number of distinct events the epochs hold."""
    med = harness.median
    files, nbytes, epoch = [], 0, 0
    while (meta := store.commits.epoch_meta(epoch)) is not None:
        for d in meta["files"]:
            parts = [
                os.path.join(r, f) for r, _, fs in os.walk(d) for f in fs if f.endswith(".parquet")
            ]
            files.append(len(parts))
            nbytes += sum(os.path.getsize(p) for p in parts)
        epoch += 1
    return {
        "session.start_s": span_med(tracer, "session.start"),
        "registry.load_s": span_med(tracer, "registry.load"),
        "warmup_s": span_med(tracer, "warmup"),
        "event_store.append_s": span_med(tracer, "event_store.append"),
        "event_store.files_per_epoch": med(files),
        "event_store.bytes_per_event": nbytes / n_events,
        "commit_log.commit_s": span_med(tracer, "commit_log.commit"),
        "commit_log.read_s": span_med(tracer, "commit_log.read"),
        "exec.jobs": timed["jobs"] / n_ops,
        "exec.stages": timed["stages"] / n_ops,
        "exec.tasks": timed["tasks"] / n_ops,
        "exec.executor_run_s": timed["run_ms"] / 1e3 / n_ops,
        "exec.executor_cpu_s": timed["cpu_ns"] / 1e9 / n_ops,
        "exec.core_busy": timed["run_ms"] / 1e3 / (wall * 4),
        "exec.shuffle_mb": timed["shuffle_b"] / 1e6 / n_ops,
        "exec.scan_mb": timed["scan_b"] / 1e6 / n_ops,
        "exec.spill_mb": timed["spill_b"] / 1e6 / n_ops,
    }
