"""cdc_ingest: drain a seeded change-event log into the transactional
event store and the broadcast sink.

Files land in rounds. Two subscriber queries read the same source
directory, one after the other in each round: first the store query
(``idempotent_foreach_batch(EpochLedger, append_epoch)``) as an
``availableNow`` drain with ``maxFilesPerTrigger=1``, so a round of K
new files is K micro-batches and the engine starts the next batch only
when the previous one returned (closed loop, one client); then the
program's broadcast publisher as ``fanout.py`` defines it
(``broadcast_payload`` over the change stream into ``meepo_broadcast``),
which takes the round's files in one batch.
"""

from __future__ import annotations

import os
import time

import pandas as pd
import pyarrow.parquet as pq

import gen
import harness
import reference
import store_reads

WARM_FILES = 20  # the store batch time falls steeply for ~10 batches, then slowly
WARM_ROUND = 20  # the warm-up is one round: one publisher restart
FILES_PER_ROUND = 10
FILES_PER_S = 2.0  # timed files per --seconds; ~0.5 s per file on 4 cores


def plan(seconds: int) -> tuple[int, int]:
    """(warm-up files, timed files): fixed work for a given --seconds, so
    both sides of a comparison drain the same batches."""
    rounds = max(2, round(seconds * FILES_PER_S / FILES_PER_ROUND))
    return WARM_FILES, rounds * FILES_PER_ROUND


class Ingest:
    def __init__(self, spark, work: str, tracer: harness.Tracer):
        from meepo_spark.cdc.event_store import TransactionalEventStore
        from meepo_spark.cdc.exactly_once import EpochLedger, idempotent_foreach_batch
        from meepo_spark.sources.pyds import register_broadcast_sink

        register_broadcast_sink(spark)
        self.spark = spark
        self.tr = tracer
        self.src = os.path.join(work, "source")
        self.bcast = os.path.join(work, "broadcast")
        self.ck_store = os.path.join(work, "ck_store")
        self.ck_bcast = os.path.join(work, "ck_broadcast")
        os.makedirs(self.src)
        self.store = TransactionalEventStore(spark, os.path.join(work, "store"))
        self.ledger = EpochLedger(os.path.join(work, "ledger"))
        store_reads.trace_store(tracer, self.store)
        tracer.wrap(self.ledger, "committed", "exactly_once.ledger")
        tracer.wrap(self.ledger, "commit", "exactly_once.ledger")
        body = idempotent_foreach_batch(self.ledger, self.store.append_epoch)

        def traced_body(df, epoch_id):
            # runs on a py4j callback thread: parent it to the drain span
            with tracer.span("exactly_once.body", op=f"batch-{epoch_id}", parent=self.drain_span):
                body(df, epoch_id)

        self.body = traced_body
        self.drain_span: int | None = None
        self.store_progress: list[dict] = []
        self.bcast_progress: list[dict] = []
        self.counters = harness.SparkCounters(spark) if tracer.enabled else None
        self.round_counters: list[dict] = []  # Spark's counters per round, traced runs

    def _stream(self, one_file_per_batch: bool):
        # read_change_stream's reader, plus the per-trigger file cap
        # that read_change_stream does not expose
        from meepo_spark.cdc.events import read_change_stream
        from meepo_spark.schemas import CHANGE_EVENT

        if not one_file_per_batch:
            return read_change_stream(self.spark, self.src)
        return (
            self.spark.readStream.schema(CHANGE_EVENT)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.src)
        )

    def _drain(self, writer, name: str) -> list[dict]:
        with self.tr.span(name) as span:
            self.drain_span = span["id"] if span else None
            q = writer.trigger(availableNow=True).start()
            q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"{name} failed: {q.exception()}")
        if self.counters is not None:
            # the engine runs each query's jobs under its runId group;
            # read now, the status store keeps only the newest stages
            self.round_counters.append({"query": name, **self.counters.groups([str(q.runId)])})
        return [p for p in q.recentProgress if p["numInputRows"] > 0]

    def round(self, paths) -> tuple[list[dict], list[dict]]:
        """Move the staged files ``paths`` into the source directory,
        then drain both subscribers, one after the other. Returns the
        store and broadcast batch progress."""
        from meepo_spark.cdc.fanout import broadcast_payload

        for p in paths:
            os.rename(p, os.path.join(self.src, os.path.basename(p)))
        store = self._drain(
            self._stream(one_file_per_batch=True)
            .writeStream.foreachBatch(self.body)
            .option("checkpointLocation", self.ck_store),
            "stream.store_drain",
        )
        # The publisher takes the round's files in one batch.
        bcast = self._drain(
            broadcast_payload(self._stream(one_file_per_batch=False))
            .writeStream.format("meepo_broadcast")
            .option("path", self.bcast)
            .option("checkpointLocation", self.ck_bcast),
            "broadcast.drain",
        )
        if len(store) != len(paths) or len(bcast) != 1:
            raise RuntimeError(
                f"expected {len(paths)} store batches and 1 broadcast batch, "
                f"got {len(store)} and {len(bcast)}"
            )
        self.store_progress += store
        self.bcast_progress += bcast
        return store, bcast

    def broadcast_lines(self) -> list[str]:
        lines: list[str] = []
        for name in os.listdir(self.bcast):
            if name.startswith("part-"):
                with open(os.path.join(self.bcast, name)) as fh:
                    lines += fh.read().splitlines()
        return lines


def prepare(work: str, seed: int, seconds: int) -> dict:
    """Generate and stage the inputs, and the digests of the outputs
    they must produce (no Spark, not timed; run in a child process)."""
    n_warm, n_timed = plan(seconds)
    frames = gen.change_log(seed, n_warm + n_timed)
    events = reference.distinct(frames)
    return {
        "paths": gen.stage(frames, os.path.join(work, "staged")),
        "n_warm": n_warm,
        "n_timed": n_timed,
        "n_events": len(events),
        "timed_events": len(reference.distinct(frames[n_warm:])),
        "want_store": reference.digest_lines(reference.key_lines(events)),
        # the publisher sends one line per delivered row, copies included
        "want_lines": reference.digest_lines(reference.payloads(pd.concat(frames))),
    }


def run(spark, work: str, inp: dict, tracer, setup_t0: float) -> dict:
    paths, n_warm, n_timed = inp["paths"], inp["n_warm"], inp["n_timed"]
    ing = Ingest(spark, work, tracer)

    with tracer.span("warmup"):
        for i in range(0, n_warm, WARM_ROUND):
            ing.round(paths[i : i + WARM_ROUND])
    setup_s = time.perf_counter() - setup_t0

    latencies: list[float] = []
    drain_s = 0.0
    timed_runs = len(ing.round_counters)
    for i in range(n_warm, n_warm + n_timed, FILES_PER_ROUND):
        t = time.perf_counter()
        store, _ = ing.round(paths[i : i + FILES_PER_ROUND])
        drain_s += time.perf_counter() - t
        latencies += [p["durationMs"]["triggerExecution"] / 1000.0 for p in store]
    rss = harness.peak_rss_mb(spark)

    t = time.perf_counter()
    checks = check(ing, inp)
    out = {
        "setup_s": setup_s,
        "peak_rss_mb": sum(rss.values()),
        "rss_mb": rss,
        "work_per_s": inp["timed_events"] / drain_s,
        "latency_s": harness.median(latencies),
        "samples": latencies,
        "plateau_samples": latencies,
        "warmup_samples": [p["durationMs"]["triggerExecution"] / 1000.0 for p in ing.store_progress[:n_warm]],
        "attempted": n_timed,
        # a wrong store or publisher fails every timed batch it took part in
        "failed": n_timed if checks else 0,
        "checks": checks,
        "names": ("events_per_s", "events/s", "batch_p50_s", "batch_tail_s"),
        "timed_s": drain_s,
        "check_s": time.perf_counter() - t,
    }
    if tracer.enabled:
        out["layers"] = layers(ing, tracer, timed_runs, n_warm, inp["n_events"], drain_s)
    return out


def check(ing: Ingest, inp: dict) -> list[str]:
    """Output checks, outside the timed phase: the store's committed
    rows (the manifest's live dirs, read straight from parquet) and the
    broadcast lines, each against the generator's digest."""
    bad: list[str] = []
    got = pd.concat(
        pq.read_table(d, columns=reference.KEY).to_pandas() for d in ing.store.commits.files()
    )
    n, h = reference.digest_lines(reference.key_lines(got))
    if (n, h) != inp["want_store"]:
        bad.append(f"store holds {n} rows; the generator has {inp['want_store'][0]} distinct events")
    n, h = reference.digest_lines(ing.broadcast_lines())
    if (n, h) != inp["want_lines"]:
        bad.append(f"broadcast: {n} lines; {inp['want_lines'][0]} rows were delivered")
    return bad


def layers(ing: Ingest, tracer, timed_runs: int, n_warm: int, n_events: int, drain_s: float) -> dict:
    """Per-layer numbers for the traced run (see README.md)."""
    med = harness.median
    prog = ing.store_progress[n_warm:]
    timed_rounds = ing.round_counters[timed_runs:]
    timed = {k: sum(c[k] for c in timed_rounds) for k in harness.COUNTER_KEYS}
    store_rounds = [c for c in timed_rounds if c["query"] == "stream.store_drain"]
    rows_in = sum(p["numInputRows"] for p in ing.store_progress)
    out = store_reads.common_layers(tracer, ing.store, timed, len(prog), drain_s, n_events)
    out.update(
        {
            "stream.trigger_s": med([p["durationMs"]["triggerExecution"] / 1e3 for p in prog]),
            "stream.add_batch_s": med([p["durationMs"]["addBatch"] / 1e3 for p in prog]),
            "stream.overhead_s": med(
                [(p["durationMs"]["triggerExecution"] - p["durationMs"]["addBatch"]) / 1e3 for p in prog]
            ),
            "stream.jobs_per_batch": sum(c["jobs"] for c in store_rounds) / len(prog),
            "stream.tasks_per_batch": sum(c["tasks"] for c in store_rounds) / len(prog),
            "exactly_once.ledger_s": med(tracer.child_sums("exactly_once.body", "exactly_once.ledger")),
            "exactly_once.dedup_s": med(tracer.self_times("exactly_once.body")),
            "exactly_once.kept_ratio": n_events / rows_in,
            "broadcast.publish_s": med(
                [p["durationMs"]["triggerExecution"] / 1e3 for p in ing.bcast_progress[n_warm // WARM_ROUND :]]
            ),
            "broadcast.payloads": float(len(ing.broadcast_lines())),
        }
    )
    return out
