"""Broadcast fan-out — meepo's blinker signal dispatch and replicator
worker pools as Structured Streaming sinks (ref: meepo/signals.py,
meepo/sub/*, meepo/apps/replicator/ — module paths per SURVEY.md §0).

Each subscriber = one writeStream query with its own checkpoint, so a
slow sink never backpressures the others (meepo got this from
per-event worker queues; Spark gets it from independent queries).
Callbacks register per topic (`{table}_{action}`), mirroring
``@replicator.event("users_write")``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class Fanout:
    def __init__(self, changes: DataFrame, checkpoint_root: str):
        self.changes = changes
        self.checkpoint_root = checkpoint_root
        self._handlers: dict[str, Callable[[DataFrame, int], None]] = {}

    def on(self, topic: str):
        """Register a handler for `{table}_{action}` events — the
        replicator callback decorator."""

        def deco(fn: Callable[[DataFrame, int], None]):
            self._handlers[topic] = fn
            return fn

        return deco

    def start(self, trigger_available_now: bool = True):
        """One independent streaming query per registered topic. Each
        filter pushes into the source scan; each checkpoint tracks its
        own offsets (= per-subscriber resume position)."""
        queries = []
        for topic, fn in self._handlers.items():
            table_name, _, action = topic.rpartition("_")
            sub = self.changes.filter(
                (F.col("table") == table_name) & (F.col("action") == action)
            )
            writer = sub.writeStream.foreachBatch(fn).option(
                "checkpointLocation", f"{self.checkpoint_root}/{topic}"
            )
            if trigger_available_now:
                writer = writer.trigger(availableNow=True)
            queries.append(writer.start())
        return queries


def payload_expr():
    """THE wire-format contract for A6/A11 broadcasts —
    '{table}_{action} {pk}' — as a Column, shared by every publisher
    shape (custom staged-commit sink, kafka records) so the contract
    is defined once."""
    return F.concat_ws(" ", F.concat_ws("_", "table", "action"), F.col("pk"))


def broadcast_payload(changes: DataFrame) -> DataFrame:
    """meepo zmq_sub's wire format (A6). In production this selects
    into the kafka sink's `value`."""
    return changes.select(payload_expr().alias("value"))


def kafka_records(changes: DataFrame) -> DataFrame:
    """Kafka-shaped publisher records: key = pk (per-entity ordering —
    Kafka guarantees order within a partition, and keying by pk routes
    every change of one row to one partition, the same per-pk ordering
    the event store's (ts, offset) max_by relies on), value = the
    shared payload contract."""
    return changes.select(
        F.col("pk").cast("string").alias("key"),
        payload_expr().alias("value"),
    )


def kafka_publisher(changes: DataFrame, brokers: str, topic: str, checkpoint: str):
    """A6/A11 production publisher through Spark's NATIVE kafka sink.
    Requires a reachable broker plus the spark-sql-kafka package —
    neither exists in this sandbox, so tests drive the identical
    payload contract through the `meepo_broadcast` staged-commit sink
    (sources/pyds.py) instead; swapping publishers is exactly
    `.format("meepo_broadcast")` ⇄ `.format("kafka")` on the same
    `kafka_records` frame."""
    return (
        kafka_records(changes)
        .writeStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint)
    )


def with_dlq(fn: Callable[[DataFrame, int], None], dlq_path: str):
    """Wrap a foreachBatch handler with a dead-letter queue: a batch
    whose handler raises is quarantined (rows + error + batch id) to
    ``dlq_path`` and the stream keeps going. meepo's replicator
    retried failing callbacks in the worker pool; at scale a poison
    event must park out-of-band instead of wedging the whole
    pipeline — transient failures are already covered by Spark task
    retry underneath. Recovery = fix the handler, re-apply the DLQ
    parquet through it, delete the quarantine."""

    def wrapped(batch_df: DataFrame, batch_id: int) -> None:
        try:
            fn(batch_df, batch_id)
        except Exception as e:  # noqa: BLE001 — quarantine any handler failure
            (
                batch_df.withColumn("dlq_error", F.lit(repr(e)[:500]))
                .withColumn("dlq_batch_id", F.lit(batch_id))
                .write.mode("append")
                .parquet(dlq_path)
            )

    return wrapped
