"""CDC parity layer — meepo's event-sourcing surface rebuilt on Spark
(SURVEY.md §2.A):

  signals (blinker pub/sub)        → one source stream + N writeStream
                                     sinks (fanout.py)
  RedisEventStore (ZSET add/replay/query)
                                   → one event store,
                                     TransactionalEventStore: a
                                     date-partitioned parquet log made
                                     visible by manifest commits
                                     (event_store.py, commit_log.py)
  RedisPrepareCommit (2-phase gate) → txn envelope + committed-txn
                                     anti-join + idempotent foreachBatch
                                     (exactly_once.py)
  replicator worker pools          → per-sink streaming queries with
                                     checkpoints (fanout.py)

Reference loci are module paths (meepo/apps/eventsourcing/*,
meepo/signals.py, meepo/sub/*) per SURVEY.md §0 — the reference
checkout is empty this round; citations to be backfilled.
"""
