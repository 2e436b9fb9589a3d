"""Parity-layer round-trips (SURVEY.md §5.2.4): event store
add→replay→rebuild→compact, exactly-once redelivery, fan-out routing,
partition pruning. Streaming into the store is covered in
tests/test_commit_log.py."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from meepo_spark.cdc.event_store import TransactionalEventStore
from meepo_spark.cdc.events import events_as_changes, filter_tables, read_change_stream, topic
from meepo_spark.cdc.exactly_once import EpochLedger, idempotent_foreach_batch, in_doubt
from meepo_spark.cdc.fanout import Fanout

from conftest import SF_DIR


@pytest.fixture(scope="module")
def changes(spark, sf_dir):
    return events_as_changes(spark, sf_dir)


@pytest.fixture()
def store(spark, tmp_path, changes):
    s = TransactionalEventStore(spark, str(tmp_path / "log"))
    assert s.append_epoch(changes, 0) is True
    return s


def test_store_replay_matches_source(spark, store, changes, tmp_path):
    t0, t1 = "2024-01-05 00:00:00", "2024-01-12 00:00:00"
    got = store.replay("users", "update", t0, t1).select("pk", "ts", "offset").collect()
    want = (
        changes.filter(
            (F.col("action") == "update")
            & (F.col("ts") >= F.lit(t0).cast("timestamp"))
            & (F.col("ts") < F.lit(t1).cast("timestamp"))
        )
        .orderBy("ts", "offset")
        .select("pk", "ts", "offset")
        .collect()
    )
    assert got == want
    assert [r["offset"] for r in got] == sorted(
        [r["offset"] for r in got],
        key=lambda o: ([w["offset"] for w in want].index(o)),
    )
    # a store with no commits reads as empty, not as an error
    empty = TransactionalEventStore(spark, str(tmp_path / "empty"))
    assert empty.replay("users", None, t0, t1).count() == 0
    assert empty.last_change("users").count() == 0
    assert empty.rebuild("users", t1).count() == 0


def test_replay_prunes_partitions(store):
    """The date filter must reach the scan as a partition filter."""
    plan = store.replay("users", None, "2024-01-05", "2024-01-07")._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "event_date" in plan.split("PartitionFilters")[1][:200]


def test_rebuild_equals_direct_snapshot(spark, store, changes):
    """Entry-3: replaying the log reproduces state computed straight
    from the source — and redelivering the epoch changes nothing
    (append_epoch is a manifest no-op for a committed epoch id)."""
    asof = "2024-01-20 00:00:00"
    direct = (
        changes.filter(F.col("ts") <= F.lit(asof).cast("timestamp"))
        .groupBy("pk")
        .agg(F.max_by(F.struct("action", "row"), F.struct("ts", "offset")).alias("l"))
        .filter(F.col("l.action") != "delete")
        .select("pk", F.col("l.row")["value"].alias("v"))
    )
    rebuilt = store.rebuild("users", asof).select("pk", F.col("row")["value"].alias("v"))
    assert sorted(map(tuple, rebuilt.collect())) == sorted(map(tuple, direct.collect()))
    assert store.append_epoch(changes, 0) is False
    rebuilt2 = store.rebuild("users", asof).select("pk", F.col("row")["value"].alias("v"))
    assert sorted(map(tuple, rebuilt2.collect())) == sorted(map(tuple, direct.collect()))


def test_compact_snapshot(spark, store, changes):
    snap = store.compact_txn()
    latest = (
        changes.groupBy("pk")
        .agg(F.max_by("action", F.struct("ts", "offset")).alias("action"))
        .filter(F.col("action") != "delete")
    )
    assert snap.count() == latest.count()
    assert snap.filter(F.col("action") == "delete").count() == 0


def test_exactly_once_redelivery(spark, changes, tmp_path):
    """Delivering the same epoch twice lands rows once."""
    ledger = EpochLedger(str(tmp_path / "ledger"))
    out = str(tmp_path / "out")

    def write(df, epoch):
        df.write.mode("append").parquet(out)

    body = idempotent_foreach_batch(ledger, write)
    batch = changes.limit(100)
    body(batch, 7)
    body(batch, 7)  # redelivery of the same epoch — must be a no-op
    assert spark.read.parquet(out).count() == 100
    # in-batch duplicates collapse on identity
    body(batch.union(batch), 8)
    assert spark.read.parquet(out).count() == 200

    # VERDICT r4 #2: the micro-batch must be COMPUTED ONCE per epoch —
    # write_fn + the ledger row count share one persisted evaluation,
    # not two full recomputes of the dedup shuffle. Route a dedup KEY
    # column (so column pruning cannot skip it) through a counting
    # UDF: per-input-row evaluations == input size exactly once.
    acc = spark.sparkContext.accumulator(0)

    def _tick(x):
        acc.add(1)
        return x

    tick = F.udf(_tick, "bigint")
    base = changes.limit(100).cache()
    n = base.count()  # materialize so the source scan itself is one pass
    counted = base.withColumn("offset", tick("offset"))
    body(counted, 9)
    assert acc.value == n, (
        f"epoch batch evaluated {acc.value / n:.1f}x (expected once)"
    )
    base.unpersist()

    # Code-review r5 #5: bool subclasses int — a write_fn returning a
    # True/False success flag must NOT be recorded as rows=1/0; the
    # ledger falls back to the real count.
    def write_flag(df, epoch):
        df.write.mode("append").parquet(out)
        return True

    body_flag = idempotent_foreach_batch(ledger, write_flag)
    body_flag(changes.limit(25), 10)
    assert ledger._log.epoch_meta(10)["rows"] == 25

    # and an int return IS trusted verbatim (skips the count action)
    def write_count(df, epoch):
        df.write.mode("append").parquet(out)
        return 17

    body_cnt = idempotent_foreach_batch(ledger, write_count)
    body_cnt(changes.limit(30), 11)
    assert ledger._log.epoch_meta(11)["rows"] == 17


def test_in_doubt_detection(spark):
    prepared = spark.createDataFrame(
        [("t1",), ("t2",), ("t3",), ("t4",)], ["txn_id"]
    )
    committed = spark.createDataFrame([("t1",)], ["txn_id"])
    rolled = spark.createDataFrame([("t3",)], ["txn_id"])
    got = sorted(r["txn_id"] for r in in_doubt(prepared, committed, rolled).collect())
    assert got == ["t2", "t4"]


def test_fanout_routes_by_topic(spark, changes, tmp_path):
    """Each registered topic handler sees exactly its topic's rows."""
    src = str(tmp_path / "fsrc")
    changes.write.mode("overwrite").parquet(src)
    stream = read_change_stream(spark, src)
    fan = Fanout(stream, str(tmp_path / "fckpt"))
    seen: dict[str, int] = {}

    @fan.on("users_write")
    def _w(df, epoch):
        seen["users_write"] = seen.get("users_write", 0) + df.count()

    @fan.on("users_delete")
    def _d(df, epoch):
        seen["users_delete"] = seen.get("users_delete", 0) + df.count()

    for q in fan.start():
        q.awaitTermination(120)
    want_w = changes.filter(F.col("action") == "write").count()
    want_d = changes.filter(F.col("action") == "delete").count()
    assert seen == {"users_write": want_w, "users_delete": want_d}


def test_table_filter_and_topic(changes):
    assert filter_tables(changes, ["users"]).count() == changes.count()
    assert filter_tables(changes, ["nope"]).count() == 0
    tops = {r["topic"] for r in topic(changes).select("topic").distinct().collect()}
    assert tops == {"users_write", "users_update", "users_delete"}


def test_dlq_quarantines_poison_batch(spark, changes, tmp_path):
    """A11 failure handling: a handler that raises on a poison batch
    must not kill the stream — the batch parks in the DLQ with error
    metadata, and healthy batches still process."""
    from meepo_spark.cdc.fanout import with_dlq

    src = str(tmp_path / "dlq_src")
    changes.where(F.col("table") == "users").limit(20).coalesce(1).write.parquet(src)
    processed = str(tmp_path / "ok")
    dlq = str(tmp_path / "dlq")

    calls = {"n": 0}

    def handler(batch_df, batch_id):
        calls["n"] += 1
        if calls["n"] == 1:  # poison only the first batch
            raise ValueError("poison event")
        batch_df.write.mode("append").parquet(processed)

    stream = (
        spark.readStream.schema(changes.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(with_dlq(handler, dlq))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    quarantined = spark.read.parquet(dlq)
    assert quarantined.count() > 0
    assert quarantined.filter(F.col("dlq_error").contains("poison")).count() > 0
    assert {"dlq_error", "dlq_batch_id"} <= set(quarantined.columns)


def test_asof_join_matches_pandas_merge_asof(spark):
    """Property check: asof_join == pandas.merge_asof (backward
    direction, by-key, with tolerance) on a deterministic pseudo-
    random workload — an independent implementation agreeing on
    every (key, ts) pick. Exercised with ties, keys missing from
    either side, and matches voided by tolerance."""
    import datetime as dt

    import pandas as pd

    from meepo_spark.operators.joins import asof_join

    base = dt.datetime(2024, 1, 1)
    # deterministic congruential series; collisions on ts are intended
    left_rows = [
        (k, base + dt.timedelta(minutes=(i * 37 + k * 11) % 300), i)
        for k in range(6)
        for i in range(40)
    ]
    right_rows = [
        (k, base + dt.timedelta(minutes=(j * 53 + k * 7) % 300), float(j))
        for k in range(1, 8)  # key 0 never matches; keys 6-7 unused left
        for j in range(25)
    ]
    left = spark.createDataFrame(left_rows, "k int, ts timestamp, lid int")
    right = (
        spark.createDataFrame(right_rows, "k int, rts timestamp, quote double")
        # kill ties so the pick is unique on both sides
        .groupBy("k", "rts").agg(F.max("quote").alias("quote"))
    )
    got = (
        asof_join(left, right, "k", "ts", "rts", ["quote"], tolerance="45 minutes")
        .select("k", "lid", "quote")
        .toPandas()
        .sort_values(["k", "lid"])
        .reset_index(drop=True)
    )
    lp = left.toPandas().sort_values("ts").reset_index(drop=True)
    rp = right.toPandas().sort_values("rts").reset_index(drop=True)
    exp = (
        pd.merge_asof(
            lp,
            rp.rename(columns={"rts": "ts"}),
            on="ts",
            by="k",
            direction="backward",
            tolerance=pd.Timedelta("45 minutes"),
        )[["k", "lid", "quote"]]
        .sort_values(["k", "lid"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def test_kafka_seam_payload_contract(spark):
    """A6/A11 (VERDICT round 1, next-round #8): the kafka publisher
    seam. kafka_records must produce exactly the sink schema Spark's
    kafka writer consumes (string key + string value), the value must
    follow the '{table}_{action} pk' wire contract byte-for-byte with
    the custom-sink payload (both derive from payload_expr), and the
    key must equal the change's pk so per-entity ordering survives
    Kafka partitioning. The kafka_publisher builder wires the same
    frame into .format('kafka') — broker-less here, so the writer is
    constructed but not started (the end-to-end publish path is
    proven through the meepo_broadcast staged-commit sink in
    tests/test_sources.py)."""
    import re

    from meepo_spark.cdc.events import events_as_changes
    from meepo_spark.cdc.fanout import broadcast_payload, kafka_publisher, kafka_records

    changes = events_as_changes(spark, SF_DIR).limit(500)
    kv = kafka_records(changes)
    assert [(f.name, f.dataType.typeName()) for f in kv.schema.fields] == [
        ("key", "string"),
        ("value", "string"),
    ]
    rows = kv.collect()
    assert rows, "fixture produced no changes"
    pat = re.compile(r"^users_(write|update|delete) (\S+)$")
    for r in rows:
        m = pat.match(r["value"])
        assert m, r["value"]
        assert m.group(2) == r["key"], "key must be the pk inside the payload"
    # byte-identical with the custom staged-commit sink's payload
    assert sorted(r["value"] for r in rows) == sorted(
        r["value"] for r in broadcast_payload(changes).collect()
    )
    # the production swap: same contract on a STREAMING frame, kafka
    # format — the writer builds without a broker (failures would
    # surface at .start(), which needs the kafka package + a broker)
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        changes.write.mode("overwrite").parquet(f"{d}/src")
        stream = read_change_stream(spark, f"{d}/src")
        writer = kafka_publisher(stream, "broker:9092", "meepo.changes", f"{d}/ck")
        assert writer is not None


def test_typed_changes_drift_contract(spark):
    """VERDICT r4 #4: the typed-STRUCT promotion's drift matrix —
    (old producer, new schema) → NULL field; (new producer, old
    schema) → extra key ignored; malformed value → NULL via try_cast
    even under ANSI (registry promotion must never crash the
    pipeline); NULL map (deletes) → NULL struct; and cross-version
    unionByName null-fills nested fields by NAME, not position."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from meepo_spark.cdc.events import typed_changes

    v1 = StructType(
        [StructField("user_id", LongType()), StructField("value", DoubleType())]
    )
    v2 = StructType(v1.fields + [StructField("channel", StringType())])

    df = spark.createDataFrame(
        [
            (1, {"user_id": "7", "value": "1.5"}),  # clean v1 payload
            (2, {"user_id": "8", "value": "2.0", "channel": "web"}),  # v2 keys
            (3, {"user_id": "oops", "value": "not-a-number"}),  # malformed
            (4, None),  # delete image
        ],
        "id bigint, row map<string,string>",
    )
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        got = {
            r["id"]: r["row_t"]
            for r in typed_changes(df, v1).select("id", "row_t").collect()
        }
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
    assert got[1] == (7, 1.5)
    assert got[2] == (8, 2.0)  # unknown 'channel' key ignored by v1 schema
    assert got[3] == (None, None)  # try_cast: malformed -> NULL, no ANSI error
    assert got[4] is None  # NULL map -> NULL struct

    # cross-version merge: v1-promoted rows null-fill the v2-only
    # nested field BY NAME
    merged = typed_changes(df.filter("id = 1"), v1).unionByName(
        typed_changes(df.filter("id = 2"), v2), allowMissingColumns=True
    )
    rows = {r["id"]: r["row_t"] for r in merged.select("id", "row_t").collect()}
    assert rows[1] == (7, 1.5, None)
    assert rows[2] == (8, 2.0, "web")


def test_multi_sink_exactly_once_fanout_converges(spark, tmp_path):
    """VERDICT r5 #7: one source stream feeds TWO transactional sinks;
    sink B crashes MID-EPOCH (its data dir lands, its manifest commit
    never runs) on its first batch and the failure is quarantined by
    the DLQ so the stream — and sink A — keep flowing. The interplay
    under test: (1) B's orphan data dir stays invisible (manifest-only
    reads); (2) the DLQ holds exactly the poisoned epoch; (3) recovery
    re-applies the DLQ parquet through the NORMAL append_epoch path and
    both sinks converge to identical contents; (4) post-recovery
    redeliveries are manifest no-ops on both sinks."""
    from meepo_spark.cdc.fanout import with_dlq
    from meepo_spark.schemas import CHANGE_EVENT

    ch = events_as_changes(spark, SF_DIR)
    src = str(tmp_path / "src")
    ch.repartition(4).write.mode("overwrite").parquet(src)
    store_a = TransactionalEventStore(spark, str(tmp_path / "sink_a"))
    store_b = TransactionalEventStore(spark, str(tmp_path / "sink_b"))
    dlq = str(tmp_path / "dlq")
    fail_once = {"armed": True}
    epochs_seen: list[int] = []

    def sink_b_inner(df, eid):
        if fail_once["armed"]:
            fail_once["armed"] = False
            # the mid-epoch crash: data written, commit never reached
            (
                df.withColumn("event_date", F.to_date("ts"))
                .write.mode("overwrite")
                .partitionBy("event_date")
                .parquet(store_b._epoch_dir(eid))
            )
            raise RuntimeError("sink B crashed post-data, pre-commit")
        store_b.append_epoch(df, eid)

    sink_b = with_dlq(sink_b_inner, dlq)

    def body(df, eid):
        epochs_seen.append(eid)
        store_a.append_epoch(df, eid)
        sink_b(df, eid)

    q = (
        spark.readStream.schema(CHANGE_EVENT)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(body)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    assert len(epochs_seen) >= 2, "need multiple epochs to isolate the failure"

    total = ch.count()
    assert store_a.log().count() == total, "healthy sink must be complete"
    # (1) the orphan dir is invisible: B is short exactly the poisoned epoch
    dlq_df = spark.read.parquet(dlq)
    failed = [r["dlq_batch_id"] for r in dlq_df.select("dlq_batch_id").distinct().collect()]
    assert len(failed) == 1, "exactly one epoch was poisoned"
    n_quarantined = dlq_df.count()
    assert store_b.log().count() == total - n_quarantined
    assert not store_b.commits.committed(failed[0])

    # (3) recovery: fix = re-apply the quarantined rows through the
    # normal transactional path under the original epoch id
    replay = dlq_df.drop("dlq_error", "dlq_batch_id")
    assert store_b.append_epoch(replay, failed[0]) is True
    assert store_b.log().count() == total

    def image(store):
        return sorted(
            (r["pk"], r["offset"])
            for r in store.log().select("pk", "offset").collect()
        )

    want = sorted((r["pk"], r["offset"]) for r in ch.select("pk", "offset").collect())
    assert image(store_a) == image(store_b) == want

    # (4) post-recovery redelivery: manifest no-op on BOTH sinks
    assert store_a.append_epoch(replay, failed[0]) is False
    assert store_b.append_epoch(replay, failed[0]) is False
    assert store_a.log().count() == store_b.log().count() == total
