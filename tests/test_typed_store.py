"""TypedTransactionalEventStore (VERDICT r5 #4): the typed payload
lane persisted in the store write path — round-trip, cross-version
drift, empty-epoch poison, redelivery, and typed compaction."""

from __future__ import annotations

import pyspark.sql.functions as F

from meepo_spark.cdc.event_store import TransactionalEventStore, TypedTransactionalEventStore
from meepo_spark.cdc.events import events_as_changes

from conftest import SF_DIR


def _producers(spark, n=300):
    """The a24 producer split: even offsets come from a v1 producer,
    odd offsets from an upgraded v2 producer whose map carries the
    extra source_offset key."""
    ch = events_as_changes(spark, SF_DIR).limit(n)
    v1 = ch.filter(F.col("offset") % 2 == 0)
    v2 = ch.filter(F.col("offset") % 2 == 1).withColumn(
        "row",
        F.when(
            F.col("row").isNotNull(),
            F.map_concat(
                "row",
                F.create_map(F.lit("source_offset"), F.col("offset").cast("string")),
            ),
        ),
    )
    return ch, v1, v2


def test_typed_round_trip_across_registry_versions(spark, tmp_path):
    ch, v1, v2 = _producers(spark)
    store = TypedTransactionalEventStore(spark, str(tmp_path / "ts"))
    assert store.append_epoch(v1, 0, registry_version=1) is True
    assert store.append_epoch(v2, 1, registry_version=2) is True

    log = store.typed_log()
    assert log.count() == ch.count()
    # persisted version column matches the producer split
    vers = {
        (r["registry_version"], r["offset"] % 2)
        for r in log.select("registry_version", "offset").collect()
    }
    assert vers == {(1, 0), (2, 1)}
    # drift: source_offset exists for EVERY row (superset struct) but
    # is non-null exactly on v2 rows — by-name null-fill, no mis-bind
    agg = log.agg(
        F.count(F.lit(1)).alias("n"),
        F.count("row_t.source_offset").alias("n_so"),
        F.sum(
            F.when(F.col("registry_version") == 1, F.col("row_t.source_offset"))
        ).alias("v1_so"),
    ).first()
    n_v2 = v2.filter(F.col("row").isNotNull()).count()
    assert agg["n_so"] == n_v2 and agg["v1_so"] is None
    # typed values ARE the map values: the stored lane re-parses nothing
    cents = log.agg(
        F.sum(F.round(F.col("row_t.value") * 100).cast("long")).alias("t"),
        F.sum(
            F.round(F.col("row").getItem("value").try_cast("double") * 100).cast(
                "long"
            )
        ).alias("u"),
    ).first()
    assert cents["t"] == cents["u"] and cents["t"] is not None


def test_redelivered_epoch_noops_even_after_version_upgrade(spark, tmp_path):
    _, v1, _ = _producers(spark)
    store = TypedTransactionalEventStore(spark, str(tmp_path / "tsr"))
    assert store.append_epoch(v1, 0, registry_version=1) is True
    n = store.typed_log().count()
    # the restarted producer now runs registry v2 but redelivers epoch 0
    assert store.append_epoch(v1, 0, registry_version=2) is False
    assert store.typed_log().count() == n
    assert store.commits.epoch_meta(0)["registry_version"] == 1


def test_committed_empty_typed_epoch_does_not_poison_reads(spark, tmp_path):
    ch, v1, _ = _producers(spark)
    store = TypedTransactionalEventStore(spark, str(tmp_path / "tse"))
    store.append_epoch(v1, 0, registry_version=1)
    assert store.append_epoch(ch.filter(F.lit(False)), 1, registry_version=2) is True
    assert store.typed_log().count() == v1.count()
    assert "source_offset" in store.typed_log().schema["row_t"].dataType.fieldNames()


def test_typed_compaction_keeps_the_lane(spark, tmp_path):
    ch, v1, v2 = _producers(spark)
    store = TypedTransactionalEventStore(spark, str(tmp_path / "tsc"))
    store.append_epoch(v1, 0, registry_version=1)
    store.append_epoch(v2, 1, registry_version=2)
    want = (
        store.typed_log()
        .groupBy("table", "pk")
        .agg(F.max_by(F.col("action"), F.struct("ts", "offset")).alias("a"))
        .filter(F.col("a") != "delete")
        .count()
    )
    compacted = store.compact_txn()
    assert compacted.count() == want
    # the snapshot scan still serves the typed lane + version column
    assert "row_t" in compacted.columns and "registry_version" in compacted.columns
    assert compacted.filter(F.col("row_t").isNotNull()).count() > 0
    # pre-compaction epoch replay stays a no-op
    assert store.append_epoch(v2, 1, registry_version=2) is False
    assert store.typed_log().count() == want


def test_untyped_manifest_files_fail_loudly_in_typed_log(spark, tmp_path):
    import pytest

    _, v1, _ = _producers(spark)
    root = str(tmp_path / "mix")
    TransactionalEventStore(spark, root).append_epoch(v1, 0)
    typed = TypedTransactionalEventStore(spark, root)
    with pytest.raises(ValueError, match="registry_version"):
        typed.typed_log()
    # the untyped read path still serves it
    assert typed.log().count() == v1.count()


def test_streaming_into_typed_store_end_to_end(spark, tmp_path):
    """The a28 lineage end-to-end: a REAL file stream drives
    foreachBatch -> TypedTransactionalEventStore.append_epoch under
    the CURRENT registry version; every streamed row lands exactly
    once WITH its typed lane; checkpoint loss + full re-stream changes
    nothing (manifest idempotence); and the typed lane is complete
    (row_t non-null wherever row is)."""
    from meepo_spark.cdc.events import read_change_stream
    from meepo_spark.cdc.events import events_as_changes as eac

    ch = eac(spark, SF_DIR)
    src = str(tmp_path / "src")
    ch.write.mode("overwrite").parquet(src)
    store = TypedTransactionalEventStore(spark, str(tmp_path / "txt"))

    def sink(batch_df, epoch_id):
        store.append_epoch(batch_df, epoch_id, registry_version=2)

    def run(ckpt):
        q = (
            read_change_stream(spark, src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300)

    run(str(tmp_path / "ckpt"))
    total = ch.count()
    log = store.typed_log()
    assert log.count() == total
    typed = log.agg(
        F.count("row").alias("n_map"), F.count("row_t").alias("n_typed")
    ).first()
    assert typed["n_map"] == typed["n_typed"], "typed lane incomplete"
    # checkpoint loss: full redelivery is absorbed by the manifest
    run(str(tmp_path / "ckpt2"))
    assert store.typed_log().count() == total


def test_clustered_compaction_layout_and_pruning(spark, tmp_path):
    """compact_txn_clustered (VERDICT r9 task 6): the file-grain
    OPTIMIZE pass. Asserts the three contracts a lakehouse OPTIMIZE
    owes its readers: (1) size targeting — the returned file count
    matches what landed on disk and collapses to 1 when the target
    dwarfs the data; (2) Morton clustering — per-file pk_num footer
    spans are materially tighter than unclustered (sum of spans well
    under files x global span), and a table-equality probe can skip
    files on string min/max alone; (3) the read-back plan pushes both
    layout predicates into the parquet scan."""
    import math
    import os

    import pyarrow.parquet as pq

    tbl = (
        F.when(F.col("row")["last_event_type"] == "signup", F.lit("users"))
        .when(F.col("row")["last_event_type"] == "purchase", F.lit("orders"))
        .otherwise(F.lit("activity"))
    )
    # respray pk = offset so the latest-image set is ~1000 rows (the
    # fixture's 15 user pks collapse to ~45 latest images — too few
    # for a multi-file layout to be judgeable)
    ch = (
        events_as_changes(spark, SF_DIR)
        .withColumn(
            "table",
            F.when(F.col("action") == "delete", F.lit("activity")).otherwise(tbl),
        )
        .withColumn("pk", F.col("offset").cast("string"))
    )
    store = TypedTransactionalEventStore(spark, str(tmp_path / "zs"))
    assert store.append_epoch(ch.filter(F.col("offset") % 2 == 0), 0)
    assert store.append_epoch(ch.filter(F.col("offset") % 2 == 1), 1)
    n_latest = (
        ch.groupBy("table", "pk")
        .agg(F.max_by("action", F.struct("ts", "offset")).alias("a"))
        .filter(F.col("a") != "delete")
        .count()
    )

    snap_dir, n_out = store.compact_txn_clustered(target_bytes=4 * 1024)
    files = sorted(
        os.path.join(snap_dir, f)
        for f in os.listdir(snap_dir)
        if f.endswith(".parquet")
    )
    assert len(files) == n_out >= 3, (n_out, files)

    # (1b) a huge target collapses to one file (fresh store — the
    # manifest swap already dropped the epochs from the first one)
    store2 = TypedTransactionalEventStore(spark, str(tmp_path / "zs2"))
    assert store2.append_epoch(ch, 0)
    _, n_one = store2.compact_txn_clustered(target_bytes=10**9)
    assert n_one == 1

    # (2) footer stats: pk_num spans per file vs the global span
    def ranges(col):
        out = []
        for f in files:
            md = pq.read_metadata(f)
            los, his = [], []
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    c = md.row_group(rg).column(ci)
                    if c.path_in_schema == col and c.statistics is not None:
                        los.append(c.statistics.min)
                        his.append(c.statistics.max)
            assert los, f"no footer stats for {col} in {f}"
            out.append((min(los), max(his)))
        return out

    pk_r = ranges("pk_num")
    glo = min(a for a, _ in pk_r)
    ghi = max(b for _, b in pk_r)
    span_sum = sum(b - a for a, b in pk_r)
    assert span_sum < 0.7 * len(files) * (ghi - glo), (pk_r, glo, ghi)
    # table-major layout: a table-equality probe must skip files —
    # for each table, at least one file's [min, max] excludes it
    tab_r = ranges("table")
    for probe in ("activity", "orders", "users"):
        assert any(b < probe or a > probe for a, b in tab_r), (probe, tab_r)

    # (3) both predicates reach the scan; values survive the layout
    back = spark.read.parquet(snap_dir)
    q = back.filter((F.col("table") == "orders") & F.col("pk_num").between(0, 5))
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "pk_num" in plan, plan[:1500]
    assert back.count() == n_latest
    # manifest records the layout, and typed_log still reads the
    # snapshot (pk_num ignored under the pinned schema)
    meta = store.commits._read()["compaction"]
    assert meta["layout"]["zorder"] == ["table", "pk_num"]
    assert store.typed_log().count() == n_latest


def test_typed_log_frame_is_built_once_per_manifest_file_set(spark, tmp_path):
    """typed_log() caches its frame per live file set like log(), in its
    own lane: untyped reads of the same store do not evict it. It runs
    one scan per live registry version, so versions 1 and 2 are two
    parquet scans. After compaction and a zero-grace vacuum the counts
    are intact."""
    ch, v1, v2 = _producers(spark)
    store = TypedTransactionalEventStore(spark, str(tmp_path / "tcache"))
    assert store.append_epoch(v1, 0, registry_version=1) is True
    first = store.typed_log()
    assert store.typed_log() is first
    assert store.log() is store.log() and store.typed_log() is first

    assert store.append_epoch(v2, 1, registry_version=2) is True
    second = store.typed_log()
    assert second is not first and second.count() == ch.count()
    assert "source_offset" in second.schema["row_t"].dataType.fieldNames()
    assert store.typed_log() is second
    plan = second._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 2, plan

    want = (
        second.groupBy("table", "pk")
        .agg(F.max_by(F.col("action"), F.struct("ts", "offset")).alias("a"))
        .filter(F.col("a") != "delete")
        .count()
    )
    store.compact_txn()
    assert store.vacuum_orphans(grace_seconds=0.0)
    assert store.typed_log().count() == want
