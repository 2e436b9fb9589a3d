"""Delta-lite commit protocol (VERDICT r4 #7): atomic single-file
manifest commits for the event store — crash-in-the-middle matrix.
Every "crash" is simulated by doing exactly what a killed process
leaves behind: data written but no manifest entry, a torn ``.tmp``
manifest, a snapshot written but not swapped in."""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F

from meepo_spark.cdc.commit_log import CommitLog
from meepo_spark.cdc.event_store import TransactionalEventStore
from meepo_spark.cdc.events import events_as_changes

from conftest import SF_DIR


def test_commit_log_primitives(tmp_path):
    log = CommitLog(str(tmp_path / "s"))
    assert log.version() == 0 and log.files() == []
    assert log.commit(0, ["a"], {"rows": 10}) is True
    assert log.commit(0, ["a-retry"]) is False, "redelivered epoch must no-op"
    assert log.files() == ["a"]
    assert log.epoch_meta(0)["rows"] == 10
    log.commit(1, ["b"])
    assert log.files() == ["a", "b"] and log.version() == 2
    # compaction swaps the file set but keeps epoch ids
    v = log.compact(["snap"], {"n": 2})
    assert log.files() == ["snap"] and v == 3
    assert log.committed(0) and log.committed(1)
    assert log.commit(1, ["b-late"]) is False, "pre-compaction epoch replays stay no-ops"


def test_torn_manifest_write_is_invisible(tmp_path):
    """A crash mid-manifest-write leaves a dangling writer tmp; the
    previous complete version must stay authoritative and the next
    commit must recover (the tmp never matches the version-name
    pattern readers list)."""
    log = CommitLog(str(tmp_path / "s"))
    log.commit(0, ["a"])
    torn = tmp_path / "s" / "._commits-00000002.json.deadbeef.tmp"
    torn.write_text('{"version": 99, "epochs": {"trunc')  # torn write
    assert log.files() == ["a"] and log.version() == 1
    assert log.commit(1, ["b"]) is True
    assert log.files() == ["a", "b"] and log.version() == 2


def test_crash_between_data_write_and_commit_converges(spark, tmp_path):
    """The VERDICT r4 #7 done-criterion: kill between write and commit
    → the orphan data is invisible to every reader; replaying the
    epoch overwrites the dir, commits once, and the log converges with
    no duplicates."""
    ch = events_as_changes(spark, SF_DIR).limit(200)
    store = TransactionalEventStore(spark, str(tmp_path / "txstore"))
    e0 = ch.filter(F.col("offset") % 2 == 0)
    e1 = ch.filter(F.col("offset") % 2 == 1)
    assert store.append_epoch(e0, 0) is True
    n0 = store.log().count()
    assert n0 == e0.count()

    # simulate the crash: epoch 1's parquet lands, NO commit follows
    (
        e1.withColumn("event_date", F.to_date("ts"))
        .write.mode("overwrite")
        .partitionBy("event_date")
        .parquet(store._epoch_dir(1))
    )
    assert store.log().count() == n0, "uncommitted epoch dir leaked into reads"
    assert store.replay("users", None, "2024-01-01", "2030-01-01").count() <= n0

    # driver restarts and replays epoch 1 through the normal path
    assert store.append_epoch(e1, 1) is True
    assert store.log().count() == ch.count()
    # a second redelivery is a manifest no-op and changes nothing
    assert store.append_epoch(e1, 1) is False
    assert store.log().count() == ch.count()
    # identity-level convergence, not just counts
    got = sorted(
        (r["pk"], r["offset"]) for r in store.log().select("pk", "offset").collect()
    )
    want = sorted((r["pk"], r["offset"]) for r in ch.select("pk", "offset").collect())
    assert got == want


def test_compaction_crash_then_rerun_converges(spark, tmp_path):
    """Crash AFTER the snapshot parquet is written but BEFORE the
    manifest swap: the old file set still serves reads; re-running
    compaction converges; post-compaction reads equal the latest-image
    semantics; pre-compaction epochs remain no-ops afterwards."""
    ch = events_as_changes(spark, SF_DIR).limit(300)
    store = TransactionalEventStore(spark, str(tmp_path / "txc"))
    store.append_epoch(ch.filter(F.col("offset") % 3 == 0), 0)
    store.append_epoch(ch.filter(F.col("offset") % 3 == 1), 1)
    store.append_epoch(ch.filter(F.col("offset") % 3 == 2), 2)
    full = store.log().count()
    assert full == ch.count()

    # expected post-compaction state: latest non-delete image per pk
    want = (
        store.log()
        .groupBy("table", "pk")
        .agg(
            F.max_by(F.struct("action", "offset"), F.struct("ts", "offset")).alias("l")
        )
        .filter(F.col("l.action") != "delete")
        .count()
    )

    # simulated crash: snapshot dir written, manifest NOT swapped
    orphan = os.path.join(store.path, "snapshots", "v999")
    store.log().filter(F.col("action") != "delete").write.mode("overwrite").parquet(
        orphan
    )
    assert store.log().count() == full, "unswapped snapshot leaked into reads"

    # rerun compaction through the real path
    compacted = store.compact_txn()
    assert compacted.count() == want
    assert store.commits.files() != [] and len(store.commits.files()) == 1
    # redelivery of a pre-compaction epoch after compaction: no-op
    assert store.append_epoch(ch.filter(F.col("offset") % 3 == 1), 1) is False
    assert store.log().count() == want


def test_orphans_beside_live_members_stay_invisible(spark, tmp_path):
    """Live members, an uncommitted attempt dir and a crashed
    compaction's snapshot dir all sit under the one ``data/`` root:
    neither orphan reaches log() or typed_log(), and a zero-grace
    vacuum drops exactly the two orphans."""
    from meepo_spark.cdc.event_store import TypedTransactionalEventStore

    ch = events_as_changes(spark, SF_DIR).limit(120)
    store = TypedTransactionalEventStore(spark, str(tmp_path / "orph"))
    assert store.append_epoch(ch, 0) is True
    n = ch.count()
    rows = store.typed_log()
    orphans = [store._epoch_dir(1), store._snapshot_dir()]
    for d in orphans:
        rows.write.mode("overwrite").partitionBy("event_date").parquet(d)
    data = os.path.join(store.path, "data")
    assert {os.path.dirname(d) for d in orphans + store.commits.files()} == {data}
    assert store.log().count() == n and store.typed_log().count() == n

    dropped = store.vacuum_orphans(grace_seconds=0.0)
    assert sorted(dropped) == sorted(orphans)
    assert os.listdir(data) == [os.path.basename(d) for d in store.commits.files()]
    assert store.log().count() == n and store.typed_log().count() == n


def test_manifest_layout_is_version_named_json(tmp_path):
    """The protocol artifact: version-named full-state JSON manifests
    (the name IS the CAS target — VERDICT r5 #3), no marker dirs, no
    leftover tmps, writer token recorded, old versions pruned past the
    retention window."""
    from meepo_spark.cdc.commit_log import KEEP_VERSIONS

    log = CommitLog(str(tmp_path / "s"), writer_id="w-test")
    log.commit(5, ["x"], {"rows": 1})
    entries = os.listdir(str(tmp_path / "s"))
    assert entries == ["_commits-00000001.json"]
    with open(tmp_path / "s" / entries[0]) as fh:
        state = json.load(fh)
    assert state["epochs"]["5"]["files"] == ["x"]
    assert state["writer"] == "w-test"
    # retention: after many commits only the newest KEEP_VERSIONS-1
    # predecessors survive, and the reader still sees the full state
    for e in range(6, 6 + KEEP_VERSIONS + 3):
        log.commit(e, [f"f{e}"])
    names = sorted(os.listdir(str(tmp_path / "s")))
    assert len(names) == KEEP_VERSIONS  # (current-KEEP, current] survive
    assert not any(n.endswith(".tmp") for n in names)
    assert log.committed(5) and log.files()[0] == "x"


def test_two_writer_race_loses_loudly(tmp_path):
    """VERDICT r5 #3's done-criterion: two writers interleave
    read-modify-write on the same store; exactly one wins the version
    CAS, the loser raises ConcurrentCommitError naming the winner, the
    winner's epoch is intact, the loser's stale epoch is NOT in the
    manifest, and a plain retry converges."""
    import pytest

    from meepo_spark.cdc.commit_log import ConcurrentCommitError

    root = str(tmp_path / "s")
    w1 = CommitLog(root, writer_id="w1")
    w2 = CommitLog(root, writer_id="w2")
    w1.commit(0, ["base"])

    # interleave: w2 reads version 1 ... w1 commits version 2 first
    stale = w2._read()
    stale["version"] += 1
    stale["epochs"]["9"] = {"files": ["lost"]}
    stale["files"].append("lost")
    assert w1.commit(1, ["b"]) is True
    with pytest.raises(ConcurrentCommitError, match="w1"):
        w2._swap(stale)

    # the winner's state is authoritative and undamaged
    assert w2.version() == 2
    assert w2.files() == ["base", "b"]
    assert not w2.committed(9), "loser's epoch must not leak into the manifest"
    assert not any(
        n.endswith(".tmp") for n in os.listdir(root)
    ), "loser left tmp debris"

    # the loser re-reads and retries: converges on version 3
    assert w2.commit(9, ["lost"]) is True
    assert w2.files() == ["base", "b", "lost"] and w2.version() == 3


def test_two_writer_same_epoch_retry_noops(tmp_path):
    """The streaming-redelivery flavor of the race: both drivers carry
    the SAME epoch (a restarted job + a zombie). The loser's retry
    discovers the epoch already landed and no-ops instead of
    double-committing."""
    import pytest

    from meepo_spark.cdc.commit_log import ConcurrentCommitError

    root = str(tmp_path / "s")
    w1 = CommitLog(root, writer_id="w1")
    w2 = CommitLog(root, writer_id="w2")

    stale = w2._read()
    stale["version"] += 1
    stale["epochs"]["0"] = {"files": ["dup"]}
    stale["files"].append("dup")
    assert w1.commit(0, ["a"]) is True
    with pytest.raises(ConcurrentCommitError):
        w2._swap(stale)
    assert w2.commit(0, ["dup"]) is False, "retry must see the rival's epoch"
    assert w2.files() == ["a"]


def test_committed_empty_epoch_does_not_poison_reads(spark, tmp_path):
    """Code-review r5 #1: partitionBy on a ZERO-row epoch emits only
    _SUCCESS — a committed empty epoch is a legal manifest entry whose
    dir has no part files. log()/replay()/compact_txn() must keep
    working off the pinned LOG_SCHEMA instead of dying in schema
    inference on the part-file-less dir forever after."""
    ch = events_as_changes(spark, SF_DIR).limit(50)
    store = TransactionalEventStore(spark, str(tmp_path / "txe"))
    assert store.append_epoch(ch, 0) is True
    empty = ch.filter(F.lit(False))
    assert store.append_epoch(empty, 1) is True  # committed, zero rows
    assert store.log().count() == ch.count()
    assert store.replay("users", None, "2024-01-01", "2030-01-01").count() >= 0
    compacted = store.compact_txn()
    assert compacted.count() > 0


def test_manifest_swap_fsyncs_directory(tmp_path, monkeypatch):
    """Code-review r5 #3: commit durability = tmp fsync + atomic rename
    + DIRECTORY fsync (the rename lives in the dir entry). Assert the
    dir-fd fsync actually happens on every swap."""
    import os as _os

    synced_dirs = []
    real_fsync = _os.fsync
    real_open = _os.open

    opened = {}

    def spy_open(path, flags, *a, **k):
        fd = real_open(path, flags, *a, **k)
        opened[fd] = path
        return fd

    def spy_fsync(fd):
        p = opened.get(fd)
        if p is not None and _os.path.isdir(p):
            synced_dirs.append(p)
        return real_fsync(fd)

    monkeypatch.setattr(_os, "open", spy_open)
    monkeypatch.setattr(_os, "fsync", spy_fsync)
    log = CommitLog(str(tmp_path / "d"))
    log.commit(0, ["a"])
    assert str(tmp_path / "d") in synced_dirs


def test_streaming_into_transactional_store_end_to_end(spark, tmp_path):
    """Integration: a REAL file stream (availableNow micro-batches)
    driven through foreachBatch -> append_epoch. Three properties in
    one run: (1) every streamed row lands exactly once and is visible
    via the manifest; (2) a simulated mid-run crash REPLAY of an
    already-committed epoch is a manifest no-op (the redelivery path a
    restarted driver takes); (3) deleting the checkpoint and
    re-streaming the same source redelivers every epoch and changes
    NOTHING — the store's own idempotence carries exactly-once even
    when Spark's offset log is gone."""
    from meepo_spark.cdc.events import read_change_stream

    ch = events_as_changes(spark, SF_DIR)
    src = str(tmp_path / "src")
    ch.write.mode("overwrite").parquet(src)
    store = TransactionalEventStore(spark, str(tmp_path / "txs"))
    seen_epochs: list[int] = []

    def sink(batch_df, epoch_id):
        seen_epochs.append(epoch_id)
        store.append_epoch(batch_df, epoch_id)

    def run(checkpoint):
        q = (
            read_change_stream(spark, src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300)

    run(str(tmp_path / "ckpt"))
    total = ch.count()
    assert store.log().count() == total
    assert len(seen_epochs) >= 1

    # (2) redeliver the FIRST epoch by hand — a restarted driver's
    # replay of a committed micro-batch must be a manifest no-op
    assert store.append_epoch(ch.limit(10), seen_epochs[0]) is False
    assert store.log().count() == total

    # (3) blow away the checkpoint: Spark re-streams everything with
    # the SAME epoch ids from zero; the store absorbs all of it
    run(str(tmp_path / "ckpt2"))
    assert store.log().count() == total
    got = sorted(
        (r["pk"], r["offset"]) for r in store.log().select("pk", "offset").collect()
    )
    want = sorted((r["pk"], r["offset"]) for r in ch.select("pk", "offset").collect())
    assert got == want


def test_concurrent_same_epoch_data_writes_cannot_corrupt_winner(spark, tmp_path):
    """ADVICE r6 #1: manifest CAS fences only the manifest — two LIVE
    writers that both passed the committed() pre-check both write
    data. With per-attempt writer-unique dirs, the loser's parquet
    write lands in its OWN dir, so the files a committed manifest
    points at are untouchable by rivals; the loser's commit resolves
    to the idempotent False and its dir becomes a vacuumable orphan."""
    ch = events_as_changes(spark, SF_DIR).limit(120)
    path = str(tmp_path / "race")
    a = TransactionalEventStore(spark, path)
    b = TransactionalEventStore(spark, path)
    b.commits.writer_id = "rival-host:999"

    # both writers are past the pre-check for epoch 7; A wins the race
    assert a.append_epoch(ch, 7) is True
    committed_files = a.commits.files()
    assert len(committed_files) == 1
    before = sorted(
        os.path.join(r, f)
        for r, _d, fs in os.walk(committed_files[0])
        for f in fs
    )

    # B (already past its pre-check) now performs its data write +
    # commit — exactly what append_epoch does after the check
    target_b = b._epoch_dir(7)
    (
        ch.withColumn("event_date", F.to_date("ts"))
        .write.mode("overwrite")
        .partitionBy("event_date")
        .parquet(target_b)
    )
    assert b.commits.commit_with_retry(7, [target_b]) is False

    after = sorted(
        os.path.join(r, f)
        for r, _d, fs in os.walk(committed_files[0])
        for f in fs
    )
    assert before == after, "loser's data write touched committed files"
    assert a.commits.files() == committed_files
    assert a.log().count() == ch.count()

    # the loser's dir is an orphan: invisible to reads, vacuumable
    dropped = a.vacuum_orphans(grace_seconds=0.0)
    assert os.path.normpath(target_b) in {os.path.normpath(d) for d in dropped}
    assert not os.path.exists(target_b)
    assert a.log().count() == ch.count(), "vacuum touched live data"


def test_commit_with_retry_two_threads_different_epochs(tmp_path):
    """VERDICT r6 #5: two writers committing DIFFERENT epochs
    concurrently through commit_with_retry — every epoch lands exactly
    once, no ConcurrentCommitError escapes, and the final file set is
    the union (raw CommitLog, no Spark — pure manifest contention)."""
    import threading

    root = str(tmp_path / "s")
    a = CommitLog(root, writer_id="writer-a")
    b = CommitLog(root, writer_id="writer-b")
    results: dict[int, bool] = {}
    errs: list[Exception] = []

    def run(log, epochs):
        try:
            for e in epochs:
                results[e] = log.commit_with_retry(e, [f"data/epoch={e}"])
        except Exception as exc:  # pragma: no cover - the assertion
            errs.append(exc)

    ta = threading.Thread(target=run, args=(a, range(100, 112)))
    tb = threading.Thread(target=run, args=(b, range(200, 212)))
    ta.start(); tb.start(); ta.join(); tb.join()

    assert errs == []
    assert all(results[e] is True for e in results), results
    final = a.files()
    want = {f"data/epoch={e}" for e in list(range(100, 112)) + list(range(200, 212))}
    assert set(final) == want and len(final) == len(want)
    assert all(
        a.committed(e) for e in list(range(100, 112)) + list(range(200, 212))
    )


def test_commit_with_retry_same_epoch_race_noops(tmp_path):
    """Both threads hammer the SAME epochs: exactly one True per
    epoch, the rival sees the idempotent False (redelivery contract),
    never an error."""
    import threading

    root = str(tmp_path / "s2")
    logs = [CommitLog(root, writer_id=f"w{i}") for i in range(2)]
    wins: dict[int, list[bool]] = {e: [] for e in range(20)}
    lock = threading.Lock()
    errs: list[Exception] = []

    def run(log):
        try:
            for e in range(20):
                r = log.commit_with_retry(e, [f"data/epoch={e}"])
                with lock:
                    wins[e].append(r)
        except Exception as exc:  # pragma: no cover
            errs.append(exc)

    ts = [threading.Thread(target=run, args=(lg,)) for lg in logs]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert errs == []
    for e, rs in wins.items():
        assert sorted(rs) == [False, True], f"epoch {e}: {rs}"
    assert len(logs[0].files()) == 20


def test_vacuum_grace_protects_inflight_attempts(spark, tmp_path):
    """An attempt dir younger than the grace window survives vacuum
    (an in-flight writer between its parquet write and its manifest
    commit must not lose its files); the same dir goes once the grace
    is zero. Live committed dirs are never candidates."""
    ch = events_as_changes(spark, SF_DIR).limit(60)
    store = TransactionalEventStore(spark, str(tmp_path / "vac"))
    assert store.append_epoch(ch, 0) is True

    orphan = store._epoch_dir(1)
    (
        ch.withColumn("event_date", F.to_date("ts"))
        .write.mode("overwrite")
        .partitionBy("event_date")
        .parquet(orphan)
    )
    assert store.vacuum_orphans(grace_seconds=3600.0) == []
    assert os.path.isdir(orphan)
    dropped = store.vacuum_orphans(grace_seconds=0.0)
    assert [os.path.normpath(d) for d in dropped] == [os.path.normpath(orphan)]
    assert store.log().count() == ch.count()


def test_vacuum_racing_inflight_writer_inside_grace_then_commit(spark, tmp_path):
    """VERDICT r7 #4 case 1: vacuum runs WHILE a slow writer sits
    between its parquet write and its manifest commit. Inside the
    grace window the attempt dir survives and the writer's commit
    lands normally; the committed rows are readable afterward."""
    ch = events_as_changes(spark, SF_DIR).limit(60)
    store = TransactionalEventStore(spark, str(tmp_path / "vrace"))
    assert store.append_epoch(ch.filter(F.col("offset") % 2 == 0), 0) is True

    # slow writer: parquet landed, commit not yet issued
    inflight = store._epoch_dir(1)
    e1 = ch.filter(F.col("offset") % 2 == 1)
    (
        e1.withColumn("event_date", F.to_date("ts"))
        .write.mode("overwrite")
        .partitionBy("event_date")
        .parquet(inflight)
    )
    assert store.vacuum_orphans(grace_seconds=3600.0) == []
    assert os.path.isdir(inflight)
    # the stalled writer wakes up and finishes its commit
    assert store.commits.commit_with_retry(1, [inflight]) is True
    assert store.log().count() == ch.count()
    # now-committed dir is live: even a zero-grace vacuum spares it
    assert store.vacuum_orphans(grace_seconds=0.0) == []
    assert store.log().count() == ch.count()


def test_vacuum_racing_reader_of_precompaction_manifest(spark, tmp_path):
    """VERDICT r7 #4 case 2: a reader iterating a manifest version
    that compaction has since replaced. Its epoch dirs are orphan
    candidates after the swap; inside the grace window the reader's
    scan still works, past it the dirs are reclaimed and the read
    fails LOUDLY (never a silent row loss)."""
    import pytest

    ch = events_as_changes(spark, SF_DIR).limit(100)
    store = TransactionalEventStore(spark, str(tmp_path / "vread"))
    assert store.append_epoch(ch, 0) is True
    reader = store.log()  # plan pinned to the pre-compaction file set
    n = ch.count()

    store.compact_txn()  # manifest now points at the snapshot only
    n_compacted = store.log().count()  # latest image per (table, pk)
    # vacuum inside grace: replaced epoch dirs survive, reader is safe
    assert store.vacuum_orphans(grace_seconds=3600.0) == []
    assert reader.count() == n

    # vacuum past grace: the replaced dirs go; a fresh log() (current
    # manifest) is intact, the stale reader raises instead of lying
    dropped = store.vacuum_orphans(grace_seconds=0.0)
    assert dropped, "replaced pre-compaction epoch dirs must be reclaimed"
    assert store.log().count() == n_compacted
    with pytest.raises(Exception):
        reader.count()


def test_zombie_writer_commit_after_vacuum_fails_loudly(spark, tmp_path, monkeypatch):
    """VERDICT r7 #4 case 3: a writer resurrects AFTER its uncommitted
    attempt dir was vacuumed (it stalled past the grace window). Its
    commit must raise — committing the vacuumed path would poison
    every later log() with a manifest entry pointing at nothing — and
    replaying the epoch through the normal path must converge."""
    import pytest

    ch = events_as_changes(spark, SF_DIR).limit(60)
    store = TransactionalEventStore(spark, str(tmp_path / "vzomb"))

    # interleave the race deterministically: vacuum fires in the gap
    # between append_epoch's parquet write and its pre-commit fence
    # (firing it anywhere earlier in the gap leaves the same state)
    orig_guard = TransactionalEventStore._assert_attempt_alive

    def vacuum_then_guard(self, target):
        store.vacuum_orphans(grace_seconds=0.0)
        orig_guard(self, target)

    monkeypatch.setattr(
        TransactionalEventStore, "_assert_attempt_alive", vacuum_then_guard
    )
    with pytest.raises(RuntimeError, match="vacuumed"):
        store.append_epoch(ch, 0)
    monkeypatch.setattr(
        TransactionalEventStore, "_assert_attempt_alive", orig_guard
    )

    # nothing was committed, the store is clean, replay converges
    assert store.log().count() == 0
    assert store.append_epoch(ch, 0) is True
    assert store.log().count() == ch.count()


def test_log_frame_is_built_once_per_manifest_file_set(spark, tmp_path):
    """log() reads the manifest on every call but builds its frame once
    per live file set: the same frame while the file set is unchanged,
    new rows after a commit, correct counts after compaction and a
    zero-grace vacuum. Every committed member sits under one table
    root, so a compacted base plus three epochs is ONE parquet scan."""
    ch = events_as_changes(spark, SF_DIR).limit(120)
    store = TransactionalEventStore(spark, str(tmp_path / "cache"))
    e0 = ch.filter(F.col("offset") % 2 == 0)
    assert store.append_epoch(e0, 0) is True
    first = store.log()
    assert store.log() is first
    assert first.count() == e0.count()

    assert store.append_epoch(ch.filter(F.col("offset") % 2 == 1), 1) is True
    second = store.log()
    assert second is not first and second.count() == ch.count()
    assert store.log() is second

    want = (  # latest non-delete image per key: what compact_txn keeps
        second.groupBy("schema_name", "table", "pk")
        .agg(F.max_by(F.col("action"), F.struct("ts", "offset")).alias("a"))
        .filter(F.col("a") != "delete")
        .count()
    )
    store.compact_txn()
    assert store.vacuum_orphans(grace_seconds=0.0), "replaced epoch dirs must go"
    assert store.log().count() == want

    for e in range(2, 5):
        assert store.append_epoch(ch.filter(F.col("offset") % 3 == e - 2), e) is True
    assert len(store.commits.files()) == 4
    plan = store.log()._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 1, plan
    assert store.log().count() == want + ch.count()


def test_compaction_keeps_an_epoch_committed_during_it(spark, tmp_path, monkeypatch):
    """A rival writer commits an epoch after compaction read the log
    and before its manifest swap: the swap replaces only the members
    the compaction read, so the snapshot goes first and the rival's
    epoch stays live after it — its rows are still read, and its
    redelivery stays a no-op."""
    ch = events_as_changes(spark, SF_DIR).limit(200)
    path = str(tmp_path / "crace")
    store = TransactionalEventStore(spark, path)
    rival = TransactionalEventStore(spark, path)
    e0 = ch.filter(F.col("offset") % 2 == 0)
    e1 = ch.filter(F.col("offset") % 2 == 1)
    assert store.append_epoch(e0, 0) is True
    n_latest = store.compact_txn().count()  # the snapshot of e0 alone

    swap = store.commits.compact

    def rival_commits_then_swap(*args, **kwargs):
        assert rival.append_epoch(e1, 1) is True
        return swap(*args, **kwargs)

    monkeypatch.setattr(store.commits, "compact", rival_commits_then_swap)
    store.compact_txn()
    files = store.commits.files()
    assert len(files) == 2
    assert files[0] == store.commits._read()["compaction"]["snapshot"]
    assert files[1] == rival.commits.epoch_meta(1)["files"][0]
    assert store.log().count() == n_latest + e1.count()
    keys = ["pk", "offset"]
    assert store.log().select(keys).intersect(e1.select(keys)).count() == e1.count()
    assert store.append_epoch(e1, 1) is False


def test_racing_compactions_second_swap_raises(spark, tmp_path, monkeypatch):
    """Two compactions read the same members; the rival's swap lands
    first. The second swap finds the members it read no longer live
    and raises, leaving its snapshot an orphan that reads never see
    and vacuum reclaims."""
    import pytest

    from meepo_spark.cdc.commit_log import ConcurrentCommitError

    ch = events_as_changes(spark, SF_DIR).limit(200)
    path = str(tmp_path / "cc")
    store = TransactionalEventStore(spark, path)
    rival = TransactionalEventStore(spark, path)
    assert store.append_epoch(ch.filter(F.col("offset") % 2 == 0), 0) is True
    assert store.append_epoch(ch.filter(F.col("offset") % 2 == 1), 1) is True

    swap = store.commits.compact
    lost: list[str] = []

    def rival_compacts_then_swap(snapshot_files, *args, **kwargs):
        rival.compact_txn()
        lost.extend(snapshot_files)
        return swap(snapshot_files, *args, **kwargs)

    monkeypatch.setattr(store.commits, "compact", rival_compacts_then_swap)
    with pytest.raises(ConcurrentCommitError, match="rival compaction"):
        store.compact_txn()
    winner = rival.commits.files()
    assert store.commits.files() == winner and len(winner) == 1
    assert os.path.isdir(lost[0]) and lost[0] not in winner
    n = rival.log().count()
    assert store.log().count() == n
    dropped = store.vacuum_orphans(grace_seconds=0.0)
    assert os.path.normpath(lost[0]) in {os.path.normpath(d) for d in dropped}
    assert store.log().count() == n
