"""Columnar event store — meepo's RedisEventStore re-expressed as a
date-partitioned parquet log committed through a manifest (ref:
meepo/apps/eventsourcing/event_store.py, module path per SURVEY.md §0).

ZSET add             → ``append_epoch``: one idempotent manifest commit
                       per micro-batch (drive a stream through
                       ``foreachBatch(store.append_epoch)``)
ZSET dedup-by-pk     → ``compact_txn``: latest image per (table, pk),
                       swapped in as the live file set
replay(event, range) → ``replay``: partition-pruned time-range scan,
                       ts order
query(event, pk)     → ``last_change``: last-change ts per pk

There is one store, ``TransactionalEventStore`` (plus its typed-lane
subclass): readers list files from the manifest, never from the
directory. Bounded history is ``compact_txn`` + ``vacuum_orphans``;
date-granular retention is not offered (it returns as file-level
remove actions in the manifest, ROADMAP #3).

100 TB posture: the log partitions by event_date (replay cost ∝ the
time range, never the log length); compaction keeps a separate
latest-snapshot table so point lookups don't scan history. Writes do
not coalesce: each write task emits one file per event_date it holds,
so file size follows the batch's partitioning; only
``compact_txn_clustered`` sizes its files to a byte target.
"""

from __future__ import annotations

import os
import re
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from meepo_spark.cdc.commit_log import CommitLog
from meepo_spark.schemas import CHANGE_EVENT

# log() layout: the canonical ChangeEvent columns + the event_date
# partition column appended by the write paths.
LOG_SCHEMA = T.StructType(
    list(CHANGE_EVENT.fields) + [T.StructField("event_date", T.DateType())]
)

_KEYS = ("schema_name", "table", "pk")
_FLAT = "z"  # member-name prefix of a clustered snapshot: no event_date level


def _latest_image(frame: DataFrame, cols: list[str]) -> DataFrame:
    """Latest non-delete image per (schema_name, table, pk) — the
    ZSET's dedup-by-pk, shared by every compaction. max_by over
    (ts, offset) pins the winner even for same-ts events; deletes drop
    out. ``cols`` is the output column order: the keys, the payload
    carried in the winner's struct (every other column but
    ``event_date``), and ``event_date``, re-derived from the winner's
    ts."""
    payload = [c for c in cols if c not in _KEYS and c != "event_date"]
    return (
        frame.groupBy(*_KEYS)
        .agg(F.max_by(F.struct(*payload), F.struct("ts", "offset")).alias("last"))
        .select(*_KEYS, *[F.col(f"last.{c}").alias(c) for c in payload])
        .filter(F.col("action") != "delete")
        .withColumn("event_date", F.to_date("ts"))
        .select(*cols)
    )


class TransactionalEventStore:
    """The event store, its write path governed by the Delta-lite
    ``CommitLog`` (VERDICT r4 #7): data files become visible only via
    an atomic single-file manifest commit, never by directory listing.

    Layout under ``path``: every member is a writer-unique dir under
    one table root, so one read is one scan::

        _commits-<version>.json             the manifest (put-if-absent CAS)
        data/member=e<epoch>-<writer>-<u8>/ one dir per epoch WRITE ATTEMPT
          event_date=<D>/*.parquet          (the manifest records the
                                            winner; losers are orphans)
        data/member=s<version>-<u8>/        compaction snapshots (same rule)
        data/member=z<version>-<u8>/        clustered snapshots: flat files,
                                            no event_date level

    The letter prefix keeps every ``member`` value a plain string.

    Crash matrix (tests/test_commit_log.py):
      * die after data write, before commit  → rows invisible; epoch
        replay writes a fresh attempt dir and commits — converges, no
        dupes; the dead attempt is vacuumable;
      * two LIVE writers race the same epoch  → both write their own
        attempt dirs; exactly one manifest commit wins; the loser's
        data write cannot touch the winner's committed files;
      * die mid-manifest write               → previous manifest stays
        authoritative (torn ``.tmp`` ignored);
      * die between snapshot write and swap  → old file set still
        served; re-running compaction converges;
      * redeliver a committed epoch          → manifest no-op;
      * commit lands during a compaction     → it stays live after the
        snapshot; a second racing compaction raises.
    """

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self.commits = CommitLog(path)
        self._data = os.path.join(path, "data")
        # per read lane: (live members, frame)
        self._frames: dict[str, tuple[tuple, DataFrame]] = {}

    def _epoch_dir(self, epoch_id: int) -> str:
        """A fresh WRITER-UNIQUE attempt dir for this epoch:
        ``data/member=e<id>-<writer>-<uuid8>`` (ADVICE r6 #1). The CAS
        fencing protects only the manifest — two live writers
        redelivering the same epoch both pass the ``committed()``
        pre-check and both write data, and with a SHARED target the
        loser's ``mode('overwrite')`` could delete the winner's files
        AFTER the winner's manifest commit, so a reader listing files
        from the committed manifest could scan a half-rewritten dir.
        Per-attempt dirs make that physically impossible: the manifest
        records the winning attempt's path, and a losing writer's data
        write never touches files a committed manifest points at. The
        loser's dir is an orphan — invisible to ``log()`` — reclaimed
        by :meth:`vacuum_orphans`."""
        token = re.sub(r"[^A-Za-z0-9_.-]", "_", self.commits.writer_id)
        return self._member_dir(f"e{epoch_id}-{token}")

    def _snapshot_dir(self, kind: str = "s") -> str:
        """Snapshot dirs get the same per-attempt uniqueness as epoch
        dirs — two concurrent compactions racing toward the same next
        version must not write the same directory (the loser's
        overwrite would gut the winner's committed snapshot). ``kind``
        is the member-name prefix: ``s``, or ``_FLAT`` for a clustered
        snapshot."""
        return self._member_dir(f"{kind}{self.commits.version() + 1}")

    def _member_dir(self, name: str) -> str:
        return os.path.join(self._data, f"member={name}-{uuid.uuid4().hex[:8]}")

    # --- write path ---------------------------------------------------
    def append_epoch(self, changes: DataFrame, epoch_id: int) -> bool:
        """Idempotent transactional append: parquet lands in a fresh
        writer-unique attempt dir FIRST (a retry writes a NEW dir and
        orphans the old one — it never overwrites files a committed
        manifest might already point at), then one manifest commit
        makes it visible. Returns False when the epoch was already
        committed (redelivery) — whether we saw that in the pre-check
        or a rival won the same epoch while we were writing; either
        way the committed files are the record and our attempt dir is
        vacuumable garbage. Version races against rivals committing
        OTHER epochs are absorbed by the bounded retry loop."""
        if self.commits.committed(epoch_id):
            return False
        target = self._epoch_dir(epoch_id)
        (
            changes.withColumn("event_date", F.to_date("ts"))
            .write.mode("overwrite")
            .partitionBy("event_date")
            .parquet(target)
        )
        self._assert_attempt_alive(target)
        return self.commits.commit_with_retry(epoch_id, [target])

    def _assert_attempt_alive(self, target: str) -> None:
        """Zombie-writer fence: a writer that stalls past the vacuum
        grace window can have its (uncommitted) attempt dir reclaimed;
        committing the vacuumed path would poison every subsequent
        ``log()`` with a manifest entry pointing at nothing. Re-check
        existence immediately before the manifest commit and fail
        LOUDLY — the caller replays the epoch through the normal path
        (a fresh attempt dir), which is exactly the crash-recovery
        contract. The residual vacuum-between-check-and-commit window
        is milliseconds and requires vacuum running with a grace
        smaller than a single commit round-trip — a configuration
        violation of the documented contract (grace_seconds must
        exceed the longest write attempt AND the longest reader).

        Local-FS assumption: this fence (like vacuum_orphans' shutil/
        mtime sweep) checks existence with os.path.isdir, which is
        only meaningful when the store root is a local path. On a
        URI-addressed root (s3://, hdfs://) it would always report
        the dir missing and veto every commit — route the check
        through the Hadoop FileSystem API alongside the write path
        before pointing the store at a remote root."""
        if not os.path.isdir(target):
            raise RuntimeError(
                f"attempt dir vanished before commit (vacuumed?): {target} "
                "— writer exceeded the vacuum grace window; replay the epoch"
            )

    # --- read path ----------------------------------------------------
    def log(self) -> DataFrame:
        """Committed rows only — the file list comes from the manifest,
        so orphan dirs from a crashed writer are invisible. Every
        committed member is one path of ONE parquet scan under the
        ``data/`` root (``basePath``): pruning applies once, the scan's
        tasks pack files across members, and the discovered ``member``
        column is projected away. Only a flat clustered snapshot needs
        a scan of its own (see ``_scan``).

        The manifest is read on every call, but the frame is cached on
        ``tuple(commits.files())``: while the live file set is
        unchanged the same frame is returned. This relies on two
        invariants of the commit protocol: a committed attempt or
        snapshot dir is never rewritten (every write goes to a fresh
        writer-unique dir), and ``vacuum_orphans`` removes only dirs no
        live manifest names."""
        return self._log(self.commits.files())

    def _log(self, dirs: list[str]) -> DataFrame:
        if not dirs:
            return self.spark.createDataFrame([], LOG_SCHEMA)
        return self._scan("log", tuple((d, None) for d in dirs), lambda _: LOG_SCHEMA)

    def _scan(self, lane: str, members: tuple, schema_of) -> DataFrame:
        """One scan per group of live members, unioned by name, built
        once per ``members``: one ``(dir, schema key)`` pair per live
        dir in manifest order. A group is what one scan has to pin: the
        schema ``schema_of(key)``, and whether the member has an
        event_date level (a flat ``z`` snapshot in a partitioned scan
        raises "Conflicting partition column names"). Plans are reused,
        not data. ``lane`` keeps untyped and typed reads apart.

        Explicit schema, never inference: a committed EMPTY epoch dir
        holds only _SUCCESS, where inference would raise "Unable to
        infer schema" and poison every read of the store; pinned, it is
        just an empty scan."""
        cached = self._frames.get(lane)
        if cached is not None and cached[0] == members:
            return cached[1]
        groups: dict[tuple, list[str]] = {}
        for d, key in members:
            flat = os.path.basename(d).startswith(f"member={_FLAT}")
            groups.setdefault((key, flat), []).append(d)
        frame = None
        for (key, _flat), dirs in groups.items():
            schema = schema_of(key)
            scan = self.spark.read.schema(schema).option("basePath", self._data).parquet(*dirs)
            scan = scan.select(*schema.fieldNames())
            frame = scan if frame is None else frame.unionByName(scan, allowMissingColumns=True)
        self._frames[lane] = (members, frame)
        return frame

    def replay(self, table: str, action: str | None, t0, t1) -> DataFrame:
        """Events for a topic within [t0, t1), ts order — meepo's
        `replay`. The event_date partition filter prunes to the range.
        """
        df = self.log().filter(
            (F.col("table") == table)
            & (F.col("ts") >= F.lit(t0).cast("timestamp"))
            & (F.col("ts") < F.lit(t1).cast("timestamp"))
            & (F.col("event_date") >= F.to_date(F.lit(t0)))
            & (F.col("event_date") <= F.to_date(F.lit(t1)))
        )
        if action is not None:
            df = df.filter(F.col("action") == action)
        return df.orderBy("ts", "offset")

    def last_change(self, table: str) -> DataFrame:
        """Last-change timestamp per pk — meepo's `query` (ZSCORE)."""
        return (
            self.log()
            .filter(F.col("table") == table)
            .groupBy("pk")
            .agg(F.max("ts").alias("last_ts"), F.max("offset").alias("last_offset"))
        )

    def rebuild(self, table: str, as_of) -> DataFrame:
        """Table state as of a point in time: replay the log up to
        ``as_of``, keep each pk's latest image, drop deletions —
        meepo's event-sourcing 'rebuild from events' (Entry 3,
        SURVEY.md §3.2)."""
        upto = self.log().filter(
            (F.col("table") == table) & (F.col("ts") <= F.lit(as_of).cast("timestamp"))
        )
        latest = (
            upto.groupBy("pk")
            .agg(
                F.max_by(F.struct("action", "row", "ts", "offset"), F.struct("ts", "offset")).alias(
                    "last"
                )
            )
            .select(
                "pk",
                F.col("last.action").alias("action"),
                F.col("last.row").alias("row"),
                F.col("last.ts").alias("ts"),
            )
        )
        return latest.filter(F.col("action") != "delete").drop("action")

    # --- maintenance --------------------------------------------------
    def compact_txn(self) -> DataFrame:
        """Compaction with an atomic manifest swap: write the latest
        image per (table, pk) of the members it read to a NEW snapshot
        dir, then replace exactly those members in one manifest version
        (epochs committed meanwhile stay live after the snapshot; a
        rival compaction that won first raises ConcurrentCommitError
        and leaves this snapshot an orphan). Late redeliveries of
        pre-compaction epochs stay no-ops (epoch ids are retained)."""
        read = self.commits.files()
        latest = _latest_image(self._log(read), LOG_SCHEMA.fieldNames())
        snap_dir = self._snapshot_dir()
        latest.write.mode("overwrite").partitionBy("event_date").parquet(snap_dir)
        self.commits.compact([snap_dir], {"snapshot": snap_dir}, replaces=read)
        return self.log()

    def vacuum_orphans(self, grace_seconds: float = 86400.0) -> list[str]:
        """Reclaim member dirs under ``data/`` that no live manifest
        references: losing same-epoch writers, crashed pre-commit
        writers, crashed or losing compactions' snapshots, and the
        members a snapshot replaced. Only dirs whose NEWEST file is
        older than ``grace_seconds`` go — an in-flight writer that
        finished its parquet but has not yet won its manifest commit
        has fresh mtimes and survives (the Delta VACUUM retention
        discipline, filesystem-mtime flavored). Returns the removed
        paths.

        Grace-window CONTRACT (tests/test_commit_log.py concurrency
        matrix): ``grace_seconds`` must exceed BOTH (a) the longest
        write attempt — a writer that stalls past it can have its
        uncommitted dir reclaimed, and its late commit then fails
        loudly via ``_assert_attempt_alive`` (replay the epoch) — and
        (b) the longest-running reader — a reader iterating a
        pre-compaction manifest still scans the replaced epoch dirs,
        which become vacuum candidates the moment compaction swaps
        the file set; inside the grace window its scan is safe, past
        it the read fails (never silently loses rows — parquet scans
        of removed paths raise)."""
        import shutil
        import time

        live = {os.path.normpath(f) for f in self.commits.files()}
        now = time.time()
        dropped: list[str] = []
        members = sorted(os.listdir(self._data)) if os.path.isdir(self._data) else []
        for m in members:
            d = os.path.join(self._data, m)
            if not m.startswith("member=") or os.path.normpath(d) in live or not os.path.isdir(d):
                continue
            newest = max(
                (
                    os.path.getmtime(os.path.join(r, f))
                    for r, _dirs, fs in os.walk(d)
                    for f in fs
                ),
                default=os.path.getmtime(d),
            )
            if now - newest < grace_seconds:
                continue
            shutil.rmtree(d)
            dropped.append(d)
        return dropped


class TypedTransactionalEventStore(TransactionalEventStore):
    """TransactionalEventStore whose epochs PERSIST the typed payload
    lane (VERDICT r5 #4): each committed epoch carries ``row_t`` (the
    registry-promoted STRUCT) and ``registry_version`` alongside the
    canonical ChangeEvent columns, so downstream queries read typed,
    prunable, min/max-indexed columns instead of re-parsing the string
    MAP on every scan — a24 proved the lanes equivalent in-query; this
    makes the typed lane the stored artifact.

    Drift contract (a16's unionByName discipline, persisted): the
    registry (schemas.PAYLOAD_REGISTRY) is ADDITIVE — version N+1 only
    appends struct fields — and each epoch's manifest entry records the
    registry_version it was written under, so ``typed_log`` can pin
    that exact schema per scan (never inference — the empty-epoch
    poison, code-review r5 #1) and re-merge mixed-version epochs with
    ``unionByName(allowMissingColumns=True)``: old epochs null-fill
    the new nested fields BY NAME, never positionally.

    Compaction keeps the lane: the snapshot is written from the merged
    typed log, whose row_t is already the max-version superset struct,
    and the compaction manifest records that version."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        registry: dict[int, T.StructType] | None = None,
    ):
        super().__init__(spark, path)
        from meepo_spark.schemas import PAYLOAD_REGISTRY

        self.registry = dict(registry or PAYLOAD_REGISTRY)

    def typed_schema(self, version: int) -> T.StructType:
        return T.StructType(
            list(LOG_SCHEMA.fields)
            + [
                T.StructField("row_t", self.registry[version]),
                T.StructField("registry_version", T.LongType()),
            ]
        )

    def append_epoch(
        self, changes: DataFrame, epoch_id: int, registry_version: int | None = None
    ) -> bool:
        """Promote + persist: ``row`` -> ``row_t`` under the given (or
        newest) registry version, stamp the version column, write the
        epoch parquet, record the version in the manifest entry. Same
        idempotence as the base: a redelivered epoch is a no-op even if
        the producer has since upgraded its registry version (the
        original epoch's lane is the record)."""
        from meepo_spark.cdc.events import typed_changes

        version = max(self.registry) if registry_version is None else registry_version
        if self.commits.committed(epoch_id):
            return False
        target = self._epoch_dir(epoch_id)
        (
            typed_changes(changes, self.registry[version])
            .withColumn("registry_version", F.lit(version).cast("long"))
            .withColumn("event_date", F.to_date("ts"))
            .write.mode("overwrite")
            .partitionBy("event_date")
            .parquet(target)
        )
        self._assert_attempt_alive(target)
        return self.commits.commit_with_retry(
            epoch_id, [target], {"registry_version": version}
        )

    def _file_versions(self) -> list[tuple[str, int]]:
        """(dir, registry_version) for every live manifest file, in
        manifest order. Compaction snapshots record their version in
        the compaction meta; epoch entries in their own meta."""
        state = self.commits._read()
        epoch_version = {}
        for meta in state["epochs"].values():
            v = meta.get("registry_version")
            if v is not None:
                for f in meta.get("files", []):
                    epoch_version[f] = v
        # the compaction version applies ONLY to the snapshot dir it
        # recorded — a blanket fallback would silently scan an epoch
        # committed by the UNTYPED store (post-compaction) under the
        # typed schema, null-filling row_t instead of raising the
        # loud contract error below (code-review r6 #1)
        comp = state.get("compaction", {})
        if comp.get("registry_version") is not None and comp.get("snapshot"):
            epoch_version.setdefault(comp["snapshot"], comp["registry_version"])
        out = []
        for d in state["files"]:
            v = epoch_version.get(d)
            if v is None:
                raise ValueError(
                    f"manifest file {d!r} has no registry_version — written "
                    "by the untyped store? read it via log() instead"
                )
            out.append((d, v))
        return out

    def typed_log(self) -> DataFrame:
        """Committed rows with the PERSISTED typed lane. One scan per
        registry version that is live (usually one), each under the
        exact schema that version was written with (pinned, never
        inferred), then mixed versions re-merge by name — the superset
        struct of the newest version involved, old epochs null-filled.
        Cached like ``log()``, keyed on the ``(dir, registry_version)``
        pairs of the live file set."""
        return self._typed_log(self._file_versions())

    def _typed_log(self, fv: list[tuple[str, int]]) -> DataFrame:
        if not fv:
            return self.spark.createDataFrame([], self.typed_schema(max(self.registry)))
        return self._scan("typed", tuple(fv), self.typed_schema)

    def _latest_typed(self) -> tuple[DataFrame, DataFrame, int, list[str]]:
        """The latest-image merge over the typed log, KEEPING row_t —
        written as the max-version superset struct the merged typed
        log already carries. Shared by both compaction layouts.
        Returns (typed log read, latest images, snapshot version,
        members read)."""
        fv = self._file_versions()
        snap_version = max((v for _, v in fv), default=max(self.registry))
        cols = self.typed_schema(snap_version).fieldNames()
        log = self._typed_log(fv)
        return log, _latest_image(log, cols), snap_version, [d for d, _ in fv]

    def compact_txn(self) -> DataFrame:
        """Typed compaction: latest non-delete image per (table, pk)
        KEEPING row_t, and the snapshot's manifest records the version
        so typed_log keeps working after the swap. Replaces exactly
        the members it read, as the untyped ``compact_txn`` does."""
        _, latest, snap_version, read = self._latest_typed()
        snap_dir = self._snapshot_dir()
        latest.write.mode("overwrite").partitionBy("event_date").parquet(snap_dir)
        self.commits.compact(
            [snap_dir], {"snapshot": snap_dir, "registry_version": snap_version}, replaces=read
        )
        return self.typed_log()

    def compact_txn_clustered(
        self, target_bytes: int = 256 * 1024 * 1024
    ) -> tuple[str, int]:
        """File-grain OPTIMIZE of the typed snapshot (VERDICT r9 task
        6): the same latest-image merge as `compact_txn`, laid out as
        ceil(live_bytes / target_bytes) parquet files Morton-ordered
        on (table, pk) — each output file covers a small rectangle of
        the (table-rank, pk) space, so the two hot replay access
        patterns — "rebuild table X" (table equality) and "point/range
        look-up of a pk" — both skip files on footer min/max stats,
        and file sizes land at the OPTIMIZE sweet spot regardless of
        how fragmented the epochs were. Returns (snapshot_dir,
        n_files).

        Layout keys: the table rank is a DENSE driver-side enumeration
        (CDC table sets are small and known — the manifest is already
        driver state); the pk lane prefers the numeric value
        (try_cast, min/max-bucketed → range predicates prune) and
        falls back to a hash bucket for non-numeric pks (equality
        still prunes). The numeric pk is PERSISTED as `pk_num` so
        readers filter the exact column the layout clustered —
        consistent with lakehouse OPTIMIZE materializing its
        clustering key. typed_log reads under the pinned schema and
        simply ignores the extra column.

        At 100 TB: one bounds aggregate (1 row) + one range-partitioned
        sort shuffle — the shuffle a compaction rewrite was paying
        anyway; byte sizing comes from the manifest's live files, not
        a count heuristic."""
        import math

        from meepo_spark.operators.layout import ZBITS, _bucket, clustered_write

        log, latest, snap_version, read = self._latest_typed()
        live_bytes = sum(
            os.path.getsize(os.path.join(root, f))
            for d in read
            for root, _, fs in os.walk(d)
            for f in fs
            if f.endswith(".parquet")
        )
        # compaction dedups to latest images — scale the byte estimate
        # by the survivor ratio (two count aggs; compaction is a rare
        # maintenance job) so files land near target even when the log
        # is mostly superseded versions
        log_rows = log.count()
        latest_rows = latest.count()
        est = live_bytes * latest_rows / max(log_rows, 1)
        n_files = max(1, math.ceil(est / target_bytes))
        tables = sorted(
            r[0] for r in latest.select("table").distinct().collect()
        )  # bounded driver state: the CDC table set
        # dense rank SCALED across the full bucket range — a raw 0..k
        # rank only occupies log2(k) LOW bits, so the Morton key would
        # be pk-dominated and table predicates would never skip files;
        # spreading the k ranks over [0, 2^ZBITS) gives the table dim
        # high interleave bits too (k never exceeds the 256 buckets in
        # practice; beyond that ranks share buckets, degrading pruning
        # for the colliding tables only, never correctness)
        t_rank = F.lit(0)
        for i, t in enumerate(tables):
            scaled = (2 * i + 1) * (2**ZBITS) // (2 * len(tables))
            t_rank = F.when(F.col("table") == t, F.lit(scaled)).otherwise(t_rank)
        pk_num = F.col("pk").try_cast("long")
        with_pk = latest.withColumn(
            "pk_num",
            F.coalesce(pk_num, F.pmod(F.xxhash64("pk"), F.lit(2**ZBITS)).cast("long")),
        )
        lo, hi = with_pk.agg(F.min("pk_num"), F.max("pk_num")).first()
        if lo is None:  # empty store: degenerate but valid layout
            lo, hi = 0, 1
        snap_dir = self._snapshot_dir(_FLAT)
        # table rank rides the SECOND interleave lane (whose bit i
        # lands at position 2i+1 — including the TOP bit), so the file
        # order is table-major: "rebuild table X" — the dominant
        # replay pattern — skips on the very first split, while pk
        # ranges still prune on the alternating bits
        n_out = clustered_write(
            with_pk,
            _bucket(F.col("pk_num"), F.lit(lo), F.lit(hi)),
            t_rank,
            snap_dir,
            n_files,
        )
        self.commits.compact(
            [snap_dir],
            {
                "snapshot": snap_dir,
                "registry_version": snap_version,
                "layout": {
                    "zorder": ["table", "pk_num"],
                    "files": n_out,
                    "target_bytes": target_bytes,
                },
            },
            replaces=read,
        )
        return snap_dir, n_out
