"""Delta-lite transactional commit log (VERDICT r4 #7; concurrent-
writer fencing added for VERDICT r5 #3) — version-named JSON manifests
committed by put-if-absent, the same optimistic-concurrency protocol a
real Delta/Iceberg transaction log uses. No jars: plain JSON +
``os.link`` (atomic, fails-if-exists) as the compare-and-swap
primitive.

The contract (the useful subset of a table-format txn log):

* **Atomic visibility.** Data files are written FIRST (to plain
  parquet dirs), then one manifest version makes them visible. Readers
  list files from the manifest, never from the directory — a crash
  between data write and commit leaves invisible orphan files, not a
  torn table.
* **Torn-write safety.** Each manifest version is written to a
  writer-unique ``.tmp`` and hard-linked into place; a crash mid-write
  leaves a stray tmp the reader never looks at, and the previous
  complete version stays authoritative.
* **Concurrent-writer fencing (r5 #3).** The manifest NAME carries the
  version (``_commits-00000007.json``) and ``os.link`` refuses to
  overwrite: two drivers that both read version N and race to commit
  N+1 resolve to exactly one winner — the loser's link fails and
  raises :class:`ConcurrentCommitError` LOUDLY with both writer
  tokens, instead of silently losing an epoch to an interleaved
  read-modify-write (the single-file ``os.replace`` protocol this
  replaces did exactly that). Every version records its ``writer``
  token for post-mortems. A crashed winner leaves no fence debris:
  the version file IS the commit, so there is no lock to leak.
* **Idempotent epochs.** ``commit`` with an already-committed epoch
  is a no-op — exactly the redelivery discipline
  ``idempotent_foreach_batch`` needs.
* **Compaction manifest.** ``compact`` atomically REPLACES the files
  a compaction read with its snapshot's files, keeps files committed
  meanwhile, and retains the committed-epoch set (so replayed epochs
  stay no-ops after compaction).

Each version file holds the FULL state (Iceberg-metadata style), so a
reader touches exactly one file: list the directory, load the highest
version. At 100 TB you'd switch to delta-per-version + periodic
checkpoints; the seam is the same five methods. Old versions are
pruned past a small retention window — a reader racing the prune
always targets the max version, which is never pruned.
"""

from __future__ import annotations

import json
import os
import socket
import uuid

MANIFEST_PREFIX = "_commits-"
KEEP_VERSIONS = 8
_EMPTY = {"version": 0, "epochs": {}, "files": []}


class ConcurrentCommitError(RuntimeError):
    """Another writer committed the version this writer raced for.
    The caller's read-modify-write is stale: re-read and retry (epoch
    commits are idempotent, so a retry that discovers its epoch
    already landed no-ops cleanly)."""


def _manifest_name(version: int) -> str:
    return f"{MANIFEST_PREFIX}{version:08d}.json"


class CommitLog:
    """Version-named JSON commit log with put-if-absent CAS commits.

    ``epochs`` maps epoch-id (as a string — JSON object keys) to its
    metadata; ``files`` is the live, ordered list of committed data
    paths (parquet files or directories)."""

    def __init__(self, root: str, writer_id: str | None = None):
        self.root = root
        os.makedirs(root, exist_ok=True)
        self.writer_id = writer_id or f"{socket.gethostname()}:{os.getpid()}"

    # --- read side ---------------------------------------------------
    def _versions(self) -> list[int]:
        out = []
        for name in os.listdir(self.root):
            if name.startswith(MANIFEST_PREFIX) and name.endswith(".json"):
                try:
                    out.append(int(name[len(MANIFEST_PREFIX) : -len(".json")]))
                except ValueError:
                    continue
        return sorted(out)

    def _read(self) -> dict:
        # Retry on the list-then-open race: between _versions() and
        # open(), rival writers can land >= KEEP_VERSIONS commits and
        # prune the version we listed as max (the docstring's "max is
        # never pruned" holds only at list time — code-review r6). The
        # standard Delta-reader pattern: re-list and re-open.
        for _ in range(8):
            vs = self._versions()
            if not vs:
                return json.loads(json.dumps(_EMPTY))
            try:
                with open(os.path.join(self.root, _manifest_name(vs[-1]))) as fh:
                    return json.load(fh)
            except FileNotFoundError:
                continue  # rival prune won; re-list
        raise ConcurrentCommitError(
            "manifest read lost the list-then-open race 8 times — "
            "pathological write contention; raise KEEP_VERSIONS"
        )

    def version(self) -> int:
        return self._read()["version"]

    def committed(self, epoch_id: int) -> bool:
        return str(epoch_id) in self._read()["epochs"]

    def files(self) -> list[str]:
        """The live data file set — the ONLY file listing readers use."""
        return list(self._read()["files"])

    def epoch_meta(self, epoch_id: int) -> dict | None:
        return self._read()["epochs"].get(str(epoch_id))

    # --- write side (optimistic concurrency) --------------------------
    def _swap(self, state: dict) -> None:
        """Publish ``state`` as manifest version ``state['version']``
        by put-if-absent: tmp write + fsync, hard-link to the
        version-named path (the CAS — link fails if a rival already
        owns the version), directory fsync for durability (the link
        lives in the dir entry; without it a post-commit power loss
        could roll the manifest back while the sink write survived)."""
        state["writer"] = self.writer_id
        target = os.path.join(self.root, _manifest_name(state["version"]))
        tmp = os.path.join(
            self.root, f".{_manifest_name(state['version'])}.{uuid.uuid4().hex}.tmp"
        )
        with open(tmp, "w") as fh:
            json.dump(state, fh)
            fh.flush()
            os.fsync(fh.fileno())
        try:
            os.link(tmp, target)
        except FileExistsError:
            os.unlink(tmp)
            with open(target) as fh:
                winner = json.load(fh).get("writer", "<unknown>")
            raise ConcurrentCommitError(
                f"manifest version {state['version']} already committed by "
                f"writer {winner!r}; this writer ({self.writer_id!r}) read a "
                "stale state — re-read and retry"
            ) from None
        os.unlink(tmp)
        dir_fd = os.open(self.root, os.O_RDONLY)
        try:
            os.fsync(dir_fd)
        finally:
            os.close(dir_fd)
        self._prune(state["version"])

    def _prune(self, current: int) -> None:
        """Drop manifest versions older than the retention window.
        Readers always load the max version, so pruning strictly-older
        files never races them."""
        for v in self._versions():
            if v <= current - KEEP_VERSIONS:
                try:
                    os.unlink(os.path.join(self.root, _manifest_name(v)))
                except FileNotFoundError:
                    pass  # a rival's prune got there first

    def commit(
        self, epoch_id: int, add_files: list[str], meta: dict | None = None
    ) -> bool:
        """Make ``add_files`` visible as epoch ``epoch_id``. Returns
        False (no-op) when the epoch is already committed — the
        redelivered-micro-batch case. Raises
        :class:`ConcurrentCommitError` if a rival writer wins the
        version race (the caller re-reads and retries; on retry a
        rival's commit of the SAME epoch surfaces as the False no-op)."""
        state = self._read()
        key = str(epoch_id)
        if key in state["epochs"]:
            return False
        state["version"] += 1
        state["epochs"][key] = {"files": list(add_files), **(meta or {})}
        state["files"].extend(f for f in add_files if f not in state["files"])
        self._swap(state)
        return True

    def commit_with_retry(
        self,
        epoch_id: int,
        add_files: list[str],
        meta: dict | None = None,
        max_attempts: int = 16,
    ) -> bool:
        """Bounded optimistic-retry wrapper around :meth:`commit`
        (VERDICT r6 #5: ``ConcurrentCommitError`` tells the caller to
        "re-read and retry", and every caller hand-rolled that loop —
        now the discipline is code). Each attempt re-reads the latest
        manifest inside ``commit``; losing a version race to a rival's
        commit of a DIFFERENT epoch retries on the fresh state, while
        a rival landing the SAME epoch surfaces as the idempotent
        ``False`` no-op on the next attempt (the redelivery contract —
        the epoch is committed, just not by us). Raises after
        ``max_attempts`` consecutive lost races: that is pathological
        contention the caller should see, not absorb."""
        for _ in range(max_attempts):
            try:
                return self.commit(epoch_id, add_files, meta)
            except ConcurrentCommitError:
                continue
        raise ConcurrentCommitError(
            f"epoch {epoch_id}: lost the manifest version race "
            f"{max_attempts} consecutive times — pathological write "
            "contention; shard the store or reduce writer count"
        )

    def compact(self, snapshot_files: list[str], meta: dict | None = None, replaces=None) -> int:
        """Atomically replace ``replaces`` (the files the compaction
        read; default the whole live set) with ``snapshot_files``,
        already written and durable: the snapshot goes first, files
        committed since stay after it, and committed-epoch ids are KEPT
        so pre-compaction redeliveries stay no-ops. Returns the new
        version. Raises :class:`ConcurrentCommitError` if a replaced
        file is no longer live (a rival compaction won) or on a lost
        version race."""
        state = self._read()
        replaces = state["files"] if replaces is None else replaces
        gone = [f for f in replaces if f not in state["files"]]
        if gone:
            raise ConcurrentCommitError(
                f"compaction read {gone!r}; a rival compaction replaced them first"
            )
        state["version"] += 1
        state["files"] = list(snapshot_files) + [f for f in state["files"] if f not in replaces]
        state["compaction"] = {"version": state["version"], **(meta or {})}
        self._swap(state)
        return state["version"]
