"""Event-store commit-protocol scaling probe (round 5) — measures the
manifest-driven read path's cost as epochs accumulate, and compaction
restoring it.

TransactionalEventStore.log() reads every committed member dir (one
per epoch since the last compaction, plus the snapshot) as the paths
of ONE pruned parquet scan under the store's ``data/`` root, so more
epochs mean more, smaller files in that scan while the DATA stays the
same size. This probe quantifies that trade on the sf0.1 events
fixture:

* append wall per epoch (manifest commit is O(1): one JSON rewrite +
  dir fsync — the parquet write dominates);
* log().count() wall at 1 / 8 / 16 / 32 / 64 accumulated epochs — the
  cost curve in live members a deployment uses to pick its
  compaction cadence (each read after a commit builds a new frame,
  so its file listing is in the number);
* replay() wall on a 1-day time window at the most members (partition
  pruning must hold across them);
* compact_txn() wall, then log().count() and replay() again at one
  live member — the restored floor.

The 100 TB reading: epoch count is a CADENCE knob, not a data-volume
knob — a store ingesting 100 TB at 64 epochs/day lists the same
number of member dirs as this probe; what grows is per-epoch bytes,
which the one scan splits into tasks. The number that must NOT grow
with data volume is the manifest commit itself (two filesystem ops).

Usage: SPARK_GRAFT_CPUS=4 python tools/eventstore_scaling.py [sf_dir] [epochs]
       (defaults: the sf0.1 fixture, 64 epochs; SPARK_GRAFT_CPUS sets
       local[N])
Prints one JSON line per measurement.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from meepo_spark.cdc.event_store import TransactionalEventStore
from meepo_spark.cdc.events import events_as_changes
from meepo_spark.session import get_spark


def main(sf_dir: str, n_epochs: int) -> int:
    spark = get_spark()
    root = tempfile.mkdtemp(prefix="esprobe_")
    try:
        ch = events_as_changes(spark, sf_dir).persist()
        total = ch.count()
        store = TransactionalEventStore(spark, os.path.join(root, "store"))

        checkpoints = {1, 8, 16, 32, 64, n_epochs}
        append_wall = 0.0
        commit_wall = 0.0
        for ep in range(n_epochs):
            part = ch.filter(F.col("offset") % n_epochs == ep)
            t0 = time.time()
            # split the epoch append into its two phases so the
            # manifest commit's O(1) claim is measured, not asserted
            target = store._epoch_dir(ep)
            (
                part.withColumn("event_date", F.to_date("ts"))
                .write.mode("overwrite")
                .partitionBy("event_date")
                .parquet(target)
            )
            t1 = time.time()
            store.commits.commit(ep, [target])
            t2 = time.time()
            append_wall += t1 - t0
            commit_wall += t2 - t1
            width = ep + 1
            if width in checkpoints:
                t0 = time.time()
                n = store.log().count()
                read_s = time.time() - t0
                t0 = time.time()
                nr = store.replay(
                    "users", None, "2024-01-10", "2024-01-11"
                ).count()
                replay_s = time.time() - t0
                print(
                    json.dumps(
                        {
                            "probe": "eventstore_epochs",
                            "live_members": width,
                            "rows_visible": n,
                            "log_count_s": round(read_s, 3),
                            "replay_1d_s": round(replay_s, 3),
                        }
                    ),
                    flush=True,
                )
        print(
            json.dumps(
                {
                    "probe": "eventstore_append",
                    "epochs": n_epochs,
                    "rows": total,
                    "parquet_write_s_total": round(append_wall, 3),
                    "manifest_commit_s_total": round(commit_wall, 3),
                    "manifest_commit_ms_avg": round(
                        1000 * commit_wall / n_epochs, 2
                    ),
                }
            ),
            flush=True,
        )

        t0 = time.time()
        store.compact_txn()
        compact_s = time.time() - t0
        t0 = time.time()
        n = store.log().count()
        read_s = time.time() - t0
        t0 = time.time()
        store.replay("users", None, "2024-01-10", "2024-01-11").count()
        replay_s = time.time() - t0
        print(
            json.dumps(
                {
                    "probe": "eventstore_compacted",
                    "live_members": 1,
                    "rows_visible": n,
                    "compact_s": round(compact_s, 3),
                    "log_count_s": round(read_s, 3),
                    "replay_1d_s": round(replay_s, 3),
                }
            ),
            flush=True,
        )
        ch.unpersist()
        return 0
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    eps = int(sys.argv[2]) if len(sys.argv) > 2 else 64
    sys.exit(main(sf, eps))
