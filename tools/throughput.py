"""Parity-path throughput probe — the repeatable form of BASELINE.md's
"measured: parity-path throughput" row.

Protocol (end-to-end, cold streaming start, matching meepo's
binlog→store→consumer delivery path):
  1. adapt the `events` fixture to ChangeEvent rows (cdc/events.py),
     land them as a source directory of parquet files;
  2. run the streaming ingest: readStream → foreachBatch into the
     TransactionalEventStore's ``append_epoch`` (one manifest commit per
     micro-batch; availableNow trigger — processes the whole backlog
     then stops);
  3. compact the store to the latest-per-pk snapshot (``compact_txn``);
  4. report events/sec over the full wall time (startup included — a
     deliberately conservative number; at production batch cadence the
     fixed ~2 s micro-batch startup amortizes away).

Prints ONE JSON line:
  {"metric": "parity_events_per_sec", "value": N, "unit": "events/sec",
   "events": E, "wall_s": W, "sf": ...}

A second JSON line reports the STEADY-STATE rate: the same pipeline
over the workload replicated SCALE× (pk/offset-shifted copies, so
store partitioning and compaction stay realistic). The fixed ~2 s
micro-batch startup amortizes and the number reflects per-event cost
— the figure that scales with executor count on a real cluster.

Usage: python tools/throughput.py [sf_dir] [scale]
       (defaults: /root/testdata/sf0.1, scale 10)
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from meepo_spark.cdc.events import events_as_changes
from meepo_spark.session import get_spark


def _replicate(changes, n: int):
    """n pk/offset-shifted copies of the change stream — same per-event
    work, n× the volume. Shifts keep pks distinct across copies so the
    latest-per-pk compaction output scales with input (no artificial
    hot keys)."""
    from pyspark.sql import functions as F

    span = changes.agg(F.max("offset")).first()[0] + 1
    copies = []
    for i in range(n):
        copies.append(
            changes.withColumn("offset", F.col("offset") + F.lit(i * span))
            .withColumn(
                "pk",
                F.concat(F.col("pk"), F.lit(f"#{i}")) if i else F.col("pk"),
            )
            .withColumn(
                "txn_id", F.concat(F.col("txn_id"), F.lit(f"#{i}"))
            )
        )
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    return out


def _run_pipeline(spark, src, store_path, ck):
    from meepo_spark.cdc.event_store import TransactionalEventStore
    from meepo_spark.cdc.events import read_change_stream

    t0 = time.perf_counter()
    store = TransactionalEventStore(spark, store_path)
    q = (
        read_change_stream(spark, src)
        .writeStream.foreachBatch(store.append_epoch)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    store.compact_txn()
    return time.perf_counter() - t0


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    scale = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    spark = get_spark("meepo-spark-throughput")

    work = tempfile.mkdtemp(prefix="throughput_")
    src = os.path.join(work, "source")
    store_path = os.path.join(work, "store")
    ck = os.path.join(work, "ck")
    try:
        changes = events_as_changes(spark, sf_dir)
        changes.write.mode("overwrite").parquet(src)
        n_events = spark.read.parquet(src).count()

        wall = _run_pipeline(spark, src, store_path, ck)
        print(
            json.dumps(
                {
                    "metric": "parity_events_per_sec",
                    "value": round(n_events / wall, 1),
                    "unit": "events/sec",
                    "events": n_events,
                    "wall_s": round(wall, 2),
                    "sf": sf,
                }
            )
        )

        if scale > 1:
            src2 = os.path.join(work, "source_scaled")
            _replicate(changes, scale).write.mode("overwrite").parquet(src2)
            n2 = spark.read.parquet(src2).count()
            for d in (store_path, ck):
                shutil.rmtree(d, ignore_errors=True)
            wall2 = _run_pipeline(spark, src2, store_path, ck)
            print(
                json.dumps(
                    {
                        "metric": "parity_events_per_sec_steady",
                        "value": round(n2 / wall2, 1),
                        "unit": "events/sec",
                        "events": n2,
                        "wall_s": round(wall2, 2),
                        "scale": scale,
                        "sf": sf,
                    }
                )
            )
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
