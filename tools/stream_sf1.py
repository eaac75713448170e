"""Streaming at x10 data shape (VERDICT r9 task 8): replay the sf1 events
table (1M rows, 15K distinct users — 10x the sf0.1 key cardinality)
through the bench pipeline shape (source -> map -> keyed tumbling window
agg -> update-mode sink) with the RocksDB state store from
scale.py::cluster_conf's streaming preset, and capture the state-store
metrics so the sizing rule ("state size is bounded by keys x windows, not
input volume") is checked against a measured artifact, not asserted.

Writes tools/stream_sf1_result.json:
  {"events_per_sec": ..., "rows": ..., "wall_sec": ...,
   "state": {"numRowsTotal": ..., "memoryUsedBytes": ...},
   "keys_x_windows_bound": ..., "distinct_users": ...}

Usage: python tools/stream_sf1.py [sf_dir] [out.json] [n_files]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from numaflow_spark.compiler import start_stream
from numaflow_spark.operators.graph import scoped_conf
from numaflow_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "testdata_sf1"
    out_path = sys.argv[2] if len(sys.argv) > 2 else "tools/stream_sf1_result.json"
    n_files = int(sys.argv[3]) if len(sys.argv) > 3 else 20

    from pyspark.sql import functions as F

    spark = get_spark(
        "stream_sf1", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    # Split the single parquet file into n_files so maxFilesPerTrigger=1
    # yields real micro-batches (one file = one 1M-row mega-batch).
    feed = tempfile.mkdtemp(prefix="stream_sf1_feed_")
    ckpt = tempfile.mkdtemp(prefix="stream_sf1_ckpt_")
    # RocksDB state store — the cluster preset's choice (scale.py); the
    # default HDFS-backed store would hold all state on-heap. The conf is
    # restored when the run ends, an exception included; start_stream
    # adds the engine's state width and checkpoint-manager rule.
    rocksdb = {
        "spark.sql.streaming.stateStore.providerClass":
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
    }
    with scoped_conf(spark, rocksdb):
        src_static = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        total_rows = src_static.count()
        n_users = src_static.select("user_id").distinct().count()
        src_static.repartition(n_files).write.mode("overwrite").parquet(feed)

        stream = (
            spark.readStream.schema(src_static.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(feed)
        )
        # The derived sf1 parquet stores ts as TIMESTAMP_NTZ (written by a
        # Spark 4 session with NTZ inference); watermarks require TIMESTAMP —
        # same cast load_table applies on the batch side.
        mapped = stream.select(
            "user_id",
            F.col("ts").cast("timestamp").alias("event_time"),
            F.col("value").cast("long").alias("v"),
        )
        agg = (
            mapped.withWatermark("event_time", "0 seconds")
            .groupBy(F.window("event_time", "1 hour"), "user_id")
            .agg(F.sum("v").alias("s"), F.count("*").alias("n"))
        )
        writer = (
            agg.writeStream.format("memory")
            .queryName("stream_sf1_sink")
            .outputMode("update")
            .trigger(processingTime="0 seconds")
        )
        q = start_stream(spark, writer, checkpoint=ckpt, key_count=n_users)
        try:
            t0 = time.perf_counter()
            rows = 0
            while rows < total_rows and time.perf_counter() - t0 < 600:
                rows = sum(int(p.get("numInputRows", 0)) for p in q.recentProgress)
                time.sleep(0.25)
            wall = time.perf_counter() - t0
            state = {}
            for p in reversed(q.recentProgress):
                ops = p.get("stateOperators") or []
                if ops:
                    state = {
                        "numRowsTotal": ops[0].get("numRowsTotal"),
                        "memoryUsedBytes": ops[0].get("memoryUsedBytes"),
                        "numRowsUpdated": ops[0].get("numRowsUpdated"),
                    }
                    break
            # sizing rule check: windows span the events table's time range at
            # 1h grain; state rows must be <= distinct users x distinct windows
            n_windows = src_static.select(
                F.window("ts", "1 hour")["start"].alias("w")
            ).distinct().count()
            result = {
                "sf_dir": sf_dir,
                "rows": rows,
                "wall_sec": round(wall, 1),
                "events_per_sec": round(rows / wall, 1) if wall > 0 else 0.0,
                "micro_batches": n_files,
                "distinct_users": n_users,
                "distinct_windows": n_windows,
                "keys_x_windows_bound": n_users * n_windows,
                "state": state,
                "state_store": "rocksdb",
                "bound_holds": (
                    state.get("numRowsTotal") is not None
                    and state["numRowsTotal"] <= n_users * n_windows
                ),
            }
            with open(out_path, "w") as f:
                json.dump(result, f, indent=1)
            print(json.dumps(result))
        finally:
            try:
                q.stop()
            except Exception:  # noqa: BLE001 — mid-epoch stop is benign
                pass
            shutil.rmtree(feed, ignore_errors=True)
            shutil.rmtree(ckpt, ignore_errors=True)


if __name__ == "__main__":
    main()
