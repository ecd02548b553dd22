"""State-store posture probe (VERDICT r11 ask #7): measure the RocksDB
vs in-memory (HDFSBacked) provider on a stateful streaming aggregation
at two state cardinalities — turning SCALE.md's "the provider is a
state-volume decision" from a config-only claim into a measured one.

Setup: a synthetic high-cardinality event replay — K distinct users x 8
hourly windows, split into 8 parquet files driven one-per-micro-batch
(maxFilesPerTrigger=1), so the windowed per-(user, window) count state
builds up and is re-opened/committed across 8 batches, exactly the
steady-state shape of the Tier A feed aggregation.  For each provider
and each K we record total wall, per-batch stateOperators metrics
(rows, commit ms) from the query progress, and derive the scaling slope
memory-vs-rocksdb as K grows 10x.

Usage: python tools/state_store_probe.py [out.json]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from lambda_arc_events_filter_spark.session import get_spark

N_BATCHES = 8
PROVIDERS = {
    "memory": "HDFSBackedStateStoreProvider",
    "rocksdb": "RocksDBStateStoreProvider",
}


def gen_stream_dir(base: str, n_users: int, touch_pct: int = 100) -> str:
    """8 parquet files, one per hour.  ``touch_pct=100``: EVERY user
    appears in every file — every batch rewrites every key, the
    worst-case per-batch commit.  ``touch_pct=5``: batch 0 seeds all
    users (builds the full state), later batches touch a rotating 5%
    slice INSIDE the same hour-0 window (same-hour timestamps keep the
    watermark from closing it) — per-batch delta << total state, the
    steady-state shape where an incremental-commit provider should
    shine."""
    d = os.path.join(base, f"stream_{n_users}_{touch_pct}")
    if os.path.exists(d):
        return d
    os.makedirs(d)
    for b in range(N_BATCHES):
        if touch_pct >= 100 or b == 0:
            users = list(range(n_users))
            ts0 = 1704067200_000_000 + b * 3_600_000_000
        else:
            step = max(1, n_users * touch_pct // 100)
            users = [(b * step + i) % n_users for i in range(step)]
            ts0 = 1704067200_000_000  # stay inside the hour-0 window
        tbl = pa.table(
            {
                "user_id": pa.array(users, pa.int64()),
                "ts_us": pa.array(
                    [ts0 + (u % 3500) * 1_000_000 for u in users], pa.int64()
                ),
                "value": pa.array([1.0] * len(users), pa.float64()),
            }
        )
        pq.write_table(tbl, os.path.join(d, f"batch_{b:02d}.parquet"))
    return d


def run_one(spark: SparkSession, data_dir: str, provider: str) -> dict:
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state." + provider,
    )
    src = (
        spark.readStream.schema("user_id long, ts_us long, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(data_dir)
        .withColumn("ts", F.timestamp_micros("ts_us"))
        .withWatermark("ts", "30 minutes")
    )
    agg = src.groupBy(
        "user_id", F.window("ts", "1 hour").alias("w")
    ).agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
    qname = f"ssp_{uuid.uuid4().hex[:8]}"
    t0 = time.time()
    q = (
        agg.writeStream.format("memory")
        .queryName(qname)
        .outputMode("update")
        .trigger(availableNow=True)
        .option(
            "checkpointLocation",
            os.path.join("/tmp/ssp_ckpt", qname),
        )
        .start()
    )
    q.awaitTermination()
    wall = round(time.time() - t0, 3)
    batches = []
    for p in q.recentProgress:
        so = (p.get("stateOperators") or [{}])[0]
        batches.append(
            {
                "batch": p.get("batchId"),
                "rows_total": so.get("numRowsTotal"),
                "rows_updated": so.get("numRowsUpdated"),
                # Provider-agnostic commit latency (r12 ADVICE): the
                # StateOperatorProgress field `commitTimeMs` exists for
                # both HDFS and RocksDB providers; the previously-read
                # customMetrics key 'rocksdbCommitLatency' does not exist
                # (real RocksDB metrics are rocksdbCommitFlushLatency /
                # rocksdbCommitCompactLatency / ...), so commit_ms was
                # silently null for every run.
                "commit_ms": so.get("commitTimeMs"),
                "duration_ms": (p.get("durationMs") or {}).get("triggerExecution"),
            }
        )
    n_out = spark.table(qname).count()
    spark.catalog.dropTempView(qname) if qname in [
        t.name for t in spark.catalog.listTables()
    ] else None
    return {"wall_s": wall, "result_rows": int(n_out), "batches": batches}


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "/tmp/state_store_probe.json"
    base = "/tmp/ssp_data"
    os.makedirs(base, exist_ok=True)
    shutil.rmtree("/tmp/ssp_ckpt", ignore_errors=True)
    spark = get_spark("state-store-probe")
    results: dict[str, dict] = {}
    for n_users in (20_000, 200_000):
        for touch in (100, 5):
            d = gen_stream_dir(base, n_users, touch)
            for pname, pclass in PROVIDERS.items():
                # 2 runs, keep the faster (JIT/page-cache warm-up on run 1)
                runs = [run_one(spark, d, pclass) for _ in range(2)]
                best = min(runs, key=lambda r: r["wall_s"])
                results[f"{pname}_{n_users}_touch{touch}"] = best
                print(pname, n_users, f"touch{touch}%", "wall",
                      [r["wall_s"] for r in runs],
                      "state rows last batch",
                      best["batches"][-1]["rows_total"]
                      if best["batches"] else None)
    with open(out_path, "w") as f:
        json.dump(results, f, indent=1)
    print("wrote", out_path)
    spark.stop()


if __name__ == "__main__":
    main()
