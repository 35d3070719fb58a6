#!/usr/bin/env python
"""Per-batch state cost of stream_changed_jvm_run's LSM delta state
(PERF §55; VERDICT r9 ask #3): seed K keys in one batch, then run
N_INC small batches of BATCH events each, and report the average
incremental per-batch seconds. compact_every=1 reproduces the r9
design (full state rewrite per batch: write cost grows with K);
compact_every=16 writes O(batch)-row deltas (cost tracks the batch).

Usage: python tools/bench_changed_jvm_state.py [--keys 1000000]
           [--batch 1000] [--inc 10] [--compact 1,16]
Prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--keys", type=int, default=1_000_000)
    ap.add_argument("--batch", type=int, default=1000)
    ap.add_argument("--inc", type=int, default=10)
    ap.add_argument("--compact", default="1,16",
                    help="comma list of compact_every values (1 = r9 full-rewrite-per-batch behavior)")
    ap.add_argument("--local-keys", type=int, default=0,
                    help="if >0, each incremental batch touches only this many distinct keys (key-local workload)")
    ap.add_argument("--buckets", type=int, default=64, help="n_buckets for the compacted base")
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from mirabelle_spark.streaming import stream_changed_jvm_run

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .config("spark.sql.shuffle.partitions", str(args.cpus))
        .config("spark.ui.enabled", "false")
        .appName("bench_changed_jvm_state")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    root = tempfile.mkdtemp(prefix="cjs_")
    src = os.path.join(root, "in")
    # seed batch: every key once (value 0)
    seed = spark.range(args.keys).select(
        F.concat(F.lit("k"), F.col("id")).alias("host"),
        F.timestamp_micros(F.col("id")).alias("time"),
        F.lit(0.0).alias("metric"),
    )
    seed.coalesce(4).write.mode("append").parquet(src)
    # incremental files: BATCH events each, distinct keys per file,
    # new values so every row emits
    for i in range(args.inc):
        key_mod = args.local_keys if args.local_keys else args.keys
        inc = spark.range(args.batch).select(
            F.concat(F.lit("k"), (F.col("id") * 97 + i * 13) % key_mod).alias("host"),
            F.timestamp_micros(F.col("id") + (i + 2) * 10_000_000).alias("time"),
            (F.lit(float(i + 1))).alias("metric"),
        )
        inc.coalesce(1).write.mode("append").parquet(src)

    schema = "host string, time timestamp, metric double"
    results = {}
    for nb in [int(x) for x in args.compact.split(",")]:
        work = os.path.join(root, f"w{nb}")
        times: dict[int, float] = {}

        def writer(bdf, bid):
            bdf.write.format("noop").mode("overwrite").save()
            times[bid] = time.monotonic()

        t0 = time.monotonic()
        q = stream_changed_jvm_run(
            spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src),
            "metric", by=["host"], work_dir=work, time_col="time",
            out_writer=writer, compact_every=nb, n_buckets=args.buckets,
        )
        q.awaitTermination()
        total = time.monotonic() - t0
        prog = [
            (p["batchId"], p["batchDuration"] / 1000.0)
            for p in (json.loads(str(x.json)) for x in q.recentProgress)
            if p.get("numInputRows", 0) > 0
        ]
        inc_batches = [d for bid, d in prog if bid >= 1][: args.inc]
        results[str(nb)] = {
            "total_sec": round(total, 2),
            "seed_sec": round(dict(prog).get(0, 0.0), 2),
            "inc_avg_sec": round(sum(inc_batches) / max(len(inc_batches), 1), 3),
            "inc_batches": len(inc_batches),
        }
    shutil.rmtree(root, ignore_errors=True)
    print(json.dumps({
        "keys": args.keys, "batch": args.batch, "inc": args.inc,
        "local_keys": args.local_keys, "n_buckets": args.buckets,
        "compact_every": results,
    }))


if __name__ == "__main__":
    main()
