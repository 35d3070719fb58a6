#!/usr/bin/env python
"""Keyed-state streaming twin throughput bench (PERF §35/§37).

Measures events/s through one availableNow pass for each mode:

  jvm              windowed sum aggregate (JVM baseline, update mode)
  sharded          stream_ewma(shards=N), shard-mapped keyed state
  sharded_ttl      same + state_ttl_s=3600 (prices the fork GC)
  cond_dt, changed, ddt, zscore, throttle, coalesce, stable,
  few, mew, expired, smax
                   the other keyed twins with shards=N (few/mew:
                   fixed/moving event windows)

Usage:
  python tools/bench_streaming_state.py [--events 1000000]
      [--keys 1000000] [--modes jvm,sharded,stable]
      [--cpus 32] [--shards 64]

Prints one JSON line: {"events": N, "keys": K,
"modes": {name: {"sec": s, "ev_per_s": r, "rows_out": n}}}; a mode
named twice keeps its last run there, and each run's "# mode" line
shows it. ``rows_out`` is the sink's row count summed over the
query's progress reports, so a mode that emits nothing shows.

Notes: the generator writes one parquet dir per run; all modes read
the same files through the same file source into a noop sink, so the
delta between modes is the operator, not I/O. Events are 1 ms apart
and a key's events ``--keys`` ms apart.

``BENCH_STATE_MEM`` sets the driver heap (default 4g, enough for the
10k- and 16-key shapes); 1M-key runs of the HDFS-backed state store
set it higher.
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
os.environ.setdefault("SPARK_GRAFT_SILENT", "1")


def make_spark(cpus: int):
    """The engine's own session (``session.get_spark``), so the modes
    run through its Python worker setup. The HDFS-backed state store
    holds every key's state on the heap; 1M keys x windowed-agg
    entries OOM a 1g heap and need BENCH_STATE_MEM above the 4g
    default."""
    from mirabelle_spark.session import get_spark

    return get_spark(
        app_name="bench-streaming-state",
        cpus=cpus,
        extra_conf={"spark.driver.memory": os.environ.get("BENCH_STATE_MEM", "4g")},
    )


def gen_events(spark, path: str, n: int, keys: int, files: int = 8) -> None:
    from pyspark.sql import functions as F

    (
        spark.range(n)
        .select(
            F.concat(F.lit("k"), (F.col("id") % keys).cast("string")).alias("host"),
            F.timestamp_micros(F.lit(1_700_000_000_000_000) + F.col("id") * 1000).alias(
                "time"
            ),
            ((F.col("id") % 997).cast("double") / 7.0).alias("metric"),
        )
        .repartition(files)
        .write.mode("overwrite")
        .parquet(path)
    )


def _keyed_ops(keys: int):
    """Keyed twin builders by mode name; each takes ``shards``.
    ``keys`` sets the per-key event spacing (``keys`` ms) that
    ``cond_dt`` and ``stable`` scale their dt from."""
    from pyspark.sql import functions as F

    from mirabelle_spark import streaming as stx

    k = dict(by=["host"], time_col="time")
    return {
        "ewma": lambda s, **kw: stx.stream_ewma(s, 0.25, **k, **kw),
        # a key's valid run (metric > 60) lasts ~36 events; dt is 8
        # per-key event spacings, so runs pass at 16 and at 10k keys
        "cond_dt": lambda s, **kw: stx.stream_cond_dt(
            s, [":>", "metric", 60.0], 8 * keys / 1000.0, **k, **kw),
        "changed": lambda s, **kw: stx.stream_changed(s, "metric", **k, **kw),
        "ddt": lambda s, **kw: stx.stream_ddt(s, **k, **kw),
        "zscore": lambda s, **kw: stx.stream_zscore(s, 30.0, **k, **kw),
        "throttle": lambda s, **kw: stx.stream_throttle(s, 5, 30.0, **k, **kw),
        "coalesce": lambda s, **kw: stx.stream_coalesce(
            s, 60.0, fields=["host"], **k, **kw),
        # status flips when the metric ramp crosses the threshold —
        # long confirmed runs (the steady-state fast path) with
        # periodic flaps that exercise the buffer machinery; dt is 8
        # per-key event spacings, so runs of ~15-30 events confirm at
        # 16 and at 10k keys alike
        "stable": lambda s, **kw: stx.stream_stable(
            s.withColumn("status", F.when(F.col("metric") > 70.0, "hi")
                         .otherwise("lo")),
            8 * keys / 1000.0, "status", **k, **kw),
        "few": lambda s, **kw: stx.stream_fixed_event_window(s, 5, **k, **kw),
        "mew": lambda s, **kw: stx.stream_moving_event_window(s, 5, **k, **kw),
        # one event in 10 carries state "expired", so the expiry branch
        # emits rows (no event here ages past the 120 s default ttl)
        "expired": lambda s, **kw: stx.stream_expired(
            s.withColumn("state", F.when(
                F.expr("unix_micros(time) DIV 1000 % 10 = 0"), "expired")
                .otherwise("ok")),
            **k, **kw),
        "smax": lambda s, **kw: stx.stream_smax(s, **k, **kw),
    }


def run_mode(
    spark, mode: str, src: str, schema: str, ck_root: str, shards: int, keys: int
):
    """Run ``mode`` once; return (seconds, rows the sink wrote)."""
    from pyspark.sql import functions as F

    stream = spark.readStream.schema(schema).parquet(src)
    keyed = _keyed_ops(keys)
    if mode == "jvm":
        out = (
            stream.withWatermark("time", "0 seconds")
            .groupBy(F.window("time", "1 hour"), "host")
            .agg(F.sum("metric").alias("metric"))
        )
    elif mode == "sharded":
        out = keyed["ewma"](stream, shards=shards)
    elif mode == "sharded_ttl":
        out = keyed["ewma"](stream, shards=shards, state_ttl_s=3600.0)
    elif mode in keyed:
        out = keyed[mode](stream, shards=shards)
    else:
        raise SystemExit(f"unknown mode {mode}")

    # unique checkpoint per invocation: reusing one lets a repeated
    # mode see "no new files" under availableNow and do zero work
    ck = os.path.join(ck_root, f"{mode}_{time.monotonic_ns()}")
    t0 = time.monotonic()
    # jvm uses update mode so the windowed aggregate actually EMITS
    # under availableNow (append + 0s watermark seals no window on a
    # finite input -> zero rows written, flattering the baseline);
    # the keyed twins are append-per-event by construction
    q = (
        out.writeStream.format("noop")
        .option("checkpointLocation", ck)
        .outputMode("update" if mode == "jvm" else "append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    sec = time.monotonic() - t0
    return sec, sum(p["sink"]["numOutputRows"] for p in q.recentProgress)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--events", type=int, default=1_000_000)
    ap.add_argument("--keys", type=int, default=1_000_000)
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--shards", type=int, default=64)
    ap.add_argument("--modes", default="jvm,sharded")
    args = ap.parse_args()

    spark = make_spark(args.cpus)
    work = tempfile.mkdtemp(prefix="bench_state_")
    src = os.path.join(work, "events")
    schema = "host string, time timestamp, metric double"
    try:
        gen_events(spark, src, args.events, args.keys)
        results = {}
        for mode in args.modes.split(","):
            mode = mode.strip()
            sec, rows = run_mode(
                spark, mode, src, schema, os.path.join(work, "ck"),
                args.shards, args.keys,
            )
            results[mode] = {
                "sec": round(sec, 2),
                "ev_per_s": int(args.events / sec),
                "rows_out": rows,
            }
            print(
                f"# {mode}: {sec:.2f}s = {int(args.events/sec):,} ev/s, "
                f"{rows:,} rows out",
                flush=True,
            )
        print(
            json.dumps(
                {"events": args.events, "keys": args.keys, "modes": results}
            )
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
