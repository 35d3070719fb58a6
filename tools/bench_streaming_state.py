#!/usr/bin/env python
"""Keyed-state streaming twin throughput bench (PERF §35/§37).

Measures events/s through one availableNow pass for each mode:

  jvm              windowed sum aggregate (JVM baseline, update mode)
  apws             stream_ewma, one state group per key
  sharded          stream_ewma(shards=N), shard-mapped keyed state
  sharded_ttl      same + state_ttl_s=3600 (prices the fork GC)
  tws              transformWithStateInPandas ewma prototype (needs
                   the google.protobuf package; import-gated)
  cond_dt, changed, ddt, zscore, throttle, coalesce, stable,
  few, mew, expired, smax
                   the other keyed twins per key; append ``_sharded``
                   for the same fold with shards=N (few/mew: fixed/
                   moving event windows)
  smax_jvm         the pure-JVM max_by tier (update mode; per-batch
                   emission grain)
  changed_jvm      foreachBatch changed tier

Usage:
  python tools/bench_streaming_state.py [--events 1000000]
      [--keys 1000000] [--modes jvm,apws,sharded,tws]
      [--cpus 32] [--shards 64]

Prints one JSON line: {"events": N, "keys": K,
"modes": {name: {"sec": s, "ev_per_s": r}}}.

Notes: the generator writes one parquet dir per run; all modes read
the same files through the same file source into a noop sink, so the
delta between modes is the operator, not I/O. tws requires the
RocksDB state store provider (set automatically for that mode's
query via spark.sql.streaming.stateStore.providerClass).
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
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("bench-streaming-state")
        # the HDFS-backed state store holds every key's state on the
        # heap; 1M keys x windowed-agg entries OOM the 1g default
        .config("spark.driver.memory", os.environ.get("BENCH_STATE_MEM", "16g"))
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
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


class EwmaTws:
    """transformWithStateInPandas ewma: per-key ValueState in the JVM
    state store, same double fold as stream_ewma."""

    def __init__(self, r: float):
        self.r = r

    def build(self):
        from pyspark.sql.streaming.stateful_processor import StatefulProcessor

        r = self.r

        class P(StatefulProcessor):
            def init(self, handle):
                self.m = handle.getValueState("m", "m DOUBLE")

            def handleInputRows(self, key, rows, timerValues):
                import numpy as np
                import pandas as pd

                m = self.m.get()[0] if self.m.exists() else None
                for pdf in rows:
                    pdf = pdf.sort_values("time", kind="mergesort")
                    x = pdf["metric"].to_numpy(dtype="float64", na_value=np.nan)
                    out = np.empty(len(x))
                    for i, v in enumerate(x.tolist()):
                        if v != v:
                            out[i] = np.nan
                        else:
                            m = r * v + (1.0 - r) * (m if m is not None else 0.0)
                            out[i] = m
                    res = pdf.copy()
                    res["metric"] = pd.array(out, dtype="float64")
                    yield res
                if m is not None:
                    self.m.update((m,))

            def close(self):
                pass

        return P()


def _keyed_ops():
    """Keyed twin builders by mode name; each takes ``shards`` (None =
    one state group per key)."""
    from pyspark.sql import functions as F

    from mirabelle_spark import streaming as stx

    k = dict(by=["host"], time_col="time")
    return {
        "ewma": lambda s, **kw: stx.stream_ewma(s, 0.25, **k, **kw),
        "cond_dt": lambda s, **kw: stx.stream_cond_dt(
            s, [":>", "metric", 60.0], 5.0, **k, **kw),
        "changed": lambda s, **kw: stx.stream_changed(s, "metric", **k, **kw),
        "ddt": lambda s, **kw: stx.stream_ddt(s, **k, **kw),
        "zscore": lambda s, **kw: stx.stream_zscore(s, 30.0, **k, **kw),
        "throttle": lambda s, **kw: stx.stream_throttle(s, 5, 30.0, **k, **kw),
        "coalesce": lambda s, **kw: stx.stream_coalesce(
            s, 60.0, fields=["host"], **k, **kw),
        # status flips when the metric ramp crosses the threshold —
        # long confirmed runs (the steady-state fast path) with
        # periodic flaps that exercise the buffer machinery
        "stable": lambda s, **kw: stx.stream_stable(
            s.withColumn("status", F.when(F.col("metric") > 70.0, "hi")
                         .otherwise("lo")),
            5.0, "status", **k, **kw),
        "few": lambda s, **kw: stx.stream_fixed_event_window(s, 5, **k, **kw),
        "mew": lambda s, **kw: stx.stream_moving_event_window(s, 5, **k, **kw),
        "expired": lambda s, **kw: stx.stream_expired(s, **k, **kw),
        "smax": lambda s, **kw: stx.stream_smax(s, **k, **kw),
    }


def run_mode(spark, mode: str, src: str, schema: str, ck_root: str, shards: int):
    from pyspark.sql import functions as F

    stream = spark.readStream.schema(schema).parquet(src)
    if mode == "changed_jvm":
        # foreachBatch terminal op: lag-over-batch + parquet state
        # join, zero Python on the data path (r9, VERDICT r8 ask #6)
        from mirabelle_spark.streaming import stream_changed_jvm_run

        work = os.path.join(ck_root, f"changed_jvm_{time.monotonic_ns()}")
        t0 = time.monotonic()
        q = stream_changed_jvm_run(
            stream, "metric", by=["host"], work_dir=work, time_col="time"
        )
        q.awaitTermination()
        return time.monotonic() - t0
    keyed = _keyed_ops()
    op = mode[: -len("_sharded")] if mode.endswith("_sharded") else mode
    if mode == "jvm":
        out = (
            stream.withWatermark("time", "0 seconds")
            .groupBy(F.window("time", "1 hour"), "host")
            .agg(F.sum("metric").alias("metric"))
        )
    elif mode == "apws":
        out = keyed["ewma"](stream)
    elif mode == "sharded":
        out = keyed["ewma"](stream, shards=shards)
    elif mode == "sharded_ttl":
        out = keyed["ewma"](stream, shards=shards, state_ttl_s=3600.0)
    elif mode == "tws":
        out = stream.groupBy("host").transformWithStateInPandas(
            EwmaTws(0.25).build(),
            outputStructType=schema,
            outputMode="append",
            timeMode="none",
        )
    elif mode == "smax_jvm":
        from mirabelle_spark.streaming import stream_smax_jvm

        out = stream_smax_jvm(stream, by=["host"], time_col="time")
    elif op in keyed:
        out = keyed[op](stream, shards=shards if op != mode else None)
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
        .outputMode("update" if mode in ("jvm", "smax_jvm") else "append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return time.monotonic() - t0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--events", type=int, default=1_000_000)
    ap.add_argument("--keys", type=int, default=1_000_000)
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--shards", type=int, default=64)
    ap.add_argument("--modes", default="jvm,apws,sharded,tws")
    args = ap.parse_args()

    if "tws" in args.modes:
        # transformWithStateInPandas speaks protobuf to the JVM state
        # server; this container has no google.protobuf package, but
        # the gcloud SDK's App Engine dir bundles a pure-python
        # runtime. The sitecustomize shim (tools/tws_pythonpath)
        # inserts it and relaxes the gencode-minor-version check —
        # set PYTHONPATH BEFORE the session so every python worker
        # inherits it, and import it here for the driver process.
        try:
            from google.protobuf import descriptor  # noqa: F401
        except ImportError:
            shim = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                "tws_pythonpath")
            os.environ["PYTHONPATH"] = shim + (
                os.pathsep + os.environ["PYTHONPATH"]
                if os.environ.get("PYTHONPATH") else ""
            )
            sys.path.insert(0, shim)
            try:
                import sitecustomize  # noqa: F401
                from google.protobuf import descriptor  # noqa: F401
            except ImportError:
                pass

    spark = make_spark(args.cpus)
    spark.sparkContext.setLogLevel("WARN")
    work = tempfile.mkdtemp(prefix="bench_state_")
    src = os.path.join(work, "events")
    schema = "host string, time timestamp, metric double"
    try:
        gen_events(spark, src, args.events, args.keys)
        results = {}
        for mode in args.modes.split(","):
            mode = mode.strip()
            if mode == "tws":
                # transformWithStateInPandas speaks protobuf to the
                # JVM state server; without the google.protobuf
                # python package the driver worker crashes at init
                try:
                    from google.protobuf import descriptor  # noqa: F401
                except ImportError:
                    print("# tws: SKIPPED (google.protobuf not installed)", flush=True)
                    results["tws"] = {"error": "requires google.protobuf python package"}
                    continue
                spark.conf.set(
                    "spark.sql.streaming.stateStore.providerClass",
                    "org.apache.spark.sql.execution.streaming.state."
                    "RocksDBStateStoreProvider",
                )
            sec = run_mode(spark, mode, src, schema, os.path.join(work, "ck"), args.shards)
            if mode == "tws":
                spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
            results[mode] = {
                "sec": round(sec, 2),
                "ev_per_s": int(args.events / sec),
            }
            print(f"# {mode}: {sec:.2f}s = {int(args.events/sec):,} ev/s", flush=True)
        print(
            json.dumps(
                {"events": args.events, "keys": args.keys, "modes": results}
            )
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
