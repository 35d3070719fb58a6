"""Streaming checkpoints go through Spark's FileSystem-based checkpoint
file manager (``session.get_spark``): a micro-batch's state deltas,
offsets and commits are written without a ``readlink`` process per
file, in the same layout, and a checkpoint written by the FileContext
manager (Spark's default) restarts under it."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

TRIGGERS = 8

# the live_alerts tree (perfbench/streaming_wl.py live_tree), over one
# JSON file per trigger; "stream" in the shim log marks the stream start
_STREAM = r'''
import json, os, re, sys
from pyspark.sql import functions as F
from mirabelle_spark.plans.builder import Ctx, compile_stream
from mirabelle_spark.session import get_spark
from mirabelle_spark.streaming import file_source

work, log, triggers = sys.argv[1], sys.argv[2], int(sys.argv[3])
spark = get_spark(app_name="checkpoint-spawns", cpus=2,
                  extra_conf={"spark.driver.memory": "1g"})
tree = {"action": "where", "params": [[":>", "metric", 10]], "children": [{
    "action": "by", "params": [{"fields": ["host"], "shards": 16}], "children": [{
        "action": "ewma-timeless", "params": [0.5],
        "children": [{"action": "tap", "params": ["out"]}]}]}]}
ingest, ck = os.path.join(work, "ingest"), os.path.join(work, "ck")
os.makedirs(ingest)
src = file_source(spark, ingest, "host STRING, time_micros BIGINT, metric DOUBLE")
src = src.select("host", F.timestamp_micros("time_micros").alias("time"), "metric")
out = compile_stream(src, tree, Ctx(streaming=True)).taps["out"]
with open(log, "a") as f:
    f.write("stream\n")
q = out.writeStream.format("noop").option("checkpointLocation", ck).start()
for i in range(triggers):
    stage = os.path.join(work, f"f{i}.json")
    with open(stage, "w") as f:
        for j in range(100):
            f.write(json.dumps({"host": f"h{j % 10}", "time_micros": (i * 100 + j) * 1000,
                                "metric": 20.0 + j}) + "\n")
    os.rename(stage, os.path.join(ingest, f"f{i}.json"))
    q.processAllAvailable()
batches = q.lastProgress["batchId"] + 1
q.stop()
kinds = sorted({
    re.sub(r"\d+", "N", os.path.relpath(os.path.join(d, f), ck))
    for d, _, files in os.walk(ck) for f in files
})
print(json.dumps({"batches": batches, "kinds": kinds}))
'''


def test_checkpoint_writes_spawn_no_readlink(tmp_path):
    """A ``get_spark`` session runs the live_alerts tree over one-file
    triggers with ``readlink``/``chmod`` shims first on ``PATH``: the
    stream's checkpoint writes run no ``readlink`` (Spark's FileContext
    manager ran ~60 per trigger here, one per link-status ask of a
    renamed file or its ``.crc``), and the checkpoint holds every file
    kind it held before: state deltas with both checksum layers,
    offsets and commits with Hadoop's ``.crc``."""
    shims = tmp_path / "shims"
    shims.mkdir()
    log = tmp_path / "spawns.log"
    log.write_text("")
    for name in ("readlink", "chmod"):
        shim = shims / name
        shim.write_text(f'#!/bin/sh\necho {name} >> "{log}"\nexec {shutil.which(name)} "$@"\n')
        shim.chmod(0o755)
    script = tmp_path / "stream.py"
    script.write_text(_STREAM)
    env = dict(os.environ, PATH=f"{shims}{os.pathsep}{os.environ['PATH']}")
    env["PYTHONPATH"] = os.pathsep.join(filter(None, (str(ROOT), env.get("PYTHONPATH"))))
    out = subprocess.run(
        [sys.executable, str(script), str(tmp_path), str(log), str(TRIGGERS)],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=240,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["batches"] == TRIGGERS

    calls = log.read_text().split()
    during = calls[calls.index("stream") + 1:]
    # the shims see the session's calls (the stream's chmods prove it)
    assert during.count("chmod") >= TRIGGERS
    assert during.count("readlink") < TRIGGERS, (
        f"{during.count('readlink')} readlink calls over {TRIGGERS} triggers"
    )

    assert {
        "metadata", ".metadata.crc",
        "offsets/N", "offsets/.N.crc", "commits/N", "commits/.N.crc",
        "sources/N/N", "sources/N/.N.crc",
        # Spark's checksum file and Hadoop's .crc of the delta and of it
        "state/N/N/N.delta", "state/N/N/N.delta.crc",
        "state/N/N/.N.delta.crc", "state/N/N/.N.delta.crc.crc",
    } <= set(res["kinds"]), res["kinds"]


def test_file_context_checkpoint_restarts(spark, tmp_path):
    """A checkpoint written by Spark's default FileContext manager
    restarts under the session's FileSystem manager: a sharded
    ``stream_ewma`` runs 2 batches with the FileContext manager, stops,
    and continues from the same checkpoint for 2 more batches; every
    emitted value equals the batch twin's."""
    import pyspark.sql.functions as F

    from mirabelle_spark.operators import aggregations as agg
    from mirabelle_spark.streaming import core

    rows = []
    for j in range(8):
        for i in range(40):
            rows.append((len(rows), f"h{i:02d}", float(j * 10), float((i * 7 + j * 3) % 11)))
    df = spark.createDataFrame(
        rows, "event_id bigint, host string, t double, metric double"
    ).withColumn("time", F.timestamp_micros((F.col("t") * 1e6).cast("long"))).drop("t")
    batch = {
        r.event_id: r.metric
        for r in agg.ewma_timeless(
            df, 0.25, by=["host"], time_col="time", metric_col="metric",
            order_cols=("event_id",),
        ).collect()
    }

    src_dir = str(tmp_path / "in")
    ck = str(tmp_path / "ck")
    got: dict[int, float] = {}
    batch_ids: list[int] = []

    def sink(bdf, batch_id):
        batch_ids.append(batch_id)
        got.update({r.event_id: r.metric for r in bdf.collect()})

    def run(files):
        # each quarter of every key's timeline is one file, one batch
        for k in files:
            df.where(f"event_id DIV 80 = {k}").coalesce(1) \
                .write.mode("append").parquet(src_dir)
        stream = spark.readStream.schema(df.schema).option("maxFilesPerTrigger", "1") \
            .parquet(src_dir)
        out = core.stream_ewma(
            stream, 0.25, by=["host"], time_col="time", metric_col="metric", shards=4
        )
        q = (
            out.writeStream.foreachBatch(sink).option("checkpointLocation", ck)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()

    conf = "spark.sql.streaming.checkpointFileManagerClass"
    session_manager = spark.conf.get(conf)
    assert session_manager.endswith(".FileSystemBasedCheckpointFileManager")
    spark.conf.set(
        conf,
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileContextBasedCheckpointFileManager",
    )
    try:
        run([0, 1])
    finally:
        spark.conf.set(conf, session_manager)
    assert batch_ids == [0, 1]
    run([2, 3])
    assert batch_ids == [0, 1, 2, 3]
    assert got == batch, sorted(k for k in batch if got.get(k) != batch[k])[:10]
