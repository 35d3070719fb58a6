"""Batch/streaming parity (SURVEY §2.8): the streaming twins produce
the batch results over the same finite input via availableNow."""

import json
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="mirabelle_stream_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _write_input(path: str) -> list[dict]:
    rows = [
        {"time": "2024-01-01T00:00:01", "metric": 1.0, "host": "a"},
        {"time": "2024-01-01T00:00:30", "metric": 2.0, "host": "a"},
        {"time": "2024-01-01T00:01:10", "metric": 10.0, "host": "b"},
    ]
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "part-0.json"), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    return rows


def _wm(stream, delay_s=0.0, time_col="time"):
    """The stream watermarked as the DSL does for a windowed action."""
    return stream.withWatermark(time_col, f"{delay_s} seconds")


def test_stream_agg_sum_parity(spark, tmpdir):
    from mirabelle_spark import streaming as stx
    from mirabelle_spark.operators import aggregations as agg

    src_dir = os.path.join(tmpdir, "in")
    _write_input(src_dir)
    schema = "time timestamp, metric double, host string"
    stream = stx.file_source(spark, src_dir, schema)
    out = agg.agg_sum(_wm(stream), 60.0, by=["host"], time_col="time")
    q = stx.to_memory(out, "sum_test", output_mode="complete")
    q.awaitTermination(60)
    got = {
        (r.host, r.window_start): r.metric
        for r in spark.sql("select * from sum_test").collect()
    }
    base = 1704067200.0  # 2024-01-01T00:00:00 UTC
    assert got == {
        ("a", base): 3.0,
        ("b", base + 60): 10.0,
    }


def test_stream_fixed_time_window_parity(spark, tmpdir):
    from mirabelle_spark import streaming as stx
    from mirabelle_spark.operators import windows as win

    src_dir = os.path.join(tmpdir, "in2")
    _write_input(src_dir)
    schema = "time timestamp, metric double, host string"
    stream = stx.file_source(spark, src_dir, schema)
    out = win.fixed_time_window(_wm(stream, 5.0), 60.0, time_col="time")
    q = stx.to_memory(out, "ftw_test", output_mode="complete")
    q.awaitTermination(60)
    rows = spark.sql("select * from ftw_test").collect()
    got = {r.window_start: [e.metric for e in r.events] for r in rows}
    base = 1704067200.0
    assert got[base] == [1.0, 2.0]
    assert got[base + 60] == [10.0]


def test_stream_json_file_sink(spark, tmpdir):
    from mirabelle_spark import streaming as stx

    src_dir = os.path.join(tmpdir, "in3")
    _write_input(src_dir)
    out_dir = os.path.join(tmpdir, "out")
    ckpt = os.path.join(tmpdir, "ckpt")
    schema = "time timestamp, metric double, host string"
    stream = stx.file_source(spark, src_dir, schema)
    q = stx.to_json_files(stream, out_dir, ckpt, partition_by=["host"])
    q.awaitTermination(60)
    written = spark.read.json(os.path.join(out_dir, "host=a"))
    assert written.count() == 2


def test_stream_dedup_within_watermark(spark, tmpdir):
    from mirabelle_spark import streaming as stx

    src_dir = os.path.join(tmpdir, "in4")
    os.makedirs(src_dir)
    rows = [
        {"time": "2024-01-01T00:00:01", "metric": 1.0, "host": "a"},
        {"time": "2024-01-01T00:00:02", "metric": 1.0, "host": "a"},  # dup host
        {"time": "2024-01-01T00:00:03", "metric": 2.0, "host": "b"},
    ]
    with open(os.path.join(src_dir, "p.json"), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    schema = "time timestamp, metric double, host string"
    stream = stx.file_source(spark, src_dir, schema)
    deduped = stx.stream_dedup(stream, ["host"], within_s=3600)
    q = stx.to_memory(deduped, "dedup_test")
    q.awaitTermination(60)
    assert spark.sql("select count(*) c from dedup_test").collect()[0].c == 2


def test_stream_changed_keyed_state(spark, tmpdir):
    from mirabelle_spark import streaming as stx

    src_dir = os.path.join(tmpdir, "in5")
    os.makedirs(src_dir)
    rows = [
        {"time": "2024-01-01T00:00:01", "state": "ok", "host": "a"},
        {"time": "2024-01-01T00:00:02", "state": "ok", "host": "a"},
        {"time": "2024-01-01T00:00:03", "state": "critical", "host": "a"},
        {"time": "2024-01-01T00:00:04", "state": "ok", "host": "b"},
    ]
    with open(os.path.join(src_dir, "p.json"), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    schema = "time timestamp, state string, host string"
    stream = stx.file_source(spark, src_dir, schema)
    changed = stx.stream_changed(stream, "state", by=["host"], time_col="time")
    q = stx.to_memory(changed, "chg_test")
    q.awaitTermination(60)
    got = sorted((r.host, r.state) for r in spark.sql("select * from chg_test").collect())
    assert got == [("a", "critical"), ("a", "ok"), ("b", "ok")]


def _write_rows(path, rows):
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "p.json"), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def test_stream_throttle_parity(spark, tmpdir):
    from mirabelle_spark import streaming as stx

    src_dir = os.path.join(tmpdir, "thr")
    rows = [
        {"time": "2024-01-01T00:00:00", "metric": 1.0, "host": "a"},
        {"time": "2024-01-01T00:00:01", "metric": 2.0, "host": "a"},
        {"time": "2024-01-01T00:00:02", "metric": 3.0, "host": "a"},  # dropped
        {"time": "2024-01-01T00:00:10", "metric": 4.0, "host": "a"},  # new window
    ]
    _write_rows(src_dir, rows)
    schema = "time timestamp, metric double, host string"
    stream = stx.file_source(spark, src_dir, schema)
    out = stx.stream_throttle(stream, count=2, duration_s=10.0, by=["host"])
    q = stx.to_memory(out, "thr_test")
    q.awaitTermination(60)
    got = sorted(r.metric for r in spark.sql("select * from thr_test").collect())
    assert got == [1.0, 2.0, 4.0]


def test_stream_ewma_parity(spark, tmpdir):
    from mirabelle_spark import streaming as stx

    src_dir = os.path.join(tmpdir, "ew")
    rows = [
        {"time": f"2024-01-01T00:00:0{i}", "metric": 1.0, "host": "a"}
        for i in range(3)
    ]
    _write_rows(src_dir, rows)
    schema = "time timestamp, metric double, host string"
    stream = stx.file_source(spark, src_dir, schema)
    out = stx.stream_ewma(stream, 0.5, by=["host"])
    q = stx.to_memory(out, "ew_test")
    q.awaitTermination(60)
    got = sorted(r.metric for r in spark.sql("select * from ew_test").collect())
    assert got == [0.5, 0.75, 0.875]


def test_stream_smax_parity(spark, tmpdir):
    from mirabelle_spark import streaming as stx

    src_dir = os.path.join(tmpdir, "sm")
    rows = [
        {"time": "2024-01-01T00:00:01", "metric": 10.0, "host": "a"},
        {"time": "2024-01-01T00:00:02", "metric": 3.0, "host": "a"},
        {"time": "2024-01-01T00:00:03", "metric": 11.0, "host": "a"},
    ]
    _write_rows(src_dir, rows)
    schema = "time timestamp, metric double, host string"
    stream = stx.file_source(spark, src_dir, schema)
    out = stx.stream_smax(stream, by=["host"])
    q = stx.to_memory(out, "sm_test")
    q.awaitTermination(60)
    got = sorted(r.metric for r in spark.sql("select * from sm_test").collect())
    assert got == [10.0, 10.0, 11.0]  # smax docstring example


def test_stream_cond_dt(spark, tmpdir):
    from mirabelle_spark import streaming as stx

    src_dir = os.path.join(tmpdir, "cdt")
    rows = [
        {"time": "2024-01-01T00:00:00", "metric": 200.0, "host": "a"},  # flip
        {"time": "2024-01-01T00:00:05", "metric": 200.0, "host": "a"},  # < dt
        {"time": "2024-01-01T00:00:11", "metric": 200.0, "host": "a"},  # pass
        {"time": "2024-01-01T00:00:12", "metric": 1.0, "host": "a"},    # reset
        {"time": "2024-01-01T00:00:13", "metric": 200.0, "host": "a"},  # new flip
        {"time": "2024-01-01T00:00:30", "metric": 200.0, "host": "a"},  # pass
    ]
    _write_rows(src_dir, rows)
    schema = "time timestamp, metric double, host string"
    stream = stx.file_source(spark, src_dir, schema)
    out = stx.stream_cond_dt(
        stream, F.col("metric") > 100, dt_s=10.0, by=["host"]
    )
    assert out.columns == stream.columns
    q = stx.to_memory(out, "cdt_test")
    q.awaitTermination(60)
    got = sorted(r.time.second for r in spark.sql("select * from cdt_test").collect())
    assert got == [11, 30]
    # the condition is evaluated in Spark: a python row-predicate is
    # rejected when the plan is built
    with pytest.raises(ValueError):
        stx.stream_cond_dt(stream, lambda r: r["metric"] > 100, 10.0, by=["host"])


def test_stream_cond_dt_condition_vector(spark, tmpdir):
    """The streaming twin accepts the SAME condition vector as batch
    cond-dt — parity with batch above_dt over identical input, and
    with batch cond_dt for a condition that holds on a null metric."""
    import datetime

    from mirabelle_spark import streaming as stx
    from mirabelle_spark.operators import stateful as st

    src_dir = os.path.join(tmpdir, "cdtv")
    rows = [
        {"time": "2024-01-01T00:00:00", "metric": 200.0, "host": "a"},  # flip
        {"time": "2024-01-01T00:00:05", "metric": 200.0, "host": "a"},  # < dt
        {"time": "2024-01-01T00:00:11", "metric": 200.0, "host": "a"},  # pass
        {"time": "2024-01-01T00:00:12", "metric": 1.0, "host": "a"},    # reset
        {"time": "2024-01-01T00:00:13", "metric": 200.0, "host": "a"},  # new flip
        {"time": "2024-01-01T00:00:30", "metric": 200.0, "host": "a"},  # pass
        {"time": "2024-01-01T00:00:02", "metric": 200.0, "host": "b"},  # flip
        {"time": "2024-01-01T00:00:20", "metric": 200.0, "host": "b"},  # pass
        {"time": "2024-01-01T00:00:00", "metric": None, "host": "c"},
        {"time": "2024-01-01T00:00:05", "metric": 200.0, "host": "c"},
        {"time": "2024-01-01T00:00:12", "metric": 200.0, "host": "c"},
        {"time": "2024-01-01T00:00:13", "metric": 1.0, "host": "c"},
    ]
    _write_rows(src_dir, rows)
    schema = "time timestamp, metric double, host string"
    batch_df = spark.createDataFrame(
        [(datetime.datetime.fromisoformat(r["time"]), r["metric"], r["host"]) for r in rows],
        schema,
    )
    cases = {
        # host c: the null metric is invalid, so 5 s flips and 12 s is
        # within dt
        "cdtv_gt": ([":>", "metric", 100], []),
        # host c: the null metric is valid and flips at 0 s
        "cdtv_or_nil": (
            [":or", [":nil?", "metric"], [":>", "metric", 100]], [("c", 12)]
        ),
    }
    for name, (cond, extra) in cases.items():
        stream = stx.file_source(spark, src_dir, schema)
        out = stx.stream_cond_dt(stream, cond, dt_s=10.0, by=["host"])
        q = stx.to_memory(out, name)
        q.awaitTermination(60)
        got = sorted(
            (r.host, r.time.second)
            for r in spark.sql(f"select * from {name}").collect()
        )
        batch_out = st.cond_dt(batch_df, cond, 10.0, by=["host"], time_col="time")
        want = sorted((r.host, r.time.second) for r in batch_out.collect())
        assert got == want == sorted(
            [("a", 11), ("a", 30), ("b", 20), *extra]
        ), name


def test_reinject_streaming_loopback(spark, tmpdir):
    """reinject! as a real streaming cycle (action.clj:1643-1678):
    the stream's source is union(input, loopback-topic) and its sink
    writes back onto the topic, bounded by a condition — each pump
    doubles the metric until the bound stops the cycle. The Spark
    DAG stays acyclic; the cycle lives at the topic level (Kafka on
    a cluster, a JSON dir here)."""
    from mirabelle_spark import streaming as stx

    in_dir = os.path.join(tmpdir, "rj_in")
    topic = os.path.join(tmpdir, "rj_topic")
    ckpt = os.path.join(tmpdir, "rj_ckpt")
    os.makedirs(topic)
    _write_rows(in_dir, [{"time": "2024-01-01T00:00:01", "metric": 1.0, "host": "a"}])
    schema = "time timestamp, metric double, host string"

    def pump():
        src = stx.file_source(spark, in_dir, schema).unionByName(
            stx.reinject_source(spark, topic, schema)
        )
        doubled = src.withColumn("metric", F.col("metric") * 2)
        bounded = doubled.filter(F.col("metric") < 8)  # reinject condition
        q = stx.reinject_sink(bounded, topic, ckpt)
        q.awaitTermination(60)

    for _ in range(4):  # pump until the cycle drains (2 live rounds)
        pump()

    looped = sorted(
        r.metric for r in spark.read.schema(schema).json(topic).collect()
    )
    assert looped == [2.0, 4.0]  # 1→2→4, then 8 fails the bound


def test_lifecycle_reload_preserves_state(spark, tmpdir):
    """stream.clj:128-143,227-296 semantics on Spark: reloading a
    2-stream config where only one stream changed must (a) not touch
    the unchanged stream's running query (state survives trivially),
    (b) restart the changed stream from ITS checkpoint — source
    offsets + aggregation state restore, already-read input is not
    re-read."""
    from mirabelle_spark.streaming import StreamHandler, diff_config

    src_dir = os.path.join(tmpdir, "lc_in")
    ckpt = os.path.join(tmpdir, "lc_ckpt")
    os.makedirs(src_dir)
    schema = "time timestamp, metric double, host string"

    def compile_fn(sp, name, config):
        from mirabelle_spark import streaming as stx

        src = stx.file_source(sp, src_dir, schema)
        return (
            src.filter(F.col("metric") > config["threshold"])
            .groupBy("host")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    handler = StreamHandler(spark, ckpt, compile_fn, output_mode="complete")
    cfg1 = {
        "s1": {"threshold": 0},
        "s2": {"threshold": 100},
    }
    handler.reload(cfg1)
    assert handler.list_streams() == ["s1", "s2"]

    _write_rows(src_dir, [
        {"time": "2024-01-01T00:00:01", "metric": 60.0, "host": "a"},
        {"time": "2024-01-01T00:00:02", "metric": 150.0, "host": "a"},
        {"time": "2024-01-01T00:00:03", "metric": 200.0, "host": "a"},
    ])
    handler.process_all()
    assert spark.sql("select n from s1").collect()[0].n == 3
    assert spark.sql("select n from s2").collect()[0].n == 2  # >100

    # pure diff check (new-config, stream.clj:128-143)
    cfg2 = {"s1": {"threshold": 0}, "s2": {"threshold": 50}}
    assert diff_config(cfg1, cfg2) == {
        "to_remove": set(), "to_add": set(), "to_reload": {"s2"},
    }

    s1_query_id = handler.get_stream("s1").id
    actions = handler.reload(cfg2)
    assert actions["to_reload"] == {"s2"}
    # s1 was never restarted — same live query object
    assert handler.get_stream("s1").id == s1_query_id

    with open(os.path.join(src_dir, "p2.json"), "w") as f:
        for r in [
            {"time": "2024-01-01T00:01:01", "metric": 60.0, "host": "a"},
            {"time": "2024-01-01T00:01:02", "metric": 70.0, "host": "a"},
        ]:
            f.write(json.dumps(r) + "\n")
    handler.process_all()
    try:
        # untouched stream: running state accumulated across the reload
        assert spark.sql("select n from s1").collect()[0].n == 5
        # reloaded stream: checkpoint restored (2 from old state, not
        # re-reading file 1) + 2 new rows passing the NEW threshold
        assert spark.sql("select n from s2").collect()[0].n == 4
    finally:
        handler.stop_all()


def test_watermark_drops_late_event(spark, tmpdir):
    """The :delay -> watermark rule (action.clj:2420-2432): a second
    micro-batch carrying an event older than watermark - delay is
    dropped from append output."""
    from mirabelle_spark import streaming as stx
    from mirabelle_spark.operators import aggregations as agg

    src_dir = os.path.join(tmpdir, "late_in")
    out_dir = os.path.join(tmpdir, "late_out")
    ckpt = os.path.join(tmpdir, "late_ckpt")
    os.makedirs(src_dir)

    def run_batch():
        schema = "time timestamp, metric double, host string"
        stream = stx.file_source(spark, src_dir, schema)
        out = agg.agg_sum(_wm(stream, 30.0), 60.0, by=["host"])
        q = (
            out.writeStream.format("json").option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # batch 1: events up to 00:10 -> watermark advances to 00:10-30s
    with open(os.path.join(src_dir, "b1.json"), "w") as f:
        for m, t in [(1.0, "2024-01-01T00:05:00"), (2.0, "2024-01-01T00:10:00")]:
            f.write(json.dumps({"time": t, "metric": m, "host": "a"}) + "\n")
    run_batch()
    # batch 2: one on-time event (advances watermark past window 1)
    # and one LATE event for the already-sealed first window
    with open(os.path.join(src_dir, "b2.json"), "w") as f:
        f.write(json.dumps({"time": "2024-01-01T00:20:00", "metric": 8.0, "host": "a"}) + "\n")
        f.write(json.dumps({"time": "2024-01-01T00:04:00", "metric": 100.0, "host": "a"}) + "\n")
    run_batch()
    # batch 3: push watermark far ahead so remaining windows seal
    with open(os.path.join(src_dir, "b3.json"), "w") as f:
        f.write(json.dumps({"time": "2024-01-01T01:00:00", "metric": 0.5, "host": "a"}) + "\n")
    run_batch()
    written = spark.read.json(out_dir)
    got = {r.window_start: r.metric for r in written.collect()}
    base = 1704067200.0
    # 00:05 window sums only 1.0 (the late 100.0 was dropped); if the
    # late event had been admitted this would read 101.0
    assert got[base + 300] == 1.0
    assert got[base + 600] == 2.0
    assert got[base + 1200] == 8.0


def test_state_ttl_evicts_idle_keys(spark, tmpdir):
    """fork-ttl GC (action.clj:1559-1582): after a key idles past the
    ttl (event time), its state is evicted and the recurrence
    restarts from the initial value."""
    from mirabelle_spark import streaming as stx

    src_dir = os.path.join(tmpdir, "ttl_in")
    out_dir = os.path.join(tmpdir, "ttl_out")
    ckpt = os.path.join(tmpdir, "ttl_ckpt")
    os.makedirs(src_dir)

    def run_batch():
        schema = "time timestamp, metric double, host string"
        stream = stx.file_source(spark, src_dir, schema).withWatermark("time", "0 seconds")
        out = stx.stream_ewma(stream, 0.5, by=["host"], state_ttl_s=60.0)
        q = (
            out.writeStream.format("json").option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)

    with open(os.path.join(src_dir, "b1.json"), "w") as f:
        f.write(json.dumps({"time": "2024-01-01T00:00:00", "metric": 1.0, "host": "a"}) + "\n")
    run_batch()  # ewma = 0.5; timeout set at 00:01:00
    # advance the watermark far past the ttl with another key
    with open(os.path.join(src_dir, "b2.json"), "w") as f:
        f.write(json.dumps({"time": "2024-01-01T01:00:00", "metric": 1.0, "host": "zz"}) + "\n")
    run_batch()  # key 'a' evicted during this batch
    with open(os.path.join(src_dir, "b3.json"), "w") as f:
        f.write(json.dumps({"time": "2024-01-01T01:00:01", "metric": 1.0, "host": "a"}) + "\n")
    run_batch()  # 'a' restarts from m0=0 -> 0.5 again (not 0.75)
    rows = spark.read.json(out_dir).collect()
    a_vals = sorted(r.metric for r in rows if r.host == "a")
    assert a_vals == [0.5, 0.5]  # state was reset between the two events


def test_stream_smax_array_column(spark, tmpdir):
    """Re-emitting the stored best across a batch must handle
    array-typed columns (tags): a scalar .loc assignment with a list
    value is an elementwise broadcast — ValueError when the list
    length differs from the row count, silent scatter when equal."""
    from mirabelle_spark import streaming as stx

    src_dir = os.path.join(tmpdir, "smarr")
    schema = "time timestamp, metric double, host string, tags array<string>"
    # batch 1: establishes the best (tags of length 3 != later k=2)
    _write_rows(src_dir, [
        {"time": "2024-01-01T00:00:01", "metric": 10.0, "host": "a",
         "tags": ["x", "y", "z"]},
    ])
    stream = stx.file_source(spark, src_dir, schema)
    out = stx.stream_smax(stream, by=["host"])
    # continuous trigger: availableNow terminates after draining
    # batch 1, and the stored-best re-emission only happens across
    # micro-batch boundaries
    q = stx.to_memory(out, "smarr_test", trigger_available_now=False)
    q.processAllAvailable()
    # batch 2: two rows below the stored best → both re-emit it
    with open(os.path.join(src_dir, "p2.json"), "w") as f:
        for r in [
            {"time": "2024-01-01T00:00:02", "metric": 3.0, "host": "a",
             "tags": ["only"]},
            {"time": "2024-01-01T00:00:03", "metric": 5.0, "host": "a",
             "tags": ["two"]},
        ]:
            f.write(json.dumps(r) + "\n")
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("select * from smarr_test order by time").collect()
    assert [r.metric for r in rows] == [10.0, 10.0, 10.0]
    assert [list(r.tags) for r in rows] == [["x", "y", "z"]] * 3


def test_lifecycle_reload_surfaces_failure(spark, tmpdir):
    """Structured Streaming rejects incompatible checkpoint changes
    (here: dropping the stateful aggregation) asynchronously after
    start() returns — reload must probe and report the dead stream
    instead of claiming success."""
    from mirabelle_spark import streaming as stx
    from mirabelle_spark.streaming import StreamHandler

    src_dir = os.path.join(tmpdir, "lf_in")
    ckpt = os.path.join(tmpdir, "lf_ckpt")
    os.makedirs(src_dir)
    schema = "time timestamp, metric double, host string"

    def compile_fn(sp, name, config):
        src = stx.file_source(sp, src_dir, schema)
        if config["mode"] == "agg":
            return src.groupBy("host").agg(F.count(F.lit(1)).alias("n"))
        return src.select("host", "metric")

    handler = StreamHandler(spark, ckpt, compile_fn)
    cfg1 = {"s": {"mode": "agg", "output_mode": "complete"}}
    diff = handler.reload(cfg1)
    assert diff["failed"] == {}
    _write_rows(src_dir, [
        {"time": "2024-01-01T00:00:01", "metric": 1.0, "host": "a"},
    ])
    handler.process_all()

    # incompatible restart: same checkpoint, stateful operator removed
    cfg2 = {"s": {"mode": "plain", "output_mode": "append"}}
    diff = handler.reload(cfg2, probe_s=30.0)
    assert "s" in diff["failed"], diff
    handler.stop_all()


def test_lifecycle_reload_survives_uncommitted_batch0(spark, tmpdir):
    """The reload stop/restart race (r8's one failing test): a query
    stopped after the offset log records batch 0 but before the
    commit log does leaves a checkpoint Spark 4 refuses to restart
    (STATE_STORE_CHECKPOINT_LOCATION_NOT_EMPTY). reload must repair
    it — clear the zero-commit checkpoint and restart cleanly —
    because a config push during a slow first batch must never leave
    the stream dead (stream.clj:227-259)."""
    import time as _t

    from mirabelle_spark import streaming as stx
    from mirabelle_spark.streaming import StreamHandler

    src_dir = os.path.join(tmpdir, "b0_in")
    ckpt = os.path.join(tmpdir, "b0_ckpt")
    os.makedirs(src_dir)
    schema = "time timestamp, metric double, host string"

    def compile_fn(sp, name, config):
        src = stx.file_source(sp, src_dir, schema)
        if config.get("slow"):
            slow = F.udf(lambda m: _t.sleep(60.0) or m, "double")
            src = src.withColumn("metric", slow("metric"))
        return (
            src.filter(F.col("metric") > config["threshold"])
            .groupBy("host")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    _write_rows(src_dir, [
        {"time": "2024-01-01T00:00:01", "metric": 60.0, "host": "a"},
        {"time": "2024-01-01T00:00:02", "metric": 150.0, "host": "a"},
    ])
    handler = StreamHandler(spark, ckpt, compile_fn, output_mode="complete")
    cfg1 = {"b0race": {"slow": True, "threshold": 0}}
    assert handler.reload(cfg1)["failed"] == {}

    # deterministically reproduce the race: wait for the offset log
    # to record batch 0, then kill the query before the 60 s/row UDF
    # lets the batch commit — the ungraceful-stop shape
    stream_ckpt = os.path.join(ckpt, "b0race")
    off0 = os.path.join(stream_ckpt, "offsets", "0")
    deadline = _t.monotonic() + 60
    while not os.path.exists(off0) and _t.monotonic() < deadline:
        _t.sleep(0.05)
    assert os.path.exists(off0), "batch 0 never planned"
    handler.get_stream("b0race").stop()
    assert StreamHandler._log_count(stream_ckpt, "commits") == 0

    # a config push against the stranded checkpoint must repair +
    # restart, not report the stream dead
    cfg2 = {"b0race": {"slow": False, "threshold": 100}}
    diff = handler.reload(cfg2, probe_s=30.0)
    assert diff["failed"] == {}, diff
    handler.process_all()
    try:
        # fresh batch 0 re-read both rows; only metric=150 > 100
        assert spark.sql("select n from b0race").collect()[0].n == 1
    finally:
        stops = handler.stop_all()
        assert all(s["terminated"] for s in stops.values()), stops


def test_reconcile_quarantines_instead_of_deleting(spark, tmpdir):
    """_reconcile_checkpoint must never destroy a stranded checkpoint:
    batch-0 debris is moved to a .quarantine.* sibling (inspectable),
    and debris with batch ids ≥1 but zero commits — the two-streams-
    one-checkpoint misconfiguration — is quarantined too, with the
    collision surfaced at error level rather than silently erased."""
    from mirabelle_spark.streaming import StreamHandler

    root = os.path.join(tmpdir, "qroot")
    handler = StreamHandler(spark, root, lambda sp, n, c: None)

    # case 1: classic uncommitted batch 0 (offsets/0 + empty commits)
    ckpt = os.path.join(root, "s1")
    os.makedirs(os.path.join(ckpt, "offsets"))
    os.makedirs(os.path.join(ckpt, "commits"))
    with open(os.path.join(ckpt, "offsets", "0"), "w") as f:
        f.write("v1\n{}")
    assert handler._reconcile_checkpoint("s1") is True
    assert not os.path.exists(ckpt)
    quars = [d for d in os.listdir(root) if d.startswith("s1.quarantine.")]
    assert len(quars) == 1
    assert os.path.exists(os.path.join(root, quars[0], "offsets", "0"))

    # case 2: offsets for batch 3 with zero commits — NOT our debris;
    # still quarantined (preserved), never rmtree'd
    ckpt2 = os.path.join(root, "s2")
    os.makedirs(os.path.join(ckpt2, "offsets"))
    with open(os.path.join(ckpt2, "offsets", "3"), "w") as f:
        f.write("v1\n{}")
    assert handler._reconcile_checkpoint("s2") is True
    quars2 = [d for d in os.listdir(root) if d.startswith("s2.quarantine.")]
    assert len(quars2) == 1
    assert os.path.exists(os.path.join(root, quars2[0], "offsets", "3"))

    # case 3: a committed checkpoint is untouched
    ckpt3 = os.path.join(root, "s3")
    os.makedirs(os.path.join(ckpt3, "offsets"))
    os.makedirs(os.path.join(ckpt3, "commits"))
    for sub in ("offsets", "commits"):
        with open(os.path.join(ckpt3, sub, "0"), "w") as f:
            f.write("v1\n{}")
    assert handler._reconcile_checkpoint("s3") is False
    assert os.path.exists(os.path.join(ckpt3, "commits", "0"))


def test_lifecycle_stop_surfaces_timeout(spark, tmpdir):
    """_stop must surface an awaitTermination timeout as
    terminated=False instead of dropping the bool, and stop_all must
    propagate per-stream stop info so the soak can assert clean
    stops."""
    from mirabelle_spark.streaming import StreamHandler

    handler = StreamHandler(
        spark, os.path.join(tmpdir, "st_ckpt"), lambda *a: None
    )

    class StuckQuery:
        isActive = True

        def stop(self):
            pass

        def awaitTermination(self, timeout=None):
            return False

        def exception(self):
            return None

    handler.queries["stuck"] = StuckQuery()
    info = handler.stop_all()
    assert info["stuck"]["stopped"] is True
    assert info["stuck"]["terminated"] is False
    assert info["stuck"]["reconciled"] is False
    # idempotent: a second stop of a gone stream reports stopped=False
    assert handler._stop("stuck")["stopped"] is False


def test_http_api_full_lifecycle(spark, tmpdir):
    """handler.clj:117-135 route table over a live StreamHandler:
    add (with and without persist) → list → get → push events →
    results flow → remove deletes the persisted file; an untouched
    stream's running query survives a POST to a different name."""
    import urllib.request

    from mirabelle_spark import streaming as stx
    from mirabelle_spark.streaming import StreamApi, StreamHandler, config_to_b64

    ckpt = os.path.join(tmpdir, "api_ckpt")
    ingest = os.path.join(tmpdir, "api_in")
    streams_dir = os.path.join(tmpdir, "api_streams")
    schema = "time timestamp, metric double, host string"

    def compile_fn(sp, name, config):
        src = stx.file_source(sp, handler.ingest_dir(name), schema)
        return (
            src.filter(F.col("metric") > config["threshold"])
            .groupBy("host")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    handler = StreamHandler(
        spark, ckpt, compile_fn, output_mode="complete",
        streams_dir=streams_dir, ingest_root=ingest,
    )
    api = StreamApi(handler).start()
    base = f"http://127.0.0.1:{api.port}"

    def call(method, path, body=None):
        data = json.dumps(body).encode() if body is not None else None
        req = urllib.request.Request(base + path, data=data, method=method)
        try:
            with urllib.request.urlopen(req) as resp:
                return resp.status, json.loads(resp.read())
        except urllib.error.HTTPError as e:
            return e.code, json.loads(e.read())

    try:
        assert call("GET", "/healthz") == (200, {"message": "ok"})
        assert call("GET", "/api/v1/stream")[1] == {"streams": []}

        st, body = call("POST", "/api/v1/stream/s1",
                        {"config": config_to_b64({"threshold": 0})})
        assert (st, body["message"]) == (200, "stream added")
        st, _ = call("POST", "/api/v1/stream/s2",
                     {"config": config_to_b64({"threshold": 100}),
                      "persist": True})
        assert st == 200
        assert os.path.exists(os.path.join(streams_dir, "api-s2.json"))
        assert call("GET", "/api/v1/stream")[1] == {"streams": ["s1", "s2"]}

        # get-stream round-trips the config via base64
        from mirabelle_spark.streaming import config_from_b64
        st, body = call("GET", "/api/v1/stream/s2")
        assert st == 200 and config_from_b64(body["config"]) == {"threshold": 100}
        assert call("GET", "/api/v1/stream/nope")[0] == 404

        s1_query_id = handler.get_stream("s1").id
        st, body = call("PUT", "/api/v1/stream/s1", {"events": [
            {"time": "2024-01-01T00:00:01", "metric": 50.0, "host": "a"},
            {"time": "2024-01-01T00:00:02", "metric": 150.0, "host": "a"},
        ]})
        assert (st, body["events"]) == (200, 2)
        call("PUT", "/api/v1/stream/s2", {"events": [
            {"time": "2024-01-01T00:00:03", "metric": 150.0, "host": "b"},
        ]})
        assert call("PUT", "/api/v1/stream/ghost", {"events": []})[0] == 404
        handler.process_all()
        assert spark.sql("select n from s1").collect()[0].n == 2
        assert spark.sql("select n from s2").collect()[0].n == 1
        # adding s2 never restarted s1 (untouched stream keeps its query)
        assert handler.get_stream("s1").id == s1_query_id

        st, body = call("DELETE", "/api/v1/stream/s2")
        assert (st, body["message"]) == (200, "stream removed")
        assert not os.path.exists(os.path.join(streams_dir, "api-s2.json"))
        assert call("GET", "/api/v1/stream")[1] == {"streams": ["s1"]}
    finally:
        api.stop()
        handler.stop_all()


def test_load_persisted_restores_streams(spark, tmpdir):
    """Boot-time restore: a handler pointed at a streams_dir with
    persisted configs starts them on load_persisted() (the reference
    reads streams-directories on start)."""
    from mirabelle_spark import streaming as stx
    from mirabelle_spark.streaming import StreamHandler

    streams_dir = os.path.join(tmpdir, "pers_streams")
    ingest = os.path.join(tmpdir, "pers_in")
    os.makedirs(streams_dir)

    with open(os.path.join(streams_dir, "api-p1.json"), "w") as f:
        json.dump({"p1": {"threshold": 1, "output_mode": "complete"}}, f)

    def compile_fn(sp, name, config):
        src = stx.file_source(sp, h2.ingest_dir(name),
                              "time timestamp, metric double, host string")
        return src.groupBy("host").agg(F.count(F.lit(1)).alias("n"))

    h2 = StreamHandler(
        spark, os.path.join(tmpdir, "pers_ckpt"), compile_fn,
        output_mode="complete", streams_dir=streams_dir, ingest_root=ingest,
    )
    diff = h2.load_persisted()
    assert diff["to_add"] == {"p1"} and diff["failed"] == {}
    assert h2.list_streams() == ["p1"]
    h2.stop_all()


def test_stream_ssort_parity(spark, tmpdir):
    """ssort streaming twin == batch twin over the same finite input
    (sorted re-emission per sealed bucket)."""
    from mirabelle_spark import streaming as stx
    from mirabelle_spark.operators import windows as win

    src_dir = os.path.join(tmpdir, "sso")
    rows = [
        {"time": "2024-01-01T00:00:01", "metric": 3.0, "host": "a"},
        {"time": "2024-01-01T00:00:02", "metric": 1.0, "host": "a"},
        {"time": "2024-01-01T00:00:03", "metric": 2.0, "host": "a"},
        {"time": "2024-01-01T00:01:05", "metric": 9.0, "host": "a"},
    ]
    _write_rows(src_dir, rows)
    schema = "time timestamp, metric double, host string"
    stream = stx.file_source(spark, src_dir, schema)
    out = win.ssort(
        _wm(stream), 60.0, "metric", by=["host"], payload_cols=["metric"]
    )
    q = stx.to_memory(out, "sso_test", output_mode="complete")
    q.awaitTermination(60)
    got = [
        (r.host, r.window_start, r.seq, r.metric)
        for r in spark.sql(
            "select * from sso_test order by window_start, seq"
        ).collect()
    ]
    from datetime import datetime

    batch_df = spark.createDataFrame(
        [(datetime.fromisoformat(r["time"]), r["metric"], r["host"]) for r in rows],
        schema,
    )
    expect = [
        (r.host, r.window_start, r.seq, r.metric)
        for r in win.ssort(
            batch_df, 60.0, "metric", by=["host"], payload_cols=["metric"]
        ).orderBy("window_start", "seq").collect()
    ]
    assert got == expect
    assert [g[3] for g in got] == [1.0, 2.0, 3.0, 9.0]


def test_stream_stable_parity(spark, tmpdir):
    """stable streaming twin: value-run buffer confirms across
    micro-batch boundaries; unconfirmed runs (flaps) never emit —
    same rows as the batch twin over the full input."""
    from mirabelle_spark import streaming as stx
    from mirabelle_spark.operators import stateful as stf

    src_dir = os.path.join(tmpdir, "stb")
    schema = "time timestamp, state string, host string"
    batch1 = [
        {"time": "2024-01-01T00:00:00", "state": "ok", "host": "a"},
        {"time": "2024-01-01T00:00:01", "state": "ok", "host": "a"},
        {"time": "2024-01-01T00:00:02", "state": "crit", "host": "a"},
    ]
    batch2 = [
        {"time": "2024-01-01T00:00:05", "state": "crit", "host": "a"},
        {"time": "2024-01-01T00:00:06", "state": "ok", "host": "a"},
    ]
    _write_rows(src_dir, batch1)
    stream = stx.file_source(spark, src_dir, schema)
    out = stx.stream_stable(stream, 2.0, "state", by=["host"])
    q = stx.to_memory(out, "stb_test", trigger_available_now=False)
    q.processAllAvailable()
    with open(os.path.join(src_dir, "p2.json"), "w") as f:
        for r in batch2:
            f.write(json.dumps(r) + "\n")
    q.processAllAvailable()
    q.stop()
    got = sorted(
        (r.state, r.time.isoformat())
        for r in spark.sql("select * from stb_test").collect()
    )
    # crit run: flip=2, confirmed by t=5 > 2+2 → crit@2 (buffered in
    # batch 1, flushed in batch 2) + crit@5. Both ok runs flap out.
    assert got == [
        ("crit", "2024-01-01T00:00:02"),
        ("crit", "2024-01-01T00:00:05"),
    ]
    # batch twin agreement over the same finite input
    rows = batch1 + batch2
    from datetime import datetime

    batch_df = spark.createDataFrame(
        [(datetime.fromisoformat(r["time"]), r["state"], r["host"]) for r in rows],
        schema,
    )
    expect = sorted(
        (r.state, r.time.isoformat())
        for r in stf.stable(batch_df, 2.0, "state", by=["host"]).collect()
    )
    assert got == expect


def _feed_batches(spark, tmpdir, name, batches, stream_fn):
    """Drive a keyed-state stream with controlled micro-batches: one
    availableNow run per batch against a SHARED checkpoint — state
    restores from the checkpoint between runs, which both sequences
    the batches deterministically and re-proves state recovery.
    (processAllAvailable never quiesces under processing-time
    timeouts: the engine keeps scheduling timeout-check batches.)
    Returns every output row collected across the runs."""
    src_dir = os.path.join(tmpdir, name)
    ckpt = os.path.join(tmpdir, name + "_ck")
    out_dir = os.path.join(tmpdir, name + "_out")
    os.makedirs(src_dir)
    schema = "time timestamp, metric double, host string"
    out_schema = None
    for i, batch in enumerate(batches):
        with open(os.path.join(src_dir, f"b{i}.json"), "w") as f:
            for r in batch:
                f.write(json.dumps(r) + "\n")
        stream = spark.readStream.format("json").schema(schema).load(src_dir)
        out = stream_fn(stream)
        out_schema = out.schema
        q = (
            out.writeStream.format("json")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    try:
        return spark.read.schema(out_schema).json(out_dir).collect()
    except Exception:
        return []


def _ev(t, m):
    from datetime import datetime, timezone

    iso = datetime.fromtimestamp(t, tz=timezone.utc).strftime("%Y-%m-%dT%H:%M:%S")
    return {"time": iso, "metric": float(m), "host": "foo"}


def _windows(rows):
    return [
        [(e.metric, e.time.timestamp()) for e in r.events]
        for r in sorted(rows, key=lambda r: r.window_start)
    ]


def test_stream_fixed_event_window_fork_ttl(spark, tmpdir):
    """stream_test.clj:331-377 ('no expiration' + 'expiration'):
    :fork-ttl 10 evicts a stale partial buffer when the key's
    event-time gap exceeds the ttl; windows restart from the
    newcomer. State crosses micro-batch boundaries."""
    from mirabelle_spark import streaming as stx

    # no expiration: gaps never exceed ttl; 5th event stays buffered
    rows = _feed_batches(
        spark, tmpdir, "few1",
        [[_ev(1, 1), _ev(4, 2), _ev(10, 3)], [_ev(15, 4), _ev(21, 5)]],
        lambda s: stx.stream_fixed_event_window(s, 2, by=["host"], fork_ttl_s=10),
    )
    assert _windows(rows) == [
        [(1.0, 1.0), (2.0, 4.0)], [(3.0, 10.0), (4.0, 15.0)],
    ]

    # expiration: gaps 1→15, 32→50, 50→89, 89→110 all exceed ttl 10
    rows = _feed_batches(
        spark, tmpdir, "few2",
        [[_ev(1, 1)], [_ev(15, 4), _ev(21, 5), _ev(23, 5), _ev(31, 5), _ev(32, 5)],
         [_ev(50, 5), _ev(89, 5)], [_ev(110, 5), _ev(111, 5)]],
        lambda s: stx.stream_fixed_event_window(s, 2, by=["host"], fork_ttl_s=10),
    )
    assert _windows(rows) == [
        [(4.0, 15.0), (5.0, 21.0)],
        [(5.0, 23.0), (5.0, 31.0)],
        [(5.0, 110.0), (5.0, 111.0)],
    ]


def test_stream_fixed_event_window_fork_ttl_out_of_order(spark, tmpdir):
    """stream_test.clj:378-408: per-event micro-batches reproduce the
    reference's arrival order; out-of-order events join the buffer
    (negative gaps never evict) and windows pair them as they came."""
    from mirabelle_spark import streaming as stx

    arrivals = [(1, 1), (15, 4), (13, 5), (23, 5), (31, 5), (10, 5),
                (11, 5), (50, 5), (89, 5), (110, 5), (10, 5)]
    rows = _feed_batches(
        spark, tmpdir, "fewo",
        [[_ev(t, m)] for t, m in arrivals],
        lambda s: stx.stream_fixed_event_window(s, 2, by=["host"], fork_ttl_s=10),
    )
    got = sorted([[(e.metric, e.time.timestamp()) for e in r.events] for r in rows])
    assert got == sorted([
        [(4.0, 15.0), (5.0, 13.0)],
        [(5.0, 23.0), (5.0, 31.0)],
        [(5.0, 10.0), (5.0, 11.0)],
        [(5.0, 110.0), (5.0, 10.0)],
    ])


def test_stream_moving_event_window_parity(spark, tmpdir):
    """moving-event-window streaming twin == batch twin: trailing-n
    buffer carried across micro-batches per key."""
    from mirabelle_spark import streaming as stx

    rows = _feed_batches(
        spark, tmpdir, "mew",
        [[_ev(1, 1), _ev(2, 2)], [_ev(3, 3)]],
        lambda s: stx.stream_moving_event_window(s, 2, by=["host"]),
    )
    got = sorted(
        (r.metric, tuple(e.metric for e in r.events)) for r in rows
    )
    # action.clj:1219-1246 semantics: window grows to n then slides
    assert got == [(1.0, (1.0,)), (2.0, (1.0, 2.0)), (3.0, (2.0, 3.0))]


def test_stream_smin_ddt_parity(spark, tmpdir):
    """smin and ddt streaming twins match their batch twins over the
    same finite input (state crosses micro-batches)."""
    from datetime import datetime

    from mirabelle_spark import streaming as stx
    from mirabelle_spark.operators import stateful as stf

    batches = [[_ev(1, 5), _ev(2, 8)], [_ev(4, 2), _ev(10, 4)]]
    flat = [r for b in batches for r in b]
    schema = "time timestamp, metric double, host string"
    batch_df = spark.createDataFrame(
        [(datetime.fromisoformat(r["time"]), r["metric"], r["host"]) for r in flat],
        schema,
    )

    rows = _feed_batches(spark, tmpdir, "smin",
                         batches, lambda s: stx.stream_smin(s, by=["host"]))
    got = sorted((r.time.timestamp(), r.metric) for r in rows)
    expect = sorted(
        (r.time.timestamp(), r.metric)
        for r in stf.smin(batch_df, by=["host"]).collect()
    )
    # smin re-emits the stored BEST EVENT (original time), per the
    # reference: (5@1), then best-still-5@1, then (2@4) twice
    assert got == expect == [(1.0, 5.0), (1.0, 5.0), (4.0, 2.0), (4.0, 2.0)]

    rows = _feed_batches(spark, tmpdir, "ddt",
                         batches, lambda s: stx.stream_ddt(s, by=["host"]))
    got = sorted((r.time.timestamp(), r.metric) for r in rows)
    expect = sorted(
        (r.time.timestamp(), r.metric)
        for r in stf.ddt(batch_df, by=["host"]).collect()
    )
    # d/dt: (8-5)/1=3, (2-8)/2=-3, (4-2)/6=1/3
    assert got == expect == [(2.0, 3.0), (4.0, -3.0), (10.0, 1.0 / 3.0)]


def test_streaming_dsl_compile_parity(spark, tmpdir):
    """The SAME JSON tree compiles against a streaming source
    (Ctx(streaming=True)): stateless actions pass through, stateful
    ones dispatch to the keyed-state twins. where → by(host) →
    throttle, asserted equal to the batch compile of the same tree
    over the same input."""
    from datetime import datetime

    from mirabelle_spark.plans.builder import Ctx, compile_stream

    tree = {
        "action": "where", "params": [[":>", "metric", 0]],
        "children": [{
            "action": "by", "params": [{"fields": ["host"]}],
            "children": [{
                "action": "throttle", "params": [{"count": 1, "duration": 5}],
                "children": [{"action": "tap", "params": ["out"]}],
            }],
        }],
    }
    rows = [
        {"time": "2024-01-01T00:00:00", "metric": 1.0, "host": "a"},
        {"time": "2024-01-01T00:00:01", "metric": 2.0, "host": "a"},
        {"time": "2024-01-01T00:00:06", "metric": 3.0, "host": "a"},
        {"time": "2024-01-01T00:00:02", "metric": -5.0, "host": "b"},  # filtered
        {"time": "2024-01-01T00:00:03", "metric": 4.0, "host": "b"},
    ]
    src_dir = os.path.join(tmpdir, "dsl_in")
    _write_rows(src_dir, rows)
    schema = "time timestamp, metric double, host string"

    stream = spark.readStream.format("json").schema(schema).load(src_dir)
    ctx = compile_stream(stream, tree, Ctx(streaming=True, test_mode=True))
    assert ctx.taps["out"].isStreaming
    q = (
        ctx.taps["out"].writeStream.format("memory").queryName("dsl_stream_t")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r.host, r.time.timestamp(), r.metric)
        for r in spark.sql("select * from dsl_stream_t").collect()
    )

    batch_df = spark.createDataFrame(
        [(datetime.fromisoformat(r["time"]), r["metric"], r["host"]) for r in rows],
        schema,
    )
    bctx = compile_stream(batch_df, tree, Ctx(order_cols=(), test_mode=True))
    expect = sorted(
        (r.host, r.time.timestamp(), r.metric) for r in bctx.taps["out"].collect()
    )
    assert got == expect
    assert [m for _, _, m in got] == [1.0, 3.0, 4.0]


def test_streaming_dsl_windowed_agg(spark, tmpdir):
    """by → sum through the streaming compile: watermarked tumbling
    aggregate, sealed windows emitted in append mode."""
    from mirabelle_spark.plans.builder import Ctx, compile_stream

    tree = {
        "action": "by", "params": [{"fields": ["host"]}],
        "children": [{
            "action": "sum", "params": [{"duration": 60}],
            "children": [{"action": "tap", "params": ["sums"]}],
        }],
    }
    rows = [
        {"time": "2024-01-01T00:00:01", "metric": 1.0, "host": "a"},
        {"time": "2024-01-01T00:00:30", "metric": 2.0, "host": "a"},
        {"time": "2024-01-01T00:01:10", "metric": 10.0, "host": "b"},
    ]
    src_dir = os.path.join(tmpdir, "dslw_in")
    _write_rows(src_dir, rows)
    schema = "time timestamp, metric double, host string"
    stream = spark.readStream.format("json").schema(schema).load(src_dir)
    ctx = compile_stream(stream, tree, Ctx(streaming=True, test_mode=True))
    q = (
        ctx.taps["sums"].writeStream.format("memory").queryName("dslw_t")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {
        (r.host, r.window_start): r.metric
        for r in spark.sql("select * from dslw_t").collect()
    }
    base = 1704067200.0
    assert got == {("a", base): 3.0, ("b", base + 60): 10.0}


def test_streaming_dsl_windowed_actions_equal_batch(spark, tmp_path):
    """Every windowed action compiles to the same rows both ways: the
    streaming compile runs the batch operator on the watermarked
    stream. The second micro-batch holds one far-future event that
    moves the watermark past every data window, so append mode seals
    them all (the event's own window stays open); the batch compile
    reads the data rows only. Covers the cases that used to differ:
    coll-rate (sum ÷ time span), fractional durations and coll-sort's
    ``events`` column."""
    from pyspark.sql import functions as F

    from mirabelle_spark.plans.builder import Ctx, compile_stream

    base = 1_704_067_200.0  # 2024-01-01T00:00:00 UTC
    far = 100_000.0
    rows = [
        ("a", 0.0, 4.0, "ok"), ("a", 1.0, 10.0, "error"), ("a", 2.0, 2.0, "ok"),
        ("a", 4.0, 8.0, "error"), ("a", 7.0, 16.0, "ok"), ("a", 9.0, 5.0, "ok"),
        ("b", 0.5, 3.0, "ok"), ("b", 3.5, 6.0, "error"), ("b", 5.5, None, "ok"),
        ("b", 12.0, 1.0, "ok"), ("b", 70.0, 2.0, "ok"), ("z", far, 1.0, "ok"),
    ]  # b's [5, 10) window holds one null metric: no percentile rank
    df = spark.createDataFrame(
        [(h, base + t, m, st) for h, t, m, st in rows],
        "host string, t double, metric double, state string",
    ).select(
        F.timestamp_micros((F.col("t") * 1e6).cast("long")).alias("time"),
        "metric", "host", "state",
    )
    conds = [[":=", "state", "error"], [":=", "state", "ok"]]
    table = {
        "w_sum": ("sum", [{"duration": 1.5, "delay": 2}]),
        "w_mean": ("mean", [{"duration": 5}]),
        "w_rate": ("rate", [{"duration": 5}]),
        "w_top": ("top", [{"duration": 5}]),
        "w_bottom": ("bottom", [{"duration": 5}]),
        "w_ratio": ("ratio", [conds, {"duration": 5}]),
        "w_pct": ("percentiles", [{"duration": 5, "quantiles": [0, 0.5, 1]}]),
        "w_ccount": ("coll-count", [{"duration": 5}]),
        "w_csum": ("coll-sum", [{"duration": 5}]),
        "w_cmean": ("coll-mean", [{"duration": 5}]),
        "w_cmax": ("coll-max", [{"duration": 5}]),
        "w_cmin": ("coll-min", [{"duration": 5}]),
        "w_crate": ("coll-rate", [{"duration": 5}]),
        "w_cpct": ("coll-percentiles", [{"duration": 5, "quantiles": [0.5]}]),
        "w_cquot": ("coll-quotient", [{"duration": 5}]),
        "w_cincr": ("coll-increase", [{"duration": 5}]),
        "w_csort": ("coll-sort", ["metric"]),
        "w_ftw": ("fixed-time-window", [{"duration": 1.5}]),
        "w_ssort": ("ssort", [{"duration": 5, "field": "metric"}]),
        "w_proj": ("project", [conds, {"duration": 5}]),
        "w_sess": ("sessionize", [{"gap": 3}]),
    }
    unkeyed = {"w_rate", "w_ccount", "w_cpct", "w_ftw"}

    def tree(name):
        node = {
            "action": table[name][0], "params": table[name][1],
            "children": [{"action": "tap", "params": ["out"]}],
        }
        if name in unkeyed:
            return node
        return {"action": "by", "params": [{"fields": ["host"]}], "children": [node]}

    def compiled(src, name, streaming):
        ctx = Ctx(streaming=streaming, test_mode=True)
        return compile_stream(src, tree(name), ctx).taps["out"]

    got = _two_batch_runs(
        spark, tmp_path, df, f"time < timestamp_seconds({base + far})", "wdsl",
        {name: lambda s, n=name: compiled(s, n, True) for name in table},
    )
    data = df.where(F.col("host") != "z")
    for name in table:
        exp = compiled(data, name, False)
        assert spark.table(name).columns == exp.columns, name
        assert sorted(map(repr, got[name])) == sorted(
            map(repr, exp.collect())
        ), name
        assert got[name], name


def test_streaming_dsl_refuses_unkeyed_state_and_unsupported(spark, tmpdir):
    from mirabelle_spark.plans.builder import Ctx, compile_stream

    src_dir = os.path.join(tmpdir, "ref_in")
    _write_rows(src_dir, [{"time": "2024-01-01T00:00:00", "metric": 1.0, "host": "a"}])
    schema = "time timestamp, metric double, host string"
    stream = spark.readStream.format("json").schema(schema).load(src_dir)

    with pytest.raises(ValueError, match="needs `by` keys"):
        compile_stream(
            stream,
            {"action": "throttle", "params": [{"count": 1, "duration": 5}]},
            Ctx(streaming=True, test_mode=True),
        )
    with pytest.raises(ValueError, match="needs `by` keys"):
        compile_stream(
            stream,
            {"action": "moving-time-window", "params": [{"duration": 5}]},
            Ctx(streaming=True, test_mode=True),
        )


def test_streaming_dsl_aggregation_delay(spark, tmpdir):
    """aggregation {:aggr-fn mean :delay 5} through the streaming
    compile: the watermark carries the :delay late-drop rule."""
    from mirabelle_spark.plans.builder import Ctx, compile_stream

    tree = {
        "action": "by", "params": [{"fields": ["host"]}],
        "children": [{
            "action": "aggregation",
            "params": [{"duration": 60, "delay": 5, "aggr-fn": "mean"}],
            "children": [{"action": "tap", "params": ["out"]}],
        }],
    }
    src_dir = os.path.join(tmpdir, "aggd_in")
    _write_rows(src_dir, [
        {"time": "2024-01-01T00:00:01", "metric": 1.0, "host": "a"},
        {"time": "2024-01-01T00:00:02", "metric": 3.0, "host": "a"},
    ])
    schema = "time timestamp, metric double, host string"
    stream = spark.readStream.format("json").schema(schema).load(src_dir)
    ctx = compile_stream(stream, tree, Ctx(streaming=True, test_mode=True))
    q = (
        ctx.taps["out"].writeStream.format("memory").queryName("aggd_t")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from aggd_t").collect()
    assert [(r.host, r.metric) for r in rows] == [("a", 2.0)]


def test_stream_coalesce_reference_cases(spark, tmpdir):
    """action_test.clj coalesce*-test ported against the STREAMING
    twin (the batch twin's tick-explosion shape differs by design):
    event-clock ticks every `duration`, latest event per fields
    tuple, ttl expiry at flush. Case 1 includes an out-of-order
    event, so it feeds per-event micro-batches like the reference's
    arrival order."""
    import itertools

    from mirabelle_spark import streaming as stx

    schema = "time timestamp, metric double, host string, service string, ttl double"

    def run(name, arrivals, per_event):
        src_dir = os.path.join(tmpdir, name)
        ckpt = os.path.join(tmpdir, name + "_ck")
        out_dir = os.path.join(tmpdir, name + "_out")
        os.makedirs(src_dir)
        batches = [[e] for e in arrivals] if per_event else [arrivals]
        out_schema = None
        for i, batch in enumerate(batches):
            with open(os.path.join(src_dir, f"b{i}.json"), "w") as f:
                for (t, h, svc, ttl) in batch:
                    f.write(json.dumps({
                        "time": _ev(t, 1)["time"], "metric": 1.0,
                        "host": h, "service": svc, "ttl": ttl,
                    }) + "\n")
            stream = spark.readStream.format("json").schema(schema).load(src_dir)
            out = stx.stream_coalesce(
                stream, 5.0, ["host", "service"], by=[], time_col="time"
            )
            out_schema = out.schema
            q = (
                out.writeStream.format("json").option("path", out_dir)
                .option("checkpointLocation", ckpt)
                .outputMode("append").trigger(availableNow=True).start()
            )
            q.awaitTermination(120)
        try:
            rows = spark.read.schema(out_schema).json(out_dir).collect()
        except Exception:
            rows = []
        return sorted((r.host, r.service, r.time.timestamp()) for r in rows)

    # case 1 (out-of-order; 3 flushes)
    got = run("co1", [
        (0, "1", "foo", 10.0), (5, "1", "bar", 10.0), (5, "2", "foo", 10.0),
        (11, "2", "foo", 10.0), (14, "2", "foo", 10.0), (12, "2", "foo", 10.0),
        (16, "3", "foo", 10.0),
    ], per_event=True)
    assert got == sorted([
        ("1", "foo", 0.0), ("1", "bar", 5.0),          # flush @5
        ("2", "foo", 11.0), ("1", "bar", 5.0),         # flush @11 (host 1 foo expired)
        ("2", "foo", 14.0), ("3", "foo", 16.0),        # flush @16 (1-bar expired)
    ])

    # case 2: one flush
    got = run("co2", [(0, "1", "foo", 10.0), (5, "1", "bar", 10.0)],
              per_event=False)
    assert got == sorted([("1", "foo", 0.0), ("1", "bar", 5.0)])

    # case 3: long ttl keeps everything at the @12 flush
    got = run("co3", [(0, "1", "foo", 20.0), (1, "1", "baz", 20.0),
                      (12, "1", "bar", 20.0)], per_event=False)
    assert got == sorted([("1", "foo", 0.0), ("1", "baz", 1.0),
                          ("1", "bar", 12.0)])


def test_stream_windowed_agg_twins_parity(spark, tmpdir):
    """top/bottom/percentiles/coll-quotient/coll-increase/ratio run
    on a watermarked stream, and the coll-topk streaming twin, match
    the batch operators over the same finite input (complete mode,
    sealed tumbling windows)."""
    from datetime import datetime

    from mirabelle_spark import streaming as stx
    from mirabelle_spark.operators import aggregations as agg

    rows = [
        {"time": "2024-01-01T00:00:01", "metric": 4.0, "host": "a", "state": "ok"},
        {"time": "2024-01-01T00:00:02", "metric": 10.0, "host": "a", "state": "error"},
        {"time": "2024-01-01T00:00:03", "metric": 2.0, "host": "a", "state": "ok"},
        {"time": "2024-01-01T00:01:10", "metric": 8.0, "host": "a", "state": "error"},
        {"time": "2024-01-01T00:01:20", "metric": 16.0, "host": "a", "state": "ok"},
    ]
    src_dir = os.path.join(tmpdir, "wagg_in")
    _write_rows(src_dir, rows)
    schema = "time timestamp, metric double, host string, state string"
    batch_df = spark.createDataFrame(
        [
            (datetime.fromisoformat(r["time"]), r["metric"], r["host"], r["state"])
            for r in rows
        ],
        schema,
    )

    def stream_rows(name, fn, output_mode="complete"):
        stream = spark.readStream.format("json").schema(schema).load(src_dir)
        q = (
            fn(stream).writeStream.format("memory").queryName(name)
            .outputMode(output_mode).trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        return spark.sql(f"select * from {name}").collect()

    def canon(rows_):
        return sorted(
            tuple(None if v is None else v for v in r) for r in rows_
        )

    cases = [
        ("w_top",
         lambda s: agg.agg_top(_wm(s), 60.0, by=["host"]),
         lambda d: agg.agg_top(d, 60.0, by=["host"])),
        ("w_bottom",
         lambda s: agg.agg_bottom(_wm(s), 60.0, by=["host"]),
         lambda d: agg.agg_bottom(d, 60.0, by=["host"])),
        ("w_pct",
         lambda s: agg.agg_percentiles(_wm(s), [0, 0.5, 1], 60.0, by=["host"]),
         lambda d: agg.agg_percentiles(d, [0, 0.5, 1], 60.0, by=["host"])),
        ("w_quot",
         lambda s: agg.coll_quotient(_wm(s), 60.0, by=["host"]),
         lambda d: agg.coll_quotient(d, 60.0, by=["host"])),
        ("w_incr",
         lambda s: agg.coll_increase(_wm(s), 60.0, by=["host"]),
         lambda d: agg.coll_increase(d, 60.0, by=["host"])),
        ("w_ratio",
         lambda s: agg.agg_ratio(
             _wm(s), [":=", "state", "error"], [":true"], 60.0, by=["host"]),
         lambda d: agg.agg_ratio(
             d, [":=", "state", "error"], [":true"], 60.0, by=["host"])),
        ("w_top2",
         lambda s: stx.stream_coll_topk(s, 2, 60.0, by=["host"]),
         lambda d: agg.coll_top(d, 2, 60.0, by=["host"])),
    ]
    for name, sfn, bfn in cases:
        got = canon(
            (tuple(r.asDict().items()) for r in stream_rows(name, sfn))
        )
        exp_rows = bfn(batch_df).collect()
        exp = canon((tuple(r.asDict().items()) for r in exp_rows))
        # column order can differ between realizations; compare as
        # sorted (column, value) sets per row
        got = sorted(tuple(sorted((k, v if not hasattr(v, "timestamp") else v.timestamp()) for k, v in r)) for r in got)
        exp = sorted(tuple(sorted((k, v if not hasattr(v, "timestamp") else v.timestamp()) for k, v in r)) for r in exp)
        assert got == exp, f"{name}: {got} != {exp}"


def test_stream_mtw_project_expired_parity(spark, tmpdir):
    """moving-time-window, project and expired/not-expired streaming
    twins match their batch twins over the same finite input."""
    from datetime import datetime

    from mirabelle_spark import streaming as stx
    from mirabelle_spark.operators import filters as flt
    from mirabelle_spark.operators import windows as win

    schema = "time timestamp, metric double, host string"
    batches = [
        [_ev(1, 1), _ev(2, 2)],
        [_ev(4, 3), _ev(61, 4)],
    ]
    flat = [r for b in batches for r in b]
    batch_df = spark.createDataFrame(
        [(datetime.fromisoformat(r["time"]), r["metric"], r["host"]) for r in flat],
        schema,
    )

    # moving-time-window (3s trailing)
    rows = _feed_batches(
        spark, tmpdir, "mtw",
        batches, lambda s: stx.stream_moving_time_window(s, 3.0, by=["host"]),
    )
    got = sorted((r.metric, tuple(e.metric for e in r.events)) for r in rows)
    exp = sorted(
        (r.metric, tuple(e.metric for e in r.events))
        for r in win.moving_time_window(batch_df, 3.0, by=["host"]).collect()
    )
    assert got == exp == [
        (1.0, (1.0,)), (2.0, (1.0, 2.0)), (3.0, (2.0, 3.0)), (4.0, (4.0,))
    ]

    # project: latest metric matching each condition per minute window
    conds = [[":>", "metric", 1], [":<", "metric", 3]]
    stream = spark.readStream.format("json").schema(schema).load(
        os.path.join(tmpdir, "mtw")
    )
    q = (
        win.project(_wm(stream), conds, 60.0)
        .writeStream.format("memory").queryName("proj_t")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r.window_start, r.metric_1, r.metric_2)
        for r in spark.sql("select * from proj_t").collect()
    )
    exp = sorted(
        (r.window_start, r.metric_1, r.metric_2)
        for r in win.project(batch_df, conds, 60.0).collect()
    )
    assert got == exp

    # expired / not-expired: per-key running-max clock, default ttl 120
    # within a micro-batch the scan is event-time ordered (age vs the
    # running max of earlier-TIMED events is 0), so staleness shows
    # across batches: the t=30 event arrives after the clock hit 200
    sched = [
        [{"time": _ev(0, 1)["time"], "metric": 1.0, "host": "a"}],
        [{"time": _ev(200, 2)["time"], "metric": 2.0, "host": "a"}],
        [{"time": _ev(30, 3)["time"], "metric": 3.0, "host": "a"}],
    ]
    rows = _feed_batches(
        spark, tmpdir, "sexp",
        sched, lambda s: stx.stream_expired(s, by=["host"]),
    )
    # clock reaches 200; the metric-3 event (t=30) is 170s stale > 120
    assert sorted(r.metric for r in rows) == [3.0]
    rows = _feed_batches(
        spark, tmpdir, "snexp",
        sched, lambda s: stx.stream_expired(s, by=["host"], keep_expired=False),
    )
    assert sorted(r.metric for r in rows) == [1.0, 2.0]


def test_stream_ftw_delay_reference_case(spark, tmpdir):
    """stream_test.clj:945-965 (fixed-time-window :delay 5): append
    mode + watermark(5) IS the reference's flush rule — a window
    seals once an event arrives ≥ end + delay; the tail window never
    flushes. Per-event batches reproduce the arrival order (the late
    t=14 event lands inside the still-open [10,20) window)."""
    from mirabelle_spark.operators import windows as win

    arrivals = [(0, 10), (7, 1), (19, 1), (14, -10), (20, 2), (23, 4),
                (60, 1), (76, 1)]
    rows = _feed_batches(
        spark, tmpdir, "ftwd",
        [[_ev(t, m)] for t, m in arrivals],
        lambda s: win.fixed_time_window(_wm(s, 5.0), 10.0),
    )
    got = {
        r.window_start: sorted(e.metric for e in r.events) for r in rows
    }
    assert got == {
        0.0: [1.0, 10.0],      # {0,7}
        10.0: [-10.0, 1.0],    # {19,14} — late 14 included
        20.0: [2.0, 4.0],
        60.0: [1.0],
        # [70,80) never flushes (event 76 < 80+5... no later event)
    }


def test_stream_smax_smin_reference_cases(spark, tmpdir):
    """stream_test.clj:967-1001 ported verbatim: the stored best
    EVENT (original time) re-emits per input."""
    from mirabelle_spark import streaming as stx

    rows = _feed_batches(
        spark, tmpdir, "smaxr",
        [[_ev(0, 10)], [_ev(7, 1)], [_ev(11, 20)], [_ev(14, 12)]],
        lambda s: stx.stream_smax(s, by=["host"]),
    )
    assert [(r.time.timestamp(), r.metric) for r in
            sorted(rows, key=lambda r: (r.metric, r.time))] == sorted(
        [(0.0, 10.0), (0.0, 10.0), (11.0, 20.0), (11.0, 20.0)])

    rows = _feed_batches(
        spark, tmpdir, "sminr",
        [[_ev(0, 10)], [_ev(7, 1)], [_ev(11, 20)], [_ev(14, 12)],
         [_ev(12, -1)], [_ev(20, 2)]],
        lambda s: stx.stream_smin(s, by=["host"]),
    )
    assert sorted((r.time.timestamp(), r.metric) for r in rows) == sorted(
        [(0.0, 10.0), (7.0, 1.0), (7.0, 1.0), (7.0, 1.0),
         (12.0, -1.0), (12.0, -1.0)])


def test_stream_rate_reference_case(spark, tmpdir):
    """stream_test.clj:1003-1024 (rate, no delay): count/duration per
    sealed window; the tail window (event 71) never flushes — the
    divergence vs the reference is only the label (window_start
    instead of last-event time), documented in COVERAGE.md."""
    from mirabelle_spark.operators import aggregations as agg

    arrivals = [(0, 10), (7, 1), (11, 3), (19, 1), (14, -10), (20, 2),
                (23, 4), (60, 1), (71, 1)]
    rows = _feed_batches(
        spark, tmpdir, "rater",
        [[_ev(t, m)] for t, m in arrivals],
        lambda s: agg.agg_rate(_wm(s), 10.0),
    )
    got = {r.window_start: r.metric for r in rows}
    assert got == {0.0: 0.2, 10.0: 0.3, 20.0: 0.2, 60.0: 0.1}


def test_http_api_bad_request_and_basic_auth(spark, tmpdir):
    """http.clj:33-56 basic-auth parity + explicit 400s: missing
    'config' on POST and non-object PUT bodies are client errors
    (400), not 404s; with basic_auth configured every route demands
    credentials (401 + WWW-Authenticate) and works with them."""
    import base64 as _b64
    import urllib.request

    from mirabelle_spark import streaming as stx
    from mirabelle_spark.streaming import StreamApi, StreamHandler, config_to_b64

    schema = "time timestamp, metric double, host string"

    def compile_fn(sp, name, config):
        src = stx.file_source(sp, handler.ingest_dir(name), schema)
        return src.groupBy("host").agg(F.count(F.lit(1)).alias("n"))

    handler = StreamHandler(
        spark, os.path.join(tmpdir, "ck"), compile_fn, output_mode="complete",
        streams_dir=os.path.join(tmpdir, "st"),
        ingest_root=os.path.join(tmpdir, "in"),
    )
    api = StreamApi(handler, basic_auth=("admin", "s3cret")).start()
    base = f"http://127.0.0.1:{api.port}"
    good = "Basic " + _b64.b64encode(b"admin:s3cret").decode()

    def call(method, path, body=None, auth=None):
        data = json.dumps(body).encode() if body is not None else None
        req = urllib.request.Request(base + path, data=data, method=method)
        if auth:
            req.add_header("Authorization", auth)
        try:
            with urllib.request.urlopen(req) as resp:
                return resp.status, dict(resp.headers), json.loads(resp.read())
        except urllib.error.HTTPError as e:
            return e.code, dict(e.headers), json.loads(e.read())

    try:
        # no credentials / wrong credentials → 401 before any handler
        st, hdrs, _ = call("GET", "/healthz")
        assert st == 401 and "Basic" in hdrs.get("WWW-Authenticate", "")
        bad = "Basic " + _b64.b64encode(b"admin:wrong").decode()
        assert call("GET", "/api/v1/stream", auth=bad)[0] == 401
        # with credentials the routes work
        assert call("GET", "/healthz", auth=good)[0] == 200
        st, _, body = call("GET", "/api/v1/stream", auth=good)
        assert (st, body) == (200, {"streams": []})
        # client errors are 400, not 404
        assert call("POST", "/api/v1/stream/s1", {"persist": True},
                    auth=good)[0] == 400
        assert call("PUT", "/api/v1/stream/s1", [1, 2], auth=good)[0] == 400
        # stream-not-found stays 404
        assert call("PUT", "/api/v1/stream/ghost", {"events": []},
                    auth=good)[0] == 404
        # and a valid add still succeeds end-to-end under auth
        st, _, body = call("POST", "/api/v1/stream/s1",
                           {"config": config_to_b64({})}, auth=good)
        assert (st, body["message"]) == (200, "stream added")
    finally:
        api.stop()
        handler.stop_all()


def test_riemann_tcp_ingest_end_to_end(spark, tmpdir):
    """transport/tcp.clj:37-64,149-240 parity over a real socket:
    4-byte length-prefixed protobuf Msg frames decode to events,
    route by the per-event 'stream' attribute (default otherwise),
    land in the stream's ingest dir, and flow through the running
    query; every frame is acked with Msg{ok:true}; a garbage frame
    earns Msg{ok:false, error} without killing the connection."""
    import socket
    import struct

    from mirabelle_spark import streaming as stx
    from mirabelle_spark.streaming import RiemannTcpServer, StreamHandler

    def pb_varint(n):
        out = bytearray()
        while True:
            b = n & 0x7F
            n >>= 7
            if n:
                out.append(b | 0x80)
            else:
                out.append(b)
                return bytes(out)

    def pb_key(fnum, wtype):
        return pb_varint((fnum << 3) | wtype)

    def pb_str(fnum, s):
        b = s.encode()
        return pb_key(fnum, 2) + pb_varint(len(b)) + b

    def pb_msgfield(fnum, payload):
        return pb_key(fnum, 2) + pb_varint(len(payload)) + payload

    def event_bytes(service, metric, time_s, stream=None):
        ev = (
            pb_key(1, 0) + pb_varint(time_s)
            + pb_str(3, service)
            + pb_key(13, 0) + pb_varint(metric << 1)  # zigzag(+metric)
        )
        if stream:
            attr = pb_str(1, "stream") + pb_str(2, stream)
            ev += pb_msgfield(9, attr)
        return ev

    schema = "time_s bigint, service string, metric_sint64 bigint"

    def compile_fn(sp, name, config):
        src = stx.file_source(sp, handler.ingest_dir(name), schema)
        return src.groupBy("service").agg(
            F.sum("metric_sint64").alias("total"))

    handler = StreamHandler(
        spark, os.path.join(tmpdir, "tcp_ck"), compile_fn,
        output_mode="complete", ingest_root=os.path.join(tmpdir, "tcp_in"),
    )
    srv = RiemannTcpServer(handler, default_stream="tcpmain").start()
    try:
        handler.add_stream("tcpmain", {})
        handler.add_stream("tcpother", {})
        msg = (
            pb_msgfield(6, event_bytes("api", 5, 1_700_000_000))
            + pb_msgfield(6, event_bytes("api", 7, 1_700_000_001))
            + pb_msgfield(6, event_bytes("db", 3, 1_700_000_002,
                                         stream="tcpother"))
        )
        s = socket.create_connection(("127.0.0.1", srv.port), timeout=10)
        s.sendall(struct.pack(">I", len(msg)) + msg)

        def read_frame(sock):
            head = b""
            while len(head) < 4:
                head += sock.recv(4 - len(head))
            (n,) = struct.unpack(">I", head)
            body = b""
            while len(body) < n:
                body += sock.recv(n - len(body))
            return body

        assert read_frame(s) == b"\x10\x01"  # Msg{ok: true}
        # garbage frame → ok:false + error, connection stays usable
        s.sendall(struct.pack(">I", 3) + b"\xff\xff\xff")
        err = read_frame(s)
        assert err.startswith(b"\x10\x00\x1a")
        s.sendall(struct.pack(">I", len(msg)) + msg)
        assert read_frame(s) == b"\x10\x01"
        s.close()

        handler.process_all()
        got = {r.service: r.total for r in spark.sql(
            "select * from tcpmain").collect()}
        assert got == {"api": 24}  # two frames x (5+7)
        other = {r.service: r.total for r in spark.sql(
            "select * from tcpother").collect()}
        assert other == {"db": 6}
    finally:
        srv.stop()
        handler.stop_all()


# ---------------------------------------------------------------------------
# TLS ingest edge (transport/tcp.clj:110-129,175-186)


class _RecordingHandler:
    """Just enough of StreamHandler for the TCP edge: record pushes."""

    def __init__(self):
        self.pushed = []

    def push_events(self, name, events):
        self.pushed.append((name, events))
        return len(events)


def _make_certs(tmpdir):
    """Self-signed CA + server cert (SAN 127.0.0.1) + client cert."""
    import subprocess

    def run(*args):
        subprocess.run(args, cwd=tmpdir, check=True, capture_output=True)

    san = os.path.join(tmpdir, "san.cnf")
    with open(san, "w") as f:
        f.write("subjectAltName=IP:127.0.0.1,DNS:localhost\n")
    run("openssl", "req", "-x509", "-newkey", "rsa:2048", "-nodes",
        "-keyout", "ca.key", "-out", "ca.crt", "-days", "2",
        "-subj", "/CN=test-ca")
    run("openssl", "req", "-newkey", "rsa:2048", "-nodes",
        "-keyout", "srv.key", "-out", "srv.csr", "-subj", "/CN=localhost")
    run("openssl", "x509", "-req", "-in", "srv.csr", "-CA", "ca.crt",
        "-CAkey", "ca.key", "-CAcreateserial", "-out", "srv.crt",
        "-days", "2", "-extfile", san)
    run("openssl", "req", "-newkey", "rsa:2048", "-nodes",
        "-keyout", "cli.key", "-out", "cli.csr", "-subj", "/CN=test-client")
    run("openssl", "x509", "-req", "-in", "cli.csr", "-CA", "ca.crt",
        "-CAkey", "ca.key", "-out", "cli.crt", "-days", "2")
    return {k: os.path.join(tmpdir, f)
            for k, f in [("ca", "ca.crt"), ("key", "srv.key"),
                         ("cert", "srv.crt"), ("cli_key", "cli.key"),
                         ("cli_cert", "cli.crt")]}


def test_riemann_tcp_tls_mtls(tmpdir):
    """TLS parity with transport/tcp.clj:110-129: when key+cert+cacert
    are configured the edge terminates TLS and demands a client cert
    (setNeedClientAuth true). A certified client round-trips a frame;
    a cert-less TLS client and a plaintext client both fail without
    killing the server; the recording handler sees routed events."""
    import socket
    import ssl as ssl_mod
    import struct

    from mirabelle_spark.streaming.tcp import (
        OK_MSG,
        RiemannTcpServer,
        server_ssl_context,
    )

    certs = _make_certs(tmpdir)
    ctx = server_ssl_context(certs["key"], certs["cert"], certs["ca"])
    handler = _RecordingHandler()
    srv = RiemannTcpServer(handler, ssl_context=ctx).start()
    try:
        cli = ssl_mod.SSLContext(ssl_mod.PROTOCOL_TLS_CLIENT)
        cli.load_verify_locations(certs["ca"])
        cli.load_cert_chain(certs["cli_cert"], certs["cli_key"])

        def read_frame(sock):
            head = b""
            while len(head) < 4:
                head += sock.recv(4 - len(head))
            (n,) = struct.unpack(">I", head)
            body = b""
            while len(body) < n:
                body += sock.recv(n - len(body))
            return body

        raw = socket.create_connection(("127.0.0.1", srv.port), timeout=10)
        s = cli.wrap_socket(raw, server_hostname="localhost")
        s.sendall(struct.pack(">I", 0))  # empty Msg: zero events
        assert read_frame(s) == OK_MSG
        s.close()

        # TLS client WITHOUT a cert: handshake refused (mTLS)
        nocert = ssl_mod.SSLContext(ssl_mod.PROTOCOL_TLS_CLIENT)
        nocert.load_verify_locations(certs["ca"])
        raw = socket.create_connection(("127.0.0.1", srv.port), timeout=10)
        with pytest.raises(ssl_mod.SSLError):
            s2 = nocert.wrap_socket(raw, server_hostname="localhost")
            s2.sendall(struct.pack(">I", 0))
            s2.recv(4)  # server aborts after missing certificate
        raw.close()

        # plaintext client on the TLS port: no ack, connection dies
        p = socket.create_connection(("127.0.0.1", srv.port), timeout=10)
        p.sendall(struct.pack(">I", 0))
        p.settimeout(5)
        try:
            assert p.recv(4) == b""  # server closed on bad ClientHello
        except (ConnectionResetError, TimeoutError):
            pass
        p.close()

        # server is still alive after both failures
        raw = socket.create_connection(("127.0.0.1", srv.port), timeout=10)
        s3 = cli.wrap_socket(raw, server_hostname="localhost")
        s3.sendall(struct.pack(">I", 0))
        assert read_frame(s3) == OK_MSG
        s3.close()
    finally:
        srv.stop()


def test_tcp_error_msg_utf8_safe_truncation():
    """Truncating a long error must not split a multi-byte UTF-8
    sequence — protobuf string fields are required to be valid UTF-8
    and strict clients reject invalid bytes."""
    from mirabelle_spark.streaming.tcp import error_msg

    m = error_msg("é" * 200)  # 2-byte chars: 127 falls mid-char
    assert m[:2] == b"\x10\x00" and m[2:3] == b"\x1a"
    ln = m[3]
    payload = m[4:4 + ln]
    assert len(payload) == ln <= 127
    payload.decode("utf-8")  # must not raise


def test_http_api_auth_non_ascii_header(spark, tmpdir):
    """A non-ASCII Authorization header must earn a clean 401, not a
    TypeError-aborted connection (headers arrive latin-1 decoded;
    hmac.compare_digest on str rejects non-ASCII)."""
    import urllib.error
    import urllib.request

    from mirabelle_spark.streaming import StreamApi, StreamHandler

    def compile_fn(sp, name, config):
        raise AssertionError("no streams in this test")

    handler = StreamHandler(
        spark, os.path.join(tmpdir, "ck"), compile_fn,
        ingest_root=os.path.join(tmpdir, "in"),
    )
    api = StreamApi(handler, basic_auth=("user", "pw")).start()
    try:
        req = urllib.request.Request(
            f"http://127.0.0.1:{api.port}/healthz")
        req.add_header("Authorization", "Basic célèbre")
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(req, timeout=10)
        assert ei.value.code == 401
    finally:
        api.stop()


def test_metrics_endpoint_per_stream_timers(spark, tmpdir):
    """stream.clj:242,264-272 + production/_index.md §Metrics parity:
    a StreamingQueryListener collects per-stream micro-batch timer
    quantiles and row counts; StreamApi serves them as Prometheus
    text on GET /metrics, including http_responses_total counters."""
    import time
    import urllib.request

    from mirabelle_spark import streaming as stx
    from mirabelle_spark.streaming import (
        StreamApi,
        StreamHandler,
        StreamMetricsListener,
    )

    schema = "time timestamp, metric double, host string"

    def compile_fn(sp, name, config):
        src = stx.file_source(sp, handler.ingest_dir(name), schema)
        return src.groupBy("host").agg(F.sum("metric").alias("total"))

    handler = StreamHandler(
        spark, os.path.join(tmpdir, "m_ck"), compile_fn,
        output_mode="complete", ingest_root=os.path.join(tmpdir, "m_in"),
    )
    listener = StreamMetricsListener()
    spark.streams.addListener(listener)
    api = StreamApi(handler, metrics=listener).start()
    base = f"http://127.0.0.1:{api.port}"
    try:
        handler.add_stream("obs", {})
        handler.push_events("obs", [
            {"time": "2024-01-01T00:00:01", "metric": 1.0, "host": "a"},
            {"time": "2024-01-01T00:00:02", "metric": 2.0, "host": "a"},
        ])
        handler.process_all()

        # listener events are delivered asynchronously on the bus
        deadline = time.time() + 30
        while time.time() < deadline:
            snap = listener.snapshot().get("obs")
            if snap and snap["count"] >= 1 and snap["rows"] >= 2:
                break
            time.sleep(0.2)
        snap = listener.snapshot().get("obs")
        assert snap and snap["count"] >= 1, "no progress events captured"
        assert snap["rows"] >= 2
        assert snap["sum_s"] > 0

        with urllib.request.urlopen(base + "/metrics", timeout=10) as resp:
            assert resp.status == 200
            assert resp.headers["Content-Type"].startswith("text/plain")
            body = resp.read().decode()
        assert 'stream_duration_seconds{name="obs",quantile="0.5"}' in body
        assert 'stream_duration_seconds_count{name="obs"}' in body
        assert 'stream_input_rows_total{name="obs"}' in body
        assert 'stream_phase_seconds_count{name="obs",phase="addBatch"}' in body
        assert 'stream_state_rows{name="obs",operator="stateStoreSave",index="0"}' in body
        # the /metrics scrape itself shows up in the HTTP counters
        with urllib.request.urlopen(base + "/metrics", timeout=10) as resp:
            body2 = resp.read().decode()
        assert ('http_responses_total{method="get",status="200",'
                'uri="/metrics"} 1') in body2
    finally:
        api.stop()
        handler.stop_all()
        spark.streams.removeListener(listener)


def test_metrics_render_phases_and_state_operators():
    """Each progress event adds its ``durationMs`` phases to
    ``stream_phase_seconds`` and its state operators' commit time, rows,
    memory and watermark drops to the ``stream_state_*`` series."""
    import uuid

    from pyspark.sql.streaming.listener import QueryProgressEvent

    from mirabelle_spark.streaming import StreamMetricsListener

    def event(batch_id, commit_ms, rows, dropped):
        op = {
            "operatorName": "transformWithStateInPandasExec", "numRowsTotal": rows,
            "numRowsUpdated": 3, "numRowsRemoved": 0, "allUpdatesTimeMs": 1,
            "allRemovalsTimeMs": 0, "commitTimeMs": commit_ms,
            "memoryUsedBytes": 4096 + rows, "numRowsDroppedByWatermark": dropped,
            "numShufflePartitions": 4, "numStateStoreInstances": 4,
        }
        return QueryProgressEvent.fromJson({"progress": {
            "id": str(uuid.UUID(int=1)), "runId": str(uuid.UUID(int=2)),
            "name": "alerts", "timestamp": "2024-01-01T00:00:00.000Z",
            "batchId": batch_id, "batchDuration": 300, "numInputRows": 10,
            "durationMs": {"addBatch": 250, "walCommit": 20, "triggerExecution": 300},
            "stateOperators": [op], "sources": [],
            "sink": {"description": "noop", "numOutputRows": 10},
        }})

    listener = StreamMetricsListener()
    listener.onQueryProgress(event(0, 18, 5, 0))
    listener.onQueryProgress(event(1, 24, 7, 2))
    lines = listener.render().splitlines()
    assert 'stream_phase_seconds_sum{name="alerts",phase="addBatch"} 0.5' in lines
    assert 'stream_phase_seconds_count{name="alerts",phase="addBatch"} 2' in lines
    assert 'stream_phase_seconds_sum{name="alerts",phase="walCommit"} 0.04' in lines
    assert 'stream_duration_seconds_count{name="alerts"} 2' in lines
    lbl = 'name="alerts",operator="transformWithStateInPandasExec",index="0"'
    assert f"stream_state_commit_seconds_sum{{{lbl}}} 0.042" in lines
    assert f"stream_state_commit_seconds_count{{{lbl}}} 2" in lines
    # rows and memory are the latest batch's; drops add up
    assert f"stream_state_rows{{{lbl}}} 7" in lines
    assert f"stream_state_memory_bytes{{{lbl}}} 4103" in lines
    assert f"stream_state_rows_dropped_by_watermark_total{{{lbl}}} 2" in lines
    assert "# TYPE stream_state_rows gauge" in lines


def test_stream_sessionize_parity(spark, tmp_path):
    """Batch sessionize vs the same operator on a watermarked stream
    on availableNow: identical sessions (start/end/µs interval math,
    count, decimal-exact metric sum)."""
    from mirabelle_spark.operators import windows as win

    rows = [
        (1, 0.0, 1.0), (1, 10.0, 2.0), (1, 100.0, 3.0),   # 2 sessions @gap 30
        (2, 5.0, 4.0), (2, 34.9, 5.0), (2, 65.0, 6.0),    # merge, then break
    ]
    import pyspark.sql.functions as F
    df = spark.createDataFrame(rows, "user_id bigint, t double, value double") \
        .withColumn("time", F.timestamp_micros((F.col("t") * 1e6).cast("long")))
    batch = {
        (r.user_id, r.session_start, r.session_end): (r.n_events, r.metric)
        for r in win.sessionize(df, 30.0, by=["user_id"], time_col="time", metric_col="value").collect()
    }

    src_dir = str(tmp_path / "in")
    df.write.mode("overwrite").parquet(src_dir)
    st = spark.readStream.schema(
        spark.read.parquet(src_dir).schema
    ).parquet(src_dir)
    out = win.sessionize(_wm(st), 30.0, by=["user_id"], time_col="time", metric_col="value")
    q = (
        out.writeStream.format("memory").queryName("sess_parity")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, r.session_start, r.session_end): (r.n_events, r.metric)
        for r in spark.sql("SELECT * FROM sess_parity").collect()
    }
    assert got == batch
    assert len(batch) == 4  # user1: {0,10},{100}; user2: {5,34.9},{65}


def test_stream_zscore_parity(spark, tmp_path):
    """Batch zscore (decimal-exact range frame) vs the streaming twin:
    bit-identical z for every event, including the NULL cases (warmup
    below min_n, zero variance, null metric), across two keys and a
    micro-batch split (two source files => at least two batches on
    maxFilesPerTrigger=1, so state crosses a batch boundary)."""
    import math

    import pyspark.sql.functions as F

    from mirabelle_spark.operators import stateful as st
    from mirabelle_spark.streaming import core

    rows = []
    eid = 0
    for host in ("a", "b"):
        x = 0.5 if host == "a" else 7.25
        for i in range(120):
            # deterministic, irregular values + a flat run (var=0) + a null
            x = math.fmod(x * 1103515245.0 + 12345.0, 1000.0)
            v = None if i % 37 == 19 else (444.25 if 60 <= i < 66 else x)
            rows.append((eid, host, float(i) * 7.5, v))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id bigint, host string, t double, metric double"
    ).withColumn("time", F.timestamp_micros((F.col("t") * 1e6).cast("long"))).drop("t")

    batch = {
        r.event_id: r.zscore
        for r in st.zscore(
            df, 120.0, by=["host"], time_col="time", metric_col="metric",
            min_n=3, out="zscore",
        ).collect()
    }

    src_dir = str(tmp_path / "zs_in")
    # split each key's timeline in half across two files: arrival order
    # stays time order, but state must survive a micro-batch boundary
    df.where("event_id % 120 < 60").coalesce(1).write.mode("append").parquet(src_dir)
    df.where("event_id % 120 >= 60").coalesce(1).write.mode("append").parquet(src_dir)
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    out = core.stream_zscore(
        stream, 120.0, by=["host"], time_col="time", metric_col="metric",
        min_n=3, out="zscore",
    )
    q = (
        out.writeStream.format("memory").queryName("zs_parity")
        .option("checkpointLocation", str(tmp_path / "zs_ck"))
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {
        r.event_id: r.zscore
        for r in spark.sql("SELECT * FROM zs_parity").collect()
    }
    assert set(got) == set(batch)
    # bit-exact: direct equality on the doubles, None-safe
    diff = {k for k in batch if got[k] != batch[k]}
    assert not diff, sorted(diff)[:10]
    # sanity: the test actually covers all three NULL paths + real values
    assert any(v is None for v in batch.values())
    assert sum(v is not None for v in batch.values()) > 150


def test_stream_ewma_sharded_parity(spark, tmp_path):
    """The sharded high-cardinality ewma twin is bit-identical to the
    batch operator: 300 keys plus a null key folded through 4 shards
    across a two-file micro-batch split, including null metrics."""
    import pyspark.sql.functions as F

    from mirabelle_spark.operators import aggregations as agg
    from mirabelle_spark.streaming import core

    rows = []
    eid = 0
    for i in range(301):
        host = f"h{i:03d}" if i < 300 else None
        x = float((i * 37) % 101) / 7.0
        for j in range(6):
            v = None if (i + j) % 23 == 5 else x + j * 0.625
            rows.append((eid, host, float(j * 10), v))
            eid += 1
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

    src_dir = str(tmp_path / "ews_in")
    # first half of each key's timeline in file 1 (eid % 6 == j)
    df.where("event_id % 6 < 3").coalesce(1).write.mode("append").parquet(src_dir)
    df.where("event_id % 6 >= 3").coalesce(1).write.mode("append").parquet(src_dir)
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    out = core.stream_ewma(
        stream, 0.25, by=["host"], time_col="time", metric_col="metric", shards=4
    )
    q = (
        out.writeStream.format("memory").queryName("ews_parity")
        .option("checkpointLocation", str(tmp_path / "ews_ck"))
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {r.event_id: r.metric for r in spark.sql("SELECT * FROM ews_parity").collect()}
    assert set(got) == set(batch)
    diff = {k for k in batch if got[k] != batch[k]}
    assert not diff, sorted(diff)[:10]
    assert any(v is None for v in batch.values())


def test_stream_cond_dt_sharded_parity(spark, tmp_path):
    """Sharded cond-dt emits exactly the default-shard twin's rows: 200
    keys with flip/hold/reset patterns through 4 shards across a
    two-file micro-batch split — and both equal the batch twin."""
    import pyspark.sql.functions as F

    from mirabelle_spark.operators import stateful as st
    from mirabelle_spark.streaming import core

    rows = []
    eid = 0
    for i in range(200):
        host = f"h{i:03d}"
        for j in range(8):
            # per-key patterns: sustained-high, flapping, late-flip
            if i % 3 == 0:
                v = 200.0 if j >= 1 else 1.0
            elif i % 3 == 1:
                v = 200.0 if j % 2 == 0 else 1.0
            else:
                v = 200.0 if j >= 5 else 1.0
            rows.append((eid, host, float(j * 4), v))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id bigint, host string, t double, metric double"
    ).withColumn("time", F.timestamp_micros((F.col("t") * 1e6).cast("long"))).drop("t")

    src_dir = str(tmp_path / "cds_in")
    df.where("event_id % 8 < 4").coalesce(1).write.mode("append").parquet(src_dir)
    df.where("event_id % 8 >= 4").coalesce(1).write.mode("append").parquet(src_dir)

    def run(fn, name, **kw):
        stream = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src_dir)
        )
        out = fn(stream, [":>", "metric", 100.0], 5.0, by=["host"],
                 time_col="time", **kw)
        q = (
            out.writeStream.format("memory").queryName(name)
            .option("checkpointLocation", str(tmp_path / f"{name}_ck"))
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination()
        return {r.event_id for r in spark.sql(f"SELECT * FROM {name}").collect()}

    per_key = run(core.stream_cond_dt, "cds_per_key")
    sharded = run(core.stream_cond_dt, "cds_sharded", shards=4)
    assert sharded == per_key
    assert 0 < len(per_key) < 1600  # the condition actually filters
    batch = {r.event_id for r in st.cond_dt(
        df, [":>", "metric", 100.0], 5.0, by=["host"], time_col="time",
        order_cols=("event_id",)).collect()}
    assert per_key == batch


def test_by_shards_dsl_dispatches_sharded_twins(spark, tmp_path):
    """`by {"fields": [...], "shards": N}` flips the fork's ewma /
    cond-dt streaming twins to shard-mapped keyed state with
    unchanged values (the high-cardinality shape, PERF §39)."""
    import json as _json

    import pyspark.sql.functions as F

    from mirabelle_spark.plans.builder import Ctx, compile_stream
    from mirabelle_spark.streaming import to_memory

    rows = [
        {"time": float(j), "metric": float(100 + j), "host": f"h{i}"}
        for i in range(5)
        for j in range(4)
    ]
    src_dir = tmp_path / "shards_src"
    src_dir.mkdir()
    with open(src_dir / "p.json", "w") as f:
        for r in rows:
            f.write(_json.dumps(r) + "\n")

    def run(tree, name, **ctx_kw):
        stream = (
            spark.readStream.format("json")
            .schema("time double, metric double, host string")
            .load(str(src_dir))
            .withColumn("time", F.timestamp_seconds("time"))
        )
        ctx = compile_stream(stream, tree, Ctx(streaming=True, test_mode=True, **ctx_kw))
        q = to_memory(ctx.taps[name], f"shards_{name}")
        q.awaitTermination(60)
        return sorted(
            (r.host, r.time.timestamp(), r.metric)
            for r in spark.sql(f"select * from shards_{name}").collect()
        )

    def tree(shards):
        by_cfg = {"fields": ["host"]}
        if shards:
            by_cfg["shards"] = shards
        return {
            "action": "by", "params": [by_cfg],
            "children": [{
                "action": "ewma-timeless", "params": [0.5],
                "children": [{"action": "tap", "params": ["ew"]}],
            }],
        }

    per_key = run(tree(None), "ew")
    sharded = run(tree(3), "ew")
    assert sharded == per_key and len(per_key) == 20


def test_stream_sharded_changed_ddt_zscore_parity(spark, tmp_path):
    """The r7 sharded tier (changed / ddt / zscore) emits exactly the
    default-shard twins' rows and values across a two-file micro-batch
    split — including null metrics, :init semantics, and zscore's
    decimal-exact moments. Both shard counts equal the batch twins."""
    import pyspark.sql.functions as F

    from mirabelle_spark.operators import stateful as st
    from mirabelle_spark.streaming import core

    rows = []
    eid = 0
    for i in range(120):
        host = f"h{i:03d}"
        for j in range(8):
            state = (
                ["ok", "ok", "warn", "warn", "ok", "crit", None, "ok"][j]
                if i % 2 == 0
                else "ok"
            )
            v = None if (i + j) % 19 == 3 else float((i * 13 + j * j) % 47) / 3.0
            rows.append((eid, host, float(j * 15), state, v))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id bigint, host string, t double, state string, metric double"
    ).withColumn("time", F.timestamp_micros((F.col("t") * 1e6).cast("long"))).drop("t")

    src_dir = str(tmp_path / "sh3_in")
    df.where("event_id % 8 < 4").coalesce(1).write.mode("append").parquet(src_dir)
    df.where("event_id % 8 >= 4").coalesce(1).write.mode("append").parquet(src_dir)

    def run(build, name):
        stream = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src_dir)
        )
        out = build(stream)
        q = (
            out.writeStream.format("memory").queryName(name)
            .option("checkpointLocation", str(tmp_path / f"{name}_ck"))
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination()
        return spark.sql(f"SELECT * FROM {name}").collect()

    # changed
    per = {r.event_id for r in run(
        lambda s: core.stream_changed(s, "state", by=["host"], time_col="time", init="ok"),
        "sh3_chg_pk")}
    shd = {r.event_id for r in run(
        lambda s: core.stream_changed(s, "state", by=["host"], time_col="time",
                                              init="ok", shards=4), "sh3_chg_sh")}
    assert shd == per and 0 < len(per) < 960
    assert per == {r.event_id for r in st.changed(
        df, "state", init="ok", by=["host"], time_col="time",
        order_cols=("event_id",)).collect()}

    # ddt
    per_d = {r.event_id: r.metric for r in run(
        lambda s: core.stream_ddt(s, by=["host"], time_col="time"), "sh3_ddt_pk")}
    shd_d = {r.event_id: r.metric for r in run(
        lambda s: core.stream_ddt(s, by=["host"], time_col="time", shards=4),
        "sh3_ddt_sh")}
    assert shd_d == per_d and len(per_d) > 500
    assert per_d == {r.event_id: r.metric for r in st.ddt(
        df, by=["host"], time_col="time", order_cols=("event_id",)).collect()}

    # zscore (bit-exact)
    per_z = {r.event_id: r.zscore for r in run(
        lambda s: core.stream_zscore(s, 50.0, by=["host"], time_col="time",
                                     metric_col="metric", min_n=2), "sh3_zs_pk")}
    shd_z = {r.event_id: r.zscore for r in run(
        lambda s: core.stream_zscore(s, 50.0, by=["host"], time_col="time",
                                             metric_col="metric", min_n=2, shards=4),
        "sh3_zs_sh")}
    assert set(shd_z) == set(per_z)
    assert not {k for k in per_z if shd_z[k] != per_z[k]}
    assert per_z == {r.event_id: r.zscore for r in st.zscore(
        df, 50.0, by=["host"], time_col="time", metric_col="metric",
        min_n=2).collect()}


def test_stream_throttle_sharded_parity(spark, tmp_path):
    """Sharded throttle keeps exactly the default shard count's rows
    across a micro-batch split (anchored-window recurrence), and both
    equal the batch twin — a null key included, as its own key."""
    import pyspark.sql.functions as F

    from mirabelle_spark.operators.filters import throttle_batch
    from mirabelle_spark.streaming import core

    rows = []
    eid = 0
    for i in range(151):
        for j in range(8):
            host = f"h{i:03d}" if i < 150 else None
            rows.append((eid, host, float(j * 3)))  # 3s apart, 10s window
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id bigint, host string, t double"
    ).withColumn("time", F.timestamp_micros((F.col("t") * 1e6).cast("long"))).drop("t")

    src_dir = str(tmp_path / "ths_in")
    df.where("event_id % 8 < 4").coalesce(1).write.mode("append").parquet(src_dir)
    df.where("event_id % 8 >= 4").coalesce(1).write.mode("append").parquet(src_dir)

    def run(fn, name, **kw):
        stream = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src_dir)
        )
        out = fn(stream, 2, 10.0, by=["host"], time_col="time", **kw)
        q = (
            out.writeStream.format("memory").queryName(name)
            .option("checkpointLocation", str(tmp_path / f"{name}_ck"))
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination()
        return {r.event_id for r in spark.sql(f"SELECT * FROM {name}").collect()}

    per = run(core.stream_throttle, "ths_pk")
    shd = run(core.stream_throttle, "ths_sh", shards=4)
    assert shd == per and 0 < len(per) < len(rows)
    assert {1200, 1201} <= per  # the null key's first window
    assert per == {r.event_id for r in throttle_batch(
        df, 2, 10.0, by=["host"], time_col="time",
        order_cols=("event_id",)).collect()}


def test_stream_smax_smin_sharded_parity(spark, tmp_path):
    """The sharded smax/smin tier keeps the default-shard twins' PER-EVENT
    emission bit-exactly across a micro-batch split — including null
    metrics and carried-best re-emits (ADVICE r8 #3: the tier is now
    exported, DSL-dispatched via by{shards}, and parity-proven) —
    and both shard counts equal the batch twins."""
    import pyspark.sql.functions as F

    from mirabelle_spark.operators import stateful as st
    from mirabelle_spark.streaming import core

    rows = []
    eid = 0
    for i in range(100):
        host = f"h{i:03d}"
        for j in range(8):
            v = None if (i + j) % 17 == 5 else float((i * 31 + j * 7) % 53) - 26.0
            rows.append((eid, host, float(j * 10), v))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id bigint, host string, t double, metric double"
    ).withColumn("time", F.timestamp_micros((F.col("t") * 1e6).cast("long"))).drop("t")

    src_dir = str(tmp_path / "smx_in")
    df.where("event_id % 8 < 4").coalesce(1).write.mode("append").parquet(src_dir)
    df.where("event_id % 8 >= 4").coalesce(1).write.mode("append").parquet(src_dir)

    def run(build, name):
        stream = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src_dir)
        )
        q = (
            build(stream).writeStream.format("memory").queryName(name)
            .option("checkpointLocation", str(tmp_path / f"{name}_ck"))
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination()
        return sorted(
            (r.event_id, r.metric)
            for r in spark.sql(f"SELECT event_id, metric FROM {name}").collect()
        )

    per_mx = run(lambda s: core.stream_smax(s, by=["host"], time_col="time"), "smx_pk")
    shd_mx = run(
        lambda s: core.stream_smax(s, by=["host"], time_col="time", shards=4),
        "smx_sh",
    )
    assert shd_mx == per_mx and len(per_mx) == 800  # per-event: one emit per input
    assert per_mx == sorted(
        (r.event_id, r.metric) for r in st.smax(
            df, by=["host"], time_col="time", order_cols=("event_id",)).collect())

    per_mn = run(lambda s: core.stream_smin(s, by=["host"], time_col="time"), "smn_pk")
    shd_mn = run(
        lambda s: core.stream_smin(s, by=["host"], time_col="time", shards=4),
        "smn_sh",
    )
    assert shd_mn == per_mn and len(per_mn) == 800
    assert per_mn == sorted(
        (r.event_id, r.metric) for r in st.smin(
            df, by=["host"], time_col="time", order_cols=("event_id",)).collect())


def test_stream_stable_sharded_nan_run_parity(spark, tmp_path):
    """ADVICE r8 #1 regression: a stable run over a double field whose
    value is NaN/NULL must survive the micro-batch boundary in the
    sharded tier (the carry must not fold NaN→None, which made
    _eq(nan, None) False and reset the run every batch). Both
    shard counts equal the batch twin."""
    import pyspark.sql.functions as F

    from mirabelle_spark.operators import stateful as st
    from mirabelle_spark.streaming import core

    rows = []
    eid = 0
    for i in range(40):
        host = f"h{i:02d}"
        for j in range(8):
            # hosts 0-19: the whole run is NULL (→ NaN in pandas);
            # hosts 20+: value flips midway to also test mixed runs
            if i < 20:
                v = None
            else:
                v = 1.0 if j < 5 else None
            rows.append((eid, host, float(j * 15), v))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id bigint, host string, t double, metric double"
    ).withColumn("time", F.timestamp_micros((F.col("t") * 1e6).cast("long"))).drop("t")

    src_dir = str(tmp_path / "stn_in")
    df.where("event_id % 8 < 4").coalesce(1).write.mode("append").parquet(src_dir)
    df.where("event_id % 8 >= 4").coalesce(1).write.mode("append").parquet(src_dir)

    def run(build, name):
        stream = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src_dir)
        )
        q = (
            build(stream).writeStream.format("memory").queryName(name)
            .option("checkpointLocation", str(tmp_path / f"{name}_ck"))
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination()
        return sorted(
            r.event_id for r in spark.sql(f"SELECT event_id FROM {name}").collect()
        )

    per = run(
        lambda s: core.stream_stable(s, 20.0, "metric", by=["host"], time_col="time"),
        "stn_pk",
    )
    shd = run(
        lambda s: core.stream_stable(
            s, 20.0, "metric", by=["host"], time_col="time", shards=4
        ),
        "stn_sh",
    )
    assert shd == per and len(per) > 150  # NaN runs DO confirm
    assert per == sorted(r.event_id for r in st.stable(
        df, 20.0, "metric", by=["host"], time_col="time",
        order_cols=("event_id",)).collect())


def test_stream_coalesce_sharded_timestamp_fields_parity(spark, tmp_path):
    """ADVICE r8 #2 regression: a timestamp-typed column in
    ``fields`` must not crash the sharded coalesce (raw pd.Timestamp
    in json.dumps) and must bucket identically at both shard counts.
    The fixed-event-window half also equals its batch twin."""
    import pyspark.sql.functions as F

    from mirabelle_spark.operators import windows as win
    from mirabelle_spark.streaming import core

    rows = []
    eid = 0
    for i in range(30):
        host = f"h{i:02d}"
        for j in range(8):
            # a coarse timestamp label: two distinct fields-tuples per host
            rows.append((eid, host, float(j * 40), float(j < 4)))
            eid += 1
    df = (
        spark.createDataFrame(rows, "event_id bigint, host string, t double, lbl double")
        .withColumn("time", F.timestamp_micros((F.col("t") * 1e6).cast("long")))
        .withColumn("seen", F.timestamp_micros((F.col("lbl") * 1e6).cast("long")))
        .drop("t", "lbl")
    )

    src_dir = str(tmp_path / "cts_in")
    df.where("event_id % 8 < 4").coalesce(1).write.mode("append").parquet(src_dir)
    df.where("event_id % 8 >= 4").coalesce(1).write.mode("append").parquet(src_dir)

    def run(build, name):
        stream = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src_dir)
        )
        q = (
            build(stream).writeStream.format("memory").queryName(name)
            .option("checkpointLocation", str(tmp_path / f"{name}_ck"))
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination()
        return sorted(
            (r.event_id, str(r.seen))
            for r in spark.sql(f"SELECT event_id, seen FROM {name}").collect()
        )

    per = run(
        lambda s: core.stream_coalesce(
            s, 60.0, ["seen"], by=["host"], time_col="time"
        ),
        "cts_pk",
    )
    shd = run(
        lambda s: core.stream_coalesce(
            s, 60.0, ["seen"], by=["host"], time_col="time", shards=4
        ),
        "cts_sh",
    )
    assert shd == per and len(per) > 0

    # the window row-buffers JSON-carry whole rows too: a timestamp
    # payload column must revive in their events structs as well
    def run_win(build, name):
        stream = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src_dir)
        )
        q = (
            build(stream).writeStream.format("memory").queryName(name)
            .option("checkpointLocation", str(tmp_path / f"{name}_ck"))
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination()
        return sorted(
            (r.host, str(r.window_start), tuple(str(e.seen) for e in r.events))
            for r in spark.sql(f"SELECT * FROM {name}").collect()
        )

    per_w = run_win(
        lambda s: core.stream_fixed_event_window(s, 3, by=["host"], time_col="time"),
        "cts_few_pk",
    )
    shd_w = run_win(
        lambda s: core.stream_fixed_event_window(
            s, 3, by=["host"], time_col="time", shards=4
        ),
        "cts_few_sh",
    )
    assert shd_w == per_w and len(per_w) == 60  # 30 hosts × 2 full windows
    assert per_w == sorted(
        (r.host, str(r.events[0].time.timestamp()), tuple(str(e.seen) for e in r.events))
        for r in win.fixed_event_window(
            df, 3, by=["host"], time_col="time", order_cols=("event_id",)).collect()
    )


def test_streaming_document_pipeline_end_to_end(spark, tmp_path):
    """The training-data layer composes with Structured Streaming:
    documents arrive as files → exact dedup within a watermark
    horizon → hashed-classifier quality filter (stateless, so
    streaming-transparent) → memory sink. Result matches the batch
    composition over the same corpus."""
    import pyspark.sql.functions as F

    from mirabelle_spark.pipeline import text as t

    rows = [
        (0, "2024-01-01T00:00:00", "the quick brown fox jumps over the lazy dog"),
        (1, "2024-01-01T00:00:05", "the quick brown fox jumps over the lazy dog"),  # dup of 0
        (2, "2024-01-01T00:00:09", "completely different content about spark engines"),
        (3, "2024-01-01T00:10:00", "THE  QUICK brown fox jumps over the lazy dog"),  # dup, late file
        (4, "2024-01-01T00:10:30", "a third unique document body for the stream"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, ts string, text string") \
        .withColumn("ts", F.col("ts").cast("timestamp"))

    src = str(tmp_path / "docstream")
    df.where("doc_id < 3").coalesce(1).write.mode("append").parquet(src)
    df.where("doc_id >= 3").coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    from mirabelle_spark.pipeline.dedup import normalized

    deduped = (
        stream.withColumn("__norm__", F.xxhash64(normalized(F.col("text"))))
        .withWatermark("ts", "60 seconds")
        .dropDuplicatesWithinWatermark(["__norm__"])
        .drop("__norm__")
    )
    scored = t.linear_quality_score(deduped)
    q = (
        scored.writeStream.format("memory").queryName("docpipe")
        .option("checkpointLocation", str(tmp_path / "docpipe_ck"))
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {r.doc_id: r.quality_logit
           for r in spark.sql("SELECT * FROM docpipe").collect()}
    # guaranteed: doc 1 (dup within the 60 s horizon) is dropped and
    # every unique text survives. Doc 3 duplicates doc 0 ten minutes
    # later — OUTSIDE the horizon — and Spark's contract there is
    # "may or may not dedup" (state eviction is watermark-lazy; here
    # the watermark at processing time hadn't yet passed doc 0's
    # ts+delay, so it deduped). Assert the guaranteed core only.
    assert {0, 2, 4} <= set(got) <= {0, 2, 3, 4}
    assert 1 not in got
    batch = {r.doc_id: r.quality_logit
             for r in t.linear_quality_score(df).collect()}
    assert all(got[k] == batch[k] for k in got)


def test_sharded_state_ttl_evicts_idle_keys(spark, tmp_path):
    """Shard-map fork GC: a key idle past state_ttl_s (on the shard's
    event clock) loses its carry — its next event restarts the fold
    from init, while a continuously-active key keeps folding."""
    import pyspark.sql.functions as F

    from mirabelle_spark.streaming import core

    rows = [
        # host a: events at t=0 and t=1000 (idle 1000s > ttl 100)
        (0, "a", 0.0, 1.0), (5, "a", 1000.0, 1.0),
        # host b: steady every 50s (gap always <= ttl)
        (1, "b", 0.0, 1.0), (2, "b", 50.0, 1.0),
        (3, "b", 100.0, 1.0), (4, "b", 150.0, 1.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, host string, t double, metric double"
    ).withColumn("time", F.timestamp_micros((F.col("t") * 1e6).cast("long"))).drop("t")

    src_dir = str(tmp_path / "ttl_in")
    # batch 1: t <= 50; batch 2: t >= 950 (the idle gap spans batches)
    df.where("event_id in (0, 1, 2)").coalesce(1).write.mode("append").parquet(src_dir)
    df.where("event_id in (3, 4, 5)").coalesce(1).write.mode("append").parquet(src_dir)
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    out = core.stream_ewma(
        stream, 0.5, by=["host"], time_col="time", metric_col="metric",
        shards=1, state_ttl_s=100.0,
    )
    q = (
        out.writeStream.format("memory").queryName("ttl_ev")
        .option("checkpointLocation", str(tmp_path / "ttl_ck"))
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {r.event_id: r.metric for r in spark.sql("SELECT * FROM ttl_ev").collect()}
    # host a restarts: event 5 folds from None -> 0.5, not from 0.5 -> 0.75
    assert got[0] == 0.5 and got[5] == 0.5
    # host b never evicted: 0.5, 0.75, 0.875, 0.9375
    assert (got[1], got[2], got[3], got[4]) == (0.5, 0.75, 0.875, 0.9375)


def test_sharded_key_strings_type_stable_with_null_keys(spark, tmp_path):
    """r7 review fix: an int64 key column that contains NULLs arrives
    in pandas as float64, so naive str(key) would flip \"7\" to
    \"7.0\" between micro-batches and reset state. With typed key
    conversion the fold carries across the null-bearing batch."""
    import pyspark.sql.functions as F

    from mirabelle_spark.streaming import core

    rows = [
        # service 7: two events in batch 1 (no nulls), two in batch 2
        # (which ALSO contains a null-key row -> float64 slice)
        (0, 7, 0.0, 1.0), (1, 7, 10.0, 1.0),
        (2, 7, 20.0, 1.0), (3, 7, 30.0, 1.0),
        (4, None, 25.0, 5.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, service_id bigint, t double, metric double"
    ).withColumn("time", F.timestamp_micros((F.col("t") * 1e6).cast("long"))).drop("t")

    src_dir = str(tmp_path / "nk_in")
    df.where("event_id < 2").coalesce(1).write.mode("append").parquet(src_dir)
    df.where("event_id >= 2").coalesce(1).write.mode("append").parquet(src_dir)
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    out = core.stream_ewma(
        stream, 0.5, by=["service_id"], time_col="time", metric_col="metric",
        shards=1,
    )
    q = (
        out.writeStream.format("memory").queryName("nk_parity")
        .option("checkpointLocation", str(tmp_path / "nk_ck"))
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {r.event_id: r.metric for r in spark.sql("SELECT * FROM nk_parity").collect()}
    # continuous fold for service 7: 0.5, 0.75, 0.875, 0.9375 — a
    # state reset at the batch boundary would restart event 2 at 0.5
    assert (got[0], got[1], got[2], got[3]) == (0.5, 0.75, 0.875, 0.9375)
    assert got[4] == 2.5  # null key folds under its own sentinel


def test_stream_changed_sharded_timestamp_field(spark, tmp_path):
    """r7 review fix: a timestamp watched field carries across a
    batch split in the shard map — parity with the default-shard twin and
    the batch twin."""
    import pyspark.sql.functions as F

    from mirabelle_spark.streaming import core

    rows = [
        (0, "a", 0.0, "2024-01-01T00:00:00"),
        (1, "a", 10.0, "2024-01-01T00:00:00"),   # unchanged -> dropped
        (2, "a", 20.0, "2024-01-02T00:00:00"),   # changed (batch 2)
        (3, "a", 30.0, "2024-01-02T00:00:00"),   # unchanged -> dropped
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, host string, t double, updated_at string"
    ).withColumn("time", F.timestamp_micros((F.col("t") * 1e6).cast("long"))) \
     .withColumn("updated_at", F.col("updated_at").cast("timestamp")).drop("t")

    src_dir = str(tmp_path / "tsf_in")
    df.where("event_id < 2").coalesce(1).write.mode("append").parquet(src_dir)
    df.where("event_id >= 2").coalesce(1).write.mode("append").parquet(src_dir)

    def run(fn, name, **kw):
        stream = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src_dir)
        )
        out = fn(stream, "updated_at", by=["host"], time_col="time", **kw)
        q = (
            out.writeStream.format("memory").queryName(name)
            .option("checkpointLocation", str(tmp_path / f"{name}_ck"))
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination()
        return {r.event_id for r in spark.sql(f"SELECT * FROM {name}").collect()}

    per = run(core.stream_changed, "tsf_pk")
    shd = run(core.stream_changed, "tsf_sh", shards=2)
    assert shd == per == {0, 2}
    from mirabelle_spark.operators import stateful as st

    assert per == {r.event_id for r in st.changed(
        df, "updated_at", by=["host"], time_col="time",
        order_cols=("event_id",)).collect()}


def test_stream_zscore_huge_values_fold_exact(spark, tmp_path):
    """ADVICE r7 (high): the zscore twins' decimal fold must survive
    |metric| >= ~3.2e9 (default 28-digit context raised
    InvalidOperation quantizing m*m) and keep running sums exact past
    28 significant digits. Expected values come from an independent
    exact fold (python Fraction — no rounding at all — over the
    scale-9 HALF_UP quantized terms, the documented semantics); terms
    whose quantization exceeds DECIMAL(38,9) fold as NULL (sum skips,
    count sees the row; the ANSI batch twin would raise on those, so
    twin parity on accepted inputs is unaffected)."""
    import math
    from decimal import ROUND_HALF_UP, Decimal, localcontext
    from fractions import Fraction

    from mirabelle_spark.streaming import core

    # 4.2e9: m*m needs 29 digits at scale 9 (the old crash);
    # 1e15: m*m = 1e30 overflows DECIMAL(38,9) -> q2 NULL;
    # 2e29: m itself overflows -> q1 and q2 NULL;
    # plus small values so variance is nonzero and sums mix scales.
    vals = [4.2e9, 4.2e9 + 3.25, 1.0, 2.5, 1e15, 2e29, 7.75, 4.2e9 - 1.5]
    rows = [
        (i, "k", float(i), v) for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, host string, t double, metric double"
    ).withColumn("time", F.timestamp_micros((F.col("t") * 1e6).cast("long"))).drop("t")

    def q9(x):
        if not (-1e29 < x < 1e29):
            return None
        with localcontext() as ctx:
            ctx.prec = 60
            q = Decimal(repr(x)).quantize(
                Decimal("0.000000001"), rounding=ROUND_HALF_UP
            )
        return None if q.adjusted() >= 29 else Fraction(q)

    # independent reference: window = all prior events within 1000 s
    # (all of them here), Fraction sums (exact), double-space z
    expect = {}
    buf = []
    for i, v in enumerate(vals):
        buf.append((q9(v), q9(v * v)))
        n = len(buf)
        c1 = [a for a, _ in buf if a is not None]
        c2 = [b for _, b in buf if b is not None]
        z = None
        if n >= 2 and c1 and c2:
            mean = float(sum(c1)) / n
            var = max(float(sum(c2)) / n - mean * mean, 0.0)
            if var > 0.0:
                z = (v - mean) / math.sqrt(var)
        expect[i] = z

    src_dir = str(tmp_path / "zsh_in")
    df.where("event_id < 4").coalesce(1).write.mode("append").parquet(src_dir)
    df.where("event_id >= 4").coalesce(1).write.mode("append").parquet(src_dir)

    for fn, name, kw in (
        (core.stream_zscore, "zsh_pk", {}),
        (core.stream_zscore, "zsh_sh", {"shards": 2}),
    ):
        stream = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src_dir)
        )
        out = fn(
            stream, 1000.0, by=["host"], time_col="time",
            metric_col="metric", min_n=2, out="zscore", **kw,
        )
        q = (
            out.writeStream.format("memory").queryName(name)
            .option("checkpointLocation", str(tmp_path / f"{name}_ck"))
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination()
        got = {
            r.event_id: r.zscore
            for r in spark.sql(f"SELECT * FROM {name}").collect()
        }
        assert got == expect, (name, got, expect)
    # the test exercised a real z (pre-overflow) and both overflow
    # classes (q2-only at 1e15, q1+q2 at 2e29 — those windows clamp
    # var to 0 because s1 keeps the 1e15 term s2 skips: the non-ANSI
    # cast semantics being mirrored, not a bug)
    assert expect[3] is not None
    assert expect[4] is None and expect[5] is None


def test_shard_key_strings_injective_adversarial():
    """ADVICE r7 (low): composite key values containing the \\x1f
    separator (or spelling the null sentinel) must not alias another
    key tuple's state slot — the encoding escapes both bytes."""
    import pandas as pd

    from mirabelle_spark.streaming.core import _shard_key_strings

    tuples = [
        ("a\x1fb", "c"),      # separator inside a value
        ("a", "b\x1fc"),      # would alias the row above unescaped
        ("a\x1fb\x1fc", ""),  # and this one
        ("\x00null", "x"),    # spells the null sentinel
        (None, "x"),          # the real null
        ("\x00", "\x1f"),     # bare escape + bare separator
        ("\x000", "1"),       # pre-escaped-looking value
        ("plain", "key"),
    ]
    pdf = pd.DataFrame(tuples, columns=["k1", "k2"])
    ks = _shard_key_strings(pdf, ["k1", "k2"], ["string", "string"])
    assert len(set(ks)) == len(tuples), ks
    # single-column form: sentinel-spelling value differs from null
    pdf1 = pd.DataFrame({"k": ["\x00null", None, "v"]})
    ks1 = _shard_key_strings(pdf1, ["k"], ["string"])
    assert len(set(ks1)) == 3


def test_stream_changed_every_field_dtype_parity(spark, tmp_path):
    """``changed`` runs one fold at both shard counts for every field
    dtype — decimal, date, binary, day-time interval and array<int>
    (compared as tuples) — with nulls and an unchanged value across
    the micro-batch boundary: the default shards == ``shards=2`` == the batch
    twin."""
    from mirabelle_spark.operators import stateful as st
    from mirabelle_spark.streaming import core

    k = F.floor((F.col("event_id") + 1) / 2) % 3  # runs of two, split 3|4
    df = (
        _every_dtype_events(spark).select("event_id", "host", "time")
        .withColumn("amount", F.when(F.col("event_id") % 7 == 3, None)
                    .otherwise(k.cast("decimal(10,2)")))
        .withColumn("day", F.expr("date_add(DATE'2024-01-01', CAST("
                                  "floor((event_id + 1) / 2) % 3 AS INT))"))
        .withColumn("blob", F.when(F.col("event_id") % 7 == 4, None)
                    .otherwise(k.cast("string").cast("binary")))
        .withColumn("gap", F.expr("make_dt_interval(0, 0, 0, "
                                  "floor((event_id + 1) / 2) % 3)"))
        .withColumn("ids", F.array(k.cast("int"), F.lit(1)))
    )
    fields = ("amount", "day", "blob", "gap", "ids")

    def build(f, n):
        return lambda s: core.stream_changed(
            s, f, by=["host"], time_col="time", shards=n
        )

    got = _two_batch_runs(spark, tmp_path, df, "event_id % 8 < 4", "chd", {
        f"chd_{f}_{n or 0}": build(f, n) for f in fields for n in (None, 2)
    })
    for f in fields:
        per = sorted(r.event_id for r in got[f"chd_{f}_0"])
        assert sorted(r.event_id for r in got[f"chd_{f}_2"]) == per, f
        # host h2's events 19|20 straddle the split with one value
        assert 0 < len(per) < 48 and 19 in per and 20 not in per, f
        assert per == sorted(r.event_id for r in st.changed(
            df, f, by=["host"], time_col="time",
            order_cols=("event_id",)).collect()), f


def _two_batch_runner(spark, tmp_path, df, split_pred, tag):
    """Write df as two parquet files (two micro-batches under
    maxFilesPerTrigger=1) and return a run(fn_builder, name) helper."""
    src_dir = str(tmp_path / f"{tag}_in")
    df.where(split_pred).coalesce(1).write.mode("append").parquet(src_dir)
    df.where(f"NOT ({split_pred})").coalesce(1).write.mode("append").parquet(src_dir)

    def run(build, name, mode="append"):
        stream = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src_dir)
        )
        q = (
            build(stream).writeStream.format("memory").queryName(name)
            .option("checkpointLocation", str(tmp_path / f"{name}_ck"))
            .outputMode(mode).trigger(availableNow=True).start()
        )
        q.awaitTermination()
        return spark.sql(f"SELECT * FROM {name}").collect()

    return run


def _two_batch_runs(spark, tmp_path, df, split_pred, tag, builds):
    """``_two_batch_runner`` for several queries at once: start every
    ``builds[name](stream)`` query, await them all and return
    {name: rows}. The queries run on two state partitions, which
    keeps many tiny concurrent queries cheap."""
    src_dir = str(tmp_path / f"{tag}_in")
    df.where(split_pred).coalesce(1).write.mode("append").parquet(src_dir)
    df.where(f"NOT ({split_pred})").coalesce(1).write.mode("append").parquet(src_dir)
    queries = []
    parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try:
        for name, build in builds.items():
            stream = (
                spark.readStream.schema(df.schema)
                .option("maxFilesPerTrigger", "1")
                .parquet(src_dir)
            )
            queries.append(
                build(stream).writeStream.format("memory").queryName(name)
                .option("checkpointLocation", str(tmp_path / f"{name}_ck"))
                .outputMode("append").trigger(availableNow=True).start()
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", parts)
    for q in queries:
        q.awaitTermination()
    return {
        name: spark.sql(f"SELECT * FROM {name}").collect() for name in builds
    }


def test_stream_null_time_rows_dropped_like_batch(spark, tmp_path):
    """throttle, cond-dt, stable and ddt skip a null-time event in both
    twins (the reference's ``when (:time event)``): the streams filter
    it out before the shell, as the batch operators do, so it neither
    passes nor touches a key's state."""
    import pyspark.sql.functions as F

    from mirabelle_spark.operators import stateful as st
    from mirabelle_spark.operators.filters import throttle_batch
    from mirabelle_spark.streaming import core

    rows = [
        # throttle, 2 per 60 s: host tb's null-time event
        (0, "tb", 1.0, 1.0), (1, "tb", None, 1.0),
        # cond-dt > 100 for 10 s: the null-time valid event of batch 1
        # must not flip the state that the 5 s and 8 s events see
        (2, "cd", 0.0, 1.0), (3, "cd", None, 200.0),
        (4, "cd", 5.0, 200.0), (5, "cd", 8.0, 200.0),
        # stable 10 s: the null-time event joins no confirmed run
        (6, "st", 0.0, 1.0), (7, "st", 20.0, 1.0), (8, "st", None, 1.0),
        # ddt: the null-time event of batch 1 is neither emitted nor
        # the previous event of the 2 s one
        (9, "dd", 0.0, 1.0), (10, "dd", None, 2.0),
        (11, "dd", 2.0, 3.0), (12, "dd", 3.0, 5.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, host string, t double, metric double"
    ).withColumn(
        "time", F.timestamp_micros((F.col("t") * 1e6).cast("long"))
    ).withColumn("status", F.lit("up")).drop("t")
    k = dict(by=["host"], time_col="time")
    cond = [":>", "metric", 100]
    split = "event_id < 4 OR event_id IN (9, 10)"
    got = _two_batch_runs(spark, tmp_path, df, split, "nt", {
        "nt_throttle": lambda s: core.stream_throttle(s, 2, 60.0, **k),
        "nt_cond_dt": lambda s: core.stream_cond_dt(s, cond, 10.0, **k),
        "nt_stable": lambda s: core.stream_stable(s, 10.0, "status", **k),
        "nt_ddt": lambda s: core.stream_ddt(s, **k),
    })
    want = {
        "nt_throttle": throttle_batch(df, 2, 60.0, **k),
        "nt_cond_dt": st.cond_dt(df, cond, 10.0, **k),
        "nt_stable": st.stable(df, 10.0, "status", **k),
        "nt_ddt": st.ddt(df, **k),
    }
    out = {
        name: sorted((r.event_id, r.metric) for r in rs)
        for name, rs in got.items()
    }
    assert out == {
        name: sorted((r.event_id, r.metric) for r in batch.collect())
        for name, batch in want.items()
    }
    ids = {name: [i for i, _ in rs] for name, rs in out.items()}
    assert ids["nt_throttle"] == [0, 2, 4, 6, 7, 9, 11]
    assert ids["nt_stable"] == [6, 7]
    assert ids["nt_cond_dt"] == []
    assert [r for r in out["nt_ddt"] if r[0] >= 9] == [(11, 1.0), (12, 2.0)]


def test_stream_ddt_nan_metric_like_batch(spark, tmp_path):
    """A NaN metric is a number to ddt and ddt-pos in both twins: only
    null metrics are skipped, and every event with a previous event
    and a nonzero time delta emits, NaN and infinite derivatives
    included. ddt-pos keeps NaN, which Spark orders above every
    number. The split puts a NaN previous event in the carry."""
    import math

    import pyspark.sql.functions as F

    from mirabelle_spark.operators import stateful as st
    from mirabelle_spark.streaming import core

    nan, inf = float("nan"), float("inf")
    rows = [
        # batch ddt: NaN, NaN, 2.0
        (0, "a", 0.0, 1.0), (1, "a", 1.0, nan),
        (2, "a", 2.0, 3.0), (3, "a", 3.0, 5.0),
        # a negative, then NaN from and to a number, then a number
        (4, "b", 0.0, 5.0), (5, "b", 1.0, 3.0), (6, "b", 2.0, nan),
        (7, "b", 3.0, 1.0), (8, "b", 4.0, 4.0),
        # infinite metrics give infinite derivatives
        (9, "c", 0.0, 1.0), (10, "c", 1.0, inf), (11, "c", 2.0, 2.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, host string, t double, metric double"
    ).withColumn(
        "time", F.timestamp_micros((F.col("t") * 1e6).cast("long"))
    ).drop("t")
    k = dict(by=["host"], time_col="time")
    got = _two_batch_runs(
        spark, tmp_path, df, "event_id IN (0, 1, 4, 5, 6, 9, 10)", "nan", {
            "nan_ddt": lambda s: core.stream_ddt(s, **k),
            "nan_ddt_pos": lambda s: core.stream_ddt(s, remove_neg=True, **k),
        })
    want = {"nan_ddt": st.ddt(df, **k), "nan_ddt_pos": st.ddt_pos(df, **k)}

    def canon(rs):
        return sorted(
            (r.event_id, "nan" if math.isnan(r.metric) else r.metric) for r in rs
        )

    got = {name: canon(rs) for name, rs in got.items()}
    assert got == {name: canon(b.collect()) for name, b in want.items()}
    assert got["nan_ddt"] == [
        (1, "nan"), (2, "nan"), (3, 2.0), (5, -2.0), (6, "nan"), (7, "nan"),
        (8, 3.0), (10, inf), (11, -inf),
    ]
    assert got["nan_ddt_pos"] == [
        (1, "nan"), (2, "nan"), (3, 2.0), (6, "nan"), (7, "nan"), (8, 3.0),
        (10, inf),
    ]


def test_keyed_fold_sorts_group_once_across_arrow_chunks(spark, tmp_path):
    """A group holding more rows than
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` reaches the
    state function as several Arrow chunks. The shell concatenates
    them and sorts once, so a key whose reverse-time rows span chunks
    still folds in event-time order — at both shard counts, equal to the
    batch twin."""
    import pyspark.sql.functions as F

    from mirabelle_spark.operators import aggregations as agg
    from mirabelle_spark.streaming import core

    rows = []
    eid = 0
    for h in range(6):
        for j in range(20):
            rows.append((eid, f"h{h}", float(j), float((h * 7 + j * 3) % 11)))
            eid += 1
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
    src_dir = str(tmp_path / "chunk_in")
    df.orderBy(F.col("time").desc(), F.col("event_id").desc()).coalesce(1) \
        .write.parquet(src_dir)

    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "5")
    try:
        for name, kw in (("chunk_pk", {}), ("chunk_sh", {"shards": 2})):
            stream = spark.readStream.schema(df.schema).parquet(src_dir)
            out = core.stream_ewma(
                stream, 0.25, by=["host"], time_col="time", metric_col="metric", **kw
            )
            q = (
                out.writeStream.format("memory").queryName(name)
                .option("checkpointLocation", str(tmp_path / f"{name}_ck"))
                .outputMode("append").trigger(availableNow=True).start()
            )
            q.awaitTermination()
            got = {r.event_id: r.metric for r in spark.sql(f"SELECT * FROM {name}").collect()}
            assert got == batch, (name, sorted(k for k in batch if got.get(k) != batch[k])[:10])
    finally:
        spark.conf.set(conf, old)


def test_keyed_fold_batch_carries_key_across_arrow_chunks(spark):
    """The batch shell streams each sorted partition through
    ``mapInPandas`` in Arrow chunks and keeps the last key's carry
    between them: with ``maxRecordsPerBatch=5`` every key's run spans
    several chunks, and ``ewma_timeless``/``throttle_batch`` still
    equal a plain per-key loop, keyed (a null key included) and
    unkeyed."""
    import pyspark.sql.functions as F

    from mirabelle_spark.operators.aggregations import ewma_timeless
    from mirabelle_spark.operators.filters import throttle_batch

    rows = []
    for h in ("a", "b", None):
        for j in range(17):
            rows.append((len(rows), h, float(j * 2), float((j * 5) % 7)))
    df = spark.createDataFrame(
        rows, "event_id bigint, host string, t double, metric double"
    ).withColumn("time", F.timestamp_micros((F.col("t") * 1e6).cast("long"))).drop("t")
    order = sorted(range(len(rows)), key=lambda i: (rows[i][2], i))

    def reference(keyed):
        ms, anchors, ewma, kept = {}, {}, {}, set()
        for i in order:
            _, h, t, x = rows[i]
            k = h if keyed else 0
            ms[k] = 0.25 * x + (1.0 - 0.25) * ms.get(k, 0.0)
            ewma[i] = ms[k]
            anchor, n = anchors.get(k, (None, 0))
            if anchor is None or t >= anchor + 10.0:
                anchors[k] = (t, 1)
                kept.add(i)
            elif n < 3:
                anchors[k] = (anchor, n + 1)
                kept.add(i)
        return ewma, kept

    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "5")
    try:
        for by in (["host"], []):
            ewma, kept = reference(bool(by))
            kw = dict(by=by, time_col="time", order_cols=("event_id",))
            got = {r.event_id: r.metric
                   for r in ewma_timeless(df, 0.25, **kw).collect()}
            assert got == ewma, by
            got = {r.event_id for r in throttle_batch(df, 3, 10.0, **kw).collect()}
            assert got == kept, by
    finally:
        spark.conf.set(conf, old)


def test_keyed_fold_signed_zero_keys_are_one_key(spark, tmp_path):
    """Spark hashes and groups -0.0 with 0.0 as one key, so the shard
    key strings must too: with 0.0/-0.0 rows interleaved in time, the
    sharded fold (several key segments per shard) equals the default
    shards and the batch twin."""
    import pandas as pd
    import pyspark.sql.functions as F

    from mirabelle_spark.operators import aggregations as agg
    from mirabelle_spark.streaming import core

    assert core._shard_key_strings(
        pd.DataFrame({"k": [0.0, -0.0, 1.5]}), ["k"], ["double"]
    ) == ["0.0", "0.0", "1.5"]
    rows = []
    eid = 0
    for j in range(12):
        rows.append((eid, -0.0 if j % 2 else 0.0, float(j), float(j % 5)))
        eid += 1
        for k in (1.5, 2.5):
            rows.append((eid, k, float(j), float((j * 3) % 7)))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id bigint, k double, t double, metric double"
    ).withColumn("time", F.timestamp_micros((F.col("t") * 1e6).cast("long"))).drop("t")
    batch = {
        r.event_id: r.metric
        for r in agg.ewma_timeless(
            df, 0.25, by=["k"], time_col="time", metric_col="metric",
            order_cols=("event_id",),
        ).collect()
    }
    run = _two_batch_runner(spark, tmp_path, df, "time < timestamp_micros(6000000)", "sz")
    for name, kw in (("sz_pk", {}), ("sz_sh", {"shards": 4})):
        got = {r.event_id: r.metric for r in run(lambda s: core.stream_ewma(
            s, 0.25, by=["k"], time_col="time", metric_col="metric", **kw), name)}
        assert got == batch, (name, sorted(k for k in batch if got.get(k) != batch[k]))


def test_keyed_fold_shells_hand_over_key_segments(spark, tmp_path):
    """Every keyed-fold shell calls ``fold(carry, keys, starts, pdf)``
    with each key as ONE contiguous, time-sorted segment: ``starts``
    strictly increases from 0, every key string appears once per
    call, and each segment's rows share one key tuple. A spy fold
    records every call through the streaming shell (default and 2
    shards) and the batch shell (Arrow chunks of 5 rows). Keys:
    -0.0/0.0, null, strings holding the escape and separator bytes,
    and a two-column key whose int column holds nulls. (NaN keys:
    ``test_keyed_fold_nan_key_is_not_null_key``.)"""
    import os
    import pickle

    import pyspark.sql.functions as F

    from mirabelle_spark.streaming import core

    strs = [None, "a\x00", "a\x1fb", "\x00null", "a"]
    rows = [
        (j, [-0.0, 0.0, None, 1.5][j % 4], strs[j % 5], [None, 1, 2][j % 3],
         float(40 - j))
        for j in range(40)
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, kd double, ks string, ki int, t double"
    ).withColumn("time", F.timestamp_micros((F.col("t") * 1e6).cast("long"))).drop("t")
    src_dir = str(tmp_path / "seg_in")
    df.coalesce(1).write.parquet(src_dir)

    def spy_for(rec_dir):
        os.makedirs(rec_dir)

        def spy(carry, keys, starts, pdf):
            import uuid

            with open(os.path.join(rec_dir, uuid.uuid4().hex), "wb") as f:
                pickle.dump((list(keys), starts.tolist(), pdf), f)
            return pdf

        return spy

    def check(rec_dir, by):
        calls = []
        for name in os.listdir(rec_dir):
            with open(os.path.join(rec_dir, name), "rb") as f:
                calls.append(pickle.load(f))
        assert calls, rec_dir
        seen = []
        for keys, starts, pdf in calls:
            assert starts[0] == 0 and len(starts) == len(keys)
            assert all(a < b for a, b in zip(starts, starts[1:])), starts
            assert len(set(keys)) == len(keys), keys
            for s0, e0 in zip(starts, starts[1:] + [len(pdf)]):
                seg = pdf.iloc[s0:e0]
                for c in by:
                    vals = seg[c].tolist()
                    nulls = seg[c].isna().tolist()
                    assert all(nulls) or (
                        not any(nulls) and all(v == vals[0] for v in vals)
                    ), (by, keys, starts, vals)
                assert seg["time"].is_monotonic_increasing, (by, keys)
            seen += pdf["event_id"].tolist()
        assert sorted(seen) == list(range(len(rows)))

    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    try:
        for i, by in enumerate((["kd"], ["ks", "ki"])):
            for shards in (None, 2):
                name = f"seg{i}_{shards or 0}"
                rec = str(tmp_path / name)
                out = core._keyed_fold_scan(
                    spark.readStream.schema(df.schema).parquet(src_dir),
                    by, "time", shards, spy_for(rec),
                )
                q = (
                    out.writeStream.format("memory").queryName(name)
                    .option("checkpointLocation", str(tmp_path / f"{name}_ck"))
                    .trigger(availableNow=True).start()
                )
                q.awaitTermination()
                check(rec, by)
            spark.conf.set(conf, "5")
            rec = str(tmp_path / f"seg{i}_batch")
            assert core._keyed_fold_batch(df, by, ["time"], spy_for(rec)).count() == len(rows)
            spark.conf.set(conf, old)
            check(rec, by)
    finally:
        spark.conf.set(conf, old)


def test_keyed_fold_rejects_pre_merge_per_key_state(spark, tmp_path):
    """A checkpoint whose keyed state has another layout — the
    earlier ``carry STRING`` shard map, a typed per-key ``last
    double``, the carry blob kept in one state group per key — must
    fail the restarted query loudly, never fold every key from
    scratch: Spark's state schema check rejects it against the
    shell's ``carry BINARY`` state on ``__shard__`` groups."""
    import pickle

    from mirabelle_spark.streaming import core

    df = spark.createDataFrame(
        [(i, f"h{i % 3}", float(i * 10), float(i)) for i in range(12)],
        "event_id bigint, host string, t double, metric double",
    ).withColumn("time", F.timestamp_micros((F.col("t") * 1e6).cast("long"))).drop("t")

    def old_state(group, state, value):  # the earlier layouts
        def fn(key, pdfs, st):
            for pdf in pdfs:
                st.update((value,))
                yield pdf

        return lambda s: s.withColumn(
            "__shard__", F.pmod(F.xxhash64("host"), F.lit(2))
        ).groupBy(group).applyInPandasWithState(
            fn, outputStructType="event_id bigint, host string, "
            "metric double, time timestamp, __shard__ bigint",
            stateStructType=state, outputMode="append",
            timeoutConf="NoTimeout",
        )

    def start(build, src_dir, ck):
        stream = spark.readStream.schema(df.schema).parquet(src_dir)
        return (
            build(stream).writeStream.format("noop")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True).start()
        )

    cases = [
        ("ewma", old_state("__shard__", "carry STRING", '{"c": {}}'),
         lambda s: core.stream_ewma(s, 0.5, by=["host"], time_col="time", shards=2),
         "STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE"),
        ("changed", old_state("host", "last double", 1.0),
         lambda s: core.stream_changed(s, "metric", by=["host"], time_col="time"),
         "STATE_STORE_KEY_SCHEMA_NOT_COMPATIBLE"),
        ("per_key", old_state("host", "carry BINARY", pickle.dumps({"c": {"": 0.5}})),
         lambda s: core.stream_ewma(s, 0.5, by=["host"], time_col="time", shards=4),
         "STATE_STORE_KEY_SCHEMA_NOT_COMPATIBLE"),
    ]
    for tag, before, after, error in cases:
        src_dir, ck = str(tmp_path / f"old_{tag}_in"), str(tmp_path / f"old_{tag}_ck")
        df.where("event_id < 6").coalesce(1).write.parquet(src_dir)
        start(before, src_dir, ck).awaitTermination()
        df.where("event_id >= 6").coalesce(1).write.mode("append").parquet(src_dir)
        q = start(after, src_dir, ck)
        with pytest.raises(Exception, match=error):
            q.awaitTermination()


def test_keyed_fold_restart_under_other_shard_count_raises(spark, tmp_path):
    """The carry blob records its shard count and its layout version.
    A restart under another ``shards`` would route most keys to shards
    that never saw them and restart their state, so it raises an error
    naming both counts. A blob of another layout would be misread, so
    a blob without a layout version raises an error naming both
    versions: one written before the shard count was recorded, and
    one of the earlier row-buffer layout, whose smax carry {"m", "b"}
    would otherwise unpack as the (metric, row) pair of today's."""
    import pickle

    from mirabelle_spark.streaming import core

    df = spark.createDataFrame(
        [(i, f"h{i % 12}", float(i), 1.0) for i in range(24)],
        "event_id bigint, host string, t double, metric double",
    ).withColumn("time", F.timestamp_micros((F.col("t") * 1e6).cast("long"))).drop("t")

    def legacy(blob_of):  # an unversioned blob, on the same shard grouping
        def fn(key, pdfs, st):
            for pdf in pdfs:
                st.update((pickle.dumps(blob_of(pdf)),))
                yield pdf[["event_id", "host", "metric", "time"]]

        return lambda s: s.withColumn(
            "__shard__", F.pmod(F.xxhash64("host"), F.lit(2))
        ).groupBy("__shard__").applyInPandasWithState(
            fn, outputStructType="event_id bigint, host string, "
            "metric double, time timestamp",
            stateStructType="carry BINARY", outputMode="append",
            timeoutConf="NoTimeout",
        )

    def ewma(n):
        return lambda s: core.stream_ewma(
            s, 0.5, by=["host"], time_col="time", shards=n
        )

    def run(tag, before, after):
        """Run ``before`` over the first 12 events, then restart the
        checkpoint under ``after`` over the rest; return that query."""
        src_dir, ck = str(tmp_path / f"{tag}_in"), str(tmp_path / f"{tag}_ck")
        df.where("event_id < 12").coalesce(1).write.parquet(src_dir)
        stream = spark.readStream.schema(df.schema).parquet(src_dir)
        before(stream).writeStream.format("noop").option("checkpointLocation", ck) \
            .trigger(availableNow=True).start().awaitTermination()
        df.where("event_id >= 12").coalesce(1).write.mode("append").parquet(src_dir)
        stream = spark.readStream.schema(df.schema).parquet(src_dir)
        return after(stream).writeStream.format("noop") \
            .option("checkpointLocation", ck).trigger(availableNow=True).start()

    q = run("grow", ewma(2), ewma(3))
    with pytest.raises(Exception, match="written with 2 shards but the query now runs 3"):
        q.awaitTermination()
    q = run("shrink", ewma(3), ewma(2))
    with pytest.raises(Exception, match="written with 3 shards but the query now runs 2"):
        q.awaitTermination()
    unversioned = "carry layout version None but this code reads version 2"
    q = run("legacy", legacy(lambda pdf: {
        "c": {h: 0.5 for h in pdf["host"].unique().tolist()}
    }), ewma(2))
    with pytest.raises(Exception, match=unversioned):
        q.awaitTermination()
    q = run("old_smax", legacy(lambda pdf: {"n": 2, "c": {
        r["host"]: {"m": r["metric"], "b": r.to_dict()}
        for _, r in pdf.drop(columns="__shard__").iterrows()
    }}), lambda s: core.stream_smax(s, by=["host"], time_col="time", shards=2))
    with pytest.raises(Exception, match=unversioned):
        q.awaitTermination()


def test_keyed_fold_nan_key_is_not_null_key(spark, tmp_path):
    """Spark groups a NaN key apart from a null one, but pandas hands
    both over as NaN. Both shells keep them apart through a
    Spark-side ``isnan`` flag: the streaming shell on one shard and on
    the default shards (across a micro-batch split, so through the
    carry strings too) and the batch shell on one partition, where the
    (key, time) sort puts the null and NaN runs next to each other.
    Emitted rows show both keys as null."""
    from mirabelle_spark.operators import aggregations as agg
    from mirabelle_spark.streaming import core

    rows = [(0, None, 0.0), (1, float("nan"), 1.0), (2, None, 2.0),
            (3, float("nan"), 3.0)]
    df = spark.createDataFrame(
        rows, "event_id bigint, host double, t double"
    ).withColumn("time", F.timestamp_micros((F.col("t") * 1e6).cast("long"))) \
        .withColumn("metric", F.lit(1.0)).drop("t")
    expect = {0: 0.5, 1: 0.5, 2: 0.75, 3: 0.75}
    assert core._shard_key_strings(
        df.toPandas().assign(f=[False, True, False, True]), ["host"],
        ["double"], {"host": "f"},
    ) == [core._NULL_KEY, "NaN", core._NULL_KEY, "NaN"]
    got = _two_batch_runs(spark, tmp_path, df, "event_id < 2", "nan", {
        f"nan_{n or 0}": (lambda n: lambda s: core.stream_ewma(
            s, 0.5, by=["host"], time_col="time", shards=n))(n)
        for n in (1, None)
    })
    for name, rs in got.items():
        assert {r.event_id: r.metric for r in rs} == expect, name
        assert all(r.host is None for r in rs), name
    parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try:
        batch = agg.ewma_timeless(
            df, 0.5, by=["host"], time_col="time", metric_col="metric",
            order_cols=("event_id",),
        ).collect()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", parts)
    assert {r.event_id: r.metric for r in batch} == expect


def test_stream_stable_sharded_parity(spark, tmp_path):
    """Columnar-carry sharded stable emits exactly the default-shard twin's
    rows: flapping runs (unconfirmed buffers dropped), confirmation
    inside and across the micro-batch boundary, buffer flushes whose
    rows came from the PREVIOUS batch, and null field values — and
    both shard counts equal the batch twin."""
    import pyspark.sql.functions as F

    from mirabelle_spark.operators import stateful as st
    from mirabelle_spark.streaming import core

    rows = []
    eid = 0
    # deterministic varied run lengths per host; dt=5s, events 2s apart
    for h in range(60):
        seq = []
        x = h * 2654435761 % 97
        for i in range(16):
            x = (x * 1103515245 + 12345) % 97
            seq.append(None if x % 13 == 7 else ("up" if x % 3 else "down"))
        for i, v in enumerate(seq):
            rows.append((eid, f"h{h:02d}", float(i * 2), v))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id bigint, host string, t double, status string"
    ).withColumn("time", F.timestamp_micros((F.col("t") * 1e6).cast("long"))).drop("t")

    run = _two_batch_runner(spark, tmp_path, df, "event_id % 16 < 9", "sts")
    per = sorted(
        r.event_id
        for r in run(lambda s: core.stream_stable(s, 5.0, "status", by=["host"],
                                                  time_col="time"), "sts_pk")
    )
    shd = sorted(
        r.event_id
        for r in run(lambda s: core.stream_stable(
            s, 5.0, "status", by=["host"], time_col="time", shards=4), "sts_sh")
    )
    assert shd == per
    assert 0 < len(per) < len(rows)
    assert per == sorted(r.event_id for r in st.stable(
        df, 5.0, "status", by=["host"], time_col="time",
        order_cols=("event_id",)).collect())


def test_stream_stable_sharded_out_of_order_drop(spark, tmp_path):
    """Rows behind a key's running-max clock drop in BOTH tiers (the
    reference's out-of-order rule), exercised across the batch
    boundary: batch 2 opens with times before batch 1's max. (The
    batch twin sorts the whole input by time, so it has no
    across-batch out-of-order rows to compare against.)"""
    import pyspark.sql.functions as F

    from mirabelle_spark.streaming import core

    rows = [
        # (eid, host, t, status) — batch 1: eid<4, batch 2: rest
        (0, "a", 0.0, "up"), (1, "a", 10.0, "up"), (2, "a", 20.0, "up"),
        (3, "b", 50.0, "ok"),
        (4, "a", 5.0, "up"),   # behind a's max=20 -> dropped
        (5, "a", 25.0, "up"),  # advances
        (6, "b", 40.0, "ok"),  # behind b's max=50 -> dropped
        (7, "b", 60.0, "ok"),  # confirms b's run
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, host string, t double, status string"
    ).withColumn("time", F.timestamp_micros((F.col("t") * 1e6).cast("long"))).drop("t")

    run = _two_batch_runner(spark, tmp_path, df, "event_id < 4", "sto")
    per = sorted(r.event_id for r in run(
        lambda s: core.stream_stable(s, 5.0, "status", by=["host"],
                                     time_col="time"), "sto_pk"))
    shd = sorted(r.event_id for r in run(
        lambda s: core.stream_stable(s, 5.0, "status", by=["host"],
                                             time_col="time", shards=2), "sto_sh"))
    assert shd == per
    assert 4 not in per and 6 not in per


def test_stream_coalesce_sharded_parity(spark, tmp_path):
    """Columnar-carry sharded coalesce emits exactly the default-shard
    twin's rows (same multiset — a kept row re-emits on every tick it
    survives): latest-per-fields election with stored-wins ties, the
    event-time tick clock, ttl and state=='expired' expiry, and
    carry-sourced re-emission from the previous batch."""
    import pyspark.sql.functions as F

    from mirabelle_spark.streaming import core

    rows = []
    eid = 0
    for h in range(40):
        for i in range(12):
            svc = f"s{(h * 7 + i * 3) % 4}"
            state = "expired" if (h + i) % 11 == 5 else "ok"
            ttl = None if i % 3 else 25.0
            rows.append((eid, f"h{h:02d}", svc, state, ttl, float(i * 4)))
            eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id bigint, host string, service string, state string, "
        "ttl double, t double",
    ).withColumn("time", F.timestamp_micros((F.col("t") * 1e6).cast("long"))).drop("t")

    run = _two_batch_runner(spark, tmp_path, df, "event_id % 12 < 7", "cls")

    def counts(rows_):
        out = {}
        for r in rows_:
            out[r.event_id] = out.get(r.event_id, 0) + 1
        return out

    per = counts(run(lambda s: core.stream_coalesce(
        s, 10.0, ["service"], by=["host"], time_col="time"), "cls_pk"))
    shd = counts(run(lambda s: core.stream_coalesce(
        s, 10.0, ["service"], by=["host"], time_col="time", shards=4), "cls_sh"))
    assert shd == per
    assert per and max(per.values()) >= 2  # re-emission actually exercised


def _canon(v):
    """A collected cell in comparable form: rows and arrays to
    tuples, bytearray (binary) to bytes."""
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, bytearray):
        return bytes(v)
    return v


def _canon_rows(rows):
    return sorted((_canon(r) for r in rows), key=repr)


def _every_dtype_events(spark):
    """Six hosts x eight events whose payload carries decimal,
    binary, date, day-time interval and array<int> columns (the
    decimal and binary ones with nulls)."""
    rows = []
    for h in range(6):
        for j in range(8):
            eid = h * 8 + j
            metric = None if (h + j) % 5 == 2 else float((h * 7 + j * 3) % 11)
            status = "up" if (j // 3) % 2 == 0 else "down"
            rows.append((eid, f"h{h}", float(j * 10), metric, status))
    return (
        spark.createDataFrame(
            rows,
            "event_id bigint, host string, t double, metric double, status string",
        )
        .withColumn("time", F.timestamp_micros((F.col("t") * 1e6).cast("long")))
        .withColumn("amount", F.when(F.col("event_id") % 7 == 3, None)
                    .otherwise((F.col("event_id") % 3).cast("decimal(10,2)")))
        .withColumn("blob", F.when(F.col("event_id") % 7 == 4, None)
                    .otherwise(F.col("status").cast("binary")))
        .withColumn("day", F.expr("date_add(DATE'2024-01-01', CAST(event_id % 5 AS INT))"))
        .withColumn("gap", F.expr("make_dt_interval(0, 0, 0, event_id)"))
        .withColumn("ids", F.array(F.col("event_id").cast("int"), F.lit(1)))
        .drop("t")
    )


def test_row_buffer_folds_carry_every_column_dtype(spark, tmp_path):
    """The row-buffer folds keep whole rows in keyed state across a
    micro-batch boundary: decimal, binary, date, interval and array
    payload cells (and a decimal in coalesce's ``fields``) carry and
    re-emit unchanged at both shard counts, equal to the batch twins."""
    from mirabelle_spark.operators import stateful as st
    from mirabelle_spark.operators import windows as win
    from mirabelle_spark.streaming import core

    df = _every_dtype_events(spark)
    cols = df.columns
    builds = {}
    for n in (None, 2):
        g = n or 0
        builds[f"dty_smax_{g}"] = lambda s, n=n: core.stream_smax(
            s, by=["host"], time_col="time", shards=n)
        builds[f"dty_stable_{g}"] = lambda s, n=n: core.stream_stable(
            s, 15.0, "status", by=["host"], time_col="time", shards=n)
        builds[f"dty_few_{g}"] = lambda s, n=n: core.stream_fixed_event_window(
            s, 3, by=["host"], time_col="time", shards=n)
        builds[f"dty_coal_{g}"] = lambda s, n=n: core.stream_coalesce(
            s, 20.0, ["amount", "status"], by=["host"], time_col="time",
            shards=n)
    got = {
        name: _canon_rows(rows) for name, rows in _two_batch_runs(
            spark, tmp_path, df, "event_id % 8 < 4", "dty", builds).items()
    }
    for op in ("smax", "stable", "few", "coal"):
        assert got[f"dty_{op}_2"] == got[f"dty_{op}_0"], op
    assert len(got["dty_smax_0"]) == 48
    assert got["dty_smax_0"] == _canon_rows(st.smax(
        df, by=["host"], time_col="time", order_cols=("event_id",)
    ).select(*cols).collect())
    assert 0 < len(got["dty_stable_0"]) < 48
    assert got["dty_stable_0"] == _canon_rows(st.stable(
        df, 15.0, "status", by=["host"], time_col="time", order_cols=("event_id",)
    ).select(*cols).collect())
    assert len(got["dty_few_0"]) == 12  # 6 hosts x 2 full windows
    assert sorted((r[0], r[2]) for r in got["dty_few_0"]) == sorted(
        (r[0], r[1]) for r in _canon_rows(win.fixed_event_window(
            df, 3, by=["host"], time_col="time", order_cols=("event_id",)
        ).select("host", "events").collect()))
    # a kept row re-emits on a later tick, so carried rows go out too
    ids = [r[cols.index("event_id")] for r in got["dty_coal_0"]]
    assert len(ids) > len(set(ids))


def test_stream_event_window_sharded_parity(spark, tmp_path):
    """The sharded event-window twins emit exactly the default
    shard count's rows across a micro-batch boundary: fixed windows
    (including partial buffers carried between batches and the
    event-clock fork-ttl gap reset) and moving trailing-n arrays.
    Without a fork-ttl both equal the batch twins."""
    import pyspark.sql.functions as F

    from mirabelle_spark.operators import windows as win
    from mirabelle_spark.streaming import core

    rows = []
    eid = 0
    for h in range(40):
        for i in range(11):
            # one deliberate >ttl gap per key at i==7 (dt jumps 120s)
            tt = float(i * 10 + (120 if i >= 7 else 0))
            rows.append((eid, f"h{h:02d}", tt, float((h * 7 + i) % 13)))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id bigint, host string, t double, metric double"
    ).withColumn("time", F.timestamp_micros((F.col("t") * 1e6).cast("long"))).drop("t")

    run = _two_batch_runner(spark, tmp_path, df, "event_id % 11 < 6", "ews")

    def fixed_rows(rows_):
        return sorted(
            (r.host, r.window_start, tuple(e.event_id for e in r.events))
            for r in rows_
        )

    per_f = fixed_rows(run(lambda s: core.stream_fixed_event_window(
        s, 4, by=["host"], time_col="time", fork_ttl_s=60.0), "ews_pf"))
    shd_f = fixed_rows(run(lambda s: core.stream_fixed_event_window(
        s, 4, by=["host"], time_col="time", fork_ttl_s=60.0, shards=4), "ews_sf"))
    assert shd_f == per_f
    assert per_f  # windows actually emitted
    # the ttl gap dropped a partial buffer mid-key, so the second
    # window of each key starts AFTER the gap — different membership
    # than the no-ttl run (same count, different content)
    no_ttl = fixed_rows(run(lambda s: core.stream_fixed_event_window(
        s, 4, by=["host"], time_col="time"), "ews_pf0"))
    assert per_f != no_ttl
    assert no_ttl == sorted(
        (r.host, r.events[0].time.timestamp(), tuple(e.event_id for e in r.events))
        for r in win.fixed_event_window(
            df, 4, by=["host"], time_col="time", order_cols=("event_id",)).collect()
    )

    def moving_rows(rows_):
        return sorted(
            (r.event_id, tuple(e.event_id for e in r.events)) for r in rows_
        )

    per_m = moving_rows(run(lambda s: core.stream_moving_event_window(
        s, 3, by=["host"], time_col="time"), "ews_pm"))
    shd_m = moving_rows(run(lambda s: core.stream_moving_event_window(
        s, 3, by=["host"], time_col="time", shards=4), "ews_sm"))
    assert shd_m == per_m
    assert len(per_m) == len(rows)
    assert per_m == moving_rows(win.moving_event_window(
        df, 3, by=["host"], time_col="time", order_cols=("event_id",)).collect())


def test_by_shards_dsl_dispatches_row_buffer_twins(spark):
    """`by {"shards": N}` sets the shard count of the row-buffer
    actions (stable, keyed coalesce, fixed/moving-event-window,
    moving-time-window, smax) —
    asserted structurally: the compiled plan groups on
    pmod(xxhash64(fork keys), N); without shards N is the default 64.
    Unkeyed coalesce must IGNORE shards (one global tick clock): it
    keys on one constant column, so all its state is one key."""
    import re

    import pyspark.sql.functions as F

    from mirabelle_spark.plans.builder import Ctx, compile_stream

    df = spark.createDataFrame(
        [(0, "a", "ok", 1.0, 0.0)],
        "seq bigint, host string, state string, metric double, t double",
    ).withColumn("time", F.timestamp_micros((F.col("t") * 1e6).cast("long"))).drop("t")
    src = df  # batch df is enough: dispatch happens at compile time

    def plan_of(action, params, shards, by_fields=("host",)):
        by_cfg = {"fields": list(by_fields)}
        if shards:
            by_cfg["shards"] = shards
        tree = {"action": "by", "params": [by_cfg], "children": [{
            "action": action, "params": params,
            "children": [{"action": "tap", "params": ["x"]}]}]}
        ctx = compile_stream(src, tree, Ctx(streaming=True, test_mode=True))
        return ctx.taps["x"]._jdf.queryExecution().analyzed().toString()

    cases = [
        ("stable", [5, "state"]),
        ("coalesce", [{"duration": 10, "fields": ["state"]}]),
        ("fixed-event-window", [{"size": 3}]),
        ("moving-event-window", [{"size": 3}]),
        ("moving-time-window", [{"duration": 10}]),
        ("smax", []),
    ]
    def shard_of(keys, n):
        return re.compile(
            rf"pmod\(xxhash64\({keys}#\d+, 42\), cast\({n} as bigint\)\) AS __shard__"
        )

    for action, params in cases:
        assert shard_of("host", 2).search(plan_of(action, params, 2)), action
        assert shard_of("host", 64).search(plan_of(action, params, None)), action

    # unkeyed coalesce: one constant key, shards ignored
    tree = {"action": "coalesce",
            "params": [{"duration": 10, "fields": ["state"]}],
            "children": [{"action": "tap", "params": ["x"]}]}
    ctx = compile_stream(src, tree, Ctx(streaming=True, test_mode=True, shards=4))
    assert shard_of("__g__", 4).search(
        ctx.taps["x"]._jdf.queryExecution().analyzed().toString()
    )


def test_control_plane_soak_small(spark):
    """CI-sized replica of the 1M soak (PERF §44,
    tools/soak_control_plane.py): three streams behind the live TCP
    edge, concurrent clients, one mid-run reload isolated to the
    changed stream — zero loss, every stream's count and sum equal
    what its client sent, and the reloaded stream's totals include
    pre-reload events (checkpoint state survived)."""
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))
    from tools.soak_control_plane import run_soak

    out = run_soak(spark, events=6000, batch=500, reloads=2)
    assert out["lost"] == 0
    assert len(out["reloads"]) == 2
    for d in out["reloads"]:
        assert d["to_reload"] == ["soak2"]
        assert d["to_remove"] == [] and d["to_add"] == []
        assert not d["failed"], d
    assert out["clean_stops"]
    for name, s in out["streams"].items():
        assert s["sent"] == s["count"] == s["sum"], (name, s)


def test_stream_expired_sharded_parity(spark, tmp_path):
    """Sharded expired/not-expired keeps exactly the default-shard twin's
    rows across a micro-batch boundary: per-key running-max clocks
    seeded from the carry, null-time rows never expire by age,
    state=='expired' forces, per-event ttl respected — and both
    shard counts equal the batch twin over the same arrival order."""
    import pyspark.sql.functions as F

    from mirabelle_spark.operators import filters as flt
    from mirabelle_spark.streaming import core

    rows = []
    eid = 0
    for h in range(50):
        for i in range(8):
            tt = None if (h + i) % 13 == 6 else float(i * 40 + (h % 3))
            state = "expired" if (h * 5 + i) % 17 == 3 else "ok"
            ttl = 90.0 if i % 2 else None
            rows.append((eid, f"h{h:02d}", state, ttl, tt))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id bigint, host string, state string, ttl double, t double"
    ).withColumn("time", F.timestamp_micros((F.col("t") * 1e6).cast("long"))).drop("t")

    run = _two_batch_runner(spark, tmp_path, df, "event_id % 8 < 4", "exs")
    for keep, tag in ((True, "e"), (False, "ne")):
        per = sorted(r.event_id for r in run(
            lambda s: core.stream_expired(s, by=["host"], time_col="time",
                                          keep_expired=keep), f"exs_pk_{tag}"))
        shd = sorted(r.event_id for r in run(
            lambda s: core.stream_expired(
                s, by=["host"], time_col="time", keep_expired=keep,
                shards=4), f"exs_sh_{tag}"))
        assert shd == per
        assert 0 < len(per) < len(rows)
        twin = flt.expired if keep else flt.not_expired
        assert per == sorted(r.event_id for r in twin(
            df, time_col="time", arrival_cols=("event_id",), by=["host"]).collect())


def test_stream_curate_parity(spark, tmp_path):
    """Batch/stream parity for the curation head (r11): Gopher
    quality filter -> exact dedup -> PII masking. The batch twin is
    the SAME compose executed on the static frame plus the batch
    dedup_exact min(id) winner election; the replay is id-ordered
    across two micro-batches (maxFilesPerTrigger=1, duplicate copies
    only in the LATER file), so first-arrival == min(id) and the
    outputs must match bit-for-bit — including cross-batch dedup
    state. Run twice: unbounded dropDuplicates and the
    watermark-bounded dropDuplicatesWithinWatermark mode."""
    import pyspark.sql.functions as F

    from mirabelle_spark.pipeline import dedup, sampling, text as tx
    from mirabelle_spark.streaming import core

    good = (
        "the data to be of and that have with quality words enough "
        "for rules contact me at alice@example.com or +1 415-555-0100"
    )
    good2 = (
        "the plan to be of and that have with more words here today "
        "ping bob.smith@corp.example.org for details about everything"
    )
    bad = "#### #### #### ####"  # fails symbol + stopword rules
    base = 1704067200  # 2024-01-01T00:00:00Z — NOT the epoch: the
    # initial watermark is 0, and a stateful operator drops events
    # at-or-behind it, so epoch-adjacent test times silently vanish
    rows = [
        # batch 1 (file 1): originals
        (1, base + 0, good),
        (2, base + 1, good2),
        (3, base + 2, bad),
        # batch 2 (file 2): exact duplicates (same raw text) + fresh
        (4, base + 3, good),   # dup of 1, suppressed by cross-batch state
        (5, base + 4, good2),  # dup of 2
        (6, base + 5, "the end to be of and that have with final words now"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id bigint, t bigint, text string"
    ).withColumn("time", F.timestamp_micros(F.col("t") * 1_000_000)).drop("t")

    # batch twin: same compose + dedup_exact's min(id) winner
    passed = (
        tx.gopher_rules(df, min_words=5)
        .filter(F.col("passes"))
        .select(*df.columns)
    )
    winners = dedup.dedup_exact(passed).select("doc_id")
    batch = {
        (r.doc_id, r.text_masked)
        for r in sampling.mask_pii(passed.join(winners, "doc_id"))
        .select("doc_id", "text_masked")
        .collect()
    }
    assert {d for d, _ in batch} == {1, 2, 6}
    assert any("<EMAIL>" in m and "<PHONE>" in m for _, m in batch)

    src = str(tmp_path / "cur_in")
    df.where("doc_id <= 3").coalesce(1).write.mode("append").parquet(src)
    df.where("doc_id > 3").coalesce(1).write.mode("append").parquet(src)
    for mode, kw in (
        ("unbounded", {}),
        ("watermarked", {"time_col": "time", "dedup_within_s": 3600.0}),
    ):
        stream = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        out = core.stream_curate(stream, min_words=5, **kw)
        q = (
            out.writeStream.format("memory")
            .queryName(f"curate_{mode}")
            .option("checkpointLocation", str(tmp_path / f"ck_{mode}"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = {
            (r.doc_id, r.text_masked)
            for r in spark.sql(
                f"SELECT doc_id, text_masked FROM curate_{mode}"
            ).collect()
        }
        assert got == batch, (mode, got)

    # trained-gate mode (r11): the model quality filter is a
    # stateless projection, so the streaming compose stays parity-
    # exact with the batch twin under the same pinned weights
    from mirabelle_spark.pipeline.logreg_quality_trained import (
        TRAIN_DIM, TRAINED_LOGREG_B, TRAINED_LOGREG_W,
    )

    model = (TRAINED_LOGREG_W, TRAINED_LOGREG_B)
    batch_m = {
        (r.doc_id, r.text_masked)
        for r in sampling.curate_head(df, model=model, dim=TRAIN_DIM).collect()
    }
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = core.stream_curate(stream, model=model, dim=TRAIN_DIM)
    q = (
        out.writeStream.format("memory")
        .queryName("curate_model")
        .option("checkpointLocation", str(tmp_path / "ck_model"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got_m = {
        (r.doc_id, r.text_masked)
        for r in spark.sql(
            "SELECT doc_id, text_masked FROM curate_model"
        ).collect()
    }
    assert got_m == batch_m, got_m

    # DSIR domain-gate mode (r11): the importance-threshold filter
    # is a stateless projection too — parity-exact with the batch
    # twin under the same pinned log-ratio weights. Threshold at a
    # permissive level (the tiny corpus scores are all near 0) so
    # the gate passes SOME docs and the dedup state still matters.
    from mirabelle_spark.pipeline.dsir_logratios_trained import (
        TRAINED_DSIR_W,
    )

    dsir = (TRAINED_DSIR_W, -10.0)
    batch_d = {
        (r.doc_id, r.text_masked)
        for r in sampling.curate_head(df, min_words=5, dsir=dsir).collect()
    }
    assert len(batch_d) > 0
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = core.stream_curate(stream, min_words=5, dsir=dsir)
    q = (
        out.writeStream.format("memory")
        .queryName("curate_dsir")
        .option("checkpointLocation", str(tmp_path / "ck_dsir"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got_d = {
        (r.doc_id, r.text_masked)
        for r in spark.sql(
            "SELECT doc_id, text_masked FROM curate_dsir"
        ).collect()
    }
    assert got_d == batch_d, got_d

    # bigram-LM perplexity-gate mode (r13): lm_gate_expr is the
    # row-local FOLD cost expression — stateless — so the streaming
    # compose stays parity-exact with the batch twin under the same
    # model. The model is trained on the static frame and the
    # threshold sits between the good docs' scores and the bad
    # doc's, so the gate passes SOME docs and drops others.
    from mirabelle_spark.pipeline import lm

    lmodel = lm.train_bigram_lm(df, top_bigrams=16, top_unigrams=8)
    scores = {
        r.doc_id: (r.n_bigrams, r.bits_e9)
        for r in lm.lm_bits(df, lmodel).collect()
    }
    # threshold midway across the RULE-SURVIVING docs' bits-per-token
    # so the LM gate keeps some survivors and drops others
    bpts = sorted(scores[i][1] / scores[i][0] / 1e9 for i in (1, 2, 6))
    assert bpts[0] < bpts[-1], bpts
    thr = (bpts[0] + bpts[-1]) / 2
    lg = (lmodel, thr, 3)
    batch_l = {
        (r.doc_id, r.text_masked)
        for r in sampling.curate_head(df, min_words=5, lm_gate=lg).collect()
    }
    assert 0 < len(batch_l) < len(batch)  # gate dropped someone
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = core.stream_curate(stream, min_words=5, lm_gate=lg)
    q = (
        out.writeStream.format("memory")
        .queryName("curate_lm")
        .option("checkpointLocation", str(tmp_path / "ck_lm"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got_l = {
        (r.doc_id, r.text_masked)
        for r in spark.sql(
            "SELECT doc_id, text_masked FROM curate_lm"
        ).collect()
    }
    assert got_l == batch_l, got_l


def test_stream_neardup_dedup_parity(spark, tmp_path):
    """Streaming near-dup dedup (r13) vs the batch LSH derivation:
    on an id-ordered replay (two micro-batches, duplicates only in
    the later files), survivors == all docs minus every id_b of
    minhash_lsh_candidates (the transitive "shares a band with ANY
    earlier doc" rule — dropped docs still seed state). Also pins:
    pass-through schema, the short-doc sentinel (no signature ⇒
    always survives with exact=False), exact=True absorbing exact
    dedup below shingle_n words, and first-arrival-vs-min(id): the
    batch family elects min(id) per cluster; the stream elects the
    FIRST ARRIVAL, so the id-ordered replay here is exactly the
    regime where the two coincide (an id-DESCENDING replay would
    keep the higher id — divergence by design, as documented)."""
    import pyspark.sql.functions as F

    from mirabelle_spark.pipeline import dedup
    from mirabelle_spark.streaming import core

    base_t = 1704067200
    t0 = (
        "the data to be of and that have with quality words enough "
        "for rules about spark structured streaming state stores today"
    )
    t1 = t0 + " extraone"    # near-dup of t0 (superset shingles)
    t2 = t1 + " extratwo"    # near-dup of t1 (chains through a drop)
    t3 = (
        "completely unrelated content describing winnowing sketches "
        "and suffix arrays for byte grain duplicate removal pipelines"
    )
    rows = [
        (1, base_t + 0, t0),
        (2, base_t + 1, t3),
        (3, base_t + 2, "ab cd"),       # short: sentinel band only
        # later files: the duplicates
        (4, base_t + 3, t1),            # near-dup of 1
        (5, base_t + 4, t2),            # near-dup of 4 (dropped doc seeds)
        (6, base_t + 5, "ab cd"),       # short dup: survives w/o exact
        (7, base_t + 6, t0),            # exact dup of 1 (also an LSH pair)
    ]
    df = spark.createDataFrame(
        rows, "doc_id bigint, t bigint, text string"
    ).withColumn("time", F.timestamp_micros(F.col("t") * 1_000_000)).drop("t")

    # batch derivation: drop every id that pairs with an earlier id
    pairs = dedup.minhash_lsh_candidates(df, shingle_hash="fast").collect()
    dropped = {r.id_b for r in pairs}
    expect = {i for i, _, _ in rows} - dropped
    assert {4, 5, 7} <= dropped and expect >= {1, 2, 3, 6}, (pairs, expect)

    src = str(tmp_path / "nd_in")
    df.where("doc_id <= 3").coalesce(1).write.mode("append").parquet(src)
    df.where("doc_id BETWEEN 4 AND 5").coalesce(1).write.mode("append").parquet(src)
    df.where("doc_id >= 6").coalesce(1).write.mode("append").parquet(src)

    def run(name, **kw):
        stream = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        out = core.stream_neardup_dedup(stream, shards=8, **kw)
        assert out.columns == df.columns  # pass-through schema
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", str(tmp_path / f"ck_{name}"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            (r.doc_id, r.text)
            for r in spark.sql(f"SELECT doc_id, text FROM {name}").collect()
        }

    got = run("nd_plain")
    assert {i for i, _ in got} == expect, got
    # full rows pass through unmodified
    assert got == {(i, t) for i, _, t in rows if i in expect}

    # exact=True folds exact dedup in: the short duplicate now drops
    got_x = run("nd_exact", exact=True)
    assert {i for i, _ in got_x} == expect - {6}, got_x

    # state TTL: a near-dup arriving past the horizon survives (band
    # state evicted on the event clock); one inside it still drops
    rows2 = [
        (1, base_t + 0, t0),
        (2, base_t + 1800, t1),   # inside 3600 s: dropped
        (3, base_t + 7200, t1),   # past it: state evicted, survives
    ]
    df2 = spark.createDataFrame(
        rows2, "doc_id bigint, t bigint, text string"
    ).withColumn("time", F.timestamp_micros(F.col("t") * 1_000_000)).drop("t")
    src2 = str(tmp_path / "nd_ttl_in")
    for i in (1, 2, 3):
        df2.where(f"doc_id = {i}").coalesce(1).write.mode("append").parquet(src2)
    stream = (
        spark.readStream.schema(df2.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src2)
    )
    out = core.stream_neardup_dedup(stream, shards=8, state_ttl_s=3600.0)
    q = (
        out.writeStream.format("memory")
        .queryName("nd_ttl")
        .option("checkpointLocation", str(tmp_path / "ck_nd_ttl"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got_t = {r.doc_id for r in spark.sql("SELECT doc_id FROM nd_ttl").collect()}
    assert got_t == {1, 3}, got_t


def test_stream_image_neardup_dedup_parity(spark, tmp_path):
    """Streaming image near-dup (r16): first-arrival survivors at
    dHash band grain through the same keyed-state shell as the text
    twin. On an id-ordered replay (dups only in later files) the
    survivors equal the batch derivation (all ids minus every id_b
    of band_hamming_pairs — on this corpus every band-sharing pair
    is also a Hamming≤3 pair, so the band-grain rule coincides);
    the REAL upscale re-encode and the one-pixel perturbation both
    drop, the distinct image and the undecodable blob (never-dup
    sentinel) survive, full rows pass through, and band state
    evicts on the event-clock TTL."""
    import numpy as np
    import pyspark.sql.functions as F

    from mirabelle_spark.pipeline import dedup, multimodal
    from mirabelle_spark.streaming import core

    rng = np.random.default_rng(21)
    base = rng.integers(0, 256, size=(16, 16), dtype=np.uint8)
    upscale = base[np.arange(32) // 2][:, np.arange(32) // 2]
    perturbed = base.copy()
    perturbed[0, 0] = 255 if base[0, 0] < 128 else 0
    distinct = rng.integers(0, 256, size=(16, 16), dtype=np.uint8)
    base_t = 1704067200
    rows = [
        (1, base_t + 0, bytearray(multimodal.encode_netpbm(base))),
        (2, base_t + 1, bytearray(multimodal.encode_netpbm(distinct))),
        (3, base_t + 2, bytearray(b"not an image")),  # sentinel
        # later files: the duplicates
        (4, base_t + 3, bytearray(multimodal.encode_netpbm(upscale))),
        (5, base_t + 4, bytearray(multimodal.encode_netpbm(perturbed))),
    ]
    df = spark.createDataFrame(
        rows, "doc_id bigint, t bigint, media binary"
    ).withColumn("time", F.timestamp_micros(F.col("t") * 1_000_000)).drop("t")

    # batch derivation: min-id-first means every id_b drops
    pairs = dedup.band_hamming_pairs(
        multimodal.image_dhash(df, media_col="media", id_col="doc_id"),
        id_col="id",
    ).collect()
    dropped = {r.id_b for r in pairs}
    assert dropped == {4, 5}
    expect = {1, 2, 3}

    src = str(tmp_path / "ind_in")
    df.where("doc_id <= 3").coalesce(1).write.mode("append").parquet(src)
    df.where("doc_id >= 4").coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = core.stream_image_neardup_dedup(stream, shards=8)
    assert out.columns == df.columns  # pass-through schema
    q = (
        out.writeStream.format("memory")
        .queryName("ind_plain")
        .option("checkpointLocation", str(tmp_path / "ck_ind"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.doc_id, bytes(r.media))
        for r in spark.sql("SELECT doc_id, media FROM ind_plain").collect()
    }
    assert {i for i, _ in got} == expect, got
    assert got == {(i, bytes(m)) for i, _, m in rows if i in expect}

    # TTL: the same image re-posted past the horizon survives
    rows2 = [
        (1, base_t + 0, bytearray(multimodal.encode_netpbm(base))),
        (2, base_t + 1800, bytearray(multimodal.encode_netpbm(upscale))),
        (3, base_t + 7200, bytearray(multimodal.encode_netpbm(base))),
    ]
    df2 = spark.createDataFrame(
        rows2, "doc_id bigint, t bigint, media binary"
    ).withColumn("time", F.timestamp_micros(F.col("t") * 1_000_000)).drop("t")
    src2 = str(tmp_path / "ind_ttl_in")
    for i in (1, 2, 3):
        df2.where(f"doc_id = {i}").coalesce(1).write.mode("append").parquet(src2)
    stream2 = (
        spark.readStream.schema(df2.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src2)
    )
    out2 = core.stream_image_neardup_dedup(stream2, shards=8, state_ttl_s=3600.0)
    q2 = (
        out2.writeStream.format("memory")
        .queryName("ind_ttl")
        .option("checkpointLocation", str(tmp_path / "ck_ind_ttl"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    got_t = {r.doc_id for r in spark.sql("SELECT doc_id FROM ind_ttl").collect()}
    assert got_t == {1, 3}, got_t


def test_stream_curate_neardup_parity(spark, tmp_path):
    """stream_curate(neardup=True) vs the batch compose: Gopher
    quality gate -> exact ∪ near dedup -> PII masking, on an
    id-ordered replay. The batch twin derives survivors as: quality
    passers minus exact-dup losers (dedup_exact min-id winners)
    minus every id_b of minhash_lsh_candidates over the passers —
    the documented semantics of the absorbed single-state-store
    near-dup pass."""
    import pyspark.sql.functions as F

    from mirabelle_spark.pipeline import dedup, sampling, text as tx
    from mirabelle_spark.streaming import core

    base_t = 1704067200
    good = (
        "the data to be of and that have with quality words enough "
        "for rules contact me at alice@example.com or +1 415-555-0100"
    )
    good_nd = good + " postscript"  # near-dup that still passes rules
    good2 = (
        "the plan to be of and that have with more words here today "
        "ping bob.smith@corp.example.org for details about everything"
    )
    bad = "#### #### #### ####"
    rows = [
        (1, base_t + 0, good),
        (2, base_t + 1, good2),
        (3, base_t + 2, bad),
        (4, base_t + 3, good_nd),   # near-dup of 1: the r13 catch —
        # the r11 exact-only head silently admitted this
        (5, base_t + 4, good2),     # exact dup of 2
    ]
    df = spark.createDataFrame(
        rows, "doc_id bigint, t bigint, text string"
    ).withColumn("time", F.timestamp_micros(F.col("t") * 1_000_000)).drop("t")

    passed = (
        tx.gopher_rules(df, min_words=5)
        .filter(F.col("passes"))
        .select(*df.columns)
    )
    exact_losers = {
        r.doc_id
        for r in passed.join(
            dedup.dedup_exact(passed).select("doc_id"), "doc_id", "left_anti"
        ).collect()
    }
    near_losers = {
        r.id_b
        for r in dedup.minhash_lsh_candidates(
            passed, shingle_hash="fast"
        ).collect()
    }
    keep = {r.doc_id for r in passed.collect()} - exact_losers - near_losers
    assert keep == {1, 2}, (keep, exact_losers, near_losers)
    batch = {
        (r.doc_id, r.text_masked)
        for r in sampling.mask_pii(
            passed.filter(F.col("doc_id").isin(list(keep)))
        ).select("doc_id", "text_masked").collect()
    }

    src = str(tmp_path / "cnd_in")
    df.where("doc_id <= 3").coalesce(1).write.mode("append").parquet(src)
    df.where("doc_id > 3").coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = core.stream_curate(
        stream, min_words=5, time_col="time", dedup_within_s=86400.0,
        neardup=True, neardup_shards=8,
    )
    q = (
        out.writeStream.format("memory")
        .queryName("curate_nd")
        .option("checkpointLocation", str(tmp_path / "ck_cnd"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.doc_id, r.text_masked)
        for r in spark.sql(
            "SELECT doc_id, text_masked FROM curate_nd"
        ).collect()
    }
    assert got == batch, (got, batch)


def test_stream_curate_contamination_parity(spark, tmp_path):
    """Streaming decontamination via the pinned benchmark Bloom
    (r14; VERDICT r13 'What's missing #1'): stream_curate's
    contamination gate must drop EVERY document the batch
    exact-confirm join (contamination_bloom) flags — no false
    negatives by Bloom construction — and any extra drop must be
    explained by >= min_shared bloom-POSITIVE shingles (the
    documented FP over-drop). At a generously-sized m the replay is
    bit-equal to the batch head's survivors; a deliberately
    starved 64-bit filter then exercises the FP bound."""
    import pyspark.sql.functions as F

    from mirabelle_spark.pipeline import sampling
    from mirabelle_spark.streaming import core

    bench_rows = [
        (100, "the quick brown fox jumps over the lazy dog every day"),
        (101, "pack my box with five dozen liquor jugs for the test"),
    ]
    bench = spark.createDataFrame(bench_rows, "doc_id bigint, text string")
    good = (
        "the data to be of and that have with quality words enough "
        "for rules plus plenty of unrelated material here"
    )
    contaminated = (
        "the data to be of and that have with quality words like "
        "the quick brown fox jumps over the lazy dog said the test"
    )
    base = 1704067200
    rows = [
        (1, base + 0, good),
        (2, base + 1, contaminated),   # >= 2 shared shingles w/ bench
        (3, base + 2, good + " more"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id bigint, t bigint, text string"
    ).withColumn("time", F.timestamp_micros(F.col("t") * 1_000_000)).drop("t")

    M, K, N, MS = 16384, 3, 3, 2
    words = sampling.benchmark_bloom(bench, shingle_n=N, m_bits=M, k=K)
    # batch truth: the exact-confirm join's contaminated set
    batch_bad = {
        r.doc_id
        for r in sampling.contamination_bloom(
            df, bench, min_shared=MS, shingle_n=N, m_bits=M, k=K
        ).collect()
    }
    assert batch_bad == {2}

    src = str(tmp_path / "decon_in")
    df.coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = core.stream_curate(
        stream, min_words=5, contamination=(words, M, K, N, MS)
    )
    q = (
        out.writeStream.format("memory")
        .queryName("curate_decon")
        .option("checkpointLocation", str(tmp_path / "ck_decon"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    survivors = {
        r.doc_id
        for r in spark.sql("SELECT doc_id FROM curate_decon").collect()
    }
    # no false negatives: every batch-contaminated doc is gone
    assert survivors & batch_bad == set()
    # at this m (16384 bits vs ~20 bench shingles) FPs are ~absent:
    # the replay equals the batch survivor set exactly
    assert survivors == {1, 3}

    # batch head parity: the SAME expression gates curate_head, so
    # the DSL's batch and stream `curate` stay structurally equal
    batch_head = {
        r.doc_id
        for r in sampling.curate_head(
            df, min_words=5, contamination=(words, M, K, N, MS)
        ).collect()
    }
    assert batch_head == survivors

    # starved filter (64 bits, saturated): everything bloom-positive
    # -> every doc with >= MS distinct shingles drops; the invariant
    # "extra drops are bloom-explained over-drops" holds by
    # construction and batch_bad is still a subset of the drops
    words64 = sampling.benchmark_bloom(bench, shingle_n=N, m_bits=64, k=K)
    kept64 = {
        r.doc_id
        for r in df.filter(
            sampling.contamination_gate_expr(
                words64, 64, k=K, shingle_n=N, min_shared=MS
            )
        ).collect()
    }
    dropped64 = {1, 2, 3} - kept64
    assert batch_bad <= dropped64
    for d in dropped64 - batch_bad:
        n_pos = (
            df.filter(F.col("doc_id") == d)
            .select(
                F.size(
                    F.filter(
                        F.array_distinct(
                            F.transform(
                                sampling.word_shingles(F.col("text"), N),
                                lambda s: F.xxhash64(s),
                            )
                        ),
                        lambda h: sampling.bloom_might_contain(
                            words64, h, 64, k=K
                        ),
                    )
                ).alias("n")
            )
            .first()["n"]
        )
        assert n_pos >= MS  # the over-drop is bloom-explained


def test_contamination_gate_null_text_kept_any_ansi_mode(spark):
    """NULL text scores as the EMPTY document (zero shingles →
    keep), matching the lm gates' NULL-as-empty contract — and the
    outcome must NOT depend on session ANSI mode (ADVICE r14:
    without the coalesce the predicate itself was NULL, kept under
    default Spark, silently dropped under ANSI)."""
    from mirabelle_spark.pipeline import sampling

    bench = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")], "bid bigint, text string"
    )
    words = sampling.benchmark_bloom(bench, shingle_n=3, m_bits=1024, k=3)
    df = spark.createDataFrame(
        [(1, None), (2, "alpha beta gamma delta epsilon zeta")],
        "doc_id bigint, text string",
    )
    gate = sampling.contamination_gate_expr(
        words, 1024, k=3, shingle_n=3, min_shared=2
    )
    prev = spark.conf.get("spark.sql.ansi.enabled", None)
    try:
        for mode in ("true", "false"):
            spark.conf.set("spark.sql.ansi.enabled", mode)
            kept = {r.doc_id for r in df.filter(gate).collect()}
            assert kept == {1}, (mode, kept)  # NULL kept, leak dropped
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.ansi.enabled")
        else:
            spark.conf.set("spark.sql.ansi.enabled", prev)


def test_curate_lm_gates_mutually_exclusive(spark):
    """The lm_gate/lm3_gate precondition is validated at function
    ENTRY on both heads (ADVICE r14: it used to fire only inside the
    lm3 branch, after the lm branch had already been built)."""
    import pytest as _pytest

    from mirabelle_spark.pipeline import sampling
    from mirabelle_spark.pipeline.bigram_lm_trained import TRAINED_LM
    from mirabelle_spark.pipeline.trigram_lm_trained import TRAINED_LM3
    from mirabelle_spark.streaming import core

    df = spark.createDataFrame([(1, "a b c")], "doc_id bigint, text string")
    with _pytest.raises(ValueError, match="not both"):
        sampling.curate_head(
            df, lm_gate=(TRAINED_LM, 4.91, 16),
            lm3_gate=(TRAINED_LM3, 8.57, 16),
        )
    with _pytest.raises(ValueError, match="not both"):
        core.stream_curate(
            df, lm_gate=(TRAINED_LM, 4.91, 16),
            lm3_gate=(TRAINED_LM3, 8.57, 16),
        )


def test_stream_curate_lm3_parity(spark, tmp_path):
    """Streaming trigram perplexity gate (r14): stream_curate's
    lm3_gate (the row-local lm3_gate_expr fold) must produce the
    same survivors as the batch head's lm3_quality broadcast-join +
    left-semi path on an id-ordered replay — the two strategies are
    output-identical by construction."""
    import pyspark.sql.functions as F

    from mirabelle_spark.pipeline import lm3, sampling
    from mirabelle_spark.streaming import core

    base = 1704067200
    good = (
        "the data to be of and that have with quality words enough "
        "for rules and plenty of likely material in this document"
    )
    rows = [
        (1, base + 0, good),
        (2, base + 1, good + " extra tail words beyond the original"),
        (3, base + 2, "qq ww ee rr tt yy uu ii oo pp aa ss dd ff gg hh jj kk"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id bigint, t bigint, text string"
    ).withColumn("time", F.timestamp_micros(F.col("t") * 1_000_000)).drop("t")

    m = lm3.train_trigram_lm(
        df.filter("doc_id <= 2"), top_trigrams=32, top_bigrams=16,
        top_unigrams=8,
    )
    gate = (m, 10.0, 4)
    batch = {
        r.doc_id
        for r in sampling.curate_head(
            df, min_words=5,
            rules=("word_count_ok", "alpha_ok"),
            lm3_gate=gate,
        ).collect()
    }
    # the all-OOV doc must be gated out, or the test proves nothing
    assert 3 not in batch and batch

    src = str(tmp_path / "lm3_in")
    df.coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = core.stream_curate(
        stream, min_words=5, rules=("word_count_ok", "alpha_ok"),
        lm3_gate=gate,
    )
    q = (
        out.writeStream.format("memory")
        .queryName("curate_lm3")
        .option("checkpointLocation", str(tmp_path / "ck_lm3"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r.doc_id
        for r in spark.sql("SELECT doc_id FROM curate_lm3").collect()
    }
    assert got == batch
