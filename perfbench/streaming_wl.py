"""The two streaming workloads: ``live_alerts`` and ``resident_state``.

Both drive the engine through its public streaming surface:
``StreamHandler`` (with a benchmark-owned ``foreachBatch`` sink that
stamps each emission), ``compile_stream(..., Ctx(streaming=True))``
and, for ``live_alerts``, ``RiemannTcpServer`` fed by the separate
generator process in ``riemann_gen.py``.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys
import threading
import time

import numpy as np

from perfbench import common
from perfbench.riemann_gen import PHASE_SERVICE, host_name, phase_plan

SOURCE_SCHEMA = "host STRING, service STRING, time_micros BIGINT, metric_d DOUBLE"
R = 0.5


class InvalidRun(RuntimeError):
    """The measurement itself is not valid (e.g. the open-loop generator
    could not keep its schedule); nothing is recorded."""


def live_tree(shards: int) -> dict:
    return {
        "action": "where", "params": [[":>", "metric", 10]],
        "children": [{
            "action": "by", "params": [{"fields": ["host"], "shards": shards}],
            "children": [{
                "action": "ewma-timeless", "params": [R],
                "children": [{"action": "tap", "params": ["out"]}],
            }],
        }],
    }


def resident_tree(shards: int) -> dict:
    return {
        "action": "by", "params": [{"fields": ["host"], "shards": shards}],
        "children": [{
            "action": "ewma-timeless", "params": [R],
            "children": [{"action": "tap", "params": ["out"]}],
        }],
    }


def _events_frame(df):
    """Decoded-event rows → the (host, service, time, metric) shape the
    trees read."""
    from pyspark.sql import functions as F

    return df.select(
        "host", "service",
        F.timestamp_micros("time_micros").alias("time"),
        F.col("metric_d").alias("metric"),
    )


class Sink:
    """``foreachBatch`` sink: pulls each micro-batch's output rows into
    this process and stamps their arrival. ``keep`` limits which hosts' rows
    are retained for the final-value check (None keeps all)."""

    def __init__(self, tracer: common.Tracer, keep: set[str] | None = None):
        self.tracer = tracer
        self.keep = keep
        self.cond = threading.Condition()
        self.batches: list[dict] = []  # batch_id, recv_s, per-service counts
        self.counts: dict[str, int] = {}
        self.values: list[np.ndarray] = []
        self.rows: list = []  # arrow tables of kept rows
        self.latency_s: list[np.ndarray] = []  # phase-A alert latencies
        self.steady_from_us = 0  # phase-A events created earlier are warm-in
        self.error: BaseException | None = None

    def __call__(self, batch_df, batch_id):
        try:
            self.tracer.call("sink.collect", self._collect, batch_df, batch_id)
        except BaseException as e:  # surfaced to the caller, then re-raised
            self.error = e
            with self.cond:
                self.cond.notify_all()
            raise

    def _collect(self, batch_df, batch_id):
        import pyarrow as pa
        import pyarrow.compute as pc

        tbl = batch_df.select("host", "service", "time", "metric").toArrow()
        recv_s = time.time()
        t_us = tbl.column("time").cast(pa.int64()).to_numpy()
        svc = tbl.column("service").to_numpy(zero_copy_only=False)
        counts: dict[str, int] = {}
        for s, n in zip(*np.unique(svc, return_counts=True)):
            counts[str(s)] = int(n)
        a = (svc == PHASE_SERVICE["A"]) & (t_us >= self.steady_from_us)
        self.latency_s.append(recv_s - t_us[a] / 1e6)
        self.values.append(tbl.column("metric").to_numpy())
        if self.keep is None:
            kept = tbl
        else:
            kept = tbl.filter(pc.is_in(tbl.column("host"), pa.array(sorted(self.keep))))
        with self.cond:
            self.rows.append(kept)
            for s, n in counts.items():
                self.counts[s] = self.counts.get(s, 0) + n
            self.batches.append({"batch_id": batch_id, "recv_s": recv_s, "counts": counts})
            self.cond.notify_all()

    def wait_for(self, service: str, n: int, timeout_s: float) -> bool:
        deadline = time.time() + timeout_s
        with self.cond:
            while self.counts.get(service, 0) < n and self.error is None:
                left = deadline - time.time()
                if left <= 0:
                    return False
                self.cond.wait(left)
        if self.error is not None:
            raise RuntimeError(f"sink failed: {self.error}")
        return True

    def completion_s(self, service: str, n: int) -> float | None:
        """Arrival time of the batch that brought ``service`` to n rows."""
        seen = 0
        for b in self.batches:
            seen += b["counts"].get(service, 0)
            if seen >= n:
                return b["recv_s"]
        return None

    def final_values(self) -> dict[str, float]:
        import pyarrow as pa

        tbl = pa.concat_tables(self.rows).to_pandas()
        tbl = tbl.sort_values("time", kind="mergesort")
        return tbl.groupby("host")["metric"].last().to_dict()


def _make_handler(spark, work, tracer, sink):
    from mirabelle_spark.plans.builder import Ctx, compile_stream
    from mirabelle_spark.streaming import StreamHandler, file_source

    class SinkHandler(StreamHandler):
        """StreamHandler whose streams write through the benchmark sink."""

        def _start(self, name, config, _retry=True):
            df = self.compile_fn(self.spark, name, config)
            self.queries[name] = (
                df.writeStream.queryName(name)
                .outputMode("append")
                .option("checkpointLocation", os.path.join(self.checkpoint_root, name))
                .foreachBatch(sink)
                .start()
            )
            self.configs[name] = config

    def compile_fn(sp, name, config):
        src = _events_frame(file_source(sp, handler.ingest_dir(name), SOURCE_SCHEMA))
        ctx = tracer.call(
            "plans.builder.compile", compile_stream, src, config["tree"], Ctx(streaming=True)
        )
        return ctx.taps["out"]

    handler = SinkHandler(
        spark, work.sub("checkpoints"), compile_fn, ingest_root=work.sub("ingest")
    )
    if tracer.enabled:
        push = handler.push_events

        def traced_push(name, events):
            tracer.count("streaming.lifecycle.files")
            return tracer.call("streaming.lifecycle.push", push, name, events)

        handler.push_events = traced_push
    return handler


def _batch_finals(spark, tree, events) -> dict[str, float]:
    """Final per-host value of the batch compile of ``tree`` over
    ``events`` (a pandas frame of host, service, time_micros, metric_d)."""
    from pyspark.sql import functions as F

    from mirabelle_spark.plans.builder import Ctx, compile_stream

    df = _events_frame(spark.createDataFrame(events, schema=SOURCE_SCHEMA))
    out = compile_stream(df, tree, Ctx()).taps["out"]
    rows = out.groupBy("host").agg(F.max_by("metric", "time").alias("m")).collect()
    return {r["host"]: r["m"] for r in rows}


def _reference_fold(hosts, metrics) -> tuple[int, float]:
    """Seed-implied output count and exact sum of ewma-timeless over
    events already in creation order."""
    state: dict = {}
    out = []
    for h, v in zip(hosts, metrics):
        m = R * v + (1.0 - R) * state.get(h, 0.0)
        state[h] = m
        out.append(m)
    return len(out), math.fsum(out)


def _check(sink, spark, tree, events, expect_n, expect_sum, hosts_to_check) -> tuple[bool, int, list]:
    """(correct, mismatches, notes): count, exact sum and per-host
    final values against the seed and the batch twin."""
    notes = []
    if os.environ.get("PERFBENCH_CORRUPT"):
        expect_sum += 1.0
    got_n = sum(len(v) for v in sink.values)
    got_sum = math.fsum(np.concatenate(sink.values).tolist()) if sink.values else 0.0
    bad = abs(got_n - expect_n)
    if got_n != expect_n:
        notes.append(f"rows {got_n} != {expect_n}")
    if got_sum != expect_sum:
        notes.append(f"sum {got_sum!r} != {expect_sum!r}")
        bad += 1
    want = _batch_finals(spark, tree, events)
    got = sink.final_values()
    wrong = [h for h in hosts_to_check if got.get(h) != want.get(h)]
    if wrong:
        notes.append(f"{len(wrong)} hosts differ from the batch twin, e.g. {wrong[0]}: "
                     f"{got.get(wrong[0])!r} vs {want.get(wrong[0])!r}")
    bad += len(wrong)
    return not notes, bad, notes


# -- live_alerts ------------------------------------------------------------------


def run_live(args, t_start, work, tracer, rss) -> dict:
    from mirabelle_spark.streaming import RiemannTcpServer
    from mirabelle_spark.streaming import tcp as tcp_mod

    import pandas as pd

    size = args.size
    # at most one connection per core: the generator must not outnumber them
    hosts, conns, frame = size["hosts"], min(size["conns"], args.cpus), size["frame"]
    rate = size["rate"]
    b_events = int(size["b_events_per_s"] * args.seconds)
    spark = common.start_spark(work, args.cpus)
    sink = Sink(tracer)
    handler = _make_handler(spark, work, tracer, sink)
    if tracer.enabled:
        decode = tcp_mod.decode_msg

        def traced_decode(payload):
            tracer.count("streaming.tcp.frames")
            events = tracer.call("riemann_wire.decode", decode, payload)
            tracer.count("riemann_wire.events", len(events))
            return events

        tcp_mod.decode_msg = traced_decode
    tree = live_tree(size["shards"])
    srv = RiemannTcpServer(handler, default_stream="alerts").start()
    gen = None
    try:
        handler.add_stream("alerts", {"tree": tree})
        t_listen = time.perf_counter()
        gen = subprocess.Popen(
            [sys.executable, os.path.join(common.ROOT, "perfbench", "riemann_gen.py"),
             "--port", str(srv.port), "--seed", str(args.seed), "--hosts", str(hosts),
             "--conns", str(conns), "--frame", str(frame), "--rate", str(rate),
             "--seconds", str(args.seconds), "--b-events", str(b_events)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True, cwd=common.ROOT,
        )
        rss.exclude.add(gen.pid)

        def ask(cmd):
            gen.stdin.write(cmd + "\n")
            gen.stdin.flush()
            line = gen.stdout.readline()
            if not line:
                raise RuntimeError("load generator exited")
            return json.loads(line)

        hello = json.loads(gen.stdout.readline() or "null")
        if not hello:
            raise RuntimeError("load generator failed to start")
        plans = {
            "warm": phase_plan(args.seed, "warm", hosts, conns, frame, 1),
            "A": phase_plan(args.seed, "A", hosts, conns, frame, hello["a_frames"]),
            "B": phase_plan(args.seed, "B", hosts, conns, frame, hello["b_frames"]),
        }
        expect = {p: int((m > 10).sum()) for p, (_, m) in plans.items()}

        # set-up ends when the first events have been accepted and alerted on
        t_w0 = time.perf_counter()
        warm = ask("warm")["warm"]
        if not sink.wait_for(PHASE_SERVICE["warm"], expect["warm"], 120):
            raise RuntimeError("warm-up events never reached the sink")
        setup_s = (t_listen - t_start) + (time.perf_counter() - t_w0)

        q = handler.get_stream("alerts")
        first_batch = len(sink.batches)
        sql = common.SqlStatus(spark)
        sql.mark()
        rss.reset()
        b_sent = hello["b_frames"] * frame
        runs = []  # every measured attempt's open-loop start and answers

        def attempt():
            k = len(runs) + 1
            noise0 = common.cpu_times()
            t_win0 = time.perf_counter()
            t0_us = time.time_ns() // 1000 + 200_000
            # latency is sampled in steady state: the first quarter of the
            # open-loop phase lets the micro-batch cadence settle
            sink.latency_s = []
            sink.steady_from_us = t0_us + int(args.seconds * 250_000)
            phase_a = ask(f"A {t0_us}")["A"]
            runs.append({"t0_us": t0_us, "A": phase_a})
            drained = sink.wait_for(PHASE_SERVICE["A"], k * expect["A"], 60 + args.seconds)
            phase_b = runs[-1]["B"] = ask("B")["B"]
            drained &= sink.wait_for(PHASE_SERVICE["B"], k * expect["B"], 120)
            runs[-1]["drained"] = drained
            window_s = time.perf_counter() - t_win0
            noise = common.host_noise(noise0, common.cpu_times())
            if phase_a["late_p99_ms"] > size["max_late_ms"]:
                raise InvalidRun("generator fell behind its schedule: late p99 "
                                 f"{phase_a['late_p99_ms']:.1f} ms")
            lat = np.concatenate(sink.latency_s)
            last_b = sink.completion_s(PHASE_SERVICE["B"], k * expect["B"])
            metrics = {
                "latency_p50_s": common.percentile(lat, 50),
                "latency_tail_s": common.percentile(lat, 90),
                "throughput_per_s": b_sent / (last_b - phase_b["first_send"]) if last_b else 0.0,
            }
            b_batches = [(b["counts"]["b"], b["recv_s"] - phase_b["first_send"])
                         for b in sink.batches if b["counts"].get("b")]
            detail = {"latency_samples": int(lat.size), "phase_a": phase_a,
                      "window_s": window_s, "b_send_s": phase_b["done"] - phase_b["first_send"],
                      "b_batches": b_batches}
            return metrics, noise, detail

        t_meas0 = time.perf_counter()
        measured, noise, detail = common.quietest(attempt)
        measured_s = time.perf_counter() - t_meas0
        peak_mb = rss.stop()
        progress = common.stream_progress(q, sink.batches[first_batch]["batch_id"]
                                          if len(sink.batches) > first_batch else 1 << 62)
        layers = sql.totals() if tracer.enabled else {}
        gen.stdin.write("quit\n")
        gen.stdin.close()
        gen.wait(timeout=30)

        # per-event expectations, in creation order per host
        t_check = time.perf_counter()
        sent = [("warm", warm["stamps"])]
        for run in runs:
            interval_us = run["A"]["interval_us"]
            sent.append(("A", [run["t0_us"] + int(k * interval_us)
                               for k in range(hello["a_frames"])]))
            sent.append(("B", run["B"]["stamps"]))
        parts = []
        for phase, stamps in sent:
            h, m = plans[phase]
            t = np.asarray(stamps, dtype=np.int64)[:, None] + np.arange(frame)
            parts.append(pd.DataFrame({
                "host": [host_name(x) for x in h.ravel().tolist()],
                "service": PHASE_SERVICE[phase],
                "time_micros": t.ravel(),
                "metric_d": m.ravel(),
            }))
        events = pd.concat(parts, ignore_index=True).sort_values("time_micros", kind="mergesort")
        passed = events[events["metric_d"] > 10]
        exp_n, exp_sum = _reference_fold(passed["host"].tolist(), passed["metric_d"].tolist())
        correct, bad, notes = _check(
            sink, spark, tree, events, exp_n, exp_sum, sorted(set(passed["host"]))
        )
        if not all(run["drained"] for run in runs):
            notes.append("not every event reached the sink before the timeout")
            correct = False
        nacks = warm["nacks"] + sum(run["A"]["nacks"] + run["B"]["nacks"] for run in runs)

        e2e = {"setup_s": setup_s, **measured, "peak_rss_mb": peak_mb}
        layer = {
            "riemann_wire.decode_s": tracer.total_s("riemann_wire.decode"),
            "riemann_wire.events": tracer.counters.get("riemann_wire.events", 0.0),
            "streaming.tcp.frames": tracer.counters.get("streaming.tcp.frames", 0.0),
            "streaming.tcp.nacks": float(nacks),
            "streaming.tcp.ack_p99_ms": detail["phase_a"]["ack_p99_ms"],
            "gen.late_p99_ms": detail["phase_a"]["late_p99_ms"],
            **common.stream_core_layer(progress, measured_s),
            **layers,
        }
        return {
            "e2e": e2e, "layer": layer, "noise": noise, "correct": correct,
            "attempted": len(events), "failed": bad + nacks * frame, "notes": notes,
            "detail": {**detail, "b_events": b_sent, "batches": len(progress),
                       "check_s": time.perf_counter() - t_check},
        }
    finally:
        if gen is not None and gen.poll() is None:
            gen.kill()
            gen.wait()
        srv.stop()
        handler.stop_all()
        spark.stop()


# -- resident_state ---------------------------------------------------------------


def _resident_events(seed: int, keys: int, batch: int, n_batch: int, t_base: int):
    """Preload (one event per key) or micro-batch ``n_batch`` (keys
    uniform over all hosts), with strictly increasing stamps."""
    if n_batch < 0:
        rng = np.random.default_rng([seed, 10])
        host = np.arange(keys)
        metric = rng.integers(0, 10000, size=keys) / 100.0
        stamps = t_base + np.arange(keys)
    else:
        rng = np.random.default_rng([seed, 11, n_batch])
        host = rng.integers(0, keys, size=batch)
        metric = rng.integers(0, 10000, size=batch) / 100.0
        stamps = t_base + keys + n_batch * batch + np.arange(batch)
    return host, metric, stamps


def _as_dicts(host, metric, stamps) -> list[dict]:
    return [
        {"host": host_name(h), "service": "s", "time_micros": t, "metric_d": m}
        for h, m, t in zip(host.tolist(), metric.tolist(), stamps.tolist())
    ]


def run_resident(args, t_start, work, tracer, rss) -> dict:
    import pandas as pd

    size = args.size
    keys, batch = size["keys"], size["batch"]
    rng = np.random.default_rng([args.seed, 12])
    sample = {host_name(h) for h in rng.choice(keys, size=min(size["sample"], keys), replace=False).tolist()}
    spark = common.start_spark(work, args.cpus)
    sink = Sink(tracer, keep=sample)
    handler = _make_handler(spark, work, tracer, sink)
    tree = resident_tree(size["shards"])
    t_base = 1_700_000_000_000_000
    try:
        handler.add_stream("state", {"tree": tree})
        q = handler.get_stream("state")
        host, metric, stamps = _resident_events(args.seed, keys, batch, -1, t_base)
        chunk = size["preload_chunk"]
        for lo in range(0, keys, chunk):
            sl = slice(lo, lo + chunk)
            handler.push_events("state", _as_dicts(host[sl], metric[sl], stamps[sl]))
        if not sink.wait_for("s", keys, 600):
            raise RuntimeError("preload never reached the sink")
        while (q.lastProgress or {}).get("batchId", -1) < sink.batches[-1]["batch_id"]:
            time.sleep(0.005)
        setup_s = time.perf_counter() - t_start

        sql = common.SqlStatus(spark)
        sql.mark()
        first_batch = sink.batches[-1]["batch_id"] + 1
        rss.reset()
        n = 0  # micro-batches dropped so far, over every attempt

        def attempt():
            nonlocal n
            noise0 = common.cpu_times()
            lat = []
            t_win0 = time.perf_counter()
            while time.perf_counter() - t_win0 < args.seconds or len(lat) < size["min_batches"]:
                evs = _as_dicts(*_resident_events(args.seed, keys, batch, n, t_base))
                want = keys + (n + 1) * batch
                t_drop = time.perf_counter()
                handler.push_events("state", evs)
                if not sink.wait_for("s", want, 120):
                    raise RuntimeError(f"micro-batch {n} never reached the sink")
                bid = sink.batches[-1]["batch_id"]
                while (q.lastProgress or {}).get("batchId", -1) < bid:
                    time.sleep(0.002)
                lat.append(time.perf_counter() - t_drop)
                n += 1
            window_s = time.perf_counter() - t_win0
            noise = common.host_noise(noise0, common.cpu_times())
            metrics = {
                "latency_p50_s": common.percentile(lat, 50),
                "latency_tail_s": common.percentile(lat, 90),
                "throughput_per_s": len(lat) * batch / sum(lat),
            }
            return metrics, noise, {"batches": len(lat), "batch_latency_s": lat,
                                    "window_s": window_s}

        t_meas0 = time.perf_counter()
        measured, noise, detail = common.quietest(attempt)
        measured_s = time.perf_counter() - t_meas0
        peak_mb = rss.stop()
        progress = common.stream_progress(q, first_batch)
        layers = sql.totals() if tracer.enabled else {}

        t_check = time.perf_counter()
        parts = [(host, metric, stamps)] + [
            _resident_events(args.seed, keys, batch, b, t_base) for b in range(n)
        ]
        all_h = np.concatenate([p[0] for p in parts])
        all_m = np.concatenate([p[1] for p in parts])
        exp_n, exp_sum = _reference_fold(all_h.tolist(), all_m.tolist())
        sample_idx = np.flatnonzero(np.isin(all_h, [int(h[5:]) for h in sample]))
        events = pd.DataFrame({
            "host": [host_name(x) for x in all_h[sample_idx].tolist()],
            "service": "s",
            "time_micros": np.concatenate([p[2] for p in parts])[sample_idx],
            "metric_d": all_m[sample_idx],
        })
        correct, bad, notes = _check(sink, spark, tree, events, exp_n, exp_sum, sorted(sample))
        e2e = {"setup_s": setup_s, **measured, "peak_rss_mb": peak_mb}
        layer = {**common.stream_core_layer(progress, measured_s), **layers}
        return {
            "e2e": e2e, "layer": layer, "noise": noise, "correct": correct,
            "attempted": int(len(all_h)), "failed": bad, "notes": notes,
            "detail": {**detail, "check_s": time.perf_counter() - t_check},
        }
    finally:
        handler.stop_all()
        spark.stop()
