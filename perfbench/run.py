"""The engine's benchmark: one workload per invocation.

  python3 perfbench/run.py --workload {live_alerts,resident_state,batch_replay} \\
      --seed N --seconds S --trace {0,1}

Run from the root of a checkout. With ``--trace 0`` the last stdout
line is ``{"correct", "attempted", "failed", "metrics"}`` carrying the
end-to-end metrics named in ``BENCHMARK.json``; with ``--trace 1`` it
carries the per-layer metrics instead, the spans and counters go to
``.bench_runs/trace-<workload>-s<seed>.json`` and the tracing overhead
(traced minus the untraced run of the same workload and seed, when one
was recorded) is printed on stderr. The line before it is the run's
host-noise record (steal % and busy % over the measured window). Every
run's full record is written to ``.bench_runs/<workload>-s<seed>-t<trace>.json``.

Exit codes: 0 result printed; 1 the run failed; 3 the run was invalid
(the load generator could not keep its schedule). See README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

SIZES = {
    "live_alerts": {
        "full": {"hosts": 1000, "conns": 4, "frame": 200, "rate": 1000,
                 "b_events_per_s": 3000, "shards": 16, "max_late_ms": 250},
        "tiny": {"hosts": 40, "conns": 2, "frame": 20, "rate": 1000,
                 "b_events_per_s": 1000, "shards": 4, "max_late_ms": 1000},
    },
    "resident_state": {
        "full": {"keys": 400_000, "batch": 20000, "preload_chunk": 100_000,
                 "shards": 64, "sample": 1000, "min_batches": 4},
        "tiny": {"keys": 5000, "batch": 2000, "preload_chunk": 5000,
                 "shards": 8, "sample": 50, "min_batches": 2},
    },
    "batch_replay": {
        "full": {"events": 10000, "users": 150, "documents": 300, "embeddings": 500},
        "tiny": {"events": 2000, "users": 30, "documents": 60, "embeddings": 100},
    },
}
WATCHDOG_S = 170


class Watchdog(Exception):
    pass


def _metrics(spec: list[dict], values: dict) -> dict:
    missing = [m["name"] for m in spec if m["name"] not in values]
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    return {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in spec}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="smoke-test sizes")
    args = ap.parse_args(argv)

    # fails outside a checkout of the engine, before any work starts
    import mirabelle_spark  # noqa: F401

    from perfbench import common
    from perfbench.batch_wl import QUERIES, layer_name, run_batch
    from perfbench.streaming_wl import InvalidRun, run_live, run_resident

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    args.size = SIZES[args.workload]["tiny" if args.tiny else "full"]
    args.cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))

    def on_alarm(signum, frame):
        raise Watchdog(f"run exceeded {WATCHDOG_S} s")

    signal.signal(signal.SIGALRM, on_alarm)
    signal.alarm(WATCHDOG_S)
    work = common.WorkDir(args.workload)
    tracer = common.Tracer(bool(args.trace))
    rss = common.RssSampler().start()
    run = {"live_alerts": run_live, "resident_state": run_resident,
           "batch_replay": run_batch}[args.workload]
    try:
        res = run(args, T_START, work, tracer, rss)
    except InvalidRun as e:
        print(f"invalid run, not recorded: {e}", file=sys.stderr)
        return 3
    finally:
        rss.stop()
        _stop_jvm()
        work.close()
        signal.alarm(0)

    e2e = res["e2e"]
    layer = {
        "plans.builder.compile_s": tracer.total_s("plans.builder.compile"),
        "streaming.lifecycle.push_s": tracer.total_s("streaming.lifecycle.push"),
        "streaming.lifecycle.files": tracer.counters.get("streaming.lifecycle.files", 0.0),
        "sink.collect_s": tracer.total_s("sink.collect"),
        "host.steal_pct": res["noise"]["steal_pct"],
        "host.busy_pct": res["noise"]["busy_pct"],
        "trace.spans": float(len(tracer.spans)),
    }
    # layers a workload does not run read zero
    for name in ("riemann_wire.decode_s", "riemann_wire.events", "streaming.tcp.frames",
                 "streaming.tcp.nacks", "streaming.tcp.ack_p99_ms", "gen.late_p99_ms",
                 *common.STREAM_CORE_METRICS):
        layer[name] = 0.0
    for q in QUERIES:
        layer[layer_name(q)] = 0.0
    layer.update(res["layer"])

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "correct": res["correct"], "attempted": res["attempted"],
        "failed": res["failed"], "notes": res["notes"], "host_noise": res["noise"],
        "end_to_end": e2e, "per_layer": layer, "detail": res["detail"],
    }
    runs_dir = work.runs
    stem = f"{args.workload}-s{args.seed}"
    if args.trace:
        base_path = os.path.join(runs_dir, f"{stem}-t0.json")
        overhead = {}
        if os.path.exists(base_path):
            with open(base_path) as fh:
                base = json.load(fh)["end_to_end"]
            overhead = {k: e2e[k] - base[k] for k in base if k in e2e}
        span_cost = tracer.span_cost_s()
        record["trace_overhead"] = {
            "traced_minus_untraced": overhead,
            "span_cost_s": span_cost,
            "recording_s": span_cost * len(tracer.spans),
        }
        tracer.dump(os.path.join(runs_dir, f"trace-{stem}.json"), {"record": record})
        print("tracing overhead: " + json.dumps(record["trace_overhead"]), file=sys.stderr)
        metrics = _metrics(bench["per_layer"], layer)
    else:
        metrics = _metrics(bench["end_to_end"], e2e)
    with open(os.path.join(runs_dir, f"{stem}-t{args.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    for note in res["notes"]:
        print(f"check: {note}", file=sys.stderr)
    print(json.dumps({"host_noise": res["noise"]}))
    print(json.dumps({
        "correct": bool(res["correct"]), "attempted": int(res["attempted"]),
        "failed": int(res["failed"]), "metrics": metrics,
    }))
    return 0


def _stop_jvm() -> None:
    """Stop the JVM the session launched and wait for it to exit (its
    Python workers end with it)."""
    try:
        from pyspark import SparkContext
    except ImportError:
        return
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is None:
        return
    gateway.shutdown()
    if proc is not None and proc.poll() is None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - last resort
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    try:
        code = main()
    except BaseException:  # noqa: BLE001 - any failure: no result line, non-zero exit
        traceback.print_exc()
        code = 1
    sys.stdout.flush()
    os._exit(code)
