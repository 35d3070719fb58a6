"""The ``batch_replay`` workload: registry queries from
``__spark_entry__.queries()`` over tables generated from the seed,
checked against their ``oracle_sql()`` twins on DuckDB.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

from perfbench import common

MONITOR = (
    "agg_sum_hourly", "by_sum_daily", "ewma_smoothed", "throttle",
    "coalesce_fill", "changed_transitions", "sessionize_user_events",
)
PIPELINE = (
    "dedup_clusters", "minhash_lsh_pairs", "ann_ivf_topk", "curate_head_docs",
    "image_near_dups",
)
QUERIES = MONITOR + PIPELINE


def layer_name(query: str) -> str:
    return f"{'operators' if query in MONITOR else 'pipeline'}.{query}_s"


_EVENT_TYPES = ("click", "view", "error", "signup", "purchase")
_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS = ("en", "zh", "es", "de", "fr")
_LANG_P = (0.44, 0.15, 0.14, 0.14, 0.13)


def make_tables(out_dir: str, seed: int, size: dict) -> None:
    """``events``, ``documents`` and ``embeddings`` parquet files with
    the column types the registry queries read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 20])
    n = size["events"]
    # strictly increasing event times over 30 days: no ties in any
    # order-dependent fold
    gaps = rng.integers(1, 2 * (30 * 86400 * 10**6) // n, size=n)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    events = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, size["users"], size=n), pa.int64()),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, size=n)),
        "value": pa.array(np.maximum(np.round(rng.exponential(50.0, size=n), 2), 0.01)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n).tolist()]),
    })
    pq.write_table(events, os.path.join(out_dir, "events.parquet"))

    rng = np.random.default_rng([seed, 21])
    texts: list[str] = []
    originals: list[int] = []
    for i in range(size["documents"]):
        if originals and rng.random() < 0.25:
            # near-duplicate of an earlier original: one word changed
            words = texts[originals[int(rng.integers(0, len(originals)))]].split()
            words[int(rng.integers(0, len(words)))] = _WORDS[int(rng.integers(0, len(_WORDS)))]
        else:
            originals.append(i)
            words = rng.choice(_WORDS, size=int(rng.integers(10, 100))).tolist()
        texts.append(" ".join(words))
    nd = len(texts)
    documents = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(_LANGS, size=nd, p=_LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(nd)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(documents, os.path.join(out_dir, "documents.parquet"))

    rng = np.random.default_rng([seed, 22])
    ne, dim = size["embeddings"], 64
    centers = rng.normal(size=(10, dim))
    label = rng.integers(0, 10, size=ne)
    vec = centers[label] + 0.6 * rng.normal(size=(ne, dim))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(ne), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })
    pq.write_table(embeddings, os.path.join(out_dir, "embeddings.parquet"))


def _oracle_mismatches(data_dir: str, results: dict, names) -> list[str]:
    import duckdb

    import __spark_entry__ as entry
    from tools.check_correctness import canon

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in ("events", "documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data_dir, t)}.parquet'")
        bad = []
        for name in names:
            got = results[name]
            want = con.execute(oracles[name]).df()
            got.columns = [c.lower() for c in got.columns]
            want.columns = [c.lower() for c in want.columns]
            if os.environ.get("PERFBENCH_CORRUPT") and name == names[0]:
                want = want.iloc[1:]
            if sorted(got.columns) != sorted(want.columns) or canon(got) != canon(want):
                bad.append(name)
        return bad
    finally:
        con.close()


def run_batch(args, t_start, work, tracer, rss) -> dict:
    import __spark_entry__ as entry

    size = args.size
    spark = common.start_spark(work, args.cpus)
    try:
        data_dir = work.sub("data")
        make_tables(data_dir, args.seed, size)
        registry = entry.queries()
        queries = {name: registry[name] for name in QUERIES}

        # untimed warm-up pass, one query per core at a time (it only has
        # to warm the JVM and the workers); its collected results feed
        # the oracle check
        results: dict = {}
        failed = []
        with ThreadPoolExecutor(max_workers=args.cpus) as pool:
            futures = {
                name: pool.submit(lambda fn=fn: fn(spark, data_dir).toPandas())
                for name, fn in queries.items()
            }
            for name, fut in futures.items():
                try:
                    results[name] = fut.result()
                except Exception as e:  # noqa: BLE001 - a failing query is counted, not fatal
                    failed.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
        setup_s = time.perf_counter() - t_start

        sql = common.SqlStatus(spark)
        sql.mark()
        rss.reset()
        passes = 0  # over every attempt

        def attempt():
            nonlocal passes
            noise0 = common.cpu_times()
            times: dict[str, list[float]] = {name: [] for name in queries}
            n_pass = 0
            t_win0 = time.perf_counter()
            while n_pass < 1 or time.perf_counter() - t_win0 < args.seconds:
                for name, fn in queries.items():
                    t0 = time.perf_counter()
                    try:
                        tracer.call(
                            layer_name(name),
                            lambda: fn(spark, data_dir).write.format("noop").mode("overwrite").save(),
                        )
                    except Exception as e:  # noqa: BLE001
                        failed.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
                        continue
                    times[name].append(time.perf_counter() - t0)
                n_pass += 1
            passes += n_pass
            window_s = time.perf_counter() - t_win0
            noise = common.host_noise(noise0, common.cpu_times())
            per_query = {n: common.median(v) for n, v in times.items() if v}
            medians = list(per_query.values())
            metrics = {
                "latency_p50_s": common.median(medians),
                "latency_tail_s": max(medians),
                "throughput_per_s": len(medians) / sum(medians),
            }
            return metrics, noise, {"passes": n_pass, "per_query_s": per_query,
                                    "window_s": window_s}

        measured, noise, detail = common.quietest(attempt)
        peak_mb = rss.stop()
        layers = sql.totals() if tracer.enabled else {}

        t_check = time.perf_counter()
        checked = [n for n in queries if n in results]
        mismatched = _oracle_mismatches(data_dir, results, checked)
        e2e = {"setup_s": setup_s, **measured, "peak_rss_mb": peak_mb}
        layer = {layer_name(n): v for n, v in detail["per_query_s"].items()}
        layer.update(layers)
        notes = failed + [f"{n}: result differs from its DuckDB oracle" for n in mismatched]
        return {
            "e2e": e2e, "layer": layer, "noise": noise,
            "correct": not failed and not mismatched,
            "attempted": len(queries) * (passes + 1),
            "failed": len(failed) + len(mismatched), "notes": notes,
            "detail": {**detail, "check_s": time.perf_counter() - t_check},
        }
    finally:
        spark.stop()
