#!/usr/bin/env python
"""Keyed-state carry format microbench: JSON text vs pickle.

Times one round trip of one shard's carry map (what the keyed-state
shell pays per touched shard per micro-batch) in two formats:

  json     ``json.dumps``/``json.loads`` of the map the folds kept as
           JSON text before the carry was pickled, cells in JSON form
           (timestamps as isoformat strings)
  pickle   ``pickle.dumps(protocol=5)``/``pickle.loads`` of the map the
           folds keep today, cells as pandas hands them (pd.Timestamp)

over two carry shapes:

  ewma     {key: float}, the ewma/throttle-style scalar state (the same
           map in both formats)
  buffer   a fixed-event-window partial buffer of ``--rows`` rows with
           a timestamp column: {key: (t_us, [row tuple])} as pickle,
           {key: {"l": t_us, "b": {col: [cells]}}} as JSON text

Usage:
  python tools/bench_carry_format.py [--keys 6250] [--rows 2] [--reps 30]

Prints one JSON line: {shape: {fmt: {"dumps_ms", "loads_ms", "bytes"}}}
with the median of ``--reps`` runs.
"""

from __future__ import annotations

import argparse
import json
import pickle
import statistics
import time


def _carries(keys: int, rows: int):
    import pandas as pd

    names = [f"host-{i:07d}" for i in range(keys)]
    ewma = {k: 0.5 + i / 7.0 for i, k in enumerate(names)}
    t0 = pd.Timestamp("2024-01-01T00:00:00")

    def cells(i):
        return [t0 + pd.Timedelta(seconds=i + j) for j in range(rows)]

    def as_json(i):
        ts = cells(i)
        return {
            "l": int(ts[-1].value // 1000),
            "b": {
                "time": [c.isoformat() for c in ts],
                "host": [names[i]] * rows,
                "service": ["cpu"] * rows,
                "metric": [float(i + j) for j in range(rows)],
            },
        }

    def as_rows(i):
        ts = cells(i)
        return (
            int(ts[-1].value // 1000),
            [(c, names[i], "cpu", float(i + j)) for j, c in enumerate(ts)],
        )

    return {
        "ewma": ({"c": ewma}, {"c": ewma}),
        "buffer": (
            {"c": {k: as_json(i) for i, k in enumerate(names)}},
            {"c": {k: as_rows(i) for i, k in enumerate(names)}},
        ),
    }


def _time(dumps, loads, blob, reps):
    d, lo = [], []
    for _ in range(reps):
        t = time.perf_counter()
        raw = dumps(blob)
        d.append(time.perf_counter() - t)
        t = time.perf_counter()
        loads(raw)
        lo.append(time.perf_counter() - t)
    return {
        "dumps_ms": round(statistics.median(d) * 1e3, 2),
        "loads_ms": round(statistics.median(lo) * 1e3, 2),
        "bytes": len(raw),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--keys", type=int, default=6250)
    ap.add_argument("--rows", type=int, default=2)
    ap.add_argument("--reps", type=int, default=30)
    a = ap.parse_args()
    out = {}
    for shape, (as_json, as_cells) in _carries(a.keys, a.rows).items():
        out[shape] = {
            "json": _time(
                lambda b: json.dumps(b).encode(), json.loads, as_json, a.reps
            ),
            "pickle": _time(
                lambda b: pickle.dumps(b, protocol=5), pickle.loads, as_cells, a.reps
            ),
        }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
