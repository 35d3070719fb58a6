"""Meta-tests of the correctness harness itself: the comparator must
CATCH wrong results — a gate that can't fail is no gate. Imports the
canon/norm machinery from tools/check_correctness.py directly."""

import importlib.util
import sys
from pathlib import Path

import pandas as pd

ROOT = Path(__file__).resolve().parents[1]


def _load():
    spec = importlib.util.spec_from_file_location(
        "check_correctness", ROOT / "tools" / "check_correctness.py"
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules.setdefault("check_correctness", mod)
    spec.loader.exec_module(mod)
    return mod


CHK = _load()


def test_canon_catches_value_drift():
    a = pd.DataFrame({"k": [1, 2], "v": [1.5, 2.5]})
    b = pd.DataFrame({"k": [1, 2], "v": [1.5, 2.5000000000000004]})  # 1 ulp
    assert CHK.canon(a) == CHK.canon(a.copy())
    assert CHK.canon(a) != CHK.canon(b)


def test_canon_is_order_and_column_order_insensitive():
    a = pd.DataFrame({"k": [1, 2], "v": [10.0, 20.0]})
    shuffled = pd.DataFrame({"v": [20.0, 10.0], "k": [2, 1]})
    assert CHK.canon(a) == CHK.canon(shuffled)


def test_canon_distinguishes_nan_null_and_zero():
    import numpy as np

    base = pd.DataFrame({"v": [0.0]})
    nan = pd.DataFrame({"v": [np.nan]})
    null = pd.DataFrame({"v": [None]}).astype(object)
    assert CHK.canon(base) != CHK.canon(nan)
    assert CHK.canon(nan) != CHK.canon(null)


def test_canon_catches_list_and_struct_drift():
    a = pd.DataFrame({"v": [[1, 2, 3]]})
    b = pd.DataFrame({"v": [[1, 3, 2]]})   # element order matters inside arrays
    assert CHK.canon(a) != CHK.canon(b)
    c = pd.DataFrame({"v": [{"x": 1, "y": 2}]})
    d = pd.DataFrame({"v": [{"x": 1, "y": 3}]})
    assert CHK.canon(c) != CHK.canon(d)


def test_canon_catches_sign_of_negative_zero_collapse():
    # -0.0 vs 0.0 repr-differ in python; the gate treats them as
    # distinct (stricter than IEEE ==), so an engine flipping the
    # sign of a zero is caught, not masked
    a = pd.DataFrame({"v": [0.0]})
    b = pd.DataFrame({"v": [-0.0]})
    assert CHK.canon(a) != CHK.canon(b)


def _load_bench():
    spec = importlib.util.spec_from_file_location(
        "bench_mod", ROOT / "bench.py"
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules.setdefault("bench_mod", mod)
    spec.loader.exec_module(mod)
    return mod


def test_bench_stdout_trims_to_fit_degraded_rounds():
    """The driver records a 2,000-byte stdout tail; a DEGRADED round
    (many sf1 child errors) must still emit one parseable line (r16,
    ADVICE r15: the old bare assert crashed after the sidecar write,
    losing the whole record exactly when it mattered). Sheds error
    values -> error entries -> worst5 -> totals-only, never the
    suite totals."""
    import json

    bench = _load_bench()
    payload = {
        "metric": "headline_queries_total", "value": 67.77, "unit": "sec",
        "n_queries": 51, "suite_steal_pct_max": 15.3,
        "events_per_sec": 734214, "sf": 0.1,
        "sf1": {
            "total": 186.4, "n_queries": 26,
            "worst5": {f"a_rather_long_query_name_{i}": 70.0 - i
                       for i in range(5)},
            "child_overhead_median": 4.96, "steal_pct_max": 9.9,
            "errors": {f"failing_query_with_long_name_{i}": "x" * 300
                       for i in range(26)},
        },
    }
    line = bench.compact_stdout_line(payload)
    parsed = json.loads(line)
    assert len(line) < 1900
    assert parsed["value"] == 67.77 and parsed["n_queries"] == 51
    assert parsed["sf1"]["n_errors"] == 26  # drop count stays visible

    # a healthy payload passes through byte-identical
    small = {"metric": "headline_queries_total", "value": 1.0,
             "unit": "sec", "sf": 0.1}
    assert json.loads(bench.compact_stdout_line(dict(small))) == small


def test_bench_stdout_carries_per_query_map_within_budget():
    """r17 contract (VERDICT r16 ask #1): the one-line JSON must carry
    the full per-query minima map — it is the driver's per_query /
    geomean / scaling source — and still fit the 1,900-byte budget at
    the current 54-query suite. The map must survive degradation (sf1
    errors) ahead of every sf1 detail field."""
    import json

    bench = _load_bench()
    qmap = {name: round(0.5 + i * 0.137, 3)
            for i, name in enumerate(bench.BENCH_QUERIES)}
    payload = {
        "metric": "headline_queries_total", "value": 51.9, "unit": "sec",
        "queries": qmap, "runs_per_query": 5, "n_queries": len(qmap),
        "suite_steal_pct_max": 3.2, "events_per_sec": 1639344,
        "n_events": 1000000, "events_per_sec_elapsed": 0.61, "sf": 0.1,
        "sf1": {
            "total": 94.1, "n_queries": 26,
            "worst5": {f"a_rather_long_query_name_{i}": 10.0 - i
                       for i in range(5)},
            "child_overhead_median": 4.66, "steal_pct_max": 9.9,
        },
    }
    line = bench.compact_stdout_line(json.loads(json.dumps(payload)))
    parsed = json.loads(line)
    assert len(line) < 1900
    assert parsed["queries"] == qmap  # full map, 3-decimal values

    # degraded round: 26 child errors — queries map still survives
    payload["sf1"]["errors"] = {f"failing_query_with_long_name_{i}": "x" * 300
                                for i in range(26)}
    line2 = bench.compact_stdout_line(json.loads(json.dumps(payload)))
    parsed2 = json.loads(line2)
    assert len(line2) < 1900
    assert parsed2["queries"] == qmap


def test_recursive_cte_oracles_fold_null_key_run(spark, tmp_path):
    """The ``throttle`` and ``ewma_smoothed`` oracles are recursive
    CTEs that step from row n to row n+1 of the same user. They join
    ``IS NOT DISTINCT FROM``, so a null ``user_id`` is one key whose
    whole run folds, as the engine keeps it (Spark groupBy identity);
    a plain ``=`` join would stop the null key after its first row."""
    import duckdb

    from mirabelle_spark import queries as Q

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events AS SELECT i AS event_id,"
        " TIMESTAMP '2024-01-01' + to_minutes(i * 13) AS ts,"
        " CASE i % 3 WHEN 0 THEN NULL ELSE i % 3 END::BIGINT AS user_id,"
        " (i * 7 % 11)::DOUBLE AS value FROM range(30) t(i)"
    )
    con.execute(f"COPY events TO '{tmp_path}/events.parquet' (FORMAT parquet)")
    null_ids = set(range(0, 30, 3))
    for name in ("throttle", "ewma_smoothed"):
        got = sorted(tuple(r) for r in Q.QUERIES[name](spark, str(tmp_path)).collect())
        want = sorted(con.execute(Q.ORACLES[name]).fetchall())
        assert got == want, name
        assert len(null_ids & {r[0] for r in want}) > 1, name
