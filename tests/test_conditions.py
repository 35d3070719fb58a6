"""Condition mini-language semantics (reference condition.clj:4-22,
condition_test.clj)."""


def _ids(make_events, collect_sorted, rows, cond):
    from mirabelle_spark.operators import filters as flt

    df = make_events(rows)
    return [r[0] for r in collect_sorted(flt.where(df, cond), "seq")]


def test_eq_and_gt(make_events, collect_sorted):
    rows = [
        {"time": 1, "metric": 5, "service": "a"},
        {"time": 2, "metric": 15, "service": "a"},
        {"time": 3, "metric": 20, "service": "b"},
    ]
    assert _ids(make_events, collect_sorted, rows,
                [":and", [":=", "service", "a"], [":>", "metric", 10]]) == [1]


def test_or_not(make_events, collect_sorted):
    rows = [
        {"time": 1, "metric": 5, "service": "a"},
        {"time": 2, "metric": 15, "service": "b"},
        {"time": 3, "metric": -1, "service": "c"},
    ]
    assert _ids(make_events, collect_sorted, rows,
                [":or", [":=", "service", "a"], [":neg?", "metric"]]) == [0, 2]
    # :not on a null field must be TRUE (clojure semantics), not NULL
    rows_null = [{"time": 1, "service": None}, {"time": 2, "service": "x"}]
    assert _ids(make_events, collect_sorted, rows_null,
                [":not", [":=", "service", "x"]]) == [0]


def test_regex_full_match(make_events, collect_sorted):
    rows = [
        {"time": 1, "service": "api"},
        {"time": 2, "service": "api-v2"},
    ]
    # reference uses re-matches (FULL match): 'api' must not match 'api-v2'
    assert _ids(make_events, collect_sorted, rows, [":regex", "service", "api"]) == [0]
    assert _ids(make_events, collect_sorted, rows, [":regex", "service", "api.*"]) == [0, 1]


def test_contains_absent_nil(make_events, collect_sorted):
    rows = [
        {"time": 1, "tags": ["prod", "web"]},
        {"time": 2, "tags": ["dev"]},
        {"time": 3, "tags": None},
    ]
    assert _ids(make_events, collect_sorted, rows, [":contains", "tags", "prod"]) == [0]
    # absent on null collection is true (nothing contained)
    assert _ids(make_events, collect_sorted, rows, [":absent", "tags", "prod"]) == [1, 2]
    assert _ids(make_events, collect_sorted, rows, [":nil?", "tags"]) == [2]
    assert _ids(make_events, collect_sorted, rows, [":not-nil?", "tags"]) == [0, 1]


def test_not_eq_null_safe(make_events, collect_sorted):
    rows = [{"time": 1, "state": None}, {"time": 2, "state": "ok"}]
    # clojure not=: nil differs from "ok" → event 0 passes
    assert _ids(make_events, collect_sorted, rows, [":not=", "state", "ok"]) == [0]


def test_invalid_conditions_raise():
    """condition_test.clj:28-37: malformed vectors are rejected at
    compile time, not silently mis-evaluated."""
    import pytest

    from mirabelle_spark.conditions import compile_condition

    bad = [
        [[":>", "metric", 10]],          # nested instead of op-first
        [":??", "metric", 10],            # unknown op
        [":foo", "metric"],               # unknown op
        [],                                # empty
        "not-a-vector",                   # wrong type
    ]
    for cond in bad:
        with pytest.raises((ValueError, TypeError)):
            compile_condition(cond)
