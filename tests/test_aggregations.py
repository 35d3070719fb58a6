"""Aggregation family + coll-* reducers (reference §2.6;
action_test.clj:1227-1299 aggregation cases, math_test.clj)."""


def test_agg_sum_mean(make_events):
    from mirabelle_spark.operators import aggregations as agg

    df = make_events(
        [{"time": 1, "metric": 1}, {"time": 2, "metric": 2}, {"time": 61, "metric": 10}]
    )
    s = {r.window_start: r.metric for r in agg.agg_sum(df, 60.0, time_col="time").collect()}
    assert s == {0.0: 3.0, 60.0: 10.0}
    m = {r.window_start: r.metric for r in agg.agg_mean(df, 60.0, time_col="time").collect()}
    assert m == {0.0: 1.5, 60.0: 10.0}


def test_agg_sum_null_metric_counts_zero(make_events):
    from mirabelle_spark.operators import aggregations as agg

    df = make_events([{"time": 1, "metric": None}, {"time": 2, "metric": 5}])
    s = agg.agg_sum(df, 60.0, time_col="time").collect()
    assert s[0].metric == 5.0


def test_agg_top_bottom_tie_later_wins(make_events):
    from mirabelle_spark.operators import aggregations as agg

    df = make_events(
        [
            {"time": 1, "metric": 9, "host": "first"},
            {"time": 2, "metric": 9, "host": "second"},  # tie → later event wins
            {"time": 3, "metric": 1, "host": "low"},
        ]
    )
    top = agg.agg_top(df, 60.0, time_col="time", order_cols=["seq"]).collect()[0]
    assert top.host == "second"
    bot = agg.agg_bottom(df, 60.0, time_col="time", order_cols=["seq"]).collect()[0]
    assert bot.host == "low"


def test_agg_rate_ratio(make_events):
    from mirabelle_spark.operators import aggregations as agg

    df = make_events(
        [
            {"time": 1, "state": "critical", "metric": 1},
            {"time": 2, "state": "ok", "metric": 1},
            {"time": 3, "state": "critical", "metric": 1},
        ]
    )
    r = agg.agg_rate(df, 60.0, time_col="time").collect()[0]
    assert r.metric == 3 / 60.0
    ratio = agg.agg_ratio(
        df, [":=", "state", "critical"], [":=", "state", "ok"], 60.0, time_col="time"
    ).collect()[0]
    assert ratio.metric == 2.0
    # zero denominator → 0 (reference finalizer rule)
    zero = agg.agg_ratio(
        df, [":=", "state", "critical"], [":=", "state", "missing"], 60.0,
        time_col="time",
    ).collect()[0]
    assert zero.metric == 0.0


def test_percentiles_nearest_rank(make_events):
    from mirabelle_spark.operators import aggregations as agg

    # math.clj:120 rule: idx = min(n-1, floor(n*q)); n=4 sorted [1,2,3,4]
    df = make_events([{"time": t, "metric": m} for t, m in enumerate([3, 1, 4, 2])])
    p = agg.agg_percentiles(df, [0.0, 0.5, 0.75, 1.0], 60.0, time_col="time")
    got = {r.quantile: r.metric for r in p.collect()}
    assert got == {0.0: 1.0, 0.5: 3.0, 0.75: 4.0, 1.0: 4.0}


def test_percentiles_window_of_null_metrics_is_null(make_events):
    from mirabelle_spark.operators import aggregations as agg

    # the [60, 120) window holds only a null metric: no rank exists
    df = make_events([
        {"time": 1, "metric": 2}, {"time": 61, "metric": None},
    ])
    p = agg.agg_percentiles(df, [0.0, 1.0], 60.0, time_col="time")
    got = {(r.window_start, r.quantile): r.metric for r in p.collect()}
    assert got == {(0.0, 0.0): 2.0, (0.0, 1.0): 2.0, (60.0, 0.0): None, (60.0, 1.0): None}


def test_coll_rate_zero_interval(make_events):
    from mirabelle_spark.operators import aggregations as agg

    # same timestamps → interval 0 → metric = plain sum (math.clj:104-106)
    df = make_events([{"time": 5, "metric": 2}, {"time": 5, "metric": 3}])
    r = agg.coll_rate(df, 60.0, time_col="time").collect()[0]
    assert r.metric == 5.0


def test_coll_quotient(make_events):
    from mirabelle_spark.operators import aggregations as agg

    df = make_events(
        [{"time": 1, "metric": 100}, {"time": 2, "metric": 5}, {"time": 3, "metric": 2}]
    )
    qt = agg.coll_quotient(df, 60.0, time_col="time", order_cols=["seq"]).collect()[0]
    assert qt.metric == 10.0  # (100/5)/2


def test_coll_increase_counter(make_events):
    from mirabelle_spark.operators import aggregations as agg

    # docstring example (action.clj:2715-2734): 10 → 30 gives 20
    df = make_events(
        [{"time": 1, "metric": 10}, {"time": 9, "metric": 20}, {"time": 20, "metric": 30}]
    )
    inc = agg.coll_increase(df, 60.0, time_col="time", order_cols=["seq"]).collect()
    assert [r.metric for r in inc] == [20.0]
    # counter reset (negative increase) → dropped
    df2 = make_events([{"time": 1, "metric": 30}, {"time": 2, "metric": 5}])
    assert agg.coll_increase(df2, 60.0, time_col="time").count() == 0


def test_coll_top_bottom(make_events):
    from mirabelle_spark.operators import aggregations as agg

    df = make_events([{"time": t, "metric": m} for t, m in enumerate([5, 9, 1, 7])])
    top2 = agg.coll_top(df, 2, 60.0, time_col="time", order_cols=["seq"])
    assert sorted(r.metric for r in top2.collect()) == [7.0, 9.0]
    bot2 = agg.coll_bottom(df, 2, 60.0, time_col="time", order_cols=["seq"])
    assert sorted(r.metric for r in bot2.collect()) == [1.0, 5.0]


def test_ewma_timeless_sequence(make_events):
    from mirabelle_spark.operators import aggregations as agg

    # r=0.5, m0=0: inputs 1,1,1 → 0.5, 0.75, 0.875 (riemann ewma rule)
    df = make_events([{"time": t, "metric": 1} for t in range(3)])
    e = agg.ewma_timeless(df, 0.5, time_col="time", order_cols=["seq"])
    got = [r.metric for r in e.orderBy("seq").collect()]
    assert got == [0.5, 0.75, 0.875]


def test_coll_max_min_skip_null_metrics(make_events):
    """math_test.clj:5-17: max/min-event ignore null-metric events
    (a null never wins; an all-null window emits nothing... the
    reference returns nil)."""
    from mirabelle_spark.operators import aggregations as agg

    df = make_events(
        [{"time": 1, "metric": 1}, {"time": 2, "metric": None},
         {"time": 3}, {"time": 4, "metric": 4}]
    )
    mx = agg.coll_max(df, 60.0, time_col="time").collect()
    assert [r.metric for r in mx] == [4.0]
    mn = agg.coll_min(df, 60.0, time_col="time").collect()
    assert [r.metric for r in mn] == [1.0]
    # min with only one non-null: that one wins even if larger values
    # are "absent" (math_test.clj:17)
    df2 = make_events([{"time": 1, "metric": None}, {"time": 2, "metric": 4}])
    assert [r.metric for r in agg.coll_min(df2, 60.0, time_col="time").collect()] == [4.0]


def test_rate_same_timestamp_sums(make_events):
    """math_test.clj:19-29: rate over a zero-length interval is the
    metric sum; 3 events of metric 1 across 9s → 1/3."""
    from mirabelle_spark.operators import aggregations as agg

    df = make_events([{"time": 10, "metric": 1}, {"time": 10, "metric": 10}])
    assert [r.metric for r in agg.coll_rate(df, 60.0, time_col="time").collect()] == [11.0]
    df2 = make_events(
        [{"time": 2, "metric": 1}, {"time": 1, "metric": 1}, {"time": 10, "metric": 1}]
    )
    got = [r.metric for r in agg.coll_rate(df2, 60.0, time_col="time").collect()]
    assert got == [3.0 / 9.0]


def test_percentiles_riemann_sample(make_events):
    """math_test.clj sorted-sample: [6,1,2,1,1] at [0, 0.5, 1] →
    [1, 1, 6]."""
    from mirabelle_spark.operators import aggregations as agg

    df = make_events([{"time": t, "metric": m} for t, m in enumerate([6, 1, 2, 1, 1])])
    p = agg.agg_percentiles(df, [0.0, 0.5, 1.0], 60.0, time_col="time")
    got = {r.quantile: r.metric for r in p.collect()}
    assert got == {0.0: 1.0, 0.5: 1.0, 1.0: 6.0}


def test_fixed_time_window_aggr_fn_reference_no_delay(make_events):
    """action_test.clj:569-592 (:aggr-fn :fixed-time-window, no
    delay): windows emit their event lists; the unflushed tail
    window (time 31) never emits."""
    from mirabelle_spark.operators import aggregations as agg

    df = make_events([
        {"time": t, "metric": 1, "state": "ok"}
        for t in (0, 1, 3, 5, 7, 9, 10, 29, 31)
    ])
    out = agg.aggregation_delayed(
        df, 5.0, 0.0, aggr="fixed-time-window", time_col="time"
    )
    got = {
        r.window_start: [e.time.timestamp() for e in r.events]
        for r in out.collect()
    }
    assert got == {
        0.0: [0.0, 1.0, 3.0],
        5.0: [5.0, 7.0, 9.0],
        10.0: [10.0],
        25.0: [29.0],
    }


def test_fixed_time_window_aggr_fn_reference_delay(make_events):
    """action_test.clj:593-614 (:delay 30): out-of-order arrivals
    accepted inside the delay; window events emit in ARRIVAL order
    (the [0,5) window is metric 1, 20, 24 — time 0, 3, 2)."""
    from mirabelle_spark.operators import aggregations as agg

    rows = [
        {"time": -10, "metric": -10},
        {"time": 0, "metric": 1},
        {"time": 3, "metric": 20},
        {"time": -9, "metric": -9},
        {"time": 20, "metric": 12},
        {"time": 2, "metric": 24},
        {"time": 34, "metric": 2},
        {"time": 36, "metric": 1},
    ]
    df = make_events(rows)  # seq = arrival order
    out = agg.aggregation_delayed(
        df, 5.0, 30.0, aggr="fixed-time-window", time_col="time",
        arrival_cols=["seq"],
    )
    got = {
        r.window_start: [e.metric for e in r.events] for r in out.collect()
    }
    assert got == {-10.0: [-10.0, -9.0], 0.0: [1.0, 20.0, 24.0]}


def test_coll_sort_reference_case(make_events):
    """action_test.clj:1328-1333: one window [{time 11} {time 10}
    {time 3} {time 14}] sorted by :time."""
    from mirabelle_spark.operators import aggregations as agg

    df = make_events([{"time": t, "metric": t} for t in (11, 10, 3, 14)])
    out = agg.coll_sort(df, "metric", 60.0, time_col="time",
                        payload_cols=["metric"])
    rows = out.collect()
    assert len(rows) == 1
    assert [e.metric for e in rows[0].events] == [3.0, 10.0, 11.0, 14.0]


def test_agg_percentiles_approx_twin(spark, make_events):
    """The approx sketch twin emits the same schema and, on a
    small window (where the sketch is exact by construction),
    values matching the exact nearest-rank path for the quantiles
    whose ranks align."""
    from mirabelle_spark.operators import aggregations as agg

    evs = [{"time": float(t), "metric": float(m)}
           for t, m in [(1, 5), (2, 1), (3, 9), (4, 3), (5, 7)]]
    df = make_events(evs)
    exact = agg.agg_percentiles(df, [0.0, 1.0], 60.0)
    approx = agg.agg_percentiles(df, [0.0, 1.0], 60.0, approx=True)
    assert sorted(exact.columns) == sorted(approx.columns)
    ex = {r.quantile: r.metric for r in exact.collect()}
    ap = {r.quantile: r.metric for r in approx.collect()}
    # min and max are exact in any percentile sketch
    assert ap[0.0] == ex[0.0] == 1.0
    assert ap[1.0] == ex[1.0] == 9.0
    # plan shape: no full-list materialization in the sketch path
    plan = approx._jdf.queryExecution().executedPlan().toString()
    assert "collect_list" not in plan
