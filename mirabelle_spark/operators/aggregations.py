"""The ``aggregation*`` family and ``coll-*`` reducers (SURVEY §2.6).

Reference engine: ``action.clj:2387-2454`` — event-time tumbling
windows, per-window accumulator (``keyword->aggr-fn``,
``action.clj:2285-2348``), optional finalizer
(``action.clj:2350-2374``), ``:delay`` lateness. In Spark this IS
``groupBy(by…, window).agg(...)`` — partial+final hash aggregation,
one shuffle keyed on (by…, bucket). The same functions run on a
streaming DataFrame: the DSL watermarks it with ``:delay`` and
:func:`window_agg` groups on ``window()`` so windows seal.

Documented divergence: the reference anchors window index 0 at the
time of the *first event seen* (``action.clj:2380-2385``
``get-window`` is relative to ``start-time``); we use epoch-aligned
tumbling windows (Spark's own ``window()`` semantics) — the
distributed-friendly choice, since "first event seen" is not
well-defined across parallel partitions. Window *width* and floor
semantics match exactly.

Determinism: floating-point sums are order-dependent, and Spark's
partition order is not. Sums here accumulate in DECIMAL(38,9)
(exact, associative) and cast the final value to double, so results
are bit-identical run-to-run and to the DuckDB oracle regardless of
parallelism. This costs ~nothing at scale compared to the shuffle
it rides on.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mirabelle_spark.timeutil import US, window_start_s

DEC = "decimal(38,9)"


def _cols(names: Sequence[str]) -> list[Column]:
    return [F.col(n) for n in names]


def window_agg(
    df: DataFrame, duration_s: float, by: Sequence[str], time_col: str, *aggs: Column
) -> DataFrame:
    """``aggs`` per (by…, tumbling window): columns (by…,
    window_start, aggs…), window_start in epoch seconds.

    Batch groups on the exact µs bucket of :func:`window_start_s`. A
    streaming ``df`` (watermarked by the caller) groups on
    ``F.window`` instead: Structured Streaming seals and evicts window
    state only when the grouping is a ``window()`` on the watermarked
    column. Both give the same window_start double; ``F.window`` also
    drops rows with a null time, which batch keeps as a null
    window."""
    if not df.isStreaming:
        bucket = window_start_s(time_col, duration_s).alias("window_start")
        return df.groupBy(*_cols(by), bucket).agg(*aggs)
    dur_us = int(round(duration_s * US))
    w = F.window(F.col(time_col), f"{dur_us} microseconds").alias("__w__")
    out = df.groupBy(*_cols(by), w).agg(*aggs)
    start = F.col("__w__.start").cast("double").alias("window_start")
    return out.select(*_cols(by), start, *out.columns[len(by) + 1 :])


def exact_sum(metric_col: str | Column) -> Column:
    """Order-independent exact sum: decimal accumulate, double out."""
    c = F.col(metric_col) if isinstance(metric_col, str) else metric_col
    return F.sum(c.cast(DEC)).cast("double")


def agg_sum(
    df: DataFrame,
    duration_s: float,
    by: Sequence[str] = (),
    time_col: str = "time",
    metric_col: str = "metric",
) -> DataFrame:
    """Per-window sum of metric (``sum``, action.clj:2468-2490,
    accumulator ``:+`` :2342-2348; null metric counts as 0)."""
    return window_agg(
        df, duration_s, by, time_col,
        exact_sum(F.coalesce(F.col(metric_col), F.lit(0.0))).alias("metric"),
    )


def aggregation_delayed(
    df: DataFrame,
    duration_s: float,
    delay_s: float,
    aggr: str = "sum",
    by: Sequence[str] = (),
    time_col: str = "time",
    metric_col: str = "metric",
    arrival_cols: Sequence[str] = (),
) -> DataFrame:
    """The FULL push-mode ``aggregation*`` semantics
    (action.clj:2387-2454) in batch, including ``:delay``:

    - stream clock = running max arrival time (:func:`filters.with_clock`
      — scale-safe, never a single-partition sort);
    - an event with ``time < clock - delay`` at arrival is DROPPED
      (too old, action.clj:2421-2426);
    - a window flushes only once ``clock - delay`` passes its end
      (action.clj:2436-2441) — windows still open when the stream
      ends never emit (the batch analog: window_end + delay must be
      ≤ the final clock);
    - the emitted event carries the window's max accepted event time
      (the reference accumulates :time per window).

    Without ``arrival_cols`` arrival order is event-time order, where
    the late-drop never fires and this reduces to the plain windowed
    aggregate minus the unflushed tail windows. Output:
    (by…, window_start, time, metric) — except ``aggr=
    "fixed-time-window"`` (the reference's list-accumulating
    ``:aggr-fn``, action_test.clj:569-640), which emits the window's
    accepted events themselves, time-sorted, as an ``events``
    array<struct> column instead of ``metric``.
    """
    from mirabelle_spark.operators.filters import with_clock

    exprs = {
        "sum": lambda m: exact_sum(F.coalesce(m, F.lit(0.0))),
        "mean": lambda m: exact_sum(F.coalesce(m, F.lit(0.0))) / F.count(F.lit(1)),
        "max": lambda m: F.max(m),
        "min": lambda m: F.min(m),
        "count": lambda m: F.count(F.lit(1)).cast("double"),
    }
    if aggr == "fixed-time-window":
        payload = list(df.columns)
        # the reference accumulates a window's events in ARRIVAL
        # order (action_test.clj:609-614: the delayed [0,5) window
        # emits time 0,3,2 — not time-sorted); arrival_cols are the
        # order key when given, event time otherwise (equal in the
        # in-order case)
        keys = [
            F.col(c).cast("double").alias(f"__k{i}__")
            for i, c in enumerate(arrival_cols or [time_col])
        ]
        exprs[aggr] = lambda m: F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        *keys,
                        F.struct(*[F.col(c) for c in payload]).alias("e"),
                    )
                )
            ),
            lambda s: s["e"],
        )
    if aggr not in exprs:
        raise ValueError(f"invalid aggregation function {aggr!r}")

    dfc, clock = with_clock(df, time_col, arrival_cols, by=by)
    t = F.col(time_col).cast("double")
    accepted = dfc.filter((clock - t) <= F.lit(float(delay_s)))

    if by:
        fc = dfc.groupBy(*_cols(by)).agg(F.max(clock).alias("__fc__"))
        accepted = accepted.drop("__clock__").join(F.broadcast(fc), list(by))
    else:
        fc = dfc.agg(F.max(clock).alias("__fc__"))
        accepted = accepted.drop("__clock__").crossJoin(F.broadcast(fc))

    bucket = window_start_s(time_col, duration_s).alias("window_start")
    value_name = "events" if aggr == "fixed-time-window" else "metric"
    out = (
        accepted.groupBy(*_cols(by), bucket)
        .agg(
            exprs[aggr](F.col(metric_col)).alias(value_name),
            F.max(t).alias("time"),
            F.max(F.col("__fc__")).alias("__fc__"),
        )
        .filter(
            F.col("window_start") + F.lit(float(duration_s) + float(delay_s))
            <= F.col("__fc__")
        )
    )
    return out.drop("__fc__")


def agg_mean(
    df: DataFrame,
    duration_s: float,
    by: Sequence[str] = (),
    time_col: str = "time",
    metric_col: str = "metric",
) -> DataFrame:
    """Per-window mean = exact-sum / count (``mean``,
    action.clj:2540-2562, accum :2312-2320, finalizer :2371-2374)."""
    s = F.sum(F.coalesce(F.col(metric_col), F.lit(0.0)).cast(DEC)).cast("double")
    return window_agg(
        df, duration_s, by, time_col,
        (s / F.count(F.lit(1))).alias("metric"),
    )


def agg_top(
    df: DataFrame,
    duration_s: float,
    by: Sequence[str] = (),
    time_col: str = "time",
    metric_col: str = "metric",
    order_cols: Sequence[str] = (),
    event_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Per-window max-metric event (``top``, action.clj:2492-2514,
    accum ``:max`` :2286-2292 — ties go to the later event)."""
    ev = F.struct(*[F.col(c) for c in (event_cols or df.columns)])
    key = F.struct(F.col(metric_col), F.col(time_col), *_cols(order_cols))
    out = window_agg(df, duration_s, by, time_col, F.max_by(ev, key).alias("__e__"))
    return out.select(*_cols(by), "window_start", "__e__.*")


def agg_bottom(
    df: DataFrame,
    duration_s: float,
    by: Sequence[str] = (),
    time_col: str = "time",
    metric_col: str = "metric",
    order_cols: Sequence[str] = (),
    event_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Per-window min-metric event (``bottom``, action.clj:2516-2538)."""
    ev = F.struct(*[F.col(c) for c in (event_cols or df.columns)])
    # min over (metric, -time): ties go to the later event, like the
    # reference's `<` replace rule; emulate with max_by on negated key
    key = F.struct((-F.col(metric_col)).alias("m"), F.col(time_col), *_cols(order_cols))
    out = window_agg(df, duration_s, by, time_col, F.max_by(ev, key).alias("__e__"))
    return out.select(*_cols(by), "window_start", "__e__.*")


def agg_rate(
    df: DataFrame,
    duration_s: float,
    by: Sequence[str] = (),
    time_col: str = "time",
) -> DataFrame:
    """Per-window event rate = count / duration (``rate``,
    action.clj:2833-2843, finalizer :2364-2370)."""
    return window_agg(
        df, duration_s, by, time_col,
        (F.count(F.lit(1)) / F.lit(float(duration_s))).alias("metric"),
    )


def agg_ratio(
    df: DataFrame,
    cond1,
    cond2,
    duration_s: float,
    by: Sequence[str] = (),
    time_col: str = "time",
    metric_col: str = "metric",
    use_metric: bool = False,
) -> DataFrame:
    """Per-window ratio of events matching cond1 vs cond2 (``ratio``,
    action.clj:2967-3009, accum :2326-2341, finalizer :2357-2363).
    Counts by default; sums of metric with ``use_metric``. Zero
    denominator → 0 (reference finalizer rule)."""
    from mirabelle_spark.conditions import compile_condition

    c1 = cond1 if isinstance(cond1, Column) else compile_condition(cond1)
    c2 = cond2 if isinstance(cond2, Column) else compile_condition(cond2)
    if use_metric:
        v = F.coalesce(F.col(metric_col), F.lit(0.0)).cast(DEC)
        num = F.sum(F.when(c1, v).otherwise(F.lit(0).cast(DEC))).cast("double")
        den = F.sum(F.when(c2, v).otherwise(F.lit(0).cast(DEC))).cast("double")
    else:
        num = F.count_if(c1).cast("double")
        den = F.count_if(c2).cast("double")
    ratio = F.when(den == 0, F.lit(0.0)).otherwise(num / den)
    return window_agg(df, duration_s, by, time_col, ratio.alias("metric"))


def agg_percentiles(
    df: DataFrame,
    quantiles: Sequence[float],
    duration_s: float,
    by: Sequence[str] = (),
    time_col: str = "time",
    metric_col: str = "metric",
    approx: bool = False,
) -> DataFrame:
    """Per-window quantiles of metric, one row per quantile with a
    ``quantile`` column (``percentiles``, action.clj:2845-2929).

    The reference uses an HdrHistogram recorder (approximate); for a
    deterministic, oracle-checkable engine we use the EXACT
    nearest-rank rule of the reference's own ``coll-percentiles``
    (math.clj:109-125): idx = min(n-1, floor(n*q)) over metrics
    sorted ascending. Implemented as one sort_array per window —
    no per-row Python, no second shuffle.

    ``approx=True`` is the 100 TB path and the closer analog of the
    reference's HdrHistogram: ``percentile_approx`` keeps a bounded
    sketch per (group, window) in the aggregation buffer instead of
    materializing and sorting the window's full value list — a
    hot-key window with 10^9 events stays O(accuracy) memory. Exact
    stays the default because the gate oracle replicates it
    bit-for-bit; the sketch twin is deterministic for a given plan
    but not engine-portable.
    """
    if approx:
        qs_lit = F.array(*[F.lit(float(q)) for q in quantiles])
        sk = window_agg(
            df, duration_s, by, time_col,
            F.percentile_approx(
                F.col(metric_col), [float(q) for q in quantiles]
            ).alias("__p__")
        )
        zipped = F.explode(F.arrays_zip(qs_lit.alias("q"), F.col("__p__").alias("m")))
        return (
            sk.select("*", zipped.alias("__z__"))
            .withColumn("quantile", F.col("__z__.q"))
            .withColumn("metric", F.col("__z__.m"))
            .drop("__p__", "__z__")
        )
    sorted_m = F.sort_array(
        F.collect_list(F.col(metric_col))
    )  # nulls excluded by collect_list
    out = window_agg(df, duration_s, by, time_col, sorted_m.alias("__m__"))
    qs = F.array(*[F.lit(float(q)) for q in quantiles])
    out = out.withColumn("quantile", F.explode(qs))
    n = F.size("__m__")
    idx = F.least(n - 1, F.floor(n.cast("double") * F.col("quantile")).cast("int"))
    # a window of null metrics has n = 0: index 1 of the empty list
    # reads null (index 0 would raise even in try_element_at)
    idx = F.greatest(idx, F.lit(0))
    return out.withColumn("metric", F.try_element_at("__m__", idx + 1)).drop("__m__")


# ---------------------------------------------------------------------------
# coll-* reducers: the reference applies these to a window's event
# list; here each is a grouped aggregate over (by…, tumbling window)
# — the list stage is folded into the aggregation (no materialized
# arrays except where order-sensitive math requires one).


def coll_count(
    df: DataFrame, duration_s: float, by: Sequence[str] = (), time_col: str = "time"
) -> DataFrame:
    """Count events per window (``coll-count``, action.clj:1465-1487,
    math.clj:28-36)."""
    return window_agg(
        df, duration_s, by, time_col,
        F.count(F.lit(1)).cast("double").alias("metric"),
    )


def coll_sum(
    df: DataFrame,
    duration_s: float,
    by: Sequence[str] = (),
    time_col: str = "time",
    metric_col: str = "metric",
) -> DataFrame:
    """Sum per window (``coll-sum``, math.clj:65-72)."""
    return window_agg(
        df, duration_s, by, time_col,
        exact_sum(F.coalesce(F.col(metric_col), F.lit(0.0))).alias("metric"),
    )


def coll_mean(
    df: DataFrame,
    duration_s: float,
    by: Sequence[str] = (),
    time_col: str = "time",
    metric_col: str = "metric",
) -> DataFrame:
    """Mean per window (``coll-mean``, math.clj:5-14)."""
    s = F.sum(F.coalesce(F.col(metric_col), F.lit(0.0)).cast(DEC)).cast("double")
    return window_agg(
        df, duration_s, by, time_col,
        (s / F.count(F.lit(1))).alias("metric"),
    )


def coll_max(
    df: DataFrame,
    duration_s: float,
    by: Sequence[str] = (),
    time_col: str = "time",
    metric_col: str = "metric",
) -> DataFrame:
    """Max metric per window (``coll-max``, math.clj:57-62)."""
    return window_agg(df, duration_s, by, time_col, F.max(metric_col).alias("metric"))


def coll_min(
    df: DataFrame,
    duration_s: float,
    by: Sequence[str] = (),
    time_col: str = "time",
    metric_col: str = "metric",
) -> DataFrame:
    """Min metric per window (``coll-min``, math.clj:74-78)."""
    return window_agg(df, duration_s, by, time_col, F.min(metric_col).alias("metric"))


def coll_rate(
    df: DataFrame,
    duration_s: float,
    by: Sequence[str] = (),
    time_col: str = "time",
    metric_col: str = "metric",
) -> DataFrame:
    """sum(metric) / (max(time) − min(time)) per window; if the
    interval is zero the metric is the plain sum (``coll-rate``,
    action.clj:885-913, math.clj:80-106)."""
    s = exact_sum(F.coalesce(F.col(metric_col), F.lit(0.0)))
    span_us = F.max(F.unix_micros(F.col(time_col))) - F.min(
        F.unix_micros(F.col(time_col))
    )
    g = window_agg(
        df, duration_s, by, time_col,
        s.alias("__s__"), span_us.alias("__span__"),
    )
    metric = F.when(F.col("__span__") == 0, F.col("__s__")).otherwise(
        F.col("__s__") / (F.col("__span__") / F.lit(1_000_000))
    )
    return g.withColumn("metric", metric).drop("__s__", "__span__")


def coll_quotient(
    df: DataFrame,
    duration_s: float,
    by: Sequence[str] = (),
    time_col: str = "time",
    metric_col: str = "metric",
    order_cols: Sequence[str] = (),
) -> DataFrame:
    """First metric ÷ each subsequent metric, in event order
    (``coll-quotient``, action.clj:309-322, math.clj:16-26).
    Sequential fold via the ``aggregate`` higher-order function —
    JVM-side, deterministic order from sort_array."""
    ev = F.struct(F.col(time_col), *_cols(order_cols), F.col(metric_col).alias("m"))
    g = window_agg(
        df, duration_s, by, time_col,
        F.sort_array(F.collect_list(ev)).alias("__evs__"),
    )
    ms = F.transform(F.col("__evs__"), lambda x: x["m"])
    quot = F.aggregate(
        F.slice(ms, 2, F.greatest(F.size(ms) - 1, F.lit(0))),
        F.element_at(ms, 1).cast("double"),
        lambda acc, x: acc / x,
    )
    return g.withColumn("metric", quot).drop("__evs__")


def coll_percentiles(
    df: DataFrame,
    quantiles: Sequence[float],
    duration_s: float,
    by: Sequence[str] = (),
    time_col: str = "time",
    metric_col: str = "metric",
) -> DataFrame:
    """Exact nearest-rank quantiles per window
    (``coll-percentiles``, action.clj:1528-1556, rule math.clj:120:
    idx = min(n-1, floor(n*q)))."""
    return agg_percentiles(df, quantiles, duration_s, by, time_col, metric_col)


def coll_top(
    df: DataFrame,
    k: int,
    duration_s: float,
    by: Sequence[str] = (),
    time_col: str = "time",
    metric_col: str = "metric",
    order_cols: Sequence[str] = (),
) -> DataFrame:
    """Top-K events by metric per window (``coll-top``,
    action.clj:2007-2028, math.clj:140-146). Classic windowed top-K:
    rank within (by…, window) and keep k — no global sort."""
    from pyspark.sql import Window as W

    bucket = window_start_s(time_col, duration_s).alias("window_start")
    d = df.withColumn("window_start", bucket)
    w = W.partitionBy(*_cols(by), "window_start").orderBy(
        F.col(metric_col).desc(), F.col(time_col).desc(), *_cols(order_cols)
    )
    return d.withColumn("__rn__", F.row_number().over(w)).filter(
        F.col("__rn__") <= k
    ).drop("__rn__")


def coll_bottom(
    df: DataFrame,
    k: int,
    duration_s: float,
    by: Sequence[str] = (),
    time_col: str = "time",
    metric_col: str = "metric",
    order_cols: Sequence[str] = (),
) -> DataFrame:
    """Bottom-K events by metric per window (``coll-bottom``,
    action.clj:2030-2051)."""
    from pyspark.sql import Window as W

    bucket = window_start_s(time_col, duration_s).alias("window_start")
    d = df.withColumn("window_start", bucket)
    w = W.partitionBy(*_cols(by), "window_start").orderBy(
        F.col(metric_col).asc(), F.col(time_col).desc(), *_cols(order_cols)
    )
    return d.withColumn("__rn__", F.row_number().over(w)).filter(
        F.col("__rn__") <= k
    ).drop("__rn__")


def coll_increase(
    df: DataFrame,
    duration_s: float,
    by: Sequence[str] = (),
    time_col: str = "time",
    metric_col: str = "metric",
    order_cols: Sequence[str] = (),
) -> DataFrame:
    """Counter increase per window = latest.metric − oldest.metric,
    rows with non-positive increase (counter reset) dropped
    (``coll-increase``, action.clj:2693-2740; ties on time keep the
    earliest-seen event — mirrored via order_cols tie-break)."""
    t = F.unix_micros(F.col(time_col))
    newest_key = F.struct(t.alias("t"), *[(-F.col(c)).alias(f"o{i}") for i, c in enumerate(order_cols)])
    oldest_key = F.struct((-t).alias("t"), *[(-F.col(c)).alias(f"o{i}") for i, c in enumerate(order_cols)])
    g = window_agg(
        df, duration_s, by, time_col,
        F.max_by(F.col(metric_col), newest_key).alias("__new__"),
        F.max_by(F.col(metric_col), oldest_key).alias("__old__"),
        F.count(F.lit(1)).alias("__n__"),
    )
    out = g.withColumn("metric", F.col("__new__") - F.col("__old__")).drop(
        "__new__", "__old__"
    )
    # reference requires ≥2 events (destructures [event & events])
    return out.filter((F.col("__n__") >= 2) & (F.col("metric") > 0)).drop("__n__")


def coll_sort(
    df: DataFrame,
    field: str,
    duration_s: float,
    by: Sequence[str] = (),
    time_col: str = "time",
    payload_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Sort a window's events by field (``coll-sort``,
    action.clj:368-389): emits (by…, window_start, events array
    sorted by field)."""
    payload_cols = list(payload_cols or df.columns)
    ev = F.struct(F.col(field).alias("__k__"), *[F.col(c) for c in payload_cols])
    return window_agg(
        df, duration_s, by, time_col,
        F.sort_array(F.collect_list(ev)).alias("events"),
    )


def ewma_timeless(
    df: DataFrame,
    r: float,
    by: Sequence[str] = (),
    time_col: str = "time",
    metric_col: str = "metric",
    order_cols: Sequence[str] = (),
) -> DataFrame:
    """Exponentially weighted moving average, m' = r·x + (1−r)·m,
    m₀=0, emitted per event (``ewma-timeless``, action.clj:1248-1276;
    null metric leaves the average untouched and emits null).

    An order-dependent FP recurrence has no associative form, so it
    cannot be a hash aggregate — this is the textbook keyed scan. It
    runs the streaming fold ``stream_ewma`` runs (``_ewma_fold``) with
    an empty carry, under the batch shell ``_keyed_fold_batch``: one
    ``mapInPandas`` over the table repartitioned on ``by`` and sorted
    by (``by``, time, *order_cols). Parallelism across keys; a null
    ``by`` key is a key of its own, as in Spark's groupBy. The
    identical double recurrence is what the DuckDB oracle computes,
    so results match bit-for-bit.
    """
    # lazy: streaming.core imports this module at the top
    from mirabelle_spark.streaming.core import _ewma_fold, _keyed_fold_batch

    return _keyed_fold_batch(
        df, by, [time_col, *order_cols], _ewma_fold(r, metric_col)
    )
