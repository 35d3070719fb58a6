"""Window operators (SURVEY.md §2.5).

Event-time tumbling windows use integer-µs bucket math
(:mod:`mirabelle_spark.timeutil`) matching the reference's floored
window index (``action.clj:2380-2385``); ``fixed_time_window``,
``ssort``, ``project`` and ``sessionize`` also run on a watermarked
stream (see :func:`~mirabelle_spark.operators.aggregations.window_agg`).
Count windows use ``row_number`` bucketing; sliding windows use
rows/range frames.

Every operator threads ``by`` keys (the reference's ``by`` grouping,
``action.clj:1559-1641``) straight into ``partitionBy``/``groupBy``
— that is the scale story: per-key windows shuffle once on the keys
and parallelize across the cluster, instead of the reference's
per-key closure forks on one node.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from mirabelle_spark.operators.aggregations import window_agg
from mirabelle_spark.timeutil import US, window_start_s


def _cols(names: Sequence[str]) -> list[Column]:
    return [F.col(n) for n in names]


def fixed_time_window(
    df: DataFrame,
    duration_s: float,
    by: Sequence[str] = (),
    time_col: str = "time",
    event_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Tumbling event-time window emitting the list of events per
    window (``fixed-time-window``, action.clj:2564-2594 over the
    aggregation* engine :2387-2454).

    Returns one row per (by…, window_start) with an ``events``
    array<struct> column sorted by event time. Plan shape:
    partial+final hash aggregate on (by…, bucket) — one shuffle.
    """
    event_cols = list(event_cols or df.columns)
    ev = F.struct(*[F.col(c) for c in event_cols])
    return window_agg(
        df, duration_s, by, time_col, F.sort_array(F.collect_list(ev)).alias("events")
    )


def fixed_event_window(
    df: DataFrame,
    n: int,
    by: Sequence[str] = (),
    time_col: str = "time",
    order_cols: Sequence[str] = (),
) -> DataFrame:
    """Tumbling COUNT window of n events (action.clj:233-262).

    Batch: row_number over (by…) ordered by time → bucket =
    floor((rn-1)/n). Only complete windows are emitted (the
    reference buffers until n events arrive; a partial buffer never
    flushes). Without ``by`` this is a single ordered scan — same as
    the single-threaded reference; supply keys for parallelism.
    """
    w = W.partitionBy(*_cols(by)).orderBy(F.col(time_col), *_cols(order_cols))
    bucketed = df.withColumn("__rn__", F.row_number().over(w)).withColumn(
        "window_id", ((F.col("__rn__") - 1) / n).cast("bigint")
    )
    counts = bucketed.groupBy(*_cols(by), "window_id").agg(
        F.count("*").alias("__cnt__"),
        F.sort_array(
            F.collect_list(F.struct(*[F.col(c) for c in df.columns]))
        ).alias("events"),
    )
    return counts.filter(F.col("__cnt__") == n).drop("__cnt__")


def moving_event_window(
    df: DataFrame,
    n: int,
    by: Sequence[str] = (),
    time_col: str = "time",
    order_cols: Sequence[str] = (),
    value_col: str | None = None,
) -> DataFrame:
    """Sliding last-n-events window, emitted on every event
    (action.clj:1219-1246). Adds an ``events`` array column holding
    the trailing n values (or full event structs)."""
    w = (
        W.partitionBy(*_cols(by))
        .orderBy(F.col(time_col), *_cols(order_cols))
        .rowsBetween(-(n - 1), 0)
    )
    payload = F.col(value_col) if value_col else F.struct(*[F.col(c) for c in df.columns])
    return df.withColumn("events", F.collect_list(payload).over(w))


def moving_time_window(
    df: DataFrame,
    duration_s: float,
    by: Sequence[str] = (),
    time_col: str = "time",
    value_col: str | None = None,
) -> DataFrame:
    """All events within the last ``duration`` seconds of each event,
    emitted per event (action.clj:2596-2639). Range frame over
    integer µs so the bound is exact."""
    dur_us = int(round(duration_s * US))
    t_us = F.unix_micros(F.col(time_col))
    w = (
        W.partitionBy(*_cols(by))
        .orderBy(t_us)
        .rangeBetween(-(dur_us - 1), 0)
    )
    payload = F.col(value_col) if value_col else F.struct(*[F.col(c) for c in df.columns])
    return df.withColumn("events", F.collect_list(payload).over(w))


def ssort(
    df: DataFrame,
    duration_s: float,
    field: str,
    by: Sequence[str] = (),
    time_col: str = "time",
    payload_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Buffer ``duration`` seconds, re-emit events sorted by
    ``field`` (action.clj:2641-2691) — the late-event repair
    operator. Batch: per tumbling bucket, sort_array by (field,
    payload) and explode back to rows."""
    payload_cols = list(payload_cols or df.columns)
    ev = F.struct(F.col(field).alias("__k__"), *[F.col(c) for c in payload_cols])
    sorted_list = F.sort_array(F.collect_list(ev))
    out = window_agg(df, duration_s, by, time_col, sorted_list.alias("__evs__"))
    exploded = out.select(
        *_cols(by), "window_start", F.posexplode("__evs__").alias("seq", "__e__")
    )
    return exploded.select(*_cols(by), "window_start", "seq", "__e__.*").drop("__k__")


def coalesce_op(
    df: DataFrame,
    duration_s: float,
    fields: Sequence[str],
    time_col: str = "time",
    ttl_col: str | None = None,
    default_ttl_s: float = 120.0,
    order_cols: Sequence[str] = (),
) -> DataFrame:
    """Every ``duration`` seconds emit the latest non-expired event
    per distinct fields-combination (action.clj:721-821) — the
    Riemann-index-scan analog.

    Batch: groupBy(window, *fields) → max_by(event, (time, order…)),
    then drop events expired relative to the window tick. One
    shuffle, partial-agg friendly (max_by has a map-side partial).
    """
    bucket = window_start_s(time_col, duration_s).alias("window_start")
    ord_key = F.struct(F.col(time_col), *_cols(order_cols))
    ev = F.struct(*[F.col(c) for c in df.columns])
    latest = (
        df.groupBy(*_cols(fields), bucket)
        .agg(F.max_by(ev, ord_key).alias("__e__"))
        .select("window_start", "__e__.*")  # __e__ already carries the fields
    )
    # expiry vs the window tick (end of bucket)
    tick = F.col("window_start") + F.lit(duration_s)
    ttl = (
        F.coalesce(F.col(ttl_col), F.lit(default_ttl_s))
        if ttl_col and ttl_col in df.columns
        else F.lit(default_ttl_s)
    )
    age = tick - F.col(time_col).cast("double")
    return latest.filter(age <= ttl)


def project(
    df: DataFrame,
    conditions: Sequence,
    duration_s: float,
    time_col: str = "time",
    metric_col: str = "metric",
    order_cols: Sequence[str] = (),
    by: Sequence[str] = (),
) -> DataFrame:
    """Latest event matching each of N conditions, correlated per
    tumbling window (action.clj:1377-1463) — the reference's only
    join-like operator, expressed as N conditional ``max_by``
    aggregates in ONE groupBy (no self-join, no second shuffle).

    Returns (window_start[, by…], metric_1 … metric_N): the metric of
    the latest event matching condition i within the window. ``by``
    is the fork isolation a `by` upstream implies (each fork
    correlates its own events).
    """
    from mirabelle_spark.conditions import compile_condition

    ord_key = F.struct(F.col(time_col), *_cols(order_cols))
    aggs = []
    for i, cond in enumerate(conditions, start=1):
        c = cond if isinstance(cond, Column) else compile_condition(cond)
        aggs.append(
            F.max_by(F.when(c, F.col(metric_col)), F.when(c, ord_key)).alias(
                f"metric_{i}"
            )
        )
    out = window_agg(df, duration_s, by, time_col, *aggs)
    return out.select("window_start", *_cols(by), *out.columns[len(by) + 1 :])


def coalesce_ticks(
    df: DataFrame,
    duration_s: float,
    fields: Sequence[str],
    time_col: str = "time",
    ttl_col: str | None = None,
    default_ttl_s: float = 120.0,
    order_cols: Sequence[str] = (),
) -> DataFrame:
    """Full-fidelity batch ``coalesce`` (action.clj:721-821): the
    reference's buffer PERSISTS across ticks — every tick re-emits
    each key's latest non-expired event, even when the key saw no
    event in that interval.

    Distributed realization with ZERO keyed state: each event covers
    the tick range [first tick ≥ its time, until the key's next
    event, expiry, or end of stream] — computed with one lead() and
    exploded via sequence(). One shuffle on the keys; tick fan-out is
    bounded by ttl/duration per event.

    Divergence (same as coalesce_op): ticks are epoch-aligned
    multiples of duration, not anchored at the first event.
    Emits (fields…, tick, event columns).
    """
    dur_us = int(round(duration_s * 1_000_000))
    ttl_us_col = (
        (F.coalesce(F.col(ttl_col), F.lit(default_ttl_s)) * 1_000_000).cast("bigint")
        if ttl_col and ttl_col in df.columns
        else F.lit(int(default_ttl_s * 1_000_000))
    )
    t = F.unix_micros(F.col(time_col))
    w = W.partitionBy(*_cols(fields)).orderBy(t, *_cols(order_cols))
    # stream end: last tick ever emitted is at the global max time
    gmax = df.agg(F.max(F.unix_micros(F.col(time_col))).alias("__gmax__"))
    d = df.crossJoin(F.broadcast(gmax))
    t_next = F.lead(t).over(w)
    first_tick = (t + dur_us - 1) - F.pmod(t + dur_us - 1, F.lit(dur_us))  # ceil(t/d)*d in exact ints
    # last tick: strictly before the next event's first tick; within ttl;
    # within the stream horizon
    nb = (t_next + dur_us - 1) - F.pmod(t_next + dur_us - 1, F.lit(dur_us))
    next_bound = F.when(t_next.isNotNull(), nb - dur_us).otherwise(F.lit(None))
    ttl_bound = (t + ttl_us_col) - F.pmod(t + ttl_us_col, F.lit(dur_us))  # floor
    horizon = F.col("__gmax__") - F.pmod(F.col("__gmax__"), F.lit(dur_us))
    last_tick = F.least(
        F.coalesce(next_bound, F.lit(2**62)), ttl_bound, horizon
    )
    ticks = F.when(
        last_tick >= first_tick,
        F.sequence(first_tick, last_tick, F.lit(dur_us)),
    ).otherwise(F.array().cast("array<bigint>"))
    out = (
        d.withColumn("__ticks__", ticks)
        .withColumn("__tick__", F.explode("__ticks__"))
        .drop("__ticks__", "__gmax__")
    )
    return out.withColumn(
        "tick", (F.col("__tick__") / F.lit(1_000_000)).cast("double")
    ).drop("__tick__")


def sessionize(
    df: DataFrame,
    gap_s: float,
    by: Sequence[str] = (),
    time_col: str = "time",
    metric_col: str | None = "metric",
) -> DataFrame:
    """Gap-based sessionization — an operator the reference has no
    analog for (its windows are fixed/moving), but the native Spark
    primitive makes free: events within ``gap_s`` of each other
    merge into one session per key (``F.session_window``, dynamic
    merging windows). Returns (by…, session_start, session_end,
    n_events[, metric = decimal-exact sum]) with start/end as
    unix-microsecond BIGINTs — session_end is last event + gap.
    The merge rule is boundary-INCLUSIVE: two events exactly ``gap``
    apart share a session (hypothesis found this against a strict-<
    reference loop; Spark merges on overlap-or-touch of the
    [t, t+gap] extents). Engine-portable: the DuckDB oracle
    reproduces it with a lag/cumsum assignment breaking only at
    diff > gap.

    Scale shape: one shuffle on the grouping keys; sessions form
    inside the aggregation (no window function, no per-key sort
    stage beyond the hash aggregate's own)."""
    w = F.session_window(F.col(time_col), f"{int(gap_s * 1_000_000)} microseconds")
    aggs = [F.count(F.lit(1)).alias("n_events")]
    if metric_col is not None:
        aggs.append(
            F.sum(F.coalesce(F.col(metric_col), F.lit(0.0)).cast("decimal(38,9)"))
            .cast("double")
            .alias("metric")
        )
    return (
        df.groupBy(*_cols(by), w.alias("__s__"))
        .agg(*aggs)
        .withColumn("session_start", F.unix_micros(F.col("__s__.start")))
        .withColumn("session_end", F.unix_micros(F.col("__s__.end")))
        .drop("__s__")
    )
