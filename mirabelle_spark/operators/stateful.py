"""Order-dependent stateful operators (SURVEY §2.3/§2.4) — batch forms.

The reference implements these as per-operator atoms mutated in
arrival order (single-threaded). Batch realization: analytic window
functions over (by-keys, event-time order) — lag, prefix aggregates,
and run/sessionization — all JVM-side, one shuffle on the keys.
Streaming twins live in :mod:`mirabelle_spark.streaming`. The two
keyed operators with a Python fold (ewma, throttle) run that one
fold in batch too, under a ``mapInPandas`` shell
(``streaming.core._keyed_fold_batch``).

Determinism: arrival order in a batch table is defined by
``order_cols`` (e.g. an ingest sequence id) appended to the
event-time ordering; always pass one when times can tie.
"""

from __future__ import annotations

from typing import Any, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from mirabelle_spark.conditions import compile_condition
from mirabelle_spark.timeutil import US


def _cols(names: Sequence[str]) -> list[Column]:
    return [F.col(n) for n in names]


def _order(time_col: str, order_cols: Sequence[str]) -> list[Column]:
    return [F.col(time_col), *_cols(order_cols)]


def changed(
    df: DataFrame,
    field: str,
    init: Any = None,
    by: Sequence[str] = (),
    time_col: str = "time",
    order_cols: Sequence[str] = (),
) -> DataFrame:
    """Pass events only when ``field`` differs from the previous
    event's value; the first event is compared against ``init``
    (``changed``, action.clj:1329-1375). Null-safe equality matches
    clojure ``=`` on nils."""
    w = W.partitionBy(*_cols(by)).orderBy(*_order(time_col, order_cols))
    # lag's default fires only when there is NO preceding row — a
    # previous row whose field is null stays null (coalesce would wrongly
    # substitute init after a null-valued event).
    prev = F.lag(F.col(field), 1, init).over(w)
    return (
        df.withColumn("__prev__", prev)
        .filter(~F.col(field).eqNullSafe(F.col("__prev__")))
        .drop("__prev__")
    )


def ddt(
    df: DataFrame,
    by: Sequence[str] = (),
    time_col: str = "time",
    metric_col: str = "metric",
    order_cols: Sequence[str] = (),
    remove_neg: bool = False,
) -> DataFrame:
    """d(metric)/d(time) vs the previous event (``ddt``,
    action.clj:1041-1083). Events without metric are skipped
    entirely (they don't become the new "previous"); zero time
    delta is skipped; ``remove_neg`` drops negative derivatives
    (``ddt-pos``). Time delta computed on exact integer µs."""
    src = df.filter(F.col(metric_col).isNotNull())
    w = W.partitionBy(*_cols(by)).orderBy(*_order(time_col, order_cols))
    t = F.unix_micros(F.col(time_col))
    dt_s = (t - F.lag(t).over(w)) / F.lit(1_000_000)
    # try_divide: zero dt yields null (then filtered) instead of an
    # ANSI-mode division error
    diff = F.try_divide(F.col(metric_col) - F.lag(F.col(metric_col)).over(w), dt_s)
    out = (
        src.withColumn("__diff__", diff)
        .filter(F.col("__diff__").isNotNull())
        .withColumn(metric_col, F.col("__diff__"))
        .drop("__diff__")
    )
    if remove_neg:
        out = out.filter(F.col(metric_col) >= 0)
    return out


def ddt_pos(df: DataFrame, **kw) -> DataFrame:
    """``ddt-pos`` (action.clj:1076-1083): ddt dropping negatives."""
    return ddt(df, remove_neg=True, **kw)


def _running_extremum(
    df: DataFrame,
    biggest: bool,
    by: Sequence[str],
    time_col: str,
    metric_col: str,
    order_cols: Sequence[str],
) -> DataFrame:
    """Shared smax/smin core (``scondition*``, action.clj:2742-2795):
    per input event, emit the best-so-far event (strict comparison —
    the FIRST event achieving the extremum keeps winning ties).

    Batch: running max of struct(metric', −arrival…, payload) over a
    prefix frame; the negated arrival keys make the earliest winner
    of a metric tie compare greatest, matching the strict ``>``/``<``.
    """
    t = F.unix_micros(F.col(time_col))
    m = F.col(metric_col) if biggest else -F.col(metric_col)
    key = F.struct(
        m.alias("m"),
        (-t).alias("nt"),
        *[(-F.col(c)).alias(f"no{i}") for i, c in enumerate(order_cols)],
        F.struct(*[F.col(c) for c in df.columns]).alias("e"),
    )
    w = (
        W.partitionBy(*_cols(by))
        .orderBy(*_order(time_col, order_cols))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    best = F.max(key).over(w)
    return df.withColumn("__best__", best).select(
        *[F.col(f"__best__.e.{c}").alias(c) for c in df.columns]
    )


def smax(
    df: DataFrame,
    by: Sequence[str] = (),
    time_col: str = "time",
    metric_col: str = "metric",
    order_cols: Sequence[str] = (),
) -> DataFrame:
    """Running max event emitted per input (``smax``,
    action.clj:2753-2772)."""
    return _running_extremum(df, True, by, time_col, metric_col, order_cols)


def smin(
    df: DataFrame,
    by: Sequence[str] = (),
    time_col: str = "time",
    metric_col: str = "metric",
    order_cols: Sequence[str] = (),
) -> DataFrame:
    """Running min event emitted per input (``smin``,
    action.clj:2774-2795)."""
    return _running_extremum(df, False, by, time_col, metric_col, order_cols)


def cond_dt(
    df: DataFrame,
    cond: Sequence | Column,
    dt_s: float,
    by: Sequence[str] = (),
    time_col: str = "time",
    order_cols: Sequence[str] = (),
) -> DataFrame:
    """Pass events only once ``cond`` has held continuously for more
    than ``dt_s`` seconds (``cond-dt*``, action.clj:476-508; wrappers
    above-dt/below-dt/between-dt/outside-dt :510-647).

    State machine: the first valid event after an invalid one stamps
    the flip time; valid events with time > flip + dt pass; any
    invalid event resets. Batch: valid-runs via a prefix count of
    invalid rows, flip = min(time) per run, filter on the exact µs
    horizon. Null-time events are skipped (reference
    ``when event-time``)."""
    c = cond if isinstance(cond, Column) else compile_condition(cond)
    src = df.filter(F.col(time_col).isNotNull())
    wo = W.partitionBy(*_cols(by)).orderBy(*_order(time_col, order_cols))
    valid = F.coalesce(c, F.lit(False))
    run = F.sum(F.when(~valid, 1).otherwise(0)).over(
        wo.rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    d = src.withColumn("__valid__", valid).withColumn("__run__", run)
    t = F.unix_micros(F.col(time_col))
    wr = W.partitionBy(*_cols(by), F.col("__run__"))
    dt_us = int(round(dt_s * 1_000_000))
    d = d.withColumn("__flip__", F.min(F.when(F.col("__valid__"), t)).over(wr))
    out = d.filter(F.col("__valid__") & (t > F.col("__flip__") + F.lit(dt_us)))
    return out.drop("__valid__", "__run__", "__flip__")


def above_dt(df: DataFrame, threshold: float, dt_s: float, metric_col: str = "metric", **kw) -> DataFrame:
    """metric > threshold for dt (action.clj:510-538)."""
    return cond_dt(df, F.col(metric_col) > threshold, dt_s, **kw)


def below_dt(df: DataFrame, threshold: float, dt_s: float, metric_col: str = "metric", **kw) -> DataFrame:
    """metric < threshold for dt (action.clj:540-568)."""
    return cond_dt(df, F.col(metric_col) < threshold, dt_s, **kw)


def between_dt(
    df: DataFrame, low: float, high: float, dt_s: float, metric_col: str = "metric", **kw
) -> DataFrame:
    """low < metric < high for dt (action.clj:570-600)."""
    return cond_dt(df, (F.col(metric_col) > low) & (F.col(metric_col) < high), dt_s, **kw)


def outside_dt(
    df: DataFrame, low: float, high: float, dt_s: float, metric_col: str = "metric", **kw
) -> DataFrame:
    """metric < low or metric > high for dt (action.clj:602-632)."""
    return cond_dt(df, (F.col(metric_col) < low) | (F.col(metric_col) > high), dt_s, **kw)


def critical_dt(df: DataFrame, dt_s: float, state_col: str = "state", **kw) -> DataFrame:
    """state = "critical" for dt (action.clj:634-647)."""
    return cond_dt(df, F.col(state_col) == "critical", dt_s, **kw)


def stable(
    df: DataFrame,
    dt_s: float,
    field: str,
    by: Sequence[str] = (),
    time_col: str = "time",
    order_cols: Sequence[str] = (),
) -> DataFrame:
    """Emit events whose ``field`` value stayed identical for more
    than ``dt_s`` seconds (``stable``, action.clj:2053-2138) —
    flap suppression.

    Reference: buffer a value-run; once an event arrives with time >
    run-start + dt, flush the buffer and pass the rest of the run
    through. Net batch semantics: every event of a value-run passes
    iff the run's max time > run start + dt; runs that never last dt
    emit nothing. Out-of-order events (time < running max) dropped.
    """
    src = df.filter(F.col(time_col).isNotNull())
    wo = W.partitionBy(*_cols(by)).orderBy(*_order(time_col, order_cols))
    t = F.unix_micros(F.col(time_col))
    # drop out-of-order events (reference: event-time < max-time seen)
    prefix_max = F.max(t).over(wo.rowsBetween(W.unboundedPreceding, -1))
    src = src.withColumn("__pm__", prefix_max).filter(
        F.col("__pm__").isNull() | (t >= F.col("__pm__"))
    )
    # value-run id: count of changes so far
    chg = F.when(
        ~F.col(field).eqNullSafe(F.lag(F.col(field)).over(wo)), 1
    ).otherwise(0)
    run = F.sum(chg).over(wo.rowsBetween(W.unboundedPreceding, W.currentRow))
    d = src.withColumn("__run__", run)
    wr = W.partitionBy(*_cols(by), F.col("__run__"))
    dt_us = int(round(dt_s * 1_000_000))
    d = d.withColumn("__flip__", F.min(t).over(wr)).withColumn(
        "__runmax__", F.max(t).over(wr)
    )
    out = d.filter(F.col("__runmax__") > F.col("__flip__") + F.lit(dt_us))
    return out.drop("__pm__", "__run__", "__flip__", "__runmax__")


def zscore(
    df: DataFrame,
    window_s: float,
    by: Sequence[str] = (),
    time_col: str = "time",
    metric_col: str = "metric",
    min_n: int = 2,
    out: str = "zscore",
) -> DataFrame:
    """Rolling z-score anomaly signal: for every event, the metric's
    deviation from the mean of the trailing ``window_s`` seconds
    (inclusive range frame per key), in standard deviations —
    the continuous cousin of the reference's threshold family
    (above/below/cond-dt), which only the windowed engine can offer
    cheaply. NULL when the window holds fewer than ``min_n`` events
    or has zero variance.

    Determinism: the window moments are DECIMAL(38,9) sums of the
    raw metric and of its double-squared value (per-row double
    multiply is deterministic; decimal summation is order-free), so
    mean and population variance come out bit-identical on any
    partitioning and in the DuckDB oracle. Variance uses the
    (sumsq/n − mean²) form computed in double from the exact sums —
    identical op order both engines; tiny negative round-off clamps
    to zero (NULL z). One range-frame window per key, no
    single-partition stage.
    """
    t = F.unix_micros(F.col(time_col))
    win_us = int(round(window_s * US))
    w = (
        W.partitionBy(*_cols(by))
        .orderBy(t)
        .rangeBetween(-win_us, 0)
    )
    m = F.coalesce(F.col(metric_col), F.lit(0.0))
    n = F.count(F.lit(1)).over(w)
    s1 = F.sum(m.cast("decimal(38,9)")).over(w).cast("double")
    s2 = F.sum((m * m).cast("decimal(38,9)")).over(w).cast("double")
    nd = n.cast("double")
    mean = s1 / nd
    var = F.greatest(s2 / nd - mean * mean, F.lit(0.0))
    z = F.when(
        (n >= min_n) & (var > 0.0),
        (F.col(metric_col) - mean) / F.sqrt(var),
    )
    return df.withColumn(out, z)
