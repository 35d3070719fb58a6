"""Filter / routing operators.

Every operator here compiles to a plain Catalyst filter, so
predicate pushdown and partition pruning apply automatically — the
opposite of the reference's per-event interpreted closures
(``action.clj:79-113`` and friends).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mirabelle_spark.conditions import compile_condition, field_col

DEFAULT_TTL_S = 120.0  # event.clj:17 / time.clj:8


def where(df: DataFrame, cond: Sequence | Column) -> DataFrame:
    """Keep events matching a condition (action.clj:79-113)."""
    c = cond if isinstance(cond, Column) else compile_condition(cond)
    return df.filter(c)


def over(df: DataFrame, n: float, metric_col: str = "metric") -> DataFrame:
    """Keep events with metric > n (action.clj:1278-1301)."""
    return df.filter(F.col(metric_col) > n)


def under(df: DataFrame, n: float, metric_col: str = "metric") -> DataFrame:
    """Keep events with metric < n (action.clj:1303-1327)."""
    return df.filter(F.col(metric_col) < n)


def tagged_all(df: DataFrame, tags: Sequence[str], tags_col: str = "tags") -> DataFrame:
    """Keep events carrying ALL the given tags (action.clj:1005-1039).

    ``size(array_except(wanted, tags)) == 0`` stays JVM-side and
    null tags never match (event.clj:46-50: missing tags ⇒ false).
    A bare string means one tag (action_test.clj:869-875 passes
    "foo" scalar), not an iterable of characters.
    """
    if isinstance(tags, str):
        tags = [tags]
    if not tags:
        # set/subset? of an empty set is always true (event.clj:46-50),
        # even when the event has no tags at all.
        return df
    wanted = F.array(*[F.lit(t) for t in tags])
    return df.filter(
        F.col(tags_col).isNotNull() & (F.size(F.array_except(wanted, F.col(tags_col))) == 0)
    )


def _expired_col(
    df: DataFrame,
    time_col: str,
    ttl_col: str | None,
    state_col: str | None,
    clock: Column,
) -> Column:
    """expired = state='expired' OR age > coalesce(ttl, 120)
    (event.clj:12-19). Both branches are null-safe: a null time (no
    age) or null state must read as NOT-expired-by-that-rule — a raw
    SQL NULL in the OR would silently drop the row from BOTH
    ``expired`` and ``not-expired`` (caught porting
    action_test.clj:196-209: events without time must pass
    not-expired)."""
    ttl = (
        F.coalesce(F.col(ttl_col), F.lit(DEFAULT_TTL_S))
        if ttl_col and ttl_col in df.columns
        else F.lit(DEFAULT_TTL_S)
    )
    age = clock - F.col(time_col).cast("double")
    exp = F.coalesce(age > ttl, F.lit(False))
    if state_col and state_col in df.columns:
        exp = F.col(state_col).eqNullSafe("expired") | exp
    return exp


def with_clock(
    df: DataFrame,
    time_col: str = "time",
    arrival_cols: Sequence[str] = (),
    by: Sequence[str] = (),
) -> tuple[DataFrame, Column]:
    """Attach the stream clock = running max event time seen at arrival
    (action.clj:431-435: ``swap! time-state (max old-time time)``).

    ``arrival_cols`` define the arrival order of the batch (e.g. an
    ingest sequence id). Three physical strategies, none of which is a
    single-partition global sort:

    - no ``arrival_cols``: arrival order IS event-time order, so the
      prefix max degenerates to the event time itself — a zero-cost
      column, no window, no shuffle.
    - ``by`` keys set (downstream of the reference's per-key fork):
      each fork owns its clock (stream.clj fork state), so the prefix
      max is a per-key window — parallel across keys.
    - global arrival order: two-pass partition-boundary scan. Range-
      partition on arrival order, compute each partition's max event
      time (pass 1, tiny per-partition rollup collected to the
      driver), broadcast the exclusive prefix max back, and combine
      with the per-partition running max (pass 2). Every partition
      scans in parallel; the only driver-side data is one double per
      partition. The ranged DataFrame is localCheckpoint-ed before
      pass 1: RangePartitioner re-samples its boundaries per job
      (seeded from the freshly-assigned RDD id), so without pinning
      the materialized partitioning, pass 2 could assign rows to a
      different ``__pid__`` than the one whose prefix max they join —
      a silently wrong clock. Checkpointing trades one distributed
      materialization (MEMORY_AND_DISK, spillable) for boundary
      determinism.
    """
    from pyspark.sql import Window as W

    tcol = F.col(time_col).cast("double")
    if not arrival_cols:
        return df.withColumn("__clock__", tcol), F.col("__clock__")

    order = [F.col(c) for c in arrival_cols]
    if by:
        w = (
            W.partitionBy(*[F.col(c) for c in by])
            .orderBy(*order)
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        clock = F.max(tcol).over(w)
        return df.withColumn("__clock__", clock), F.col("__clock__")

    spark = df.sparkSession
    n = max(int(spark.conf.get("spark.sql.shuffle.partitions", "32")), 1)
    d = df.repartitionByRange(n, *order).withColumn("__pid__", F.spark_partition_id())
    # pin the partitioning: the pass-1 collect below and every later
    # job on the returned plan must see the SAME range boundaries
    d = d.localCheckpoint(eager=False)
    per_part = d.groupBy("__pid__").agg(F.max(tcol).alias("__m__")).collect()
    prefix, run = [], None
    for row in sorted(per_part, key=lambda r: r["__pid__"]):
        prefix.append((row["__pid__"], run))
        if row["__m__"] is not None:
            run = row["__m__"] if run is None else max(run, row["__m__"])
    pref_df = spark.createDataFrame(prefix, schema="__pid__ int, __pref__ double")
    d = d.join(F.broadcast(pref_df), "__pid__", "left")
    w = (
        W.partitionBy("__pid__")
        .orderBy(*order)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    clock = F.greatest(
        F.max(tcol).over(w), F.coalesce(F.col("__pref__"), F.lit(float("-inf")))
    )
    d = d.withColumn("__clock__", clock).drop("__pid__", "__pref__")
    return d, F.col("__clock__")


def expired(
    df: DataFrame,
    time_col: str = "time",
    ttl_col: str | None = "ttl",
    state_col: str | None = "state",
    arrival_cols: Sequence[str] = (),
    by: Sequence[str] = (),
) -> DataFrame:
    """Keep expired events; clock = running max observed time
    (action.clj:427-449, event.clj:12-19)."""
    dfc, clock = with_clock(df, time_col, arrival_cols, by=by)
    out = dfc.filter(_expired_col(df, time_col, ttl_col, state_col, clock))
    return out.drop("__clock__")


def not_expired(
    df: DataFrame,
    time_col: str = "time",
    ttl_col: str | None = "ttl",
    state_col: str | None = "state",
    arrival_cols: Sequence[str] = (),
    by: Sequence[str] = (),
) -> DataFrame:
    """Keep non-expired events (action.clj:451-474)."""
    dfc, clock = with_clock(df, time_col, arrival_cols, by=by)
    out = dfc.filter(~_expired_col(df, time_col, ttl_col, state_col, clock))
    return out.drop("__clock__")


def split(
    df: DataFrame, branches: Sequence[tuple[Sequence | Column, str]], default: str | None = None
) -> DataFrame:
    """First-match multi-way routing (action.clj:1109-1161).

    Returns the input with a ``__branch__`` column naming the branch
    each event routes to (first condition that matches wins, like
    the reference's ordered evaluation / SQL CASE short-circuit).
    Branch DataFrames are then just ``.filter(col('__branch__') ==
    name)`` — one scan, N cheap filters.
    """
    expr = None
    for cond, name in branches:
        c = cond if isinstance(cond, Column) else compile_condition(cond)
        expr = F.when(c, F.lit(name)) if expr is None else expr.when(c, F.lit(name))
    expr = F.lit(default) if expr is None else expr.otherwise(F.lit(default))
    return df.withColumn("__branch__", expr)


def split_branches(
    df: DataFrame, branches: Sequence[tuple[Sequence | Column, str]], default: str | None = None
) -> dict[str, DataFrame]:
    """Materialize :func:`split` as one DataFrame per branch."""
    routed = split(df, branches, default)
    names = [name for _, name in branches] + ([default] if default else [])
    return {n: routed.filter(F.col("__branch__") == n).drop("__branch__") for n in names}


def coll_where(df: DataFrame, list_col: str, cond_sql: str) -> DataFrame:
    """Filter inside a window's collected event list (action.clj:115-137).

    ``cond_sql`` is a boolean lambda body over ``x`` (the struct
    element), e.g. ``x.metric > 10`` — executed JVM-side via
    ``F.filter``.
    """
    return df.withColumn(list_col, F.expr(f"filter({list_col}, x -> {cond_sql})"))


def throttle_batch(
    df: DataFrame,
    count: int,
    duration_s: float,
    by: Sequence[str] = (),
    time_col: str = "time",
    order_cols: Sequence[str] = (),
) -> DataFrame:
    """Let ≤ `count` events pass per ANCHORED event-time window
    (action.clj:1163-1217).

    Reference semantics: the first passing event anchors the window;
    a new window opens only when an event's time ≥ anchor + duration
    (counter reset to 1). Events inside the open window pass while
    the counter < count. Events with null time are dropped
    (``when (:time event)``).

    The anchored recurrence is a segmented scan — not expressible as
    a closed-form window function — so this runs the streaming fold
    ``stream_throttle`` runs (``_throttle_fold``) with an empty carry,
    under the batch shell ``_keyed_fold_batch``: one ``mapInPandas``
    sorted by (``by``, time, *order_cols). With ``by`` keys this
    scales horizontally, a null key being a key of its own; without
    keys it degenerates to a single ordered scan, same as the
    single-threaded reference.
    """
    from mirabelle_spark.streaming.core import _keyed_fold_batch, _throttle_fold

    return _keyed_fold_batch(
        df.filter(F.col(time_col).isNotNull()),
        by,
        [time_col, *order_cols],
        _throttle_fold(count, duration_s, time_col),
    )
