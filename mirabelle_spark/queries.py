"""Query registry: every implemented operator as a (Spark, oracle-SQL) pair.

Each entry runs the operator library against the driver's ``events``
table (schema: event_id BIGINT, ts TIMESTAMP, user_id BIGINT,
event_type STRING, value DOUBLE, props STRING) and carries an ANSI
SQL oracle that DuckDB executes on the same parquet — the driver
hash-compares both sides, so every expression here is written to be
bit-deterministic: integer-µs time math, decimal-accumulated sums,
identical double operation order on both sides.

Column mapping from the reference's event model: time→ts,
metric→value, host→user_id, service→event_type; arrival order is
event_id (the ingest sequence).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mirabelle_spark.conditions import compile_condition, condition_to_sql
from mirabelle_spark.operators import aggregations as agg
from mirabelle_spark.operators import filters as flt
from mirabelle_spark.operators import stateful as st
from mirabelle_spark.operators import transforms as tr
from mirabelle_spark.operators import windows as win
from mirabelle_spark.timeutil import sql_window_start_s

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

HOUR = 3600.0
DAY = 86400.0

# DuckDB-side epoch-µs / epoch-seconds helpers (exact mirrors of
# unix_micros / cast-to-double in Spark)
T_US = "epoch_us(ts)"
T_S = "(epoch_us(ts) / 1000000.0)"
WS_HOUR = sql_window_start_s("ts", HOUR)
WS_DAY = sql_window_start_s("ts", DAY)


def q(name: str, sql: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLES[name] = sql
        return fn

    return deco


def events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load the events table with exact ns→µs time normalization.

    The driver's parquet has stored TIMESTAMP(NANOS) (read ns as
    LONG via ``nanosAsLong``, truncate to µs) and naive-µs
    timestamps (which Spark ≥4.1 infers as TIMESTAMP_NTZ unless
    ``inferTimestampNTZ`` is off). Either way we normalize to a
    TIMESTAMP instant whose ``unix_micros`` equals DuckDB's
    ``epoch_us`` on the same file, independent of session timezone.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    return _normalize_ts(df, "ts")


def _normalize_ts(df: DataFrame, col: str) -> DataFrame:
    """ns-as-LONG → µs instant; NTZ → instant with the naive
    wall-clock read as UTC (timestampdiff is tz-independent)."""
    dt = dict(df.dtypes).get(col)
    if dt == "bigint":
        return df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    if dt == "timestamp_ntz":
        return df.withColumn(
            col,
            F.timestamp_micros(
                F.expr(
                    f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {col})"
                )
            ),
        )
    return df


# ---------------------------------------------------------------------------
# §2.3 filters / predicates

_WHERE_COND = [":and", [":=", "event_type", "click"], [":>", "value", 50]]


@q(
    "where_basic",
    f"SELECT event_id, user_id, value FROM events WHERE {condition_to_sql(_WHERE_COND)}",
)
def where_basic(spark, sf):
    return flt.where(events(spark, sf), _WHERE_COND).select(
        "event_id", "user_id", "value"
    )


_NOT_COND = [":not", [":or", [":=", "event_type", "click"], [":<", "value", 10]]]


@q(
    "where_not",
    f"SELECT event_id FROM events WHERE {condition_to_sql(_NOT_COND)}",
)
def where_not(spark, sf):
    return flt.where(events(spark, sf), _NOT_COND).select("event_id")


_RE_COND = [":regex", "event_type", "cl.*k"]


@q(
    "where_regex",
    f"SELECT event_id FROM events WHERE {condition_to_sql(_RE_COND)}",
)
def where_regex(spark, sf):
    return flt.where(events(spark, sf), _RE_COND).select("event_id")


@q("over_filter", "SELECT event_id, value FROM events WHERE value > 400")
def over_filter(spark, sf):
    return flt.over(events(spark, sf), 400, metric_col="value").select(
        "event_id", "value"
    )


@q("under_filter", "SELECT event_id, value FROM events WHERE value < 1")
def under_filter(spark, sf):
    return flt.under(events(spark, sf), 1, metric_col="value").select(
        "event_id", "value"
    )


@q(
    "tagged_all",
    "SELECT event_id FROM events WHERE event_type = 'click'",
)
def tagged_all(spark, sf):
    # synthesize a tags column (events has none): [event_type, 'all']
    df = events(spark, sf).withColumn(
        "tags", F.array(F.col("event_type"), F.lit("all"))
    )
    return flt.tagged_all(df, ["all", "click"]).select("event_id")


@q(
    "split_routing",
    "SELECT event_id, CASE WHEN value > 300 THEN 'big' WHEN value > 100 THEN 'mid' "
    "ELSE 'small' END AS branch FROM events",
)
def split_routing(spark, sf):
    routed = flt.split(
        events(spark, sf),
        [([":>", "value", 300], "big"), ([":>", "value", 100], "mid")],
        default="small",
    )
    return routed.select("event_id", F.col("__branch__").alias("branch"))


# expired/not-expired: arrival order = (user_id, event_id) — per-user
# ingest streams merged in user order, so the running-max clock
# actually exceeds late rows' times (pure event_id order is already
# time-sorted in this dataset and would make `expired` trivially empty).
_EXPIRED_ORACLE = f"""
WITH clocked AS (
  SELECT event_id, {T_S} AS t_s,
         max({T_S}) OVER (ORDER BY user_id, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS clk
  FROM events
)
SELECT event_id FROM clocked WHERE (clk - t_s) {{op}} 120.0
"""


@q("expired_events", _EXPIRED_ORACLE.format(op=">"))
def expired_events(spark, sf):
    return flt.expired(
        events(spark, sf),
        time_col="ts",
        ttl_col=None,
        state_col=None,
        arrival_cols=["user_id", "event_id"],
    ).select("event_id")


@q("not_expired_events", _EXPIRED_ORACLE.format(op="<="))
def not_expired_events(spark, sf):
    return flt.not_expired(
        events(spark, sf),
        time_col="ts",
        ttl_col=None,
        state_col=None,
        arrival_cols=["user_id", "event_id"],
    ).select("event_id")


_THROTTLE_ORACLE = """
WITH RECURSIVE ordered AS (
  SELECT user_id, event_id, epoch_us(ts) AS t,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events WHERE ts IS NOT NULL
), th AS (
  SELECT user_id, event_id, t, rn, t AS anchor, 1 AS cnt, TRUE AS pass
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.user_id, o.event_id, o.t, o.rn,
         CASE WHEN o.t >= th.anchor + 3600000000 THEN o.t ELSE th.anchor END,
         CASE WHEN o.t >= th.anchor + 3600000000 THEN 1
              WHEN th.cnt < 2 THEN th.cnt + 1 ELSE th.cnt END,
         CASE WHEN o.t >= th.anchor + 3600000000 THEN TRUE
              WHEN th.cnt < 2 THEN TRUE ELSE FALSE END
  FROM th JOIN ordered o
    ON o.user_id IS NOT DISTINCT FROM th.user_id AND o.rn = th.rn + 1
)
SELECT event_id FROM th WHERE pass
"""


@q("throttle", _THROTTLE_ORACLE)
def throttle(spark, sf):
    return flt.throttle_batch(
        events(spark, sf),
        count=2,
        duration_s=HOUR,
        by=["user_id"],
        time_col="ts",
        order_cols=["event_id"],
    ).select("event_id")


@q(
    "changed_transitions",
    """
SELECT event_id FROM (
  SELECT event_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
) WHERE event_type IS DISTINCT FROM prev
""",
)
def changed_transitions(spark, sf):
    return st.changed(
        events(spark, sf),
        field="event_type",
        by=["user_id"],
        time_col="ts",
        order_cols=["event_id"],
    ).select("event_id")


_COND_DT_ORACLE = """
WITH flagged AS (
  SELECT event_id, user_id, ts, ({cond}) AS valid,
         sum(CASE WHEN NOT coalesce({cond}, FALSE) THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
  FROM events WHERE ts IS NOT NULL
), flips AS (
  SELECT *, min(CASE WHEN valid THEN epoch_us(ts) END)
              OVER (PARTITION BY user_id, run) AS flip
  FROM flagged
)
SELECT event_id FROM flips WHERE valid AND epoch_us(ts) > flip + {dt_us}
"""


@q(
    "above_dt_alert",
    _COND_DT_ORACLE.format(cond="(value > 50)", dt_us=2 * 3600 * 1_000_000),
)
def above_dt_alert(spark, sf):
    return st.above_dt(
        events(spark, sf),
        threshold=50,
        dt_s=2 * HOUR,
        metric_col="value",
        by=["user_id"],
        time_col="ts",
        order_cols=["event_id"],
    ).select("event_id")


@q(
    "outside_dt_alert",
    _COND_DT_ORACLE.format(
        cond="(value < 10 OR value > 100)", dt_us=2 * 3600 * 1_000_000
    ),
)
def outside_dt_alert(spark, sf):
    return st.outside_dt(
        events(spark, sf),
        low=10,
        high=100,
        dt_s=2 * HOUR,
        metric_col="value",
        by=["user_id"],
        time_col="ts",
        order_cols=["event_id"],
    ).select("event_id")


@q(
    "stable_states",
    """
WITH ordered AS (
  SELECT event_id, user_id, event_type, epoch_us(ts) AS t, ts
  FROM events WHERE ts IS NOT NULL
), inorder AS (
  SELECT *, max(t) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
  FROM ordered
), kept AS (
  SELECT * FROM inorder WHERE pm IS NULL OR t >= pm
), flagged AS (
  SELECT *, CASE WHEN event_type IS DISTINCT FROM
                      lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 THEN 1 ELSE 0 END AS chg
  FROM kept
), runs AS (
  SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
  FROM flagged
), spans AS (
  SELECT *, min(t) OVER (PARTITION BY user_id, run) AS flip,
            max(t) OVER (PARTITION BY user_id, run) AS run_max
  FROM runs
)
SELECT event_id FROM spans WHERE run_max > flip + 600000000
""",
)
def stable_states(spark, sf):
    return st.stable(
        events(spark, sf),
        dt_s=600.0,
        field="event_type",
        by=["user_id"],
        time_col="ts",
        order_cols=["event_id"],
    ).select("event_id")


# ---------------------------------------------------------------------------
# §2.4 transforms


@q(
    "with_const",
    "SELECT event_id, 'critical' AS state, 2 AS priority FROM events",
)
def with_const(spark, sf):
    df = tr.with_fields(events(spark, sf), {"state": "critical", "priority": 2})
    return df.select("event_id", "state", "priority")


@q(
    "default_missing",
    "SELECT event_id, coalesce(CASE WHEN value > 400 THEN NULL ELSE value END, 0.0) AS value "
    "FROM events",
)
def default_missing(spark, sf):
    df = events(spark, sf).withColumn(
        "value", F.when(F.col("value") > 400, F.lit(None)).otherwise(F.col("value"))
    )
    return tr.default_fields(df, {"value": 0.0}).select("event_id", "value")


@q("scale_metric", "SELECT event_id, value * 0.001 AS value FROM events")
def scale_metric(spark, sf):
    return tr.scale(events(spark, sf), 0.001, metric_col="value").select(
        "event_id", "value"
    )


@q("increment_metric", "SELECT event_id, value + 1 AS value FROM events")
def increment_metric(spark, sf):
    return tr.increment(events(spark, sf), metric_col="value").select(
        "event_id", "value"
    )


@q("decrement_metric", "SELECT event_id, value - 1 AS value FROM events")
def decrement_metric(spark, sf):
    return tr.decrement(events(spark, sf), metric_col="value").select(
        "event_id", "value"
    )


@q(
    "sformat_label",
    "SELECT event_id, printf('%s-%d', event_type, user_id) AS label FROM events",
)
def sformat_label(spark, sf):
    return tr.sformat(
        events(spark, sf), "%s-%d", "label", ["event_type", "user_id"]
    ).select("event_id", "label")


@q(
    "to_string_field",
    "SELECT event_id, coalesce(CAST(user_id AS VARCHAR), '') AS user_id FROM events",
)
def to_string_field(spark, sf):
    return tr.to_string(events(spark, sf), "user_id").select("event_id", "user_id")


@q(
    "base64_roundtrip",
    "SELECT event_id, to_base64(encode(event_type)) AS b64, event_type AS back FROM events",
)
def base64_roundtrip(spark, sf):
    df = events(spark, sf).withColumn("b64", F.col("event_type"))
    df = tr.to_base64(df, "b64")
    df = df.withColumn("back", F.col("b64"))
    df = tr.from_base64(df, "back")
    return df.select("event_id", "b64", "back")


@q(
    "from_json_props",
    "SELECT event_id, CAST(props->>'k' AS BIGINT) AS k FROM events",
)
def from_json_props(spark, sf):
    df = tr.from_json(events(spark, sf), "props", "k BIGINT", target="parsed")
    return df.select("event_id", F.col("parsed.k").alias("k"))


@q(
    "rename_keys_proj",
    # coalesce mirrors clojure rename-keys: absent source keeps target
    "SELECT event_id, value AS metric, event_type AS service FROM events",
)
def rename_keys_proj(spark, sf):
    df = tr.rename_keys(
        events(spark, sf), {"value": "metric", "event_type": "service"}
    )
    return df.select("event_id", "metric", "service")


@q("keep_keys_proj", "SELECT event_id, event_type FROM events")
def keep_keys_proj(spark, sf):
    return tr.keep_keys(events(spark, sf), ["event_id", "event_type"])


@q(
    "sdissoc_proj",
    "SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type FROM events",
)
def sdissoc_proj(spark, sf):
    # ts serialized to epoch-µs: a raw TIMESTAMP column renders as
    # session-timezone wall clock on collect, so a non-UTC driver
    # session would shift it against DuckDB's naive reading
    return tr.sdissoc(events(spark, sf), ["value", "props"]).withColumn(
        "ts_us", F.unix_micros("ts")
    ).drop("ts")


@q(
    "tag_untag",
    "SELECT event_id, array_to_string(CASE WHEN event_type = 'click' THEN ['extra'] "
    "ELSE [event_type, 'extra'] END, ',') AS tags FROM events",
)
def tag_untag(spark, sf):
    # Array serialized to CSV: the driver gate's pandas hasher cannot hash
    # raw list cells (r2 GATE-ERR). Same values, string-typed output.
    df = events(spark, sf).withColumn("tags", F.array(F.col("event_type")))
    df = tr.tag(df, "extra")
    df = tr.untag(df, "click")
    return df.select("event_id", F.array_join("tags", ",").alias("tags"))


@q(
    "iterate_on_explode",
    "SELECT event_id, unnest([value, value + 100]) AS v FROM events",
)
def iterate_on_explode(spark, sf):
    df = events(spark, sf).withColumn(
        "v", F.array(F.col("value"), F.col("value") + 100)
    )
    return tr.iterate_on(df, "v").select("event_id", "v")


@q(
    "extract_nested",
    "SELECT event_type, value FROM events",
)
def extract_nested(spark, sf):
    df = events(spark, sf).withColumn(
        "base", F.struct(F.col("event_type"), F.col("value"))
    )
    return tr.extract(df, "base")


@q(
    "sflatten_roundtrip",
    "SELECT event_id, user_id, value FROM events WHERE event_type = 'error'",
)
def sflatten_roundtrip(spark, sf):
    src = events(spark, sf).filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "value", "ts"
    )
    windowed = win.fixed_time_window(
        src, HOUR, by=[], time_col="ts", event_cols=["event_id", "user_id", "value"]
    )
    return tr.sflatten(windowed, "events")


# ---------------------------------------------------------------------------
# §2.5 windows

@q(
    "fixed_time_window_ids",
    f"""
SELECT user_id, {WS_HOUR} AS window_start,
       string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY event_id) AS ids
FROM events GROUP BY user_id, 2
""",
)
def fixed_time_window_ids(spark, sf):
    src = events(spark, sf).select("user_id", "ts", "event_id")
    w = win.fixed_time_window(
        src, HOUR, by=["user_id"], time_col="ts", event_cols=["event_id"]
    )
    ids = F.array_sort(F.transform("events", lambda e: e["event_id"]))
    return w.select(
        "user_id",
        "window_start",
        F.array_join(F.transform(ids, lambda i: i.cast("string")), ",").alias("ids"),
    )


@q(
    "fixed_event_window_ids",
    """
WITH numbered AS (
  SELECT user_id, event_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
), bucketed AS (
  SELECT user_id, event_id, CAST(floor((rn - 1) / 20.0) AS BIGINT) AS window_id
  FROM numbered
)
SELECT user_id, window_id,
       string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY event_id) AS ids
FROM bucketed GROUP BY user_id, window_id HAVING count(*) = 20
""",
)
def fixed_event_window_ids(spark, sf):
    src = events(spark, sf).select("user_id", "ts", "event_id")
    w = win.fixed_event_window(
        src, 20, by=["user_id"], time_col="ts", order_cols=["event_id"]
    )
    ids = F.array_sort(F.transform("events", lambda e: e["event_id"]))
    return w.select(
        "user_id",
        "window_id",
        F.array_join(F.transform(ids, lambda i: i.cast("string")), ",").alias("ids"),
    )


@q(
    "moving_event_window_vals",
    """
WITH lists AS (
  SELECT event_id,
         list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS last5
  FROM events
)
SELECT event_id,
       array_to_string(
         list_transform(last5, v -> CAST(CAST(v AS DECIMAL(18,2)) AS VARCHAR)),
         ',') AS last5
FROM lists
""",
)
def moving_event_window_vals(spark, sf):
    # Doubles go through DECIMAL(18,2) before stringifying: the testdata
    # values are 2dp, and decimal rendering is identical across engines
    # (double->string shortest-roundtrip formats are not).
    w = win.moving_event_window(
        events(spark, sf),
        5,
        by=["user_id"],
        time_col="ts",
        order_cols=["event_id"],
        value_col="value",
    )
    vals = F.transform(
        "events", lambda v: v.cast("decimal(18,2)").cast("string")
    )
    return w.select("event_id", F.array_join(vals, ",").alias("last5"))


@q(
    "moving_time_window_count",
    """
SELECT event_id,
       CAST(count(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                           RANGE BETWEEN 899999999 PRECEDING AND CURRENT ROW) AS BIGINT)
         AS n_window
FROM events
""",
)
def moving_time_window_count(spark, sf):
    w = win.moving_time_window(
        events(spark, sf), 900.0, by=["user_id"], time_col="ts", value_col="value"
    )
    return w.select("event_id", F.size("events").cast("bigint").alias("n_window"))


@q(
    "ssort_sorted",
    f"""
SELECT {WS_HOUR} AS window_start,
       CAST(row_number() OVER (PARTITION BY {WS_HOUR} ORDER BY value, event_id) - 1 AS INT)
         AS seq,
       event_id
FROM events
""",
)
def ssort_sorted(spark, sf):
    src = events(spark, sf).select("event_id", "ts", "value")
    s = win.ssort(
        src, HOUR, "value", by=[], time_col="ts", payload_cols=["event_id"]
    )
    return s.select("window_start", "seq", "event_id")


@q(
    "coalesce_latest",
    f"""
WITH ranked AS (
  SELECT event_type, {WS_HOUR} AS window_start, event_id, ts,
         row_number() OVER (PARTITION BY event_type, {WS_HOUR}
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT event_type, window_start, event_id FROM ranked
WHERE rn = 1 AND ((window_start + 3600.0) - {T_S}) <= 120.0
""",
)
def coalesce_latest(spark, sf):
    c = win.coalesce_op(
        events(spark, sf),
        HOUR,
        fields=["event_type"],
        time_col="ts",
        ttl_col=None,
        default_ttl_s=120.0,
        order_cols=["event_id"],
    )
    return c.select("event_type", "window_start", "event_id")


@q(
    "project_correlate",
    f"""
SELECT {WS_HOUR} AS window_start,
       (list(value ORDER BY ts DESC, event_id DESC)
          FILTER (WHERE event_type = 'click'))[1] AS metric_1,
       (list(value ORDER BY ts DESC, event_id DESC)
          FILTER (WHERE event_type = 'error'))[1] AS metric_2
FROM events GROUP BY 1
""",
)
def project_correlate(spark, sf):
    return win.project(
        events(spark, sf),
        [[":=", "event_type", "click"], [":=", "event_type", "error"]],
        HOUR,
        time_col="ts",
        metric_col="value",
        order_cols=["event_id"],
    )


# ---------------------------------------------------------------------------
# §2.6 aggregations + §2.7 by

_SUM_DEC = "CAST(sum(CAST(coalesce(value, 0.0) AS DECIMAL(38,9))) AS DOUBLE)"


@q(
    "agg_sum_hourly",
    f"SELECT user_id, {WS_HOUR} AS window_start, {_SUM_DEC} AS metric "
    "FROM events GROUP BY user_id, 2",
)
def agg_sum_hourly(spark, sf):
    return agg.agg_sum(
        events(spark, sf), HOUR, by=["user_id"], time_col="ts", metric_col="value"
    )


@q(
    "agg_sum_delayed_hourly",
    f"""
WITH clocked AS (
  SELECT user_id, value, ts, {T_S} AS t_s,
         max({T_S}) OVER (ORDER BY user_id, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS clk
  FROM events
)
SELECT {WS_HOUR} AS window_start,
       CAST(sum(CAST(coalesce(value, 0.0) AS DECIMAL(38,9))) AS DOUBLE) AS metric,
       max(t_s) AS time
FROM clocked
WHERE clk - t_s <= 1800.0
GROUP BY 1
HAVING window_start + {HOUR} + 1800.0 <= (SELECT max(clk) FROM clocked)
""",
)
def agg_sum_delayed_hourly(spark, sf):
    """Full push-mode aggregation with :delay late-drop and the
    flush-on-clock rule — arrival order (user_id, event_id), so
    events genuinely arrive out of time order and both the too-old
    drop and the unflushed-tail rule fire."""
    return agg.aggregation_delayed(
        events(spark, sf), HOUR, 1800.0, aggr="sum",
        time_col="ts", metric_col="value",
        arrival_cols=["user_id", "event_id"],
    ).select("window_start", "metric", "time")


@q(
    "agg_mean_hourly",
    f"SELECT user_id, {WS_HOUR} AS window_start, {_SUM_DEC} / count(*) AS metric "
    "FROM events GROUP BY user_id, 2",
)
def agg_mean_hourly(spark, sf):
    return agg.agg_mean(
        events(spark, sf), HOUR, by=["user_id"], time_col="ts", metric_col="value"
    )


@q(
    "agg_top_event",
    f"""
SELECT window_start, event_id FROM (
  SELECT {WS_HOUR} AS window_start, event_id,
         row_number() OVER (PARTITION BY {WS_HOUR}
                            ORDER BY value DESC, ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
""",
)
def agg_top_event(spark, sf):
    t = agg.agg_top(
        events(spark, sf),
        HOUR,
        by=[],
        time_col="ts",
        metric_col="value",
        order_cols=["event_id"],
        event_cols=["event_id"],
    )
    return t.select("window_start", "event_id")


@q(
    "agg_bottom_event",
    f"""
SELECT window_start, event_id FROM (
  SELECT {WS_HOUR} AS window_start, event_id,
         row_number() OVER (PARTITION BY {WS_HOUR}
                            ORDER BY value ASC, ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
""",
)
def agg_bottom_event(spark, sf):
    b = agg.agg_bottom(
        events(spark, sf),
        HOUR,
        by=[],
        time_col="ts",
        metric_col="value",
        order_cols=["event_id"],
        event_cols=["event_id"],
    )
    return b.select("window_start", "event_id")


@q(
    "agg_rate_hourly",
    f"SELECT user_id, {WS_HOUR} AS window_start, count(*) / 3600.0 AS metric "
    "FROM events GROUP BY user_id, 2",
)
def agg_rate_hourly(spark, sf):
    return agg.agg_rate(events(spark, sf), HOUR, by=["user_id"], time_col="ts")


@q(
    "agg_ratio_error_click",
    f"""
SELECT {WS_HOUR} AS window_start,
       CASE WHEN CAST(count(*) FILTER (WHERE event_type = 'click') AS DOUBLE) = 0
            THEN 0.0
            ELSE CAST(count(*) FILTER (WHERE event_type = 'error') AS DOUBLE)
                 / CAST(count(*) FILTER (WHERE event_type = 'click') AS DOUBLE)
       END AS metric
FROM events GROUP BY 1
""",
)
def agg_ratio_error_click(spark, sf):
    return agg.agg_ratio(
        events(spark, sf),
        [":=", "event_type", "error"],
        [":=", "event_type", "click"],
        HOUR,
        by=[],
        time_col="ts",
        metric_col="value",
    )


@q(
    "agg_percentiles_hourly",
    f"""
WITH w AS (
  SELECT {WS_HOUR} AS window_start, list(value ORDER BY value) AS m
  FROM events GROUP BY 1
), qs AS (SELECT unnest([0.0, 0.5, 0.95, 1.0]) AS quantile)
SELECT window_start, quantile,
       m[CAST(least(len(m) - 1, CAST(floor(len(m) * quantile) AS BIGINT)) AS BIGINT) + 1]
         AS metric
FROM w, qs
""",
)
def agg_percentiles_hourly(spark, sf):
    return agg.agg_percentiles(
        events(spark, sf),
        [0.0, 0.5, 0.95, 1.0],
        HOUR,
        by=[],
        time_col="ts",
        metric_col="value",
    )


@q(
    "coll_count_hourly",
    f"SELECT user_id, {WS_HOUR} AS window_start, CAST(count(*) AS DOUBLE) AS metric "
    "FROM events GROUP BY user_id, 2",
)
def coll_count_hourly(spark, sf):
    return agg.coll_count(events(spark, sf), HOUR, by=["user_id"], time_col="ts")


@q(
    "coll_max_hourly",
    f"SELECT user_id, {WS_HOUR} AS window_start, max(value) AS metric "
    "FROM events GROUP BY user_id, 2",
)
def coll_max_hourly(spark, sf):
    return agg.coll_max(
        events(spark, sf), HOUR, by=["user_id"], time_col="ts", metric_col="value"
    )


@q(
    "coll_min_hourly",
    f"SELECT user_id, {WS_HOUR} AS window_start, min(value) AS metric "
    "FROM events GROUP BY user_id, 2",
)
def coll_min_hourly(spark, sf):
    return agg.coll_min(
        events(spark, sf), HOUR, by=["user_id"], time_col="ts", metric_col="value"
    )


@q(
    "coll_rate_hourly",
    f"""
SELECT user_id, window_start,
       CASE WHEN span = 0 THEN s ELSE s / (span / 1000000) END AS metric
FROM (
  SELECT user_id, {WS_HOUR} AS window_start, {_SUM_DEC} AS s,
         max(epoch_us(ts)) - min(epoch_us(ts)) AS span
  FROM events GROUP BY user_id, 2
)
""",
)
def coll_rate_hourly(spark, sf):
    return agg.coll_rate(
        events(spark, sf), HOUR, by=["user_id"], time_col="ts", metric_col="value"
    )


@q(
    "coll_quotient_daily",
    f"""
SELECT user_id, {WS_DAY} AS window_start,
       list_reduce(list(value ORDER BY ts, event_id), (acc, x) -> acc / x) AS metric
FROM events WHERE value > 0 GROUP BY user_id, 2
""",
)
def coll_quotient_daily(spark, sf):
    src = events(spark, sf).filter(F.col("value") > 0)
    return agg.coll_quotient(
        src,
        DAY,
        by=["user_id"],
        time_col="ts",
        metric_col="value",
        order_cols=["event_id"],
    )


@q(
    "coll_top3",
    f"""
SELECT event_id FROM (
  SELECT event_id,
         row_number() OVER (PARTITION BY {WS_HOUR}
                            ORDER BY value DESC, ts DESC, event_id) AS rn
  FROM events
) WHERE rn <= 3
""",
)
def coll_top3(spark, sf):
    t = agg.coll_top(
        events(spark, sf),
        3,
        HOUR,
        by=[],
        time_col="ts",
        metric_col="value",
        order_cols=["event_id"],
    )
    return t.select("event_id")


@q(
    "coll_bottom3",
    f"""
SELECT event_id FROM (
  SELECT event_id,
         row_number() OVER (PARTITION BY {WS_HOUR}
                            ORDER BY value ASC, ts DESC, event_id) AS rn
  FROM events
) WHERE rn <= 3
""",
)
def coll_bottom3(spark, sf):
    b = agg.coll_bottom(
        events(spark, sf),
        3,
        HOUR,
        by=[],
        time_col="ts",
        metric_col="value",
        order_cols=["event_id"],
    )
    return b.select("event_id")


@q(
    "coll_increase_daily",
    f"""
SELECT user_id, window_start, newest - oldest AS metric FROM (
  SELECT user_id, {WS_DAY} AS window_start,
         (list(value ORDER BY ts DESC, event_id ASC))[1] AS newest,
         (list(value ORDER BY ts ASC, event_id ASC))[1] AS oldest,
         count(*) AS n
  FROM events GROUP BY user_id, 2
) WHERE n >= 2 AND newest - oldest > 0
""",
)
def coll_increase_daily(spark, sf):
    return agg.coll_increase(
        events(spark, sf),
        DAY,
        by=["user_id"],
        time_col="ts",
        metric_col="value",
        order_cols=["event_id"],
    )


@q(
    "coll_sort_ids",
    f"""
SELECT {WS_HOUR} AS window_start,
       string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY value, event_id) AS ids
FROM events GROUP BY 1
""",
)
def coll_sort_ids(spark, sf):
    # array output serialized to a CSV string: the driver's hasher cannot
    # hash raw array<bigint> cells (same fix as fixed_time_window_ids).
    src = events(spark, sf).select("event_id", "ts", "value")
    s = agg.coll_sort(
        src, "value", HOUR, by=[], time_col="ts", payload_cols=["event_id"]
    )
    ids = F.transform("events", lambda e: e["event_id"].cast("string"))
    return s.select("window_start", F.array_join(ids, ",").alias("ids"))


@q(
    "by_sum_daily",
    f"SELECT user_id, event_type, {WS_DAY} AS window_start, {_SUM_DEC} AS metric "
    "FROM events GROUP BY user_id, event_type, 3",
)
def by_sum_daily(spark, sf):
    # `by` (action.clj:1559-1641) = extra grouping keys threaded into
    # the windowed aggregation — one shuffle on (user_id, event_type, bucket)
    return agg.agg_sum(
        events(spark, sf),
        DAY,
        by=["user_id", "event_type"],
        time_col="ts",
        metric_col="value",
    )


# ---------------------------------------------------------------------------
# ordered stateful (§2.3/§2.4)


@q(
    "smax_running",
    """
SELECT best.eid AS event_id FROM (
  SELECT max({'m': value, 'nt': -epoch_us(ts), 'nid': -event_id, 'eid': event_id})
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS best
  FROM events
)
""",
)
def smax_running(spark, sf):
    s = st.smax(
        events(spark, sf),
        by=["user_id"],
        time_col="ts",
        metric_col="value",
        order_cols=["event_id"],
    )
    return s.select("event_id")


@q(
    "smin_running",
    """
SELECT best.eid AS event_id FROM (
  SELECT max({'m': -value, 'nt': -epoch_us(ts), 'nid': -event_id, 'eid': event_id})
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS best
  FROM events
)
""",
)
def smin_running(spark, sf):
    s = st.smin(
        events(spark, sf),
        by=["user_id"],
        time_col="ts",
        metric_col="value",
        order_cols=["event_id"],
    )
    return s.select("event_id")


@q(
    "ddt_rate",
    """
SELECT event_id, d AS value FROM (
  SELECT event_id,
         CASE WHEN (epoch_us(ts) - lag(epoch_us(ts))
                      OVER (PARTITION BY user_id ORDER BY ts, event_id)) = 0
              THEN NULL
              ELSE (value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                   / ((epoch_us(ts) - lag(epoch_us(ts))
                        OVER (PARTITION BY user_id ORDER BY ts, event_id)) / 1000000)
         END AS d
  FROM events WHERE value IS NOT NULL
) WHERE d IS NOT NULL
""",
)
def ddt_rate(spark, sf):
    d = st.ddt(
        events(spark, sf),
        by=["user_id"],
        time_col="ts",
        metric_col="value",
        order_cols=["event_id"],
    )
    return d.select("event_id", "value")


@q(
    "ddt_pos_rate",
    """
SELECT event_id, d AS value FROM (
  SELECT event_id,
         CASE WHEN (epoch_us(ts) - lag(epoch_us(ts))
                      OVER (PARTITION BY user_id ORDER BY ts, event_id)) = 0
              THEN NULL
              ELSE (value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                   / ((epoch_us(ts) - lag(epoch_us(ts))
                        OVER (PARTITION BY user_id ORDER BY ts, event_id)) / 1000000)
         END AS d
  FROM events WHERE value IS NOT NULL
) WHERE d IS NOT NULL AND d >= 0
""",
)
def ddt_pos_rate(spark, sf):
    d = st.ddt_pos(
        events(spark, sf),
        by=["user_id"],
        time_col="ts",
        metric_col="value",
        order_cols=["event_id"],
    )
    return d.select("event_id", "value")


@q(
    "ewma_smoothed",
    """
WITH RECURSIVE ordered AS (
  SELECT user_id, event_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
), rec AS (
  SELECT user_id, event_id, rn, 0.5 * value + 0.5 * 0.0 AS m
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.user_id, o.event_id, o.rn, 0.5 * o.value + 0.5 * rec.m
  FROM rec JOIN ordered o
    ON o.user_id IS NOT DISTINCT FROM rec.user_id AND o.rn = rec.rn + 1
)
SELECT event_id, m AS value FROM rec
""",
)
def ewma_smoothed(spark, sf):
    e = agg.ewma_timeless(
        events(spark, sf),
        r=0.5,
        by=["user_id"],
        time_col="ts",
        metric_col="value",
        order_cols=["event_id"],
    )
    return e.select("event_id", "value")


@q(
    "below_dt_alert",
    _COND_DT_ORACLE.format(cond="(value < 200)", dt_us=2 * 3600 * 1_000_000),
)
def below_dt_alert(spark, sf):
    return st.below_dt(
        events(spark, sf),
        threshold=200,
        dt_s=2 * HOUR,
        metric_col="value",
        by=["user_id"],
        time_col="ts",
        order_cols=["event_id"],
    ).select("event_id")


@q(
    "between_dt_alert",
    _COND_DT_ORACLE.format(
        cond="(value > 10 AND value < 300)", dt_us=2 * 3600 * 1_000_000
    ),
)
def between_dt_alert(spark, sf):
    return st.between_dt(
        events(spark, sf),
        low=10,
        high=300,
        dt_s=2 * HOUR,
        metric_col="value",
        by=["user_id"],
        time_col="ts",
        order_cols=["event_id"],
    ).select("event_id")


@q(
    "critical_dt_alert",
    _COND_DT_ORACLE.format(
        cond="(CASE WHEN value > 100 THEN 'critical' ELSE 'ok' END = 'critical')",
        dt_us=3600 * 1_000_000,
    ),
)
def critical_dt_alert(spark, sf):
    df = events(spark, sf).withColumn(
        "state", F.when(F.col("value") > 100, "critical").otherwise("ok")
    )
    return st.critical_dt(
        df, dt_s=HOUR, by=["user_id"], time_col="ts", order_cols=["event_id"]
    ).select("event_id")


@q(
    "coll_where_inside_window",
    f"""
SELECT {WS_HOUR} AS window_start,
       CAST(count(*) FILTER (WHERE value > 100) AS INT) AS n_kept
FROM events GROUP BY 1
""",
)
def coll_where_inside_window(spark, sf):
    src = events(spark, sf).select("ts", "value")
    w = win.fixed_time_window(src, HOUR, by=[], time_col="ts", event_cols=["value"])
    filtered = flt.coll_where(w, "events", "x.value > 100")
    return filtered.select("window_start", F.size("events").alias("n_kept"))


@q(
    "coll_sum_hourly",
    f"SELECT user_id, {WS_HOUR} AS window_start, {_SUM_DEC} AS metric "
    "FROM events GROUP BY user_id, 2",
)
def coll_sum_hourly(spark, sf):
    return agg.coll_sum(
        events(spark, sf), HOUR, by=["user_id"], time_col="ts", metric_col="value"
    )


@q(
    "coll_mean_hourly",
    f"SELECT user_id, {WS_HOUR} AS window_start, {_SUM_DEC} / count(*) AS metric "
    "FROM events GROUP BY user_id, 2",
)
def coll_mean_hourly(spark, sf):
    return agg.coll_mean(
        events(spark, sf), HOUR, by=["user_id"], time_col="ts", metric_col="value"
    )


@q(
    "coll_percentiles_hourly",
    f"""
WITH w AS (
  SELECT {WS_HOUR} AS window_start, list(value ORDER BY value) AS m
  FROM events GROUP BY 1
), qs AS (SELECT unnest([0.25, 0.75]) AS quantile)
SELECT window_start, quantile,
       m[CAST(least(len(m) - 1, CAST(floor(len(m) * quantile) AS BIGINT)) AS BIGINT) + 1]
         AS metric
FROM w, qs
""",
)
def coll_percentiles_hourly(spark, sf):
    return agg.coll_percentiles(
        events(spark, sf), [0.25, 0.75], HOUR, by=[], time_col="ts",
        metric_col="value",
    )


@q(
    "dsl_pipeline",
    f"""
SELECT user_id, {WS_DAY} AS window_start, {_SUM_DEC} AS metric
FROM (SELECT user_id, ts, value * 2 AS value FROM events WHERE event_type = 'error')
GROUP BY user_id, 2
""",
)
def dsl_pipeline(spark, sf):
    """End-to-end through the DSL compiler: where → scale → by → sum."""
    from mirabelle_spark.plans import build_stream

    src = events(spark, sf)
    tree = {
        "action": "where",
        "params": [[":=", "event_type", "error"]],
        "children": [
            {
                "action": "scale",
                "params": [2.0],
                "children": [
                    {
                        "action": "by",
                        "params": [{"fields": ["user_id"]}],
                        "children": [
                            {
                                "action": "sum",
                                "params": [{"duration": DAY}],
                                "children": [{"action": "tap", "params": ["out"]}],
                            }
                        ],
                    }
                ],
            }
        ],
    }
    taps = build_stream(
        src, tree, time_col="ts", metric_col="value", order_cols=("event_id",)
    )
    return taps["out"]


_COALESCE_FILL_ORACLE = """
WITH base AS (
  SELECT event_type, event_id, epoch_us(ts) AS t,
         lead(epoch_us(ts)) OVER (PARTITION BY event_type
                                  ORDER BY epoch_us(ts), event_id) AS t_next
  FROM events
), g AS (SELECT max(epoch_us(ts)) AS gmax FROM events),
bounds AS (
  SELECT event_type, event_id,
         (t + 3599999999) - ((t + 3599999999) % 3600000000) AS first_tick,
         least(
           coalesce(CASE WHEN t_next IS NOT NULL
                         THEN ((t_next + 3599999999) - ((t_next + 3599999999) % 3600000000))
                              - 3600000000 END, 4611686018427387904),
           (t + 7200000000) - ((t + 7200000000) % 3600000000),
           gmax - (gmax % 3600000000)
         ) AS last_tick
  FROM base, g
)
SELECT event_type, tick_us / 1000000.0 AS tick, event_id
FROM (
  SELECT event_type, event_id,
         unnest(generate_series(first_tick, last_tick, 3600000000)) AS tick_us
  FROM bounds WHERE last_tick >= first_tick
)
"""


@q("coalesce_fill", _COALESCE_FILL_ORACLE)
def coalesce_fill(spark, sf):
    """Full-fidelity coalesce: per-key buffer persists across ticks
    (stateless tick-explosion realization)."""
    c = win.coalesce_ticks(
        events(spark, sf),
        HOUR,
        fields=["event_type"],
        time_col="ts",
        ttl_col=None,
        default_ttl_s=7200.0,
        order_cols=["event_id"],
    )
    return c.select("event_type", "tick", "event_id")


_SESSIONIZE_ORACLE = """
WITH e AS (SELECT user_id, epoch_us(ts) AS us, value FROM events),
s AS (
  SELECT user_id, us, value,
         CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
               OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
                  > 21600000000 THEN 1 ELSE 0 END AS brk
  FROM e
),
sid AS (
  SELECT user_id, us, value,
         sum(brk) OVER (PARTITION BY user_id ORDER BY us
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM s
)
SELECT user_id,
       min(us) AS session_start,
       max(us) + 21600000000 AS session_end,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(COALESCE(value, 0.0) AS DECIMAL(38,9))) AS DOUBLE) AS metric
FROM sid GROUP BY user_id, sid
"""


@q("sessionize_user_events", _SESSIONIZE_ORACLE)
def sessionize_user_events(spark, sf):
    """Gap-based sessionization (6 h inactivity gap per user) via
    Spark's native session_window — dynamic merging windows the
    reference's fixed/moving window set cannot express. The oracle
    reproduces the [min, max+gap) integer-µs interval math with a
    lag/cumsum session assignment."""
    s = win.sessionize(
        events(spark, sf), 21600.0, by=["user_id"], time_col="ts",
        metric_col="value",
    )
    return s.select("user_id", "session_start", "session_end", "n_events", "metric")


_ZSCORE_ORACLE = """
WITH e AS (
  SELECT event_id, user_id, epoch_us(ts) AS us, value FROM events
),
m AS (
  SELECT event_id, user_id, us, value,
         count(*) OVER w AS n,
         CAST(sum(CAST(COALESCE(value, 0.0) AS DECIMAL(38,9))) OVER w AS DOUBLE) AS s1,
         CAST(sum(CAST(COALESCE(value, 0.0) * COALESCE(value, 0.0) AS DECIMAL(38,9))) OVER w AS DOUBLE) AS s2
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY us
               RANGE BETWEEN 21600000000 PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id,
       CASE WHEN n >= 2 AND greatest(s2 / n - (s1 / n) * (s1 / n), 0.0) > 0.0
            THEN (value - s1 / n) / sqrt(greatest(s2 / n - (s1 / n) * (s1 / n), 0.0))
       END AS zscore
FROM m
"""


@q("zscore_events", _ZSCORE_ORACLE)
def zscore_events(spark, sf):
    """Rolling 6-hour z-score per user — the windowed anomaly signal
    the reference's fixed-threshold family (above/below/cond-dt)
    approximates with constants. Decimal-exact window moments make
    the double math engine-portable."""
    z = st.zscore(
        events(spark, sf), 21600.0, by=["user_id"], time_col="ts",
        metric_col="value",
    )
    return z.select("event_id", "user_id", "zscore")
