"""Query registry: every implemented operator exposed as a
(spark, sf_dir) -> DataFrame callable plus, where SQL-expressible, a
DuckDB oracle SQL twin with IDENTICAL column names and deterministic
numerics.

Cross-engine determinism rules (see functions/stats.py):
- sums/avgs of doubles  -> decimal-cast exact aggregation (bit-equal)
- libm-dependent math (trig/exp/log) and multi-pass stats -> round(6)
- top-k                 -> rank on rounded score with id tiebreak
"""

from __future__ import annotations

import datetime

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from openoa_spark.functions import met, units
from openoa_spark.functions.stats import (
    davg,
    dec,
    dsum,
    dsum_dec,
    rounded,
    sql_davg,
    sql_dec,
    sql_dsum,
)
from openoa_spark.operators import (
    filters,
    geometry,
    imputing,
    joins,
    power_curve,
    qa as qa_ops,
    timeseries,
)
from openoa_spark.datapipe import dedup, similarity, text

# ---------------------------------------------------------------- helpers

# Memo of the ANALYZED base relations, keyed per session — a
# metadata/plan-handle cache, NOT data caching: every action on the
# returned DataFrame still scans parquet from disk (nothing is
# persisted, no .cache()). What it avoids is re-running scan SETUP on
# every registry call — footer/schema read + file-index build
# (~110 ms per spark.read.parquet call, measured r11) and the first
# df.rdd conversion that spread_small_input's partition probe pays
# (~135 ms fresh vs 0.3 ms on a reused handle). A 5-table join query
# (q5) was spending ~0.55 s of its 0.57 s plan build here. This is
# the same session-lifetime relation reuse a catalog table gets from
# Spark's own relation cache; path-based reads just lack one.
# ASSUMPTION (r12, ADVICE): a sf_dir is an immutable dataset directory
# for the lifetime of a session — the memoized handle pins the file
# index captured at first read, so regenerating or appending files
# under a cached sf_dir within one session would read a stale listing.
# Callers that rewrite a directory in place (test fixtures, layout
# probes) must call invalidate_tables(sf_dir) (or invalidate_tables()
# to drop everything) after the rewrite.
_T_CACHE: dict[tuple[int, str, str], DataFrame] = {}


def invalidate_tables(sf_dir: str | None = None) -> int:
    """Drop memoized base-relation handles for ``sf_dir`` (all dirs
    when None). Returns the number of entries removed. Needed only
    when a dataset directory is mutated mid-session; steady-state
    bench/oracle runs never mutate their inputs."""
    if sf_dir is None:
        n = len(_T_CACHE)
        _T_CACHE.clear()
        return n
    key_dir = sf_dir.rstrip("/")
    stale = [k for k in _T_CACHE if k[1] == key_dir]
    for k in stale:
        del _T_CACHE[k]
    return len(stale)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    key = (id(spark), sf_dir.rstrip("/"), name)
    hit = _T_CACHE.get(key)
    if hit is not None:
        return hit
    df = _t_build(spark, sf_dir, name)
    _T_CACHE[key] = df
    return df


def _t_build(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # events.parquet's ts layout has varied across driver testdata
        # generations: TIMESTAMP(NANOS) (rounds 1-2; Spark rejects it
        # unless nanosAsLong reads the raw int64), plain micros
        # TIMESTAMP (round 3+, surfaces as TIMESTAMP_NTZ). Branch on
        # the dtype actually read so either generation works. The
        # guarded conf set covers the driver's vanilla session without
        # re-mutating config on every call.
        if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        ts_type = dict(df.dtypes)["ts"]
        if ts_type == "bigint":
            # int64 nanos -> truncate to micros (exact integer DIV,
            # matching DuckDB's ns→us truncation)
            return df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        if ts_type == "timestamp_ntz":
            # session tz is UTC, so ntz -> ltz is value-identity and
            # keeps unix_micros()/window arithmetic valid everywhere
            return df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# TPC-H money arithmetic, cross-engine exact: decimal-cast each RAW
# factor (price 2-dec, discount/tax 2-dec), multiply in decimal space.
# Casting the *double product* to decimal instead rounds differently in
# Spark vs DuckDB near 10^-s midpoints (round-1 q1 hash failure).
def _disc_price():  # l_extendedprice * (1 - l_discount), exact decimal
    return dec("l_extendedprice") * (
        F.lit(1).cast("decimal(3,2)") - dec("l_discount", 3, 2)
    )


def _charge():  # disc_price * (1 + l_tax), exact decimal
    return _disc_price() * (F.lit(1).cast("decimal(3,2)") + dec("l_tax", 3, 2))


SQL_DISC_PRICE = (
    f"({sql_dec('l_extendedprice')} * (1 - {sql_dec('l_discount', 3, 2)}))"
)
SQL_CHARGE = f"({SQL_DISC_PRICE} * (1 + {sql_dec('l_tax', 3, 2)}))"


# Deterministic 64-dim query vector for similarity search (shared
# literal between the Spark expression and the oracle SQL).
import math as _math
QUERY_VEC = [round(_math.sin(i + 1.0), 6) for i in range(64)]

_REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {}


def register(name: str, sql: str | None = None):
    def deco(fn):
        _REGISTRY[name] = (fn, sql)
        return fn
    return deco


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {k: v[0] for k, v in _REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {k: v[1] for k, v in _REGISTRY.items() if v[1] is not None}


# ================================================================
# 1. Relational core (TPC-H-shaped; exercises scan/filter/agg/join/
#    window/top-k/rollup/pivot on the driver's star schema)
# ================================================================

@register(
    "q1_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity')} AS sum_qty,
           {sql_dsum('l_extendedprice')} AS sum_base_price,
           CAST(CAST(SUM({SQL_DISC_PRICE}) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
           CAST(CAST(SUM({SQL_CHARGE}) AS VARCHAR) AS DOUBLE) AS sum_charge,
           {sql_davg('l_quantity')} AS avg_qty,
           {sql_davg('l_extendedprice')} AS avg_price,
           {sql_davg('l_discount')} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum_dec(_disc_price()).alias("sum_disc_price"),
            dsum_dec(_charge()).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "q3_top_revenue_orders",
    f"""
    SELECT l_orderkey,
           CAST(CAST(SUM({SQL_DISC_PRICE}) AS VARCHAR) AS DOUBLE) AS revenue,
           CAST(o_orderdate AS TIMESTAMP) AS o_orderdate
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_top_revenue_orders(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").where(F.col("o_orderdate") < "1995-03-15")
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > "1995-03-15")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(dsum_dec(_disc_price()).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "q5_nation_revenue",
    f"""
    SELECT n_name, CAST(CAST(SUM({SQL_DISC_PRICE}) AS VARCHAR) AS DOUBLE) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                  JOIN customer ON o_custkey = c_custkey
                  JOIN nation ON c_nationkey = n_nationkey
                  JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
)
def q5_nation_revenue(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(dsum_dec(_disc_price()).alias("revenue"))
    )


@register(
    "q6_forecast_revenue",
    f"""
    SELECT CAST(CAST(SUM({sql_dec('l_extendedprice')} * {sql_dec('l_discount', 3, 2)}) AS VARCHAR) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1995-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= "1994-01-01")
            & (F.col("l_shipdate") < "1995-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(dsum_dec(dec("l_extendedprice") * dec("l_discount", 3, 2)).alias("revenue"))
    )


@register(
    "top2_orders_per_customer",
    """
    SELECT o_custkey, o_orderkey, o_totalprice FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (
               PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey
             ) AS rn
      FROM orders
    ) WHERE rn <= 2
    """,
)
def top2_orders_per_customer(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 2)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


@register(
    "rollup_lineitem_counts",
    """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_lineitem_counts(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(F.count("*").alias("n"))


@register(
    "order_priority_stats",
    """
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           COUNT(DISTINCT o_custkey) AS n_customers
    FROM orders GROUP BY o_orderpriority
    """,
)
def order_priority_stats(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
    )


@register(
    "orders_without_lineitems",
    """
    SELECT o_orderkey FROM orders
    WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
    """,
)
def orders_without_lineitems(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return orders.join(li, orders.o_orderkey == li.l_orderkey, "left_anti").select("o_orderkey")


# ================================================================
# 2. Time-series operators (events table; SURVEY §2.4)
# ================================================================

@register(
    "resample_day_sum",
    f"""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           {sql_dsum('value', 6)} AS sum_value,
           COUNT(value) AS n
    FROM events GROUP BY 1
    """,
)
def resample_day_sum(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return timeseries.resample(
        ev, "ts", "D", {"sum_value": dsum("value", scale=6), "n": F.count("value")},
        bucket_col="day",
    )


@register(
    "resample_hour_mean_by_type",
    f"""
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
           {sql_davg('value')} AS mean_value
    FROM events GROUP BY 1, 2
    """,
)
def resample_hour_mean_by_type(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return timeseries.resample(
        ev, "ts", "h", {"mean_value": davg("value")}, keys=["event_type"],
        bucket_col="hour",
    )


@register(
    "calendar_hour_profile",
    f"""
    SELECT CAST(hour(ts) AS INT) AS hour_of_day,
           {sql_davg('value')} AS mean_value, COUNT(*) AS n
    FROM events GROUP BY 1
    """,
)
def calendar_hour_profile(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(F.hour("ts").cast("int").alias("hour_of_day")).agg(
        davg("value").alias("mean_value"), F.count("*").alias("n")
    )


@register(
    "infer_frequency",
    """
    WITH d AS (
      SELECT epoch_us(ts) - lag(epoch_us(ts)) OVER (ORDER BY ts) AS delta_us
      FROM (SELECT DISTINCT ts FROM events)
    )
    SELECT delta_us // 1000000 AS delta_s, COUNT(*) AS n
    FROM d WHERE delta_us IS NOT NULL
    GROUP BY 1 ORDER BY n DESC, delta_s LIMIT 1
    """,
)
def infer_frequency(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    diffs = timeseries.consecutive_deltas_us(ev, "ts").select(
        F.expr("_delta_us DIV 1000000").alias("delta_s")
    )
    return (
        diffs.groupBy("delta_s").agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("delta_s"))
        .limit(1)
    )


@register(
    "find_hour_gaps",
    """
    WITH b AS (
      SELECT CAST(date_trunc('hour', min(ts)) AS TIMESTAMP) AS lo,
             CAST(date_trunc('hour', max(ts)) AS TIMESTAMP) AS hi
      FROM events
    ),
    spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM b
    )
    SELECT hour FROM spine
    WHERE NOT EXISTS (
      SELECT 1 FROM events e WHERE CAST(date_trunc('hour', e.ts) AS TIMESTAMP) = spine.hour
    )
    """,
)
def find_hour_gaps(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    hours = ev.select(F.date_trunc("hour", "ts").alias("hour"))
    return timeseries.find_time_gaps(hours, "hour", "h")


@register(
    "duplicate_minutes",
    """
    SELECT CAST(date_trunc('minute', ts) AS TIMESTAMP) AS minute,
           CAST(user_id AS BIGINT) AS user_id, COUNT(*) AS count
    FROM events GROUP BY 1, 2 HAVING COUNT(*) > 1
    """,
)
def duplicate_minutes(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select(
        F.date_trunc("minute", "ts").alias("minute"), "user_id"
    )
    return timeseries.duplicate_time_counts(ev, "minute", ["user_id"])


@register(
    "lag_delta_per_user",
    """
    SELECT event_id,
           ROUND(value - lag(value) OVER (
             PARTITION BY user_id ORDER BY ts, event_id), 6) AS delta
    FROM events
    """,
)
def lag_delta_per_user(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id", rounded(F.col("value") - F.lag("value").over(w)).alias("delta")
    )


@register(
    "rolling_sum3_per_user",
    """
    SELECT event_id,
           CAST(CAST(SUM(CAST(value AS DECIMAL(20,4))) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE) AS roll_sum
    FROM events
    """,
)
def rolling_sum3_per_user(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-2, 0)
    return ev.select(
        "event_id",
        F.sum(F.col("value").cast("decimal(20,4)")).over(w).cast("double").alias("roll_sum"),
    )


@register(
    "cumulative_sum_per_user",
    """
    SELECT event_id,
           CAST(CAST(SUM(CAST(value AS DECIMAL(20,4))) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE) AS cum_value
    FROM events
    """,
)
def cumulative_sum_per_user(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return ev.select(
        "event_id",
        F.sum(F.col("value").cast("decimal(20,4)")).over(w).cast("double").alias("cum_value"),
    )


@register(
    "asof_hourly_value",
    """
    WITH b AS (
      SELECT user_id,
             CAST(date_trunc('hour', min(ts)) AS TIMESTAMP) AS lo,
             CAST(date_trunc('hour', max(ts)) AS TIMESTAMP) AS hi
      FROM events GROUP BY user_id
    ),
    spine AS (
      SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM b
    ),
    dedup AS (
      SELECT user_id, ts, arg_max(value, event_id) AS value
      FROM events GROUP BY user_id, ts
    )
    SELECT s.user_id, s.hour, d.value
    FROM spine s ASOF LEFT JOIN dedup d
      ON s.user_id = d.user_id AND s.hour >= d.ts
    """,
)
def asof_hourly_value(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    hours = ev.select("user_id", F.date_trunc("hour", "ts").alias("hour"))
    spine = timeseries.calendar_spine(hours, "hour", "h", keys=["user_id"])
    # r11: the max_by(value, event_id) per-(user, ts) pre-dedup folds
    # into the as-of window itself (right rows tiebroken ascending by
    # event_id, last one wins — the same argmax), removing one
    # full-table groupBy shuffle: 3 exchanges → 2, measured 5/5
    # interleaved pairs faster at sf0.1 (median 1.06 s → 0.93 s).
    return timeseries.asof_join(
        spine, ev, "hour", ["value"], keys=["user_id"],
        right_time_col="ts", right_order_cols=["event_id"],
    )


@register(
    "asof_tolerance_hourly_value",
    """
    WITH b AS (
      SELECT user_id,
             CAST(date_trunc('hour', min(ts)) AS TIMESTAMP) AS lo,
             CAST(date_trunc('hour', max(ts)) AS TIMESTAMP) AS hi
      FROM events GROUP BY user_id
    ),
    spine AS (
      SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM b
    ),
    dedup AS (
      SELECT user_id, ts, arg_max(value, event_id) AS value
      FROM events GROUP BY user_id, ts
    )
    SELECT s.user_id, s.hour,
           CASE WHEN d.ts >= s.hour - INTERVAL 30 MINUTE
                THEN d.value END AS value
    FROM spine s ASOF LEFT JOIN dedup d
      ON s.user_id = d.user_id AND s.hour >= d.ts
    """,
)
def asof_tolerance_hourly_value(spark, sf_dir):
    """Tolerance-bounded as-of join (pandas merge_asof semantics): the
    hourly spine matches only readings within the trailing 30 minutes;
    staler matches become NULL. Same union + keyed-window ffill as
    asof_join — the matched right timestamp forward-fills in the SAME
    window pass, so the tolerance adds zero shuffles
    (operators/timeseries.asof_join(tolerance_seconds=...)). The
    arg_max pre-dedup folds into the window via the event_id tiebreak
    since r11 (same rewrite as asof_hourly_value: 3 exchanges → 2)."""
    ev = _t(spark, sf_dir, "events")
    hours = ev.select("user_id", F.date_trunc("hour", "ts").alias("hour"))
    spine = timeseries.calendar_spine(hours, "hour", "h", keys=["user_id"])
    return timeseries.asof_join(
        spine, ev, "hour", ["value"], keys=["user_id"],
        right_time_col="ts", tolerance_seconds=1800.0,
        right_order_cols=["event_id"],
    )


@register(
    "span_days_hours",
    """
    SELECT (date_diff('day', CAST(date_trunc('day', min(ts)) AS TIMESTAMP),
                      CAST(date_trunc('day', max(ts)) AS TIMESTAMP)) + 1) AS n_days,
           (date_diff('hour', CAST(date_trunc('hour', min(ts)) AS TIMESTAMP),
                      CAST(date_trunc('hour', max(ts)) AS TIMESTAMP)) + 1) AS n_hours
    FROM events
    """,
)
def span_days_hours(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.agg(
        (
            F.datediff(F.date_trunc("day", F.max("ts")), F.date_trunc("day", F.min("ts")))
            + 1
        ).cast("bigint").alias("n_days"),
        (
            (
                F.unix_timestamp(F.date_trunc("hour", F.max("ts")))
                - F.unix_timestamp(F.date_trunc("hour", F.min("ts")))
            ) / 3600 + 1
        ).cast("bigint").alias("n_hours"),
    )


@register(
    "percent_null_synthetic",
    """
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(SUM(CASE WHEN event_id % 11 = 0 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS pct_nan
    FROM events GROUP BY user_id
    """,
)
def percent_null_synthetic(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").withColumn(
        "v", F.when(F.col("event_id") % 11 != 0, F.col("value"))
    )
    return ev.groupBy("user_id").agg(
        timeseries.percent_nan("v").alias("pct_nan")
    )


# ================================================================
# 3. Met-data & unit-conversion expressions (SURVEY §2.3)
# ================================================================

@register(
    "wrap180_values",
    """
    SELECT event_id,
           ROUND(CASE WHEN ((value % 360) + 360) % 360 > 180
                      THEN ((value % 360) + 360) % 360 - 360
                      ELSE ((value % 360) + 360) % 360 END, 6) AS wrapped
    FROM events
    """,
)
def wrap180_values(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.select("event_id", rounded(met.wrap_180("value")).alias("wrapped"))


@register(
    "wind_direction_from_uv",
    """
    SELECT l_orderkey, l_linenumber,
           ROUND(
             CASE WHEN 180 + degrees(atan2(l_discount * 20 - 1, l_tax * 20 - 1)) >= 360
                  THEN 180 + degrees(atan2(l_discount * 20 - 1, l_tax * 20 - 1)) - 360
                  ELSE 180 + degrees(atan2(l_discount * 20 - 1, l_tax * 20 - 1)) END,
           6) AS wd
    FROM lineitem
    """,
)
def wind_direction_from_uv(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    u = F.col("l_discount") * 20 - 1
    v = F.col("l_tax") * 20 - 1
    return li.select(
        "l_orderkey", "l_linenumber",
        rounded(met.compute_wind_direction(u, v)).alias("wd"),
    )


@register(
    "circular_mean_by_type",
    """
    SELECT event_type,
           ROUND((degrees(atan2(avg(sin(radians(value % 360))),
                                avg(cos(radians(value % 360))))) + 360) % 360,
                 6) AS circ_mean
    FROM events GROUP BY event_type
    """,
)
def circular_mean_by_type(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        rounded(met.circular_mean_agg(F.col("value") % 360)).alias("circ_mean")
    )


@register(
    "air_density",
    """
    SELECT event_id,
           ROUND(
             (1.0 / (273.15 + (value % 30))) * (
               (101325 - value * 10) / 287.058
               - 0.5 * (0.0000205 * exp(0.0631846 * (273.15 + (value % 30))))
                 * (1.0/287.058 - 1.0/461.5)
             ), 6) AS rho
    FROM events
    """,
)
def air_density(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    temp = F.lit(273.15) + (F.col("value") % 30)
    pres = F.lit(101325.0) - F.col("value") * 10
    return ev.select(
        "event_id", rounded(met.compute_air_density(temp, pres)).alias("rho")
    )


@register(
    "pressure_extrapolation",
    """
    SELECT event_id,
           ROUND(101325.0 * exp(-9.80665 * 80.0 / (287.058 * (273.15 + (value % 30)))), 6)
             AS p1
    FROM events
    """,
)
def pressure_extrapolation(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    temp = F.lit(273.15) + (F.col("value") % 30)
    return ev.select(
        "event_id",
        rounded(
            met.pressure_vertical_extrapolation(F.lit(101325.0), temp, F.lit(0.0), F.lit(80.0))
        ).alias("p1"),
    )


@register(
    "shear_alpha",
    """
    SELECT l_orderkey, l_linenumber,
           ROUND((ln(l_quantity * 1.3 + 1) - ln(l_quantity + 1)) / (ln(80) - ln(40)), 6)
             AS alpha
    FROM lineitem
    """,
)
def shear_alpha(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "ws40", F.col("l_quantity") + 1
    ).withColumn("ws80", F.col("l_quantity") * 1.3 + 1)
    return li.select(
        "l_orderkey", "l_linenumber",
        rounded(met.compute_shear({"ws40": 40.0, "ws80": 80.0})).alias("alpha"),
    )


@register(
    "extrapolated_windspeed",
    """
    SELECT l_orderkey, l_linenumber,
           ROUND((l_quantity * 1.3 + 1)
                 * pow(120.0 / 80.0,
                       (ln(l_quantity * 1.3 + 1) - ln(l_quantity + 1))
                       / (ln(80) - ln(40))), 6) AS ws_hub
    FROM lineitem
    """,
)
def extrapolated_windspeed(spark, sf_dir):
    """Power-law hub-height extrapolation composed with the row-wise
    shear fit (v_hub = v80 · (120/80)^alpha): the §2.3 chain an AEP
    prep pass runs per row — both pure expressions, one map-only
    projection (functions/met.extrapolate_windspeed, compute_shear)."""
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "ws40", F.col("l_quantity") + 1
    ).withColumn("ws80", F.col("l_quantity") * 1.3 + 1)
    alpha = met.compute_shear({"ws40": 40.0, "ws80": 80.0})
    return li.select(
        "l_orderkey", "l_linenumber",
        rounded(
            met.extrapolate_windspeed("ws80", 80.0, 120.0, alpha)
        ).alias("ws_hub"),
    )


@register(
    "power_to_energy",
    """
    SELECT event_id, value * (600.0 / 3600.0) AS energy_kwh FROM events
    """,
)
def power_to_energy(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id", units.convert_power_to_energy("value", 600.0).alias("energy_kwh")
    )


@register(
    "gross_energy_frac",
    """
    SELECT event_id, value / (1.0 - 0.02 - 0.01) AS gross FROM events
    """,
)
def gross_energy_frac(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        units.compute_gross_energy("value", F.lit(0.02), F.lit(0.01)).alias("gross"),
    )


@register(
    "turbulence_intensity_by_user",
    """
    SELECT CAST(user_id AS BIGINT) AS user_id,
           ROUND(stddev_samp(value) / avg(value), 6) AS ti
    FROM events GROUP BY user_id
    """,
)
def turbulence_intensity_by_user(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        rounded(met.compute_turbulence_intensity(F.stddev_samp("value"), F.avg("value"))).alias("ti")
    )


# ================================================================
# 4. Flagging / filtering (SURVEY §2.5)
# ================================================================

@register(
    "range_flag_events",
    """
    SELECT event_id, NOT (value BETWEEN 10 AND 150) AS flag FROM events
    """,
)
def range_flag_events(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id", filters.range_flag("value", 10.0, 150.0).alias("flag")
    )


@register(
    "window_range_flag_lineitem",
    """
    SELECT l_orderkey, l_linenumber,
           (l_quantity BETWEEN 10 AND 30)
             AND NOT (l_extendedprice BETWEEN 500 AND 40000) AS flag
    FROM lineitem
    """,
)
def window_range_flag_lineitem(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey", "l_linenumber",
        filters.window_range_flag(
            "l_quantity", 10, 30, "l_extendedprice", 500, 40000
        ).alias("flag"),
    )


@register(
    "std_range_flag_events",
    """
    WITH s AS (SELECT avg(value) AS mu, stddev_samp(value) AS sd FROM events)
    SELECT event_id, abs(value - mu) > 2.0 * sd AS flag FROM events, s
    """,
)
def std_range_flag_events(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return filters.std_range_flag(ev, ["value"], 2.0).select(
        "event_id", F.col("value_flag").alias("flag")
    )


@register(
    "unresponsive_flag_runs",
    """
    WITH v AS (
      SELECT event_id, user_id, ts, CAST(floor(value) AS BIGINT) % 3 AS iv
      FROM events
    ),
    chg AS (
      SELECT *, CASE WHEN lag(iv) OVER w IS NULL
                       OR iv <> lag(iv) OVER w THEN 1 ELSE 0 END AS c
      FROM v WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    runs AS (
      SELECT *, SUM(c) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS run_id
      FROM chg
    )
    SELECT event_id,
           COUNT(*) OVER (PARTITION BY user_id, run_id) >= 3 AS flag
    FROM runs
    """,
)
def unresponsive_flag_runs(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").withColumn(
        "iv", (F.floor("value").cast("bigint") % 3)
    )
    flagged = filters.unresponsive_flag(
        ev, "iv", threshold=3, time_col="ts", keys=["user_id"], flag_col="flag"
    )
    return flagged.select("event_id", "flag")


@register(
    "bin_filter_lineitem",
    """
    WITH binned AS (
      SELECT l_orderkey, l_linenumber, l_extendedprice,
             CAST(floor((l_quantity - 1.0) / 5.0) AS BIGINT) AS bin
      FROM lineitem
    ),
    stats AS (
      SELECT bin, median(l_extendedprice) AS ctr FROM binned GROUP BY bin
    )
    SELECT b.l_orderkey, b.l_linenumber,
           abs(b.l_extendedprice - s.ctr) > 20000.0 AS flag
    FROM binned b JOIN stats s USING (bin)
    """,
)
def bin_filter_lineitem(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    # bin_min is a literal (TPC-H l_quantity is generated in 1..50):
    # passing it skips bin_filter's fallback min-scan job, one fewer
    # pass over the fact table.
    out = filters.bin_filter(
        li,
        bin_col="l_quantity",
        value_col="l_extendedprice",
        bin_width=5.0,
        threshold=20000.0,
        center_type="median",
        threshold_type="scalar",
        bin_min=1.0,
        flag_col="flag",
        # l_extendedprice is DECIMAL(12,2)-intent: the histogram
        # strategy computes the same exact median in ONE scan with
        # O(distinct prices per bin) state
        median_strategy="histogram",
    )
    return out.select("l_orderkey", "l_linenumber", "flag")


# ================================================================
# 5. Imputation & correlation (SURVEY §2.6)
# ================================================================

@register(
    "user_daily_correlation_pairs",
    """
    WITH daily AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             CAST(CAST(SUM(CAST(value AS DECIMAL(20,6))) AS VARCHAR) AS DOUBLE) AS v
      FROM events GROUP BY 1, 2
    )
    SELECT a.user_id AS asset_a, b.user_id AS asset_b,
           ROUND(corr(a.v, b.v), 6) + 0.0 AS corr
    FROM daily a JOIN daily b ON a.day = b.day AND a.user_id < b.user_id
    GROUP BY 1, 2
    """,
)
def user_daily_correlation_pairs(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    daily = timeseries.resample(
        ev, "ts", "D", {"v": dsum("value", scale=6)}, keys=["user_id"], bucket_col="day"
    )
    # No materialization of `daily` here since r11: the matrix
    # strategy consumes the bin-grain table exactly once (it builds
    # and lazily checkpoints the ragged per-asset vectors itself, so
    # the round-1 double-scan this query used to guard against —
    # 41% of the r1 bench wall — no longer exists in the plan).
    pairs = imputing.asset_correlation_pairs(daily, "day", "user_id", "v")
    # + 0.0 on BOTH sides: a pair whose corr rounds to zero can land
    # on -0.0 in one engine and +0.0 in the other (sign of an
    # last-ulp-negative product survives ROUND); adding 0.0
    # canonicalizes -0.0 → 0.0 identically everywhere
    return pairs.select(
        "asset_a", "asset_b", (rounded("corr") + F.lit(0.0)).alias("corr")
    )


@register(
    "impute_linear_synthetic",
    """
    WITH t AS (
      SELECT event_id,
             CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS y,
             value * 1.1 + 5.0 AS x
      FROM events
    ),
    fit AS (
      SELECT regr_slope(y, x) AS slope, avg(y) AS my, avg(x) AS mx
      FROM t WHERE y IS NOT NULL
    )
    SELECT event_id,
           ROUND(CASE WHEN y IS NULL THEN slope * x + (my - slope * mx)
                      ELSE y END, 4) AS imputed
    FROM t, fit
    """,
)
def impute_linear_synthetic(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    target = ev.select(
        "event_id",
        F.when(F.col("event_id") % 7 != 0, F.col("value")).alias("y"),
    )
    ref = ev.select("event_id", (F.col("value") * 1.1 + 5.0).alias("x"))
    out = imputing.impute_data(target, ref, "event_id", "y", "x")
    return out.select("event_id", F.round(F.col("y"), 4).alias("imputed"))


# ================================================================
# 6. Power curve (SURVEY §2.7)
# ================================================================

@register(
    "iec_power_curve",
    f"""
    SELECT (0.0 + (floor((l_quantity - 0.0) / 2.0) + 0.5) * 2.0) AS ws_bin,
           {sql_davg('l_extendedprice')} AS mean_power,
           COUNT(l_extendedprice) AS n
    FROM lineitem
    WHERE l_quantity >= 0 AND l_quantity < 60
      AND l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
    GROUP BY 1
    """,
)
def iec_power_curve(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return power_curve.iec_binned_curve(
        li, "l_quantity", "l_extendedprice", bin_width=2.0, ws_min=0.0, ws_max=60.0
    )


# ================================================================
# 7. Geometry (SURVEY §2.9) — suppliers as synthetic assets
# ================================================================

_GEO_SQL_BASE = """
    WITH assets AS (
      SELECT s_suppkey AS id, s_acctbal AS x, CAST(s_nationkey AS DOUBLE) * 100 AS y
      FROM supplier
    )
"""


@register(
    "asset_distance_pairs",
    _GEO_SQL_BASE
    + """
    SELECT a.id AS asset_a, b.id AS asset_b,
           ROUND(sqrt((b.x - a.x)^2 + (b.y - a.y)^2), 6) AS distance_m
    FROM assets a, assets b WHERE a.id <> b.id
    """,
)
def asset_distance_pairs(spark, sf_dir):
    sup = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("asset_id"),
        F.col("s_acctbal").alias("x_m"),
        (F.col("s_nationkey").cast("double") * 100).alias("y_m"),
    )
    pairs = geometry.asset_distance_pairs(sup)
    return pairs.select("asset_a", "asset_b", rounded("distance_m").alias("distance_m"))


@register(
    "asset_direction_pairs",
    _GEO_SQL_BASE
    + """
    SELECT a.id AS asset_a, b.id AS asset_b,
           ROUND((degrees(atan2(b.x - a.x, b.y - a.y)) + 360) % 360, 6) AS bearing_deg
    FROM assets a, assets b WHERE a.id <> b.id
    """,
)
def asset_direction_pairs(spark, sf_dir):
    sup = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("asset_id"),
        F.col("s_acctbal").alias("x_m"),
        (F.col("s_nationkey").cast("double") * 100).alias("y_m"),
    )
    pairs = geometry.asset_direction_pairs(sup)
    return pairs.select("asset_a", "asset_b", rounded("bearing_deg").alias("bearing_deg"))


@register(
    "nearest_neighbor",
    _GEO_SQL_BASE
    + """
    , pairs AS (
      SELECT a.id AS asset_a, b.id AS asset_b,
             ROUND(sqrt((b.x - a.x)^2 + (b.y - a.y)^2), 6) AS distance_m
      FROM assets a, assets b WHERE a.id <> b.id
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY asset_a ORDER BY distance_m, asset_b) AS rn
      FROM pairs
    )
    SELECT asset_a, asset_b AS nearest, distance_m FROM ranked WHERE rn = 1
    """,
)
def nearest_neighbor(spark, sf_dir):
    sup = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("asset_id"),
        F.col("s_acctbal").alias("x_m"),
        (F.col("s_nationkey").cast("double") * 100).alias("y_m"),
    )
    pairs = geometry.asset_distance_pairs(sup).select(
        "asset_a", "asset_b", rounded("distance_m").alias("distance_m")
    )
    return geometry.nearest_neighbor(pairs)


# ================================================================
# 8. Training-data pipeline ops (dedup / text / similarity)
# ================================================================

@register(
    "exact_dedup_docs",
    r"""
    SELECT min(doc_id) AS doc_id, COUNT(*) AS dup_count
    FROM documents
    GROUP BY trim(regexp_replace(lower(text), '\s+', ' ', 'g'))
    """,
)
def exact_dedup_docs(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return dedup.exact_dedup(docs, "text", "doc_id").select("doc_id", "dup_count")


@register(
    "token_counts",
    r"""
    SELECT doc_id,
           CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) AS n_tokens
    FROM documents
    """,
)
def token_counts(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", text.token_count("text").alias("n_tokens"))


@register(
    "doc_token_deciles",
    r"""
    WITH t AS (
      SELECT doc_id,
             CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT)
               AS n_tokens
      FROM documents WHERE text IS NOT NULL
    )
    SELECT CAST(NTILE(10) OVER (ORDER BY n_tokens, doc_id) AS INT)
             AS decile,
           doc_id, n_tokens
    FROM t
    """,
)
def doc_token_deciles(spark, sf_dir):
    """Length-decile bucketing of the corpus (the standard
    curriculum/packing prep: sample or batch documents by length
    band) — a FACT-grain NTILE, i.e. exactly the shape where the
    textbook ``ntile() OVER (ORDER BY …)`` serializes the whole
    corpus onto one task. Same machinery as customer_rfm_segments:
    unique composite (n_tokens·10¹² + doc_id — the precise
    ``ORDER BY n_tokens, doc_id`` total order), grid-bucketed global
    rank (:func:`keyed_row_number`, keys=[]), closed-form decile
    (:func:`ntile_from_rank`, here n_tiles=10 so the driver gate pins
    the uneven-bucket arithmetic beyond quartiles). NULL texts are
    excluded on both sides (Spark sorts NULLS FIRST, DuckDB NULLS
    LAST — the filter removes the one ordering divergence)."""
    from openoa_spark.functions.stats import (
        keyed_row_number,
        ntile_from_rank,
    )

    docs = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    tt = docs.select(
        "doc_id", text.token_count("text").alias("n_tokens")
    )
    # (doc_id, n_tokens) scalars; cut the lineage so the tokenize
    # pass runs ONCE — it otherwise evaluates three times: the
    # broadcast count build, keyed_row_number's quantile probe action,
    # and the ranked probe side
    tt = tt.localCheckpoint(eager=False)
    n_df = tt.agg(F.count(F.lit(1)).alias("_n"))
    comp = (
        F.col("n_tokens").cast("decimal(38,0)") * F.lit(10**12)
        + F.col("doc_id")
    ).cast("decimal(38,0)")
    d = tt.select("doc_id", "n_tokens", comp.alias("_ord"))
    ranked = keyed_row_number(d, [], "_ord", "_gr")
    return ranked.crossJoin(F.broadcast(n_df)).select(
        ntile_from_rank(F.col("_gr"), F.col("_n"), 10).alias("decile"),
        "doc_id",
        "n_tokens",
    )


@register(
    "avg_word_lengths",
    r"""
    WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
               FROM documents)
    SELECT doc_id,
           ROUND(CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum')
                      AS DOUBLE) / len(toks), 6) AS awl
    FROM t
    """,
)
def avg_word_lengths(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", rounded(text.avg_word_length("text")).alias("awl"))


@register(
    "doc_fingerprints",
    r"""
    SELECT doc_id, md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp
    FROM documents
    """,
)
def doc_fingerprints(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", text.fingerprint("text").alias("fp"))


def _langid_sql() -> str:
    cases = []
    for lang in sorted(text.STOPWORDS):
        words = ", ".join(f"'{w}'" for w in text.STOPWORDS[lang])
        cases.append(
            f"len(list_intersect(tl, [{words}])) AS h_{lang}"
        )
    hits = ", ".join(cases)
    langs = sorted(text.STOPWORDS)
    # strict > keeps lexicographically-first language on ties
    best = f"h_{langs[0]}"
    best_l = f"'{langs[0]}'"
    for lang in langs[1:]:
        best_l = f"CASE WHEN h_{lang} > ({best}) THEN '{lang}' ELSE {best_l} END"
        best = f"CASE WHEN h_{lang} > ({best}) THEN h_{lang} ELSE ({best}) END"
    return rf"""
    WITH t AS (SELECT doc_id,
                      list_distinct(list_transform(
                        regexp_split_to_array(trim(text), '\s+'),
                        x -> lower(x))) AS tl
               FROM documents),
    h AS (SELECT doc_id, {hits} FROM t)
    SELECT doc_id, CASE WHEN ({best}) > 0 THEN ({best_l}) ELSE 'und' END AS pred_lang
    FROM h
    """


@register("language_id", None)
def language_id(spark, sf_dir):
    # spread: the n-gram scoring expression is CPU-bound; don't let a
    # single-file scan serialize it onto one core (no-op at scale)
    from openoa_spark.session import spread_small_input

    docs = spread_small_input(_t(spark, sf_dir, "documents"))
    return docs.select("doc_id", text.language_id("text").alias("pred_lang"))


_REGISTRY["language_id"] = (language_id, _langid_sql())


_QV_SQL = "[" + ", ".join(str(v) for v in QUERY_VEC) + "]"


@register(
    "cosine_topk",
    f"""
    WITH q AS (SELECT CAST({_QV_SQL} AS DOUBLE[]) AS qv),
    scored AS (
      SELECT vec_id,
             ROUND(
               list_dot_product(CAST(embedding AS DOUBLE[]), qv)
               / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                        CAST(embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(qv, qv))), 6) AS cosine
      FROM embeddings, q
    )
    SELECT vec_id, cosine FROM scored ORDER BY cosine DESC, vec_id LIMIT 10
    """,
)
def cosine_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.brute_force_top_k(emb, "embedding", "vec_id", QUERY_VEC, k=10)


@register(
    "embedding_norms",
    """
    SELECT vec_id,
           ROUND(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                       CAST(embedding AS DOUBLE[]))), 6) AS l2
    FROM embeddings
    """,
)
def embedding_norms(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    return emb.select("vec_id", rounded(similarity.norm(v)).alias("l2"))


# The registry pins hash_fn="md5" for the hash-based dedup operators:
# a 60-bit md5-derived hash is the one hash both engines compute
# bit-identically (DuckDB has no xxhash64, and the driver's DuckDB
# connection accepts no Python UDFs). Production callers keep the
# xxhash64 default — the operator logic is identical either way, and
# tests/test_datapipe.py asserts both backends find the same planted
# near-duplicates.

_NORM_SQL = r"trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"


def _shingle_cte(n: int = 3) -> str:
    # DuckDB twin of dedup.shingles(): i-th word n-gram, distinct,
    # docs with < n tokens dropped (Spark drops them via the
    # empty-shingle guard).
    return f"""
    tok AS (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS toks FROM documents),
    sh AS (
      SELECT doc_id,
             list_distinct([array_to_string(toks[i:i+{n - 1}], ' ')
                            for i in range(1, len(toks) - {n} + 2)]) AS shs
      FROM tok WHERE len(toks) >= {n}
    )"""


def _minhash_sql(num_hashes: int, bands: int, threshold: float, n: int = 3) -> str:
    rpb = num_hashes // bands
    # Kirsch-Mitzenmacher twin of the Spark md5 path: two md5s per
    # shingle in the hp CTE, then affine combinations per seed
    b52 = "CAST('0x' || substring(md5({s}), 1, 13) AS BIGINT)"
    sig_items = ",\n             ".join(
        f"list_min(list_transform(hp, p -> (p.h1 + {i} * p.h2) % 2147483647))"
        for i in range(num_hashes)
    )
    bhash = dedup.sql_hash64(
        f"array_to_string(sig[band*{rpb}+1 : band*{rpb}+{rpb}], ',')"
    )
    agree = " + ".join(
        f"(CASE WHEN sa[{i}] = sb[{i}] THEN 1 ELSE 0 END)"
        for i in range(1, num_hashes + 1)
    )
    return f"""
    WITH {_shingle_cte(n)},
    hps AS (
      SELECT doc_id,
             list_transform(shs, s -> {{'h1': {b52.format(s='s')},
                                        'h2': {b52.format(s="s || '#'")}}}) AS hp
      FROM sh
    ),
    sig AS (SELECT doc_id, [{sig_items}] AS sig FROM (SELECT doc_id, hp FROM hps)),
    banded AS (
      SELECT doc_id, sig, band, {bhash} AS bhash
      FROM sig, (SELECT unnest(range(0, {bands})) AS band)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                      a.sig AS sa, b.sig AS sb
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bhash = b.bhash AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, est_jaccard FROM (
      SELECT id_a, id_b, ({agree}) / {float(num_hashes)} AS est_jaccard FROM cand
    ) WHERE est_jaccard >= {threshold}
    """


def _minhash_decon_sql(
    num_hashes: int, bands: int, threshold: float, bench_mod: int, n: int = 3
) -> str:
    """Cross-table twin of _minhash_sql for fuzzy decontamination:
    same shingle/KM-signature/band CTEs over ALL documents, but the
    candidate join pairs corpus rows (doc_id % bench_mod <> 0) with
    BENCH rows (doc_id % bench_mod = 0), and the output is the corpus
    with a contaminated flag."""
    rpb = num_hashes // bands
    b52 = "CAST('0x' || substring(md5({s}), 1, 13) AS BIGINT)"
    sig_items = ",\n             ".join(
        f"list_min(list_transform(hp, p -> (p.h1 + {i} * p.h2) % 2147483647))"
        for i in range(num_hashes)
    )
    bhash = dedup.sql_hash64(
        f"array_to_string(sig[band*{rpb}+1 : band*{rpb}+{rpb}], ',')"
    )
    agree = " + ".join(
        f"(CASE WHEN sa[{i}] = sb[{i}] THEN 1 ELSE 0 END)"
        for i in range(1, num_hashes + 1)
    )
    return f"""
    WITH {_shingle_cte(n)},
    hps AS (
      SELECT doc_id,
             list_transform(shs, s -> {{'h1': {b52.format(s='s')},
                                        'h2': {b52.format(s="s || '#'")}}}) AS hp
      FROM sh
    ),
    sig AS (SELECT doc_id, [{sig_items}] AS sig FROM (SELECT doc_id, hp FROM hps)),
    banded AS (
      SELECT doc_id, sig, band, {bhash} AS bhash
      FROM sig, (SELECT unnest(range(0, {bands})) AS band)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS cid, a.sig AS sa, b.sig AS sb
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bhash = b.bhash
       AND a.doc_id % {bench_mod} <> 0 AND b.doc_id % {bench_mod} = 0
    ),
    hits AS (
      SELECT DISTINCT cid FROM cand
      WHERE ({agree}) / {float(num_hashes)} >= {threshold}
    )
    SELECT d.doc_id, (d.doc_id IN (SELECT cid FROM hits)) AS is_contaminated
    FROM documents d WHERE d.doc_id % {bench_mod} <> 0
    """


@register("minhash_decontaminate_docs", _minhash_decon_sql(32, 8, 0.4, 7))
def minhash_decontaminate_docs(spark, sf_dir):
    """FUZZY benchmark decontamination (the near-dup complement of
    bloom_decontaminate_docs' exact-gram join): corpus documents that
    are MinHash near-duplicates (est. shingle-Jaccard >= 0.4) of any
    benchmark document get flagged — paraphrased/whitespace-mangled
    test-set copies exact n-gram joins miss. Bench = every 7th doc
    (cross-partition fuzzy pairs exist at every SF, so the flag is
    exercised, not vacuous; the bench side scales with SF, which is
    exactly why the join strategy is left to AQE instead of a forced
    broadcast). Candidates come from the banded LSH equi-join BETWEEN
    tables — never corpus x bench all-pairs; the oracle replays the
    identical KM signature/band arithmetic."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 7 == 0)
    corpus = docs.where(F.col("doc_id") % 7 != 0)
    out = dedup.minhash_decontaminate(
        corpus, bench, "text", "doc_id",
        num_hashes=32, bands=8, jaccard_threshold=0.4, hash_fn="md5",
    )
    return out.select("doc_id", "is_contaminated")


@register("minhash_near_dups", _minhash_sql(32, 8, 0.4))
def minhash_near_dups(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return dedup.minhash_near_dup_pairs(
        docs, "text", "doc_id", num_hashes=32, bands=8, jaccard_threshold=0.4,
        hash_fn="md5",
    )


def _simhash_sql(bits: int) -> str:
    # bit 63 is the BIGINT sign bit: the engine folds it in as
    # -(2**63) (see dedup.simhash), and 2**63 itself overflows the
    # CAST ... AS BIGINT below — mirror the engine's signed weight so
    # a future bits>=64 twin can't silently diverge (r8 ADVICE)
    assert bits <= 64, "simhash is a 64-bit signature"
    def _w(b: int) -> int:
        return -(2 ** 63) if b == 63 else 2 ** b
    bit_terms = "\n         + ".join(
        f"(CASE WHEN 2 * len(list_filter(hs, x -> ((x >> {b}) & 1) = 1)) > n"
        f" THEN {_w(b)} ELSE 0 END)"
        for b in range(bits)
    )
    return f"""
    WITH tok AS (
      SELECT doc_id, list_distinct(string_split({_NORM_SQL}, ' ')) AS toks
      FROM documents
    ),
    h AS (
      SELECT doc_id,
             list_transform(toks, t -> {dedup.sql_hash64('t')}) AS hs,
             len(toks) AS n
      FROM tok
    )
    SELECT doc_id,
           CASE WHEN hs IS NULL THEN NULL
                ELSE CAST({bit_terms} AS BIGINT) END AS simhash
    FROM h
    """


@register("simhash_docs", _simhash_sql(16))
def simhash_docs(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", dedup.simhash("text", bits=16, hash_fn="md5").alias("simhash")
    )


def _lsh_bucket_sql(planes: list[list[float]]) -> str:
    terms = " + ".join(
        f"(CASE WHEN round(list_dot_product(CAST(embedding AS DOUBLE[]), "
        f"[{', '.join(repr(x) for x in p)}]), 6) > 0 THEN {2 ** i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    return f"""
    SELECT bucket, COUNT(*) AS n FROM (
      SELECT CAST({terms} AS BIGINT) AS bucket FROM embeddings
    ) GROUP BY bucket
    """


_LSH_PLANES = similarity.random_hyperplanes(64, 8, seed=42)


@register("lsh_bucket_counts", _lsh_bucket_sql(_LSH_PLANES))
def lsh_bucket_counts(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return (
        emb.select(
            similarity.lsh_bucket("embedding", _LSH_PLANES, round_digits=6).alias(
                "bucket"
            )
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
    )


@register(
    "ngram_jaccard_pairs",
    f"""
    WITH {_shingle_cte(3)},
    ex AS (SELECT doc_id, unnest(shs) AS s FROM sh),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM ex GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, jaccard FROM (
      SELECT id_a, id_b,
             CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) AS jaccard
      FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
    ) WHERE jaccard >= 0.8
    """,
)
def ngram_jaccard_pairs(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(docs, "text", "doc_id", shingle_n=3, threshold=0.8)


# ================================================================
# 9. Pipeline: electrical losses (proxy wiring on events; the real
#    pipeline runs on PlantData tables — tests/test_electrical_losses)
# ================================================================

@register(
    "electrical_losses_proxy",
    """
    WITH scada AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             CAST(CAST(SUM(CAST(value AS DECIMAL(20,6))) AS VARCHAR) AS DOUBLE) AS scada_kwh
      FROM events GROUP BY 1
    ),
    meter AS (
      SELECT day, scada_kwh * 0.98 AS meter_kwh FROM scada
    )
    SELECT ROUND(1.0 - SUM(meter_kwh) / SUM(scada_kwh), 6) AS loss
    FROM scada JOIN meter USING (day)
    """,
)
def electrical_losses_proxy(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    scada = timeseries.resample(
        ev, "ts", "D", {"scada_kwh": dsum("value", scale=6)}, bucket_col="day"
    ).localCheckpoint(eager=False)  # day-grain; the meter projection
    # self-joins it, and the two sides would re-aggregate events twice
    meter = scada.select("day", (F.col("scada_kwh") * 0.98).alias("meter_kwh"))
    joined = scada.join(meter, "day")
    return joined.agg(
        rounded(1.0 - F.sum("meter_kwh") / F.sum("scada_kwh")).alias("loss")
    )


# Analysis-pipeline prep stages as oracle-backed queries (r6, VERDICT
# item 7): the six §2.11 pipelines are pytest/parity-pinned but their
# Monte-Carlo outputs can't hash-match an oracle — their DETERMINISTIC
# prep stages can. Each query below drives the same code path (or an
# exact testdata-shaped equivalent) the pipeline runs before sampling.


@register(
    "elosses_daily_coverage_energy",
    """
    WITH b AS (
      SELECT time_bucket(INTERVAL '2 hours', ts) AS bt,
             CAST(CAST(SUM(CAST(value AS DECIMAL(20,6))) AS VARCHAR) AS DOUBLE)
               AS energy_kwh
      FROM events GROUP BY 1
    )
    SELECT CAST(date_trunc('day', bt) AS TIMESTAMP) AS day,
           CAST(CAST(SUM(CAST(energy_kwh AS DECIMAL(20,6))) AS VARCHAR) AS DOUBLE)
             AS scada_kwh,
           COUNT(energy_kwh) AS n_obs
    FROM b GROUP BY 1 HAVING COUNT(energy_kwh) = 12
    """,
)
def elosses_daily_coverage_energy(spark, sf_dir):
    """ElectricalLosses' first prep stage, driven through the REAL
    pipeline function (analysis/electrical_losses.py:46
    daily_full_coverage_energy — semantics from reference
    electrical_losses.py:233-251): only days with complete data
    coverage enter the loss ratio. Testdata shape: events pre-bucketed
    to a regular 2-hour plant series (12 expected obs/day — at
    sf0.001 only 7 of 30 days have full coverage, so the filter is
    exercised, not vacuous). Two hash aggregates, both keyed on time
    buckets — partial aggregation collapses each partition before
    either shuffle."""
    ev = _t(spark, sf_dir, "events")
    from openoa_spark.analysis.electrical_losses import (
        daily_full_coverage_energy,
    )

    buckets = timeseries.resample(
        ev, "ts", "2h",
        {"energy_kwh": dsum("value", scale=6)},
        bucket_col="bt",
    )
    return daily_full_coverage_energy(
        buckets, "bt", "energy_kwh", "bt", 7200.0, n_turbines=1
    )


@register(
    "plant_sql_daily_turbine_energy",
    """
    SELECT 'T' || CAST(user_id % 5 AS VARCHAR) AS asset_id,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           CAST(CAST(SUM(CAST(value AS DECIMAL(20,4))) AS VARCHAR) AS DOUBLE) AS energy_kwh,
           COUNT(*) AS n_obs
    FROM events
    GROUP BY 1, 2
    """,
)
def plant_sql_daily_turbine_energy(spark, sf_dir):
    """The plant-catalog SQL surface, driver-checked end-to-end
    (SURVEY §7/T1): events mapped to a 5-turbine hourly SCADA shape,
    attached through the REAL PlantData (which derives WTUR_SupWh =
    power x interval-hours, exactly 1.0 at hourly frequency —
    plant.py:1157-1162 semantics), registered via
    PlantData.create_views(), and the result computed with RAW
    spark.sql over the registered view — proving a user can query the
    plant catalog with plain SQL and get oracle-exact answers. One
    hash aggregate at (turbine, day) grain; the temp view is a lazy
    reference, not a copy, so the SQL path plans identically to the
    DataFrame path."""
    from openoa_spark.plant import PlantData

    ev = _t(spark, sf_dir, "events")
    scada = ev.select(
        F.col("ts").alias("time"),
        F.concat(F.lit("T"), (F.col("user_id") % 5).cast("string"))
        .alias("asset_id"),
        F.col("value").alias("WTUR_W"),
    )
    plant = PlantData(
        spark,
        {"latitude": 47.9, "longitude": 5.12, "capacity": 10.0,
         "scada": {"frequency": "h"}},
        analysis_type=None,
        scada=scada,
    )
    plant.create_views(prefix="plantq_")
    return spark.sql("""
        SELECT asset_id,
               date_trunc('day', time) AS day,
               CAST(SUM(CAST(WTUR_SupWh AS DECIMAL(20,4))) AS DOUBLE)
                 AS energy_kwh,
               COUNT(*) AS n_obs
        FROM plantq_scada
        GROUP BY asset_id, date_trunc('day', time)
    """)


@register(
    "aep_monthly_meter_prep",
    """
    SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS period,
           ROUND(CAST(CAST(SUM(CAST(CASE WHEN o_orderkey % 37 = 0 THEN NULL
                                    ELSE o_totalprice END
                              AS DECIMAL(20,4))) AS VARCHAR) AS DOUBLE) / 1e6, 6)
             AS energy_gwh,
           ROUND(AVG(CASE WHEN o_orderkey % 37 = 0 THEN 1.0 ELSE 0.0 END),
                 6) AS energy_nan_perc,
           COUNT(DISTINCT date_trunc('day', o_orderdate)) AS num_days_actual,
           CAST(extract(day FROM last_day(CAST(o_orderdate AS DATE)))
                AS INT) AS num_days_expected
    FROM orders
    GROUP BY 1, 5
    """,
)
def aep_monthly_meter_prep(spark, sf_dir):
    """MonteCarloAEP's meter aggregate (analysis/aep.py:113
    _meter_aggregate; reference aep.py:439-473) on a testdata-shaped
    meter: orders-as-meter (o_orderdate time, o_totalprice energy,
    every 37th reading NULLed so the nan-percent accounting is
    non-trivial). Monthly resample -> energy (exact decimal sum),
    NULL fraction, actual-vs-expected day counts (calendar-aware
    last_day) — the exact frame the MC sampler consumes. ONE hash
    aggregate; month count is bounded (~80), so the output is
    driver-sized by construction."""
    o = _t(spark, sf_dir, "orders")
    meter = o.select(
        F.col("o_orderdate").cast("timestamp").alias("time"),
        F.when(F.col("o_orderkey") % 37 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("o_totalprice"))
        .alias("MMTR_SupWh"),
    )
    out = timeseries.resample(
        meter, "time", "MS",
        {
            "energy_gwh": rounded(dsum("MMTR_SupWh", scale=4) / 1e6),
            "energy_nan_perc": rounded(
                timeseries.percent_nan("MMTR_SupWh")
            ),
            "num_days_actual": F.countDistinct(
                F.date_trunc("day", F.col("time"))
            ),
        },
        bucket_col="period",
    )
    return out.withColumn(
        "num_days_expected", F.dayofmonth(F.last_day("period")).cast("int")
    )


@register(
    "wake_plant_reference_conditions",
    """
    WITH pud AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, user_id,
             ROUND((degrees(atan2(
                 avg(sin(radians(CAST(event_id % 360 AS DOUBLE)))),
                 avg(cos(radians(CAST(event_id % 360 AS DOUBLE))))))
               + 360) % 360, 6) AS wd,
             ROUND(CAST(CAST(SUM(CAST(value AS DECIMAL(20,6))) AS VARCHAR) AS DOUBLE)
                   / COUNT(value), 6) AS ws
      FROM events WHERE user_id < 3
      GROUP BY 1, 2
    )
    SELECT day,
           ROUND((degrees(atan2(avg(sin(radians(wd))),
                                avg(cos(radians(wd))))) + 360) % 360, 6)
             AS ref_wd,
           ROUND(avg(ws), 6) AS ref_ws
    FROM pud GROUP BY day HAVING COUNT(*) = 3
    """,
)
def wake_plant_reference_conditions(spark, sf_dir):
    """WakeLosses' prepare() stage (analysis/wake_losses.py:97-120;
    reference wake_losses.py:983-1054) on testdata shape: keep only
    COMPLETE periods (every designated wind-direction asset
    reporting), then the plant reference conditions — circular-mean
    wind direction over the designated assets and their mean wind
    speed — the frame every wake-loss bin downstream reads. Twin
    grain: (user, day) aggregates for 3 designated assets, day kept
    only when all 3 report (the completeness filter is exercised at
    every SF), per-asset wd/ws rounded BEFORE the plant fold so both
    engines fold identical doubles. Two bucket-grain hash aggregates,
    map-side combined."""
    ev = _t(spark, sf_dir, "events").where(F.col("user_id") < 3)
    wd = (F.col("event_id") % 360).cast("double")
    pud = ev.groupBy(
        F.date_trunc("day", "ts").alias("day"), "user_id"
    ).agg(
        rounded(met.circular_mean_agg(wd)).alias("_wd"),
        rounded(davg("value")).alias("_ws"),
    )
    return (
        pud.groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            rounded(met.circular_mean_agg(F.col("_wd"))).alias("ref_wd"),
            rounded(F.avg("_ws")).alias("ref_ws"),
        )
        .where(F.col("_n") == 3)
        .select("day", "ref_wd", "ref_ws")
    )


@register(
    "yaw_vane_bin_cells",
    """
    WITH s AS (
      SELECT CAST(user_id % 5 AS BIGINT) AS asset,
             value % 15 AS ws,
             CAST(event_id % 41 AS DOUBLE) - 20 AS vane,
             value * 10 AS power
      FROM events WHERE value IS NOT NULL
    ),
    b AS (
      SELECT asset,
             CAST(CASE WHEN ws >= 4.5 AND ws < 5.5 THEN 5.0
                  WHEN ws >= 5.5 AND ws < 6.5 THEN 6.0
                  WHEN ws >= 6.5 AND ws < 7.5 THEN 7.0
                  WHEN ws >= 7.5 AND ws < 8.5 THEN 8.0 END
                  AS DOUBLE) AS ws_bin,
             round(vane / 2.0) * 2.0 AS vane_bin,
             power / (ws * ws * ws) AS pow_ratio
      FROM s
    )
    SELECT asset, ws_bin, vane_bin,
           ROUND(AVG(pow_ratio), 6) AS mean_ratio,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM b WHERE ws_bin IS NOT NULL
    GROUP BY 1, 2, 3
    """,
)
def yaw_vane_bin_cells(spark, sf_dir):
    """StaticYawMisalignment's binned-cells prep
    (analysis/yaw.py _binned_tables_batch; reference
    yaw_misalignment.py:352-420) on testdata shape: power-coefficient
    ratio (power / ws^3) cell means per (turbine, wind-speed bin,
    vane bin) — the exact table the cosine fits consume. Same
    idioms as the pipeline: F.get over a filtered bin array (NULL,
    not ANSI error, outside every bin), F.round-to-width vane
    binning (half-away in both engines on the x.5 lattice), one hash
    aggregate to cell grain."""
    ev = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    ws = F.col("value") % 15
    s = ev.select(
        (F.col("user_id") % 5).alias("asset"),
        ws.alias("ws"),
        ((F.col("event_id") % 41).cast("double") - 20).alias("vane"),
        (F.col("value") * 10).alias("power"),
    )
    ws_bins = F.array(*[F.lit(float(b)) for b in (5.0, 6.0, 7.0, 8.0)])
    binned = (
        s.withColumn(
            "ws_bin",
            F.get(
                F.filter(
                    ws_bins,
                    lambda b: (F.col("ws") >= b - 0.5)
                    & (F.col("ws") < b + 0.5),
                ),
                0,
            ),
        )
        .where(F.col("ws_bin").isNotNull())
        .withColumn("vane_bin", F.round(F.col("vane") / 2.0) * 2.0)
        .withColumn(
            "pow_ratio",
            F.col("power") / (F.col("ws") * F.col("ws") * F.col("ws")),
        )
    )
    return binned.groupBy("asset", "ws_bin", "vane_bin").agg(
        rounded(F.avg("pow_ratio")).alias("mean_ratio"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "tie_daily_corrected_energy",
    """
    WITH h AS (
      SELECT user_id, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bt,
             CAST(CAST(SUM(CAST(value AS DECIMAL(20,6))) AS VARCHAR) AS DOUBLE) AS energy
      FROM events GROUP BY 1, 2
    ),
    d AS (
      SELECT user_id, CAST(date_trunc('day', bt) AS TIMESTAMP) AS day,
             CAST(CAST(SUM(CAST(energy AS DECIMAL(20,6))) AS VARCHAR) AS DOUBLE) AS e,
             COUNT(energy) AS n_obs
      FROM h GROUP BY 1, 2
    )
    SELECT user_id, day, n_obs,
           ROUND(e * 24 / n_obs, 6) AS energy_corrected
    FROM d WHERE n_obs >= 6
    """,
)
def tie_daily_corrected_energy(spark, sf_dir):
    """TurbineLongTermGrossEnergy's daily_valid_energy prep
    (analysis/tie.py:138; reference
    turbine_long_term_gross_energy.py:419-495) on testdata: per-asset
    (user) daily energy with missing-data correction — scale each
    day's sum by expected/actual obs count, drop days below the
    25% reported-data threshold (integer compare: n_obs >= 6 of 24
    hourly buckets). Same resample->correct->threshold chain the
    pipeline runs before imputation; both aggregates key on
    (user, bucket) so partial aggregation bounds the shuffles."""
    ev = _t(spark, sf_dir, "events")
    hourly = timeseries.resample(
        ev, "ts", "h",
        {"energy": dsum("value", scale=6)},
        keys=["user_id"], bucket_col="bt",
    )
    daily = timeseries.resample(
        hourly, "bt", "D",
        {"_e": dsum("energy", scale=6), "_n": F.count("energy")},
        keys=["user_id"], bucket_col="day",
    )
    return (
        daily.where(F.col("_n") >= 6)
        .select(
            "user_id",
            "day",
            F.col("_n").alias("n_obs"),
            rounded(F.col("_e") * 24 / F.col("_n")).alias(
                "energy_corrected"
            ),
        )
    )


# ================================================================
# 10. Round-2 oracle coverage: operators that were pytest-only in
#     round 1 each get a driver-checkable DuckDB twin here.
# ================================================================

@register(
    "uv_components",
    """
    SELECT event_id,
           ROUND(-value * sin(radians(CAST(event_id % 360 AS DOUBLE))), 6) + 0.0 AS u,
           ROUND(-value * cos(radians(CAST(event_id % 360 AS DOUBLE))), 6) + 0.0 AS v
    FROM events
    """,
)
def uv_components(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    wd = (F.col("event_id") % 360).cast("double")
    u, v = met.compute_u_v_components(F.col("value"), wd)
    # + 0.0 canonicalizes IEEE -0.0 to 0.0 (engines disagree on the
    # sign of a rounded -1e-9); mirrored in the SQL
    return ev.select(
        "event_id",
        (rounded(u) + F.lit(0.0)).alias("u"),
        (rounded(v) + F.lit(0.0)).alias("v"),
    )


@register(
    "veer_values",
    """
    SELECT event_id,
           ROUND(
             (CASE WHEN ((d % 360) + 360) % 360 > 180
                   THEN ((d % 360) + 360) % 360 - 360
                   ELSE ((d % 360) + 360) % 360 END) / 40.0, 6) AS veer
    FROM (
      SELECT event_id,
             CAST((event_id * 7) % 360 AS DOUBLE)
               - CAST(event_id % 360 AS DOUBLE) AS d
      FROM events
    )
    """,
)
def veer_values(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    wd_lo = (F.col("event_id") % 360).cast("double")
    wd_hi = ((F.col("event_id") * 7) % 360).cast("double")
    veer = met.compute_veer(wd_lo, 80.0, wd_hi, 120.0)
    return ev.select("event_id", rounded(veer).alias("veer"))


@register(
    "feet_to_meter_part",
    "SELECT p_partkey, CAST(p_size AS DOUBLE) * 0.3048 AS size_m FROM part",
)
def feet_to_meter_part(spark, sf_dir):
    part = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        units.convert_feet_to_meter(F.col("p_size").cast("double")).alias("size_m"),
    )


@register(
    "gap_fill_daily",
    """
    WITH d AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             CAST(CAST(SUM(CAST(value AS DECIMAL(20,6))) AS VARCHAR) AS DOUBLE) AS v
      FROM events WHERE day(ts) <> 15 GROUP BY 1
    ),
    b AS (SELECT min(day) AS lo, max(day) AS hi FROM d),
    spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day FROM b)
    SELECT spine.day AS day, d.v AS v FROM spine LEFT JOIN d USING (day)
    """,
)
def gap_fill_daily(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").where(F.dayofmonth("ts") != 15)
    daily = timeseries.resample(
        ev, "ts", "D", {"v": dsum("value", scale=6)}, bucket_col="day"
    )
    return timeseries.gap_fill(daily, "day", "D").select("day", "v")


@register(
    "upsample_ffill_hourly",
    """
    WITH d AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS t,
             CAST(CAST(SUM(CAST(value AS DECIMAL(20,6))) AS VARCHAR) AS DOUBLE) AS v
      FROM events GROUP BY 1, 2
    ),
    b AS (SELECT event_type, min(t) AS lo, max(t) AS hi FROM d GROUP BY 1),
    spine AS (
      SELECT event_type, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS t
      FROM b
    ),
    j AS (
      SELECT spine.event_type, spine.t, d.v
      FROM spine LEFT JOIN d ON d.event_type = spine.event_type AND d.t = spine.t
    )
    SELECT event_type, t AS ts,
           last_value(v IGNORE NULLS) OVER (
             PARTITION BY event_type ORDER BY t
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v
    FROM j
    """,
)
def upsample_ffill_hourly(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    daily = timeseries.resample(
        ev, "ts", "D", {"v": dsum("value", scale=6)}, keys=["event_type"],
        bucket_col="ts",
    )
    up = timeseries.upsample_ffill(daily, "ts", "h", ["v"], keys=["event_type"])
    return up.select("event_type", "ts", "v")


@register(
    "impute_best_neighbor",
    """
    WITH daily AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             CAST(CAST(SUM(CAST(value AS DECIMAL(20,6))) AS VARCHAR) AS DOUBLE) AS v0
      FROM events GROUP BY 1, 2
    ),
    masked AS (
      SELECT user_id, day,
             CASE WHEN (user_id + day(day)) % 7 = 0 THEN NULL ELSE v0 END AS v
      FROM daily
    ),
    pairs AS (
      SELECT a.user_id AS asset_a, b.user_id AS asset_b, corr(a.v, b.v) AS c
      FROM masked a JOIN masked b ON a.day = b.day AND a.user_id < b.user_id
      GROUP BY 1, 2
    ),
    sym AS (
      SELECT asset_a, asset_b, c FROM pairs
      UNION ALL
      SELECT asset_b AS asset_a, asset_a AS asset_b, c FROM pairs
    ),
    best AS (
      SELECT asset_a AS user_id, asset_b AS nbr FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY asset_a ORDER BY c DESC, asset_b) AS rk
        FROM sym WHERE c * c >= 0.0
      ) WHERE rk = 1
    ),
    joined AS (
      SELECT m.user_id, m.day, m.v, nv.v AS x
      FROM masked m
      LEFT JOIN best USING (user_id)
      LEFT JOIN masked nv ON nv.user_id = best.nbr AND nv.day = m.day
    ),
    fits AS (
      SELECT user_id,
             covar_samp(x, v) / var_samp(x) AS slope,
             avg(v) - (covar_samp(x, v) / var_samp(x)) * avg(x) AS icpt
      FROM joined WHERE v IS NOT NULL AND x IS NOT NULL
      GROUP BY 1
    )
    SELECT j.user_id, j.day,
           ROUND(CASE WHEN j.v IS NULL AND j.x IS NOT NULL
                           AND f.slope IS NOT NULL
                      THEN f.slope * j.x + f.icpt
                      ELSE j.v END, 4) AS v_imp
    FROM joined j LEFT JOIN fits f USING (user_id)
    """,
)
def impute_best_neighbor(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    daily = timeseries.resample(
        ev, "ts", "D", {"v": dsum("value", scale=6)}, keys=["user_id"],
        bucket_col="day",
    )
    masked = daily.withColumn(
        "v",
        F.when((F.col("user_id") + F.dayofmonth("day")) % 7 == 0, None).otherwise(
            F.col("v")
        ),
    )
    out = imputing.impute_all_assets_by_correlation(
        masked, "day", "user_id", "v", r2_threshold=0.0
    )
    return out.select("user_id", "day", F.round("v", 4).alias("v_imp"))


@register(
    "logistic5_power_values",
    """
    SELECT event_id,
           ROUND(20.0 + (1500.0 - 20.0)
                 / pow(1.0 + pow(value / 8.0, 4.0), 1.2), 6) AS power
    FROM events
    """,
)
def logistic5_power_values(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    p = power_curve.logistic5_expr("value", a=1500.0, b=4.0, c=8.0, d=20.0, g=1.2)
    return ev.select("event_id", rounded(p).alias("power"))


@register(
    "logistic5_capped_power_values",
    """
    SELECT event_id,
           ROUND(LEAST(GREATEST(
               CASE WHEN value = 0.0 THEN 20.0
                    ELSE 20.0 + (1500.0 - 20.0)
                         / pow(1.0 + pow(value / 8.0, -4.0), 1.2) END,
               50.0), 1400.0), 6) AS power
    FROM events
    """,
)
def logistic5_capped_power_values(spark, sf_dir):
    """Capped logistic curve application over a b<0 parameterization —
    exercises BOTH round-4d parametric-form branches at once: the
    x==0 singularity (reference value = the d asymptote) and the
    [lower, upper] clipping (operators/power_curve.
    logistic5_capped_expr). Map-only projection."""
    ev = _t(spark, sf_dir, "events")
    p = power_curve.logistic5_capped_expr(
        "value", a=1500.0, b=-4.0, c=8.0, d=20.0, g=1.2,
        lower=50.0, upper=1400.0,
    )
    return ev.select("event_id", rounded(p).alias("power"))


@register(
    "freestream_membership",
    _GEO_SQL_BASE
    + """
    , dirs AS (
      SELECT a.id AS asset_a, b.id AS asset_b,
             ROUND((degrees(atan2(b.x - a.x, b.y - a.y)) + 360) % 360, 6) AS bearing
      FROM assets a, assets b WHERE a.id <> b.id
    ),
    waked AS (
      SELECT DISTINCT asset_a FROM dirs
      WHERE abs(((0.0 - bearing) % 360 + 540) % 360 - 180) <= 45.0
    )
    SELECT id AS asset FROM assets
    WHERE id NOT IN (SELECT asset_a FROM waked)
    """,
)
def freestream_membership(spark, sf_dir):
    sup = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("asset_id"),
        F.col("s_acctbal").alias("x_m"),
        (F.col("s_nationkey").cast("double") * 100).alias("y_m"),
    )
    dist = geometry.asset_distance_pairs(sup)
    dirs = geometry.asset_direction_pairs(sup).select(
        "asset_a", "asset_b", rounded("bearing_deg").alias("bearing_deg")
    )
    free = geometry.freestream_turbines(dist, dirs, 0.0, 90.0)
    return spark.createDataFrame(
        [(int(a),) for a in free], schema="asset bigint"
    )


@register(
    "qa_offset_dst",
    """
    WITH base AS (
      SELECT (epoch(timezone('America/Denver',
                    to_timestamp(epoch(TIMESTAMP '2021-01-01 00:00:00'))))
              - epoch(TIMESTAMP '2021-01-01 00:00:00')) / 3600.0 AS h
    )
    SELECT event_id,
           (epoch(timezone('America/Denver', to_timestamp(epoch(ts))))
            - epoch(ts)) / 3600.0 AS utc_offset,
           ((epoch(timezone('America/Denver', to_timestamp(epoch(ts))))
             - epoch(ts)) / 3600.0) <> base.h AS is_dst
    FROM events, base
    """,
)
def qa_offset_dst(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select("event_id", "ts")
    out = qa_ops.determine_offset_dst(ev, "ts", "America/Denver")
    return out.select("event_id", "utc_offset", "is_dst")


@register(
    "mahalanobis_flag_lineitem",
    """
    WITH s AS (
      SELECT avg(l_quantity) AS mx, avg(l_extendedprice) AS my,
             covar_samp(l_quantity, l_quantity) AS sxx,
             covar_samp(l_quantity, l_extendedprice) AS sxy,
             covar_samp(l_extendedprice, l_extendedprice) AS syy
      FROM lineitem
    )
    SELECT l_orderkey, l_linenumber,
           sqrt(((l_quantity - mx) * (syy * (l_quantity - mx)
                                      - sxy * (l_extendedprice - my))
                 + (l_extendedprice - my) * (sxx * (l_extendedprice - my)
                                             - sxy * (l_quantity - mx)))
                / (sxx * syy - sxy * sxy)) > 3.0 AS cluster_flag
    FROM lineitem, s
    """,
)
def mahalanobis_flag_lineitem(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    out = filters.cluster_mahalanobis_2d(
        li, "l_quantity", "l_extendedprice", n_clusters=1
    )
    return out.select("l_orderkey", "l_linenumber", "cluster_flag")


def _maha_cluster_sql(k: int = 4, iters: int = 2, thresh: float = 3.0) -> str:
    """Unrolled DuckDB twin of the k>1 cluster_mahalanobis_2d chain
    (operators/filters.py, round 8): 1e-6-micros grid, seeds = the k
    lexicographically-smallest (x, y) pairs, ``iters`` integer-exact
    Lloyd assignment passes with half-away centroid means (empty
    clusters carry forward), then per-cluster ddof-1 covariance from
    EXACT decimal micro-sums and the closed-form 2x2 Mahalanobis flag
    as one fixed double expression — every number is a deterministic
    function of the input multiset, so the replay is bit-identical.
    HUGEINT keeps the argmin distances exact where price-scale micros
    square past BIGINT (the Spark side accumulates in decimal(38,0) —
    see similarity._argmin_struct(wide=True))."""
    parts = [
        """t AS (
      SELECT l_orderkey, l_linenumber,
             CAST(l_quantity AS DOUBLE) AS xd,
             CAST(l_extendedprice AS DOUBLE) AS yd,
             CAST(round(CAST(l_quantity AS DOUBLE)*1000000) AS BIGINT) AS m1,
             CAST(round(CAST(l_extendedprice AS DOUBLE)*1000000) AS BIGINT) AS m2
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL)""",
        f"""c0 AS (
      SELECT row_number() OVER (ORDER BY xd, yd) - 1 AS cid, m1 AS c1, m2 AS c2
      FROM (SELECT xd, yd, m1, m2 FROM t ORDER BY xd, yd LIMIT {k}))""",
    ]
    for i in range(iters):
        # per-row list-expression argmin (list_position = FIRST index
        # of the min -> lowest-cid tie rule), not a row_number window:
        # the synthetic lineitem's (l_orderkey, l_linenumber) is NOT
        # unique, so any per-key dedup would drop duplicate rows the
        # engine keeps
        d2l = (
            f"[CAST(t.m1 - p.l1[i] AS HUGEINT)*(t.m1 - p.l1[i])"
            f" + CAST(t.m2 - p.l2[i] AS HUGEINT)*(t.m2 - p.l2[i])"
            f" for i in range(1, {k + 1})]"
        )
        parts.append(f"""p{i} AS (
      SELECT list(c1 ORDER BY cid) AS l1, list(c2 ORDER BY cid) AS l2
      FROM c{i})""")
        parts.append(f"""a{i} AS (
      SELECT l_orderkey, l_linenumber, m1, m2,
             list_position(dl, list_min(dl)) - 1 AS cid
      FROM (SELECT t.l_orderkey, t.l_linenumber, t.m1, t.m2,
                   {d2l} AS dl
            FROM t CROSS JOIN p{i} p))""")
        if i < iters - 1:
            # component sums stay HUGEINT (DuckDB's native SUM(BIGINT)
            # width) — mirrors the engine's decimal(38,0) wide-path
            # accumulator; the half-away MEAN below is micro-scale and
            # always fits back in BIGINT
            parts.append(f"""s{i} AS (
      SELECT cid, SUM(m1) AS s1, SUM(m2) AS s2, COUNT(*) AS n
      FROM a{i} GROUP BY cid)""")
            parts.append(f"""c{i + 1} AS (
      SELECT cc.cid,
        CASE WHEN s.s1 IS NULL THEN cc.c1
             WHEN s.s1 >= 0 THEN (2*s.s1 + s.n) // (2*s.n)
             ELSE -((2*(-s.s1) + s.n) // (2*s.n)) END AS c1,
        CASE WHEN s.s2 IS NULL THEN cc.c2
             WHEN s.s2 >= 0 THEN (2*s.s2 + s.n) // (2*s.n)
             ELSE -((2*(-s.s2) + s.n) // (2*s.n)) END AS c2
      FROM c{i} cc LEFT JOIN s{i} s ON s.cid = cc.cid)""")
    a = f"a{iters - 1}"
    parts.append(f"""cov AS (
      SELECT cid, CAST(COUNT(*) AS DOUBLE) AS n,
        CAST(CAST(SUM(CAST(m1 AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS tx,
        CAST(CAST(SUM(CAST(m2 AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS ty,
        CAST(CAST(SUM(CAST(m1 AS DECIMAL(19,0)) * CAST(m1 AS DECIMAL(19,0))) AS VARCHAR) AS DOUBLE) AS txx,
        CAST(CAST(SUM(CAST(m1 AS DECIMAL(19,0)) * CAST(m2 AS DECIMAL(19,0))) AS VARCHAR) AS DOUBLE) AS txy,
        CAST(CAST(SUM(CAST(m2 AS DECIMAL(19,0)) * CAST(m2 AS DECIMAL(19,0))) AS VARCHAR) AS DOUBLE) AS tyy
      FROM {a} GROUP BY cid)""")
    parts.append("""st AS (
      SELECT cid, n,
        (txx - tx*tx/n)/(n - 1.0) AS sxx,
        (txy - tx*ty/n)/(n - 1.0) AS sxy,
        (tyy - ty*ty/n)/(n - 1.0) AS syy
      FROM cov)""")
    body = ",\n    ".join(parts)
    # distance from the fitted CENTROID (c{iters-1} — the centroids
    # the final assignment pass used, i.e. the reference's
    # kmeans.cluster_centers_), covariance mean-centered: mirrors the
    # engine exactly (operators/filters.py k>1 branch)
    return f"""WITH {body}
    SELECT a.l_orderkey, a.l_linenumber,
      COALESCE(CASE WHEN st.n >= 2.0
                     AND (st.sxx*st.syy - st.sxy*st.sxy) <> 0.0 THEN
        sqrt((CAST(a.m1 - cc.c1 AS DOUBLE)
                * (st.syy*CAST(a.m1 - cc.c1 AS DOUBLE)
                   - st.sxy*CAST(a.m2 - cc.c2 AS DOUBLE))
              + CAST(a.m2 - cc.c2 AS DOUBLE)
                * (st.sxx*CAST(a.m2 - cc.c2 AS DOUBLE)
                   - st.sxy*CAST(a.m1 - cc.c1 AS DOUBLE)))
             / (st.sxx*st.syy - st.sxy*st.sxy)) > {thresh} END,
        FALSE) AS cluster_flag
    FROM {a} a JOIN st ON st.cid = a.cid
                JOIN c{iters - 1} cc ON cc.cid = a.cid"""


@register("mahalanobis_cluster_flag", _maha_cluster_sql(4, 2, 3.0))
def mahalanobis_cluster_flag(spark, sf_dir):
    """The k>1 cluster-Mahalanobis path (reference filters.py:289-343)
    made driver-checkable (r7 VERDICT item 3): the seeded-float MLlib
    KMeans is replaced by the engine's deterministic integer-grid
    Lloyd (similarity.kmeans_fit, wide-decimal d2 for price-scale
    micros), per-cluster 2x2 covariances come from exact decimal
    micro-sums, and the flag is one fixed IEEE double expression —
    the DuckDB twin replays the whole chain bit-for-bit. Assignment
    passes are map-only over broadcast centroid literals; the
    covariance aggregate is cluster-grain."""
    li = _t(spark, sf_dir, "lineitem")
    out = filters.cluster_mahalanobis_2d(
        li, "l_quantity", "l_extendedprice", n_clusters=4,
        distance_threshold=3.0, iters=2,
    )
    return out.select("l_orderkey", "l_linenumber", "cluster_flag")


@register(
    "impute_quadratic_synthetic",
    """
    WITH t AS (
      -- x on an integer grid: true y values are exact binary multiples
      -- of 0.5, so round-4 of the near-exact polynomial predictions
      -- cannot straddle a rounding midpoint across engines
      SELECT event_id, CAST(event_id % 21 AS DOUBLE) AS x,
             CASE WHEN event_id % 9 = 0 THEN NULL
                  ELSE 0.5 * pow(CAST(event_id % 21 AS DOUBLE), 2)
                       - 2.0 * CAST(event_id % 21 AS DOUBLE) + 3.0 END AS y
      FROM events
    ),
    s AS (
      SELECT avg(x) AS mu, stddev_samp(x) AS sd
      FROM t WHERE y IS NOT NULL AND x IS NOT NULL
    ),
    zt AS (
      SELECT (x - mu) / sd AS z, y FROM t, s
      WHERE y IS NOT NULL AND x IS NOT NULL
    ),
    m AS (
      SELECT 1.0 AS m0, avg(z) AS m1, avg(z*z) AS m2,
             avg(z*z*z) AS m3, avg(z*z*z*z) AS m4,
             avg(y) AS c0, avg(z*y) AS c1, avg(z*z*y) AS c2
      FROM zt
    ),
    sol AS (
      SELECT
        (m0*(m2*m4 - m3*m3) - m1*(m1*m4 - m3*m2) + m2*(m1*m3 - m2*m2)) AS det,
        (c0*(m2*m4 - m3*m3) - m1*(c1*m4 - m3*c2) + m2*(c1*m3 - m2*c2)) AS det0,
        (m0*(c1*m4 - m3*c2) - c0*(m1*m4 - m3*m2) + m2*(m1*c2 - c1*m2)) AS det1,
        (m0*(m2*c2 - c1*m3) - m1*(m1*c2 - c1*m2) + c0*(m1*m3 - m2*m2)) AS det2
      FROM m
    )
    SELECT event_id,
           ROUND(CASE WHEN y IS NULL AND x IS NOT NULL
                      THEN (det0/det) + (det1/det) * ((x - mu)/sd)
                           + (det2/det) * pow((x - mu)/sd, 2)
                      ELSE y END, 4) AS imputed
    FROM t, s, sol
    """,
)
def impute_quadratic_synthetic(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    x = (F.col("event_id") % 21).cast("double")
    target = ev.select(
        "event_id",
        F.when(F.col("event_id") % 9 == 0, None)
        .otherwise(0.5 * F.pow(x, 2.0) - 2.0 * x + 3.0)
        .alias("y"),
    )
    ref = ev.select("event_id", x.alias("x"))
    out = imputing.impute_data(target, ref, "event_id", "y", "x", degree=2)
    return out.select("event_id", F.round("y", 4).alias("imputed"))


@register(
    "freestream_iec_membership",
    _GEO_SQL_BASE
    + """
    , rd AS (SELECT id, 50.0 + (id % 5) * 10.0 AS rotor FROM assets),
    pairs AS (
      SELECT a.id AS asset_a, b.id AS asset_b,
             ROUND(sqrt((b.x - a.x)^2 + (b.y - a.y)^2), 6) AS dist,
             ROUND((degrees(atan2(b.x - a.x, b.y - a.y)) + 360) % 360, 6) AS bearing
      FROM assets a, assets b WHERE a.id <> b.id
    ),
    waked AS (
      SELECT DISTINCT asset_a FROM (
        SELECT asset_a, dist / rd.rotor AS dn,
               ((270.0 - bearing) % 360 + 540) % 360 - 180 AS rel
        FROM pairs JOIN rd ON rd.id = pairs.asset_b
      )
      WHERE dn <= 20.0 AND dn >= 0.0
        AND (dn <= 2.0
             OR abs(rel) <= 0.5 * (1.3 * degrees(atan(2.5/dn + 0.15)) + 10.0))
    )
    SELECT id AS asset FROM assets
    WHERE id NOT IN (SELECT asset_a FROM waked)
    """,
)
def freestream_iec_membership(spark, sf_dir):
    sup = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("asset_id"),
        F.col("s_acctbal").alias("x_m"),
        (F.col("s_nationkey").cast("double") * 100).alias("y_m"),
    )
    dist = geometry.asset_distance_pairs(sup).select(
        "asset_a", "asset_b", rounded("distance_m").alias("distance_m")
    )
    dirs = geometry.asset_direction_pairs(sup).select(
        "asset_a", "asset_b", rounded("bearing_deg").alias("bearing_deg")
    )
    rd = sup.select(
        "asset_id", (50.0 + (F.col("asset_id") % 5) * 10.0).alias("rotor_diameter")
    )
    free = geometry.freestream_turbines(
        dist, dirs, 270.0, method="IEC", rotor_diameters=rd
    )
    return spark.createDataFrame([(int(a),) for a in free], schema="asset bigint")


@register(
    "near_dedup_docs",
    f"""
    WITH RECURSIVE mh AS ({_minhash_sql(32, 8, 0.4)}),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM mh
      UNION
      SELECT id_b AS a, id_a AS b FROM mh
    ),
    verts AS (SELECT DISTINCT a FROM edges),
    reach(a, b) AS (
      SELECT a, a FROM verts
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    comp AS (SELECT a AS doc_id, MIN(b) AS component FROM reach GROUP BY a)
    SELECT doc_id FROM documents
    WHERE doc_id NOT IN (SELECT doc_id FROM comp WHERE doc_id <> component)
    """,
)
def near_dedup_docs(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    kept = dedup.near_dedup(
        docs, "text", "doc_id", num_hashes=32, bands=8,
        jaccard_threshold=0.4, hash_fn="md5",
    )
    return kept.select("doc_id")


# ================================================================
# 11. Relational-coverage widening (round 2): conditional
#     aggregation, having, semi-join + distinct agg, complex OR
#     predicates, grouped top-k over a multi-join, pivot.
# ================================================================

@register(
    "q10_returned_revenue",
    f"""
    SELECT c_custkey, c_name, n_name,
           CAST(CAST(SUM({SQL_DISC_PRICE}) AS VARCHAR) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1996-10-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY 1, 2, 3
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_revenue(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-10-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    nation = _t(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(dsum_dec(_disc_price()).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "q12_priority_counts",
    """
    SELECT CAST(year(l_shipdate) AS INT) AS ship_year,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1994-01-01'
      AND l_shipdate <  TIMESTAMP '1996-01-01'
    GROUP BY 1
    """,
)
def q12_priority_counts(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1994-01-01") & (F.col("l_shipdate") < "1996-01-01")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(F.year("l_shipdate").cast("int").alias("ship_year"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "q14_promo_revenue_pct",
    f"""
    SELECT ROUND(
             100.0 * CAST(CAST(SUM(CASE WHEN p_type = 'PROMO'
                                   THEN {SQL_DISC_PRICE} END) AS VARCHAR) AS DOUBLE)
                   / CAST(CAST(SUM({SQL_DISC_PRICE}) AS VARCHAR) AS DOUBLE), 6) AS promo_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1995-09-01'
      AND l_shipdate <  TIMESTAMP '1995-10-01'
    """,
)
def q14_promo_revenue_pct(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1995-09-01") & (F.col("l_shipdate") < "1995-10-01")
    )
    part = _t(spark, sf_dir, "part")
    dp = _disc_price()
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            rounded(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", dp)).cast("double")
                / F.sum(dp).cast("double")
            ).alias("promo_pct")
        )
    )


@register(
    "q16_supplier_variety",
    """
    SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO' AND p_size IN (1, 4, 7)
    GROUP BY 1, 2, 3
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def q16_supplier_variety(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 7)
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.desc("supplier_cnt"), F.asc("p_brand"), F.asc("p_type"), F.asc("p_size")
        )
    )


@register(
    "q18_large_volume_customers",
    """
    SELECT c_custkey, o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(20,4))) AS VARCHAR) AS DOUBLE) AS total_qty
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY 1, 2, 3
    HAVING SUM(CAST(l_quantity AS DECIMAL(20,4))) > 250
    ORDER BY o_totalprice DESC, o_orderkey
    """,
)
def q18_large_volume_customers(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "o_orderkey", F.col("o_totalprice").cast("double").alias("o_totalprice"))
        .agg(dsum("l_quantity").alias("total_qty"))
        .where(F.col("total_qty") > 250)
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    )


@register(
    "q19_bracketed_revenue",
    f"""
    SELECT CAST(CAST(SUM({SQL_DISC_PRICE}) AS VARCHAR) AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 1 AND l_quantity <= 30)
       OR (p_brand = 'Brand#5' AND p_size BETWEEN 1 AND 25
           AND l_quantity >= 10 AND l_quantity <= 40)
       OR (p_brand = 'Brand#9' AND p_size BETWEEN 1 AND 35
           AND l_quantity >= 20 AND l_quantity <= 50)
    """,
)
def q19_bracketed_revenue(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    q = F.col("l_quantity")
    sz = F.col("p_size")
    cond = (
        ((F.col("p_brand") == "Brand#1") & sz.between(1, 15) & q.between(1, 30))
        | ((F.col("p_brand") == "Brand#5") & sz.between(1, 25) & q.between(10, 40))
        | ((F.col("p_brand") == "Brand#9") & sz.between(1, 35) & q.between(20, 50))
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .where(cond)
        .agg(dsum_dec(_disc_price()).alias("revenue"))
    )


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "pivot_daily_by_type",
    f"""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           {", ".join(
               "CAST(CAST(SUM(CASE WHEN event_type = '" + t + "' THEN CAST(value AS DECIMAL(20,6)) END) AS VARCHAR) AS DOUBLE) AS " + t
               for t in _EVENT_TYPES
           )}
    FROM events GROUP BY 1
    """,
)
def pivot_daily_by_type(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("day", "ts").alias("day"))
        .pivot("event_type", _EVENT_TYPES)
        .agg(dsum("value", scale=6))
    )


@register(
    "describe_quantity_by_flag",
    """
    SELECT l_returnflag, COUNT(l_quantity) AS n,
           ROUND(AVG(l_quantity), 6) AS mean,
           ROUND(stddev_samp(l_quantity), 6) AS std,
           MIN(l_quantity) AS min,
           ROUND(quantile_cont(l_quantity, 0.25), 6) AS q25,
           ROUND(quantile_cont(l_quantity, 0.5), 6) AS q50,
           ROUND(quantile_cont(l_quantity, 0.75), 6) AS q75,
           MAX(l_quantity) AS max
    FROM lineitem GROUP BY 1
    """,
)
def describe_quantity_by_flag(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    out = qa_ops.describe_exact(li, "l_quantity", keys=["l_returnflag"])
    return out.select(
        "l_returnflag", "n",
        rounded("mean").alias("mean"), rounded("std").alias("std"),
        "min",
        rounded("q25").alias("q25"), rounded("q50").alias("q50"),
        rounded("q75").alias("q75"),
        "max",
    )


@register(
    "event_sessions",
    """
    WITH d AS (
      SELECT user_id, ts,
             epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts))
               AS delta_us
      FROM events
    ),
    s AS (
      SELECT user_id, ts,
             CAST(SUM(CASE WHEN delta_us IS NULL OR delta_us > 1800000000
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS session_id
      FROM d
    )
    SELECT user_id, session_id, COUNT(*) AS n_events,
           (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 1000000 AS duration_s
    FROM s GROUP BY 1, 2
    """,
)
def event_sessions(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    s = timeseries.sessionize(ev, "ts", ["user_id"], gap_seconds=1800.0)
    return s.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.expr("(unix_micros(max(ts)) - unix_micros(min(ts))) DIV 1000000")
        .alias("duration_s"),
    )


# ================================================================
# 12. Relational widening, round 3: the remaining TPC-H query shapes
#     expressible on the driver's reduced star schema (no partsupp,
#     no commit/receipt dates, no comment/phone columns — queries that
#     need those columns are adapted to equivalent shapes and named
#     honestly). Exercises semi-join with inequality residual,
#     left-join zero-count distributions, scalar-subquery max/avg,
#     correlated per-group thresholds, and anti-join + scalar filter.
# ================================================================

@register(
    "q4_late_shipment_priority",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate > o_orderdate + INTERVAL 90 DAY
      )
    GROUP BY o_orderpriority
    """,
)
def q4_late_shipment_priority(spark, sf_dir):
    """TPC-H Q4 shape (EXISTS semi-join with a residual inequality);
    the commitdate<receiptdate predicate is adapted to 'shipped >90
    days after order date' on the reduced lineitem schema."""
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = _t(spark, sf_dir, "lineitem")
    # timestamp + INTERVAL (not date_add, which truncates to DATE and
    # would drift from the oracle if orderdates ever carry a time part)
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 90 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count("*").alias("order_count"))


@register(
    "q7_volume_shipping",
    f"""
    SELECT supp_nation, cust_nation, l_year,
           CAST(CAST(SUM(volume) AS VARCHAR) AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             EXTRACT(YEAR FROM l_shipdate) AS l_year,
             {SQL_DISC_PRICE} AS volume
      FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
                    JOIN orders   ON o_orderkey = l_orderkey
                    JOIN customer ON c_custkey = o_custkey
                    JOIN nation n1 ON s_nationkey = n1.n_nationkey
                    JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                           AND TIMESTAMP '1997-12-31 00:00:00'
    )
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark, sf_dir):
    """TPC-H Q7: two-nation shipping volume by year. Dim tables
    (supplier, customer, nation) broadcast; the only shuffle is the
    final 3-key aggregate."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") <= "1997-12-31")
    )
    orders = _t(spark, sf_dir, "orders")
    sup = _t(spark, sf_dir, "supplier")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("_n1key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("_n2key"), F.col("n_name").alias("cust_nation")
    )
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), sup.s_nationkey == F.col("_n1key"))
        .join(F.broadcast(n2), cust.c_nationkey == F.col("_n2key"))
        .where(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return (
        joined.groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
        )
        .agg(dsum_dec(_disc_price()).alias("revenue"))
    )


@register(
    "q8_market_share",
    f"""
    SELECT o_year,
           CAST(CAST(SUM(CASE WHEN supp_nation = 'NATION_2' THEN volume ELSE 0 END)
                AS VARCHAR) AS DOUBLE)
           / CAST(CAST(SUM(volume) AS VARCHAR) AS DOUBLE) AS mkt_share
    FROM (
      SELECT EXTRACT(YEAR FROM o_orderdate) AS o_year,
             {SQL_DISC_PRICE} AS volume,
             n2.n_name AS supp_nation
      FROM part JOIN lineitem ON p_partkey = l_partkey
                JOIN supplier ON s_suppkey = l_suppkey
                JOIN orders   ON l_orderkey = o_orderkey
                JOIN customer ON o_custkey = c_custkey
                JOIN nation n1 ON c_nationkey = n1.n_nationkey
                JOIN region   ON n1.n_regionkey = r_regionkey
                JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'ASIA' AND p_type = 'PROMO'
        AND o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                            AND TIMESTAMP '1997-12-31 00:00:00'
    )
    GROUP BY o_year
    """,
)
def q8_market_share(spark, sf_dir):
    """TPC-H Q8: national market share inside a region for one part
    type. All five dims broadcast; conditional decimal sums keep the
    share cross-engine exact."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").where(F.col("p_type") == "PROMO")
    sup = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") <= "1997-12-31")
    )
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n1 = nation.select(
        F.col("n_nationkey").alias("_n1key"), F.col("n_regionkey").alias("_n1reg")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("_n2key"), F.col("n_name").alias("supp_nation")
    )
    vol = _disc_price()
    joined = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), cust.c_nationkey == F.col("_n1key"))
        .join(F.broadcast(region), F.col("_n1reg") == region.r_regionkey)
        .join(F.broadcast(n2), sup.s_nationkey == F.col("_n2key"))
    )
    return (
        joined.groupBy(F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg(
            (
                dsum_dec(
                    F.when(F.col("supp_nation") == "NATION_2", vol).otherwise(
                        F.lit(0).cast("decimal(16,4)")
                    )
                )
                / dsum_dec(vol)
            ).alias("mkt_share")
        )
    )


@register(
    "q13_order_count_distribution",
    """
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    )
    GROUP BY c_count
    """,
)
def q13_order_count_distribution(spark, sf_dir):
    """TPC-H Q13: customer distribution by order count, including
    zero-order customers (left join; the comment-pattern filter is
    adapted to an order-priority filter on the reduced schema)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@register(
    "q15_top_suppliers",
    f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(CAST(SUM({SQL_DISC_PRICE}) AS VARCHAR) AS DOUBLE) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
)
def q15_top_suppliers(spark, sf_dir):
    """TPC-H Q15: supplier(s) with the maximum quarterly revenue.
    The scalar max is a one-row broadcast cross join against the
    supplier-grain aggregate; revenue equality is exact because both
    engines compute the identical decimal sum."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    sup = _t(spark, sf_dir, "supplier")
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        dsum_dec(_disc_price()).alias("total_revenue")
    ).localCheckpoint(eager=False)  # supplier-grain; scan+agg once,
    # not once per consumer (the broadcast max gets no ReusedExchange)
    mx = revenue.agg(F.max("total_revenue").alias("_mx"))
    return (
        revenue.crossJoin(F.broadcast(mx))
        .where(F.col("total_revenue") == F.col("_mx"))
        .join(F.broadcast(sup), F.col("supplier_no") == sup.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "q17_small_quantity_revenue",
    f"""
    SELECT CAST(CAST(SUM({sql_dec('l_extendedprice')}) AS VARCHAR) AS DOUBLE) / 7.0 AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#1'
      AND l_quantity < 0.2 * (
        SELECT {sql_davg('l_quantity')}
        FROM lineitem l2 WHERE l2.l_partkey = lineitem.l_partkey
      )
    """,
)
def q17_small_quantity_revenue(spark, sf_dir):
    """TPC-H Q17: revenue from small-quantity orders relative to each
    part's average quantity. The correlated subquery becomes a
    broadcast join against the part-grain average (exact decimal avg
    on both engines, so the 0.2x threshold compares identically)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#1")
    # r11 REJECTED experiment (receipts in OPTIMIZATION_r11.md):
    # semi-joining the brand's part keys before this aggregate (valid
    # — a part's avg uses only its own rows) shrinks the agg shuffle
    # ~1/|brands| but lost 5/5 interleaved pairs at sf0.1 (0.83 ->
    # 0.95 s median): the extra broadcast stage costs more than the
    # smaller shuffle saves while lineitem is one cached file
    per_part = li.groupBy(F.col("l_partkey").alias("_pk")).agg(
        davg("l_quantity").alias("_avg_qty")
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(per_part, li.l_partkey == F.col("_pk"))
        .where(F.col("l_quantity") < 0.2 * F.col("_avg_qty"))
        .agg((dsum_dec(dec("l_extendedprice")) / 7.0).alias("avg_yearly"))
    )


@register(
    "q20_heavy_suppliers",
    """
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE s_suppkey IN (
      SELECT l_suppkey FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_type = 'PROMO'
        AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY l_suppkey
      HAVING SUM(l_quantity) > 400
    )
    """,
)
def q20_heavy_suppliers(spark, sf_dir):
    """TPC-H Q20 shape: semi-join chain part -> lineitem aggregate ->
    supplier (the partsupp availability predicate is adapted to a
    shipped-quantity threshold on the reduced schema)."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    part = _t(spark, sf_dir, "part").where(F.col("p_type") == "PROMO")
    sup = _t(spark, sf_dir, "supplier")
    heavy = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("_q"))
        .where(F.col("_q") > 400)
    )
    return sup.join(
        heavy, sup.s_suppkey == heavy.l_suppkey, "left_semi"
    ).select("s_suppkey", "s_name")


@register(
    "q22_idle_customers",
    f"""
    SELECT c_nationkey, COUNT(*) AS numcust,
           {sql_dsum('c_acctbal')} AS totacctbal
    FROM customer
    WHERE c_acctbal > (
        SELECT {sql_davg('c_acctbal')} FROM customer WHERE c_acctbal > 0.0
      )
      AND NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey
          AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
      )
    GROUP BY c_nationkey
    """,
)
def q22_idle_customers(spark, sf_dir):
    """TPC-H Q22 shape: rich customers with no RECENT orders, grouped
    by nation (the phone country code is adapted to c_nationkey, and
    'no orders' to 'no orders since 2000' — the driver's generator
    gives every customer at least one lifetime order). Scalar avg
    broadcast + anti-join on the filtered order set."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= "2000-01-01"
    )
    avg_bal = cust.where(F.col("c_acctbal") > 0.0).agg(
        davg("c_acctbal").alias("_ab")
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("_ab"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            dsum("c_acctbal").alias("totacctbal"),
        )
    )


# ================================================================
# 13. Datapipe widening, round 3
# ================================================================

_QUALITY_STOPWORDS = text.STOPWORDS["en"]
_SQL_STOPLIST = "[" + ", ".join(f"'{w}'" for w in _QUALITY_STOPWORDS) + "]"


@register(
    "quality_score_docs",
    rf"""
    WITH t AS (
      SELECT doc_id, text,
             regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents
    )
    SELECT doc_id,
           ROUND((
             LEAST(CAST(len(toks) AS DOUBLE) / 100.0, 1.0)
             + LEAST(5 * (CAST(len(list_filter(toks,
                 x -> list_contains({_SQL_STOPLIST}, lower(x)))) AS DOUBLE)
               / len(toks)), 1.0)
             + GREATEST(0.0, 1.0 - 5 * (CAST(length(text)
                 - length(regexp_replace(text, '[^\w\s]', '', 'g')) AS DOUBLE)
               / length(text)))
           ) / 3.0, 6) AS quality
    FROM t
    """,
)
def quality_score_docs(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", text.quality_score("text", _QUALITY_STOPWORDS).alias("quality")
    )


@register(
    "bpe_token_counts",
    r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]'))
                AS BIGINT) AS n_subwords
    FROM documents
    """,
)
def bpe_token_counts(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", text.bpe_ish_token_count("text").cast("bigint").alias("n_subwords")
    )


_BPE_MERGES = 6


def _bpe_word_cte() -> str:
    return f"""
    w AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT unnest(string_split({_NORM_SQL}, ' ')) AS word
            FROM documents)
      WHERE word <> '' GROUP BY word
    ),
    v0 AS (SELECT ' ' || array_to_string(string_split(word, ''), '  ') || ' '
                  AS s, n FROM w)"""


def _bpe_iter_ctes(n_merges: int) -> str:
    """p{j}/m{j}/v{j+1} CTE triple per merge: lateral-range adjacent
    pair counts, the argmax row (count desc, lexicographic ties), and
    the guarded-replace merge applied to the vocab."""
    parts = []
    for j in range(n_merges):
        parts.append(f"""p{j} AS (
      SELECT pr[1] AS l, pr[2] AS r, SUM(n) AS c
      FROM (
        SELECT unnest([[sy[i], sy[i + 1]] for i in range(1, len(sy))])
                 AS pr, n
        FROM (SELECT string_split(trim(s), '  ') AS sy, n FROM v{j})
      )
      GROUP BY 1, 2
    )""")
        parts.append(
            f"m{j} AS (SELECT l, r, c FROM p{j} ORDER BY c DESC, l, r LIMIT 1)"
        )
        if j < n_merges - 1:
            parts.append(f"""v{j + 1} AS (
      SELECT replace(s, ' ' || m.l || '  ' || m.r || ' ',
                     ' ' || m.l || m.r || ' ') AS s, n
      FROM v{j}, m{j} m
    )""")
    return ",\n    ".join(parts)


def _bpe_merges_sql(n_merges: int) -> str:
    union = "\n      UNION ALL ".join(
        f"SELECT {j} AS rank, l AS left_sym, r AS right_sym, "
        f"CAST(c AS BIGINT) AS pair_count FROM m{j}"
        for j in range(n_merges)
    )
    return f"""
    WITH {_bpe_word_cte()},
    {_bpe_iter_ctes(n_merges)}
    {union}
    """


@register("bpe_merges_docs", _bpe_merges_sql(_BPE_MERGES))
def bpe_merges_docs(spark, sf_dir):
    """BPE merge learning (Sennrich et al. 2016) — tokenizer
    vocabulary induction as a distributed op: the corpus collapses
    ONCE to the (word, n) vocab table, then each of the 6 iterations
    is one pair-count aggregate over VOCAB (bounded by distinct-word
    count, not corpus size) + one map-only guarded replace; the argmax
    merge is a single collected row re-broadcast as a literal.
    Deterministic by integer counts + lexicographic ties, and the
    guarded double-space encoding makes plain left-to-right replace()
    equal greedy BPE merge in both engines — the oracle replays the
    LEARNING itself, not just its application."""
    from openoa_spark.datapipe import tokenizer
    from openoa_spark.session import spread_small_input

    docs = spread_small_input(_t(spark, sf_dir, "documents"))
    merges = tokenizer.bpe_learn_merges(docs, "text", n_merges=_BPE_MERGES)
    return spark.createDataFrame(
        merges, "rank int, left_sym string, right_sym string, pair_count long"
    )


def _bpe_counts_sql(n_merges: int) -> str:
    mm = ", ".join(
        f"max(CASE WHEN rank = {j} THEN left_sym END) AS l{j}, "
        f"max(CASE WHEN rank = {j} THEN right_sym END) AS r{j}"
        for j in range(n_merges)
    )
    union = "\n      UNION ALL ".join(
        f"SELECT {j} AS rank, l AS left_sym, r AS right_sym FROM m{j}"
        for j in range(n_merges)
    )
    expr = "' ' || array_to_string(string_split(wd, ''), '  ') || ' '"
    for j in range(n_merges):
        expr = (
            f"replace({expr}, ' ' || l{j} || '  ' || r{j} || ' ', "
            f"' ' || l{j} || r{j} || ' ')"
        )
    return f"""
    WITH {_bpe_word_cte()},
    {_bpe_iter_ctes(n_merges)},
    mm AS (SELECT {mm} FROM ({union})),
    tok AS (SELECT doc_id,
                   list_filter(string_split({_NORM_SQL}, ' '),
                               wd -> wd <> '') AS words
            FROM documents)
    SELECT doc_id,
           CAST(coalesce(list_sum(list_transform(words,
                wd -> len(string_split(trim({expr}), '  ')))), 0)
                AS BIGINT) AS n_bpe_tokens
    FROM tok, mm
    """


@register("bpe_token_counts_learned", _bpe_counts_sql(_BPE_MERGES))
def bpe_token_counts_learned(spark, sf_dir):
    """Token counts under the LEARNED BPE vocabulary — the budget a
    token-priced pipeline actually pays, as opposed to the fixed-regex
    proxy (bpe_token_counts): merges learned corpus-wide (6 ranks,
    deterministic), then segmentation is a pure map-only column
    expression (per-word guarded replace chain in rank order). Two
    passes total: learn over vocab grain, segment over the corpus."""
    from openoa_spark.datapipe import tokenizer
    from openoa_spark.session import spread_small_input

    docs = spread_small_input(_t(spark, sf_dir, "documents"))
    merges = tokenizer.bpe_learn_merges(docs, "text", n_merges=_BPE_MERGES)
    return docs.select(
        "doc_id",
        tokenizer.bpe_token_count("text", merges)
        .cast("bigint")
        .alias("n_bpe_tokens"),
    )


def _cosine_pairs_sql(planes: list[list[float]], threshold: float) -> str:
    terms = " + ".join(
        f"(CASE WHEN round(list_dot_product(CAST(embedding AS DOUBLE[]), "
        f"[{', '.join(repr(x) for x in p)}]), 6) > 0 THEN {2 ** i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    return f"""
    WITH b AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             CAST({terms} AS BIGINT) AS bucket
      FROM embeddings
    )
    SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
           ROUND(list_dot_product(a.v, b2.v)
                 / (sqrt(list_dot_product(a.v, a.v))
                    * sqrt(list_dot_product(b2.v, b2.v))), 6) AS cosine
    FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
    WHERE ROUND(list_dot_product(a.v, b2.v)
                / (sqrt(list_dot_product(a.v, a.v))
                   * sqrt(list_dot_product(b2.v, b2.v))), 6) >= {threshold}
    """


@register("embedding_cosine_near_dups", _cosine_pairs_sql(_LSH_PLANES, 0.25))
def embedding_cosine_near_dups(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs: candidates restricted to
    a shared sign-LSH bucket (equi-join — never all-pairs), then exact
    cosine >= threshold inside the bucket. The scale path for
    embedding dedup; threshold tuned low here because the synthetic
    embeddings are near-orthogonal."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.cosine_near_dup_pairs(
        emb, "embedding", "vec_id", _LSH_PLANES, threshold=0.25
    )


# ================================================================
# 14. Relational + datapipe widening, round 3b
# ================================================================


@register(
    "q9_profit_by_nation_year",
    f"""
    SELECT n_name AS nation,
           CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
           CAST(CAST(SUM({SQL_DISC_PRICE}
                    - {sql_dec('p_retailprice')} * {sql_dec('l_quantity')})
                AS VARCHAR) AS DOUBLE) AS profit
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN part ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%bolt%'
    GROUP BY 1, 2
    """,
)
def q9_profit_by_nation_year(spark, sf_dir):
    """TPC-H q9 shape on the reduced schema (no partsupp: part cost
    proxied by p_retailprice × quantity). Fact-fact join on orderkey;
    part/supplier/nation dims broadcast; profit in exact decimal space
    (see functions/stats.py)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    part = _t(spark, sf_dir, "part").where(F.col("p_name").like("%bolt%"))
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    profit = _disc_price() - dec("p_retailprice") * dec("l_quantity")
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("o_year"),
        )
        .agg(dsum_dec(profit).alias("profit"))
    )


@register(
    "q2_min_price_part_supplier",
    f"""
    WITH li AS (
      SELECT l_partkey, l_suppkey,
             {sql_dec('l_extendedprice')} AS price
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE p_size <= 5
    ),
    m AS (SELECT l_partkey, MIN(price) AS min_price FROM li GROUP BY 1)
    SELECT DISTINCT li.l_partkey AS p_partkey, li.l_suppkey AS s_suppkey,
           s.s_acctbal AS acctbal, CAST(m.min_price AS DOUBLE) AS min_price
    FROM li
    JOIN m ON li.l_partkey = m.l_partkey AND li.price = m.min_price
    JOIN supplier s ON li.l_suppkey = s.s_suppkey
    ORDER BY acctbal DESC, p_partkey, s_suppkey
    LIMIT 100
    """,
)
def q2_min_price_part_supplier(spark, sf_dir):
    """TPC-H q2 shape on the reduced schema: per-part scalar MIN
    (exact decimal) + join-back on the min to recover the achieving
    suppliers. Group-min and join-back share the partkey shuffle key;
    the top-100 is TakeOrderedAndProject with a unique tiebreak."""
    part = _t(spark, sf_dir, "part").where(F.col("p_size") <= 5)
    li = (
        _t(spark, sf_dir, "lineitem")
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .select("l_partkey", "l_suppkey", dec("l_extendedprice").alias("price"))
        # r11 REJECTED experiment: a lazy localCheckpoint here (li
        # feeds the min-price aggregate AND the probe) lost 4/5
        # interleaved pairs at sf0.1 (2.23 -> 2.83 s median) — the
        # materialization barrier breaks probe-side pipelining and
        # costs more than recomputing the scan+broadcast-join
    )
    # rename the aggregate side's key (self-derived frame: a bare
    # equality would resolve both sides to the same attribute and be
    # dropped as trivially true — the exact_dedup hazard from round 2)
    m = (
        li.groupBy("l_partkey")
        .agg(F.min("price").alias("min_price"))
        .select(F.col("l_partkey").alias("_mk"), "min_price")
    )
    sup = _t(spark, sf_dir, "supplier")
    return (
        li.join(
            m,
            (F.col("l_partkey") == F.col("_mk")) & (F.col("price") == F.col("min_price")),
        )
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.col("l_suppkey").alias("s_suppkey"),
            F.col("s_acctbal").alias("acctbal"),
            F.col("min_price").cast("double").alias("min_price"),
        )
        .distinct()
        .orderBy(F.desc("acctbal"), "p_partkey", "s_suppkey")
        .limit(100)
    )


@register(
    "q21_waiting_suppliers",
    """
    WITH li AS (
      SELECT l_orderkey, l_suppkey,
             MAX(CASE WHEN l_shipdate > o_orderdate + INTERVAL 45 DAY
                      THEN 1 ELSE 0 END) AS late
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1, 2
    ),
    per_o AS (
      SELECT l_orderkey, COUNT(*) AS nsupp, SUM(late) AS nlate
      FROM li GROUP BY 1
    )
    SELECT s.s_name AS s_name, COUNT(*) AS numwait
    FROM li
    JOIN per_o ON li.l_orderkey = per_o.l_orderkey
    JOIN supplier s ON li.l_suppkey = s.s_suppkey
    WHERE li.late = 1 AND per_o.nsupp > 1 AND per_o.nlate = 1
    GROUP BY 1
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
)
def q21_waiting_suppliers(spark, sf_dir):
    """TPC-H q21 shape (suppliers who kept orders waiting), adapted:
    late = shipped >45 days after order date (no commit/receipt dates
    in the reduced schema). The EXISTS / NOT EXISTS pair becomes two
    aggregations over the same (orderkey, suppkey) grain — one shuffle,
    reused by both — instead of two correlated subquery scans."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    sup = _t(spark, sf_dir, "supplier")
    per_os = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            "l_orderkey",
            "l_suppkey",
            F.when(
                F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 45 DAYS"),
                1,
            )
            .otherwise(0)
            .alias("late_row"),
        )
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("late_row").alias("late"))
    )
    # r11 (guide §2.4): the li-grain/order-grain self-join used to
    # recompute the whole lineitem⋈orders aggregate TWICE (the two
    # branches push different IsNotNull sets to the scan, so their
    # exchanges don't canonicalize equal and ReuseExchange never
    # fires) and then sort-merge-joined the halves. Since a qualifying
    # order has EXACTLY one late (orderkey, suppkey) row (nlate = 1),
    # that row's supplier can be carried by the order-grain aggregate
    # itself — max over the late rows' suppkeys — and the self-join
    # disappears: one lineitem scan, no SMJ, 5 exchanges → 3
    # (interleaved A/B 9/9 pairs faster, median 1.80 → 1.46 s at
    # sf0.1; oracle green at sf0.001 and sf0.01).
    per_o = per_os.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("nsupp"),
        F.sum("late").alias("nlate"),
        F.max(F.when(F.col("late") == 1, F.col("l_suppkey"))).alias(
            "late_suppkey"
        ),
    )
    return (
        per_o.where((F.col("nsupp") > 1) & (F.col("nlate") == 1))
        .join(F.broadcast(sup), F.col("late_suppkey") == F.col("s_suppkey"))
        .groupBy(F.col("s_name"))
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


_SQL_TOKS = r"regexp_split_to_array(trim(text), '\s+')"


@register(
    "repetition_ratio_docs",
    f"""
    WITH g AS (
      SELECT doc_id,
             list_transform(
               generate_series(1, len({_SQL_TOKS}) - 1),
               i -> {_SQL_TOKS}[i] || ' ' || {_SQL_TOKS}[i + 1]
             ) AS grams
      FROM documents
    )
    SELECT doc_id,
           ROUND(CASE WHEN len(grams) > 0
                      THEN 1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)
                               / len(grams)
                      ELSE 0.0 END, 6) AS rep_ratio
    FROM g
    """,
)
def repetition_ratio_docs(spark, sf_dir):
    """Gopher-style within-document repetition: fraction of word
    bigrams that repeat an earlier bigram. Single projection, no
    shuffle."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.round(text.repetition_ratio("text", 2), 6).alias("rep_ratio")
    )


@register(
    "tfidf_top_terms",
    f"""
    WITH t AS (
      SELECT doc_id, unnest({_SQL_TOKS}) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY 1, 2),
    dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             ROUND(tf.tf * ln(CAST(n.n AS DOUBLE) / dfq.df), 6) AS tfidf
      FROM tf JOIN dfq ON tf.term = dfq.term, n
    )
    SELECT doc_id, term, tfidf,
           CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT doc_id, term, tfidf,
             row_number() OVER (
               PARTITION BY doc_id ORDER BY tfidf DESC, term
             ) AS rank
      FROM scored
    )
    WHERE rank <= 3
    """,
)
def tfidf_top_terms(spark, sf_dir):
    """Per-document top-3 TF-IDF terms: explode → two aggs sharing the
    term key → join back → per-doc rank on round-6 scores with a
    lexicographic tiebreak (cross-engine-deterministic top-k)."""
    docs = _t(spark, sf_dir, "documents")
    out = text.tfidf_top_terms(docs, "text", "doc_id", k=3)
    return out.select(
        "doc_id", "term", "tfidf", F.col("rank").cast("bigint").alias("rank")
    )


@register(
    "common_ngram_docs",
    f"""
    WITH g AS (
      SELECT doc_id,
             unnest(list_transform(
               generate_series(1, len({_SQL_TOKS}) - 2),
               i -> {_SQL_TOKS}[i] || ' ' || {_SQL_TOKS}[i + 1]
                    || ' ' || {_SQL_TOKS}[i + 2]
             )) AS gram
      FROM documents
    ),
    pd AS (SELECT doc_id, gram, COUNT(*) AS occ FROM g GROUP BY 1, 2),
    gd AS (SELECT gram, COUNT(*) AS gram_docs FROM pd GROUP BY 1)
    SELECT doc_id,
           ROUND(CAST(SUM(CASE WHEN gram_docs >= 2 THEN occ ELSE 0 END)
                      AS DOUBLE) / SUM(occ), 6) AS common_frac
    FROM pd JOIN gd ON pd.gram = gd.gram
    GROUP BY doc_id
    """,
)
def common_ngram_docs(spark, sf_dir):
    """C4-style cross-document boilerplate fraction over word
    trigrams (docs with <3 tokens drop out in both engines)."""
    docs = _t(spark, sf_dir, "documents")
    return text.common_ngram_fraction(docs, "text", "doc_id", n=3, min_docs=2)


@register(
    "boilerplate_segment_removal_docs",
    f"""
    WITH docs AS (
      SELECT doc_id,
             list_filter(string_split({_NORM_SQL}, ' '), w -> w <> '')
               AS words
      FROM documents
    ),
    segd AS (
      SELECT doc_id,
             [array_to_string(words[(i - 1) * 2 + 1 : i * 2], ' ')
              for i in range(1, CAST(ceil(len(words) / 2.0) AS BIGINT) + 1)]
               AS segs
      FROM docs
    ),
    occ AS (SELECT DISTINCT doc_id, unnest(segs) AS seg FROM segd),
    dfreq AS (SELECT seg, COUNT(*) AS d FROM occ GROUP BY seg),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    b AS (SELECT coalesce(list(seg), []) AS bl
          FROM dfreq, n WHERE d * 100 >= 5 * n_docs)
    SELECT doc_id,
           CAST(len(segs) AS INT) AS n_segments,
           CAST(len(list_filter(segs, s -> list_contains(bl, s))) AS INT)
             AS n_removed,
           array_to_string(list_filter(segs, s -> NOT list_contains(bl, s)),
                           ' ') AS clean_text
    FROM segd, b
    """,
)
def boilerplate_segment_removal_docs(spark, sf_dir):
    """CCNet-style boilerplate removal — drop every segment occurring
    in >= 5% of documents (nav bars / cookie banners / license headers
    at web scale) and reassemble the survivors in order. The
    boilerplate set is corpus-size-INDEPENDENT (a segment needs 5% of
    all docs to qualify, so at most segments_per_doc*20 survive), so
    it collects bounded and cleaning is a pure MAP-ONLY projection —
    the corpus text never shuffles. Integer threshold
    (df*100 >= 5*n_docs) keeps the cut bit-identical across engines;
    tumbling 2-word segments stand in for line/sentence segmentation
    on this newline-free corpus (the machinery is segmenter-agnostic).
    """
    from openoa_spark.session import spread_small_input

    docs = spread_small_input(_t(spark, sf_dir, "documents"))
    return text.remove_boilerplate_segments(
        docs, "text", "doc_id", width=2, min_doc_pct=5
    )


# The single source of truth for the typed PII patterns is
# text.PII_RULES (syntax shared by Java regex and RE2, so Spark and
# the DuckDB oracle compile the SAME expressions) — referenced here
# so an edit there cannot leave the oracle on a stale pattern.
_PII_EMAIL, _PII_IPV4, _PII_PHONE = (p for _, p, _ in text.PII_RULES)

# Deterministic PII construction: the synthetic corpus carries no real
# PII, so both engines append the SAME doc_id-derived email/IP/phone
# (plus two decoys that must NOT match: a 3-part version string and a
# TLD-less @) — the oracle then genuinely exercises match/boundary
# semantics instead of diffing identity outputs.
_PII_AUG_SQL = """
    text || ' reach u' || CAST(doc_id AS VARCHAR) || '@ex-'
         || CAST(doc_id % 10 AS VARCHAR) || '.org from '
         || CAST(10 + doc_id % 200 AS VARCHAR) || '.0.'
         || CAST((doc_id // 7) % 256 AS VARCHAR) || '.'
         || CAST(doc_id % 256 AS VARCHAR) || ' or 555-'
         || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         || ' build v1.2.3 ping a@b done'
"""


@register(
    "pii_redaction_docs",
    f"""
    WITH aug AS (SELECT doc_id, {_PII_AUG_SQL} AS t FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{_PII_EMAIL}')) AS INT)
             AS n_email,
           CAST(len(regexp_extract_all(t, '{_PII_IPV4}')) AS INT)
             AS n_ipv4,
           CAST(len(regexp_extract_all(t, '{_PII_PHONE}')) AS INT)
             AS n_phone,
           regexp_replace(regexp_replace(regexp_replace(t,
               '{_PII_EMAIL}', '<EMAIL>', 'g'),
               '{_PII_IPV4}', '<IP>', 'g'),
               '{_PII_PHONE}', '<PHONE>', 'g') AS clean_text
    FROM aug
    """,
)
def pii_redaction_docs(spark, sf_dir):
    """Dolma/CCNet-style PII redaction: count and replace emails,
    IPv4 addresses, and phone numbers with typed placeholders.
    Map-only — one regexp_count per kind plus a regexp_replace chain
    inside a single projection, so at 100 TB this fuses into the
    corpus scan with zero shuffle. PII is constructed deterministically
    from doc_id (the synthetic corpus has none) so the oracle exercises
    the real match/boundary semantics; two decoys (a v1.2.3 version
    string, a TLD-less a@b) pin the non-match side.
    """
    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.lit(" reach u"), d.cast("string"),
        F.lit("@ex-"), (d % 10).cast("string"),
        F.lit(".org from "), (d % 200 + 10).cast("string"),
        F.lit(".0."), F.expr("(doc_id div 7) % 256").cast("string"),
        F.lit("."), (d % 256).cast("string"),
        F.lit(" or 555-"), F.lpad((d % 1000).cast("string"), 3, "0"),
        F.lit("-"), F.lpad((d % 10000).cast("string"), 4, "0"),
        F.lit(" build v1.2.3 ping a@b done"),
    )
    cnt = text.pii_counts(aug)
    return docs.select(
        "doc_id",
        cnt["n_email"].alias("n_email"),
        cnt["n_ipv4"].alias("n_ipv4"),
        cnt["n_phone"].alias("n_phone"),
        text.redact_pii(aug).alias("clean_text"),
    )


def _lsh_knn_sql(planes: list[list[float]], k: int) -> str:
    terms = " + ".join(
        f"(CASE WHEN round(list_dot_product(CAST(embedding AS DOUBLE[]), "
        f"[{', '.join(repr(x) for x in p)}]), 6) > 0 THEN {2 ** i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    return f"""
    WITH b AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             CAST({terms} AS BIGINT) AS bucket
      FROM embeddings
    ),
    pairs AS (
      SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
             ROUND(list_dot_product(a.v, b2.v)
                   / (sqrt(list_dot_product(a.v, a.v))
                      * sqrt(list_dot_product(b2.v, b2.v))), 6) AS cosine
      FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id <> b2.vec_id
    )
    SELECT id_a, id_b, cosine FROM (
      SELECT id_a, id_b, cosine,
             row_number() OVER (
               PARTITION BY id_a ORDER BY cosine DESC, id_b
             ) AS rn
      FROM pairs
    )
    WHERE rn <= {k}
    """


@register("lsh_knn_topk", _lsh_knn_sql(_LSH_PLANES, 3))
def lsh_knn_topk(spark, sf_dir):
    """Per-vector approximate top-3 neighbors: candidates restricted
    to the shared sign-LSH bucket (equi-join — the kNN-join scale
    path), exact cosine within bucket, rank on round-6 cosine with id
    tiebreak."""
    emb = _t(spark, sf_dir, "embeddings")
    pairs = similarity._bucketed_cosine_pairs(
        emb, "embedding", "vec_id", _LSH_PLANES, round_digits=6, ordered=True
    )
    w = Window.partitionBy("id_a").orderBy(F.desc("cosine6"), F.asc("id_b"))
    return (
        pairs.withColumn("cosine6", F.round("cosine", 6))
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= 3)
        .select("id_a", "id_b", F.col("cosine6").alias("cosine"))
    )


@register(
    "cube_returnflag_status",
    f"""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT)
             AS grp_id,
           COUNT(*) AS n, {sql_dsum('l_quantity')} AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def cube_returnflag_status(spark, sf_dir):
    """CUBE aggregation with grouping-set id: all 2^k grouping
    combinations in ONE shuffle (Spark expands grouping sets map-side;
    no union of k scans)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("bigint").alias("grp_id"),
            F.count(F.lit(1)).alias("n"),
            dsum("l_quantity").alias("sum_qty"),
        )
        .select("l_returnflag", "l_linestatus", "grp_id", "n", "sum_qty")
    )


@register(
    "except_lapsed_customers",
    """
    SELECT o_custkey AS custkey FROM orders
    WHERE EXTRACT(YEAR FROM o_orderdate) = 1995
    EXCEPT
    SELECT o_custkey FROM orders
    WHERE EXTRACT(YEAR FROM o_orderdate) = 1996
    ORDER BY custkey
    """,
)
def except_lapsed_customers(spark, sf_dir):
    """Set difference (EXCEPT DISTINCT): customers active in 1995 but
    not 1996. Spark plans this as a left-anti hash join on the
    distinct key — no sort, single shuffle."""
    o = _t(spark, sf_dir, "orders")
    # EXCEPT = "has a 1995 order AND no 1996 order": ONE flag
    # aggregate over the year-filtered scan replaces two fact scans +
    # two distincts + the anti semi-join of the literal subtract (r11,
    # guide §2.2 — same set: EXCEPT deduplicates, groupBy already
    # yields unique keys; NULL custkey groups like EXCEPT matches it)
    yr = F.year("o_orderdate")
    return (
        o.where(yr.isin(1995, 1996))
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.max(yr == 1995).alias("_h95"),
            F.max(yr == 1996).alias("_h96"),
        )
        .where(F.col("_h95") & ~F.col("_h96"))
        .select("custkey")
        .orderBy("custkey")
    )


@register(
    "intersect_both_halves_users",
    """
    WITH mid AS (
      SELECT make_timestamp((epoch_us(min(ts)) + epoch_us(max(ts))) // 2) AS m
      FROM events
    )
    SELECT user_id FROM events, mid WHERE ts < m
    INTERSECT
    SELECT user_id FROM events, mid WHERE ts >= m
    ORDER BY user_id
    """,
)
def intersect_both_halves_users(spark, sf_dir):
    """Set intersection: users active in both the first and second
    half of the observation window. A user intersects iff its min(ts)
    falls before the midpoint AND its max(ts) on/after it, so ONE
    per-user min/max aggregate replaces the two fact scans + two
    distincts + semi-join of the literal INTERSECT shape (r11, guide
    §2.2: same set — "∃ ts < m" ⇔ "min(ts) < m", NULL ts rows are
    skipped by min/max exactly as the half filters dropped them), and
    the midpoint derives from that same user-grain table (min of
    per-user mins = global min), so events is scanned once."""
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min("ts").alias("_lo"), F.max("ts").alias("_hi")
    ).localCheckpoint(eager=False)  # feeds the midpoint AND the filter
    # midpoint in integer epoch-microseconds (identical in both
    # engines; interval halving would be engine-dependent)
    mid = per_user.agg(
        F.timestamp_micros(
            F.expr("(unix_micros(min(_lo)) + unix_micros(max(_hi))) DIV 2")
        ).alias("m")
    )
    return (
        per_user.crossJoin(F.broadcast(mid))
        .where((F.col("_lo") < F.col("m")) & (F.col("_hi") >= F.col("m")))
        .select("user_id")
        .orderBy("user_id")
    )


@register(
    "unpivot_lineitem_measures",
    f"""
    SELECT metric, CAST(CAST(SUM(CAST(val AS DECIMAL(20,4))) AS VARCHAR) AS DOUBLE) AS total
    FROM (
      SELECT 'quantity' AS metric, l_quantity AS val FROM lineitem
      UNION ALL
      SELECT 'extendedprice', l_extendedprice FROM lineitem
      UNION ALL
      SELECT 'discount', l_discount FROM lineitem
    )
    GROUP BY metric
    """,
)
def unpivot_lineitem_measures(spark, sf_dir):
    """Unpivot (wide→long) via stack(): one scan emits 3 rows per
    input row — Catalyst keeps it a single pass, unlike the oracle's
    3-scan UNION ALL formulation."""
    li = _t(spark, sf_dir, "lineitem")
    long = li.select(
        F.expr(
            "stack(3, 'quantity', l_quantity, "
            "'extendedprice', l_extendedprice, "
            "'discount', l_discount) AS (metric, val)"
        )
    )
    return long.groupBy("metric").agg(dsum("val").alias("total"))


@register(
    "ntile_value_quartiles",
    """
    SELECT event_type, quartile, COUNT(*) AS n,
           ROUND(MIN(value), 6) AS lo, ROUND(MAX(value), 6) AS hi
    FROM (
      SELECT event_type, value,
             CAST(ntile(4) OVER (
               PARTITION BY event_type ORDER BY value, event_id
             ) AS INT) AS quartile
      FROM events WHERE value IS NOT NULL
    )
    GROUP BY 1, 2
    """,
)
def ntile_value_quartiles(spark, sf_dir):
    """ntile window: per-event-type value quartiles (deterministic via
    event_id tiebreak), then quartile summary stats."""
    ev = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return (
        ev.withColumn("quartile", F.ntile(4).over(w))
        .groupBy("event_type", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 6).alias("lo"),
            F.round(F.max("value"), 6).alias("hi"),
        )
    )


@register(
    "exact_quantiles_by_type",
    """
    SELECT event_type,
           ROUND(median(value), 6) AS p50,
           ROUND(quantile_cont(value, 0.9), 6) AS p90
    FROM events WHERE value IS NOT NULL
    GROUP BY 1
    """,
)
def exact_quantiles_by_type(spark, sf_dir):
    """EXACT grouped quantiles (interpolated, matching DuckDB
    quantile_cont): per-group exact percentile is the right tool at
    bin grain; corpus-wide approximate quantiles live in
    datapipe.sketches (GK) for the single-pass 100 TB path."""
    ev = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
    )


# ================================================================
# 16. Pipeline utilities: deterministic sampling/sharding, JSON
#     extraction, benchmark decontamination
# ================================================================

from openoa_spark.datapipe import sampling  # noqa: E402


@register(
    "hash_sample_docs",
    f"""
    SELECT doc_id, source, n_chars
    FROM documents
    WHERE {sampling.sql_hash_sample_pred("CAST(doc_id AS VARCHAR)", 0.2, seed=7)}
    """,
)
def hash_sample_docs(spark, sf_dir):
    """Deterministic 20% sample keyed on doc_id: membership is a pure
    function of the row (hash < fraction·2^60), so it is reproducible
    across runs, partitionings, and engines — unlike df.sample(),
    whose per-partition RNG draw changes under AQE/repartition. Plan:
    single codegen'd filter on the scan, no shuffle."""
    docs = _t(spark, sf_dir, "documents")
    return sampling.hash_sample(docs, "doc_id", 0.2, seed=7).select(
        "doc_id", "source", "n_chars"
    )


@register(
    "stratified_sample_lang",
    f"""
    SELECT lang, COUNT(*) AS n
    FROM documents
    WHERE CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '|7'), 1, 15)
               AS BIGINT)
          < CASE lang
              WHEN 'en' THEN {sampling.hash_threshold(0.5)}
              WHEN 'de' THEN {sampling.hash_threshold(0.25)}
              ELSE {sampling.hash_threshold(0.1)}
            END
    GROUP BY lang
    """,
)
def stratified_sample_lang(spark, sf_dir):
    """Stratified deterministic sampling (sampleBy made reproducible):
    per-language keep-fractions as ONE CASE-threshold filter — no
    per-stratum scans, no shuffle before the final tiny aggregate."""
    docs = _t(spark, sf_dir, "documents")
    out = sampling.stratified_hash_sample(
        docs, "doc_id", "lang", {"en": 0.5, "de": 0.25},
        default_fraction=0.1, seed=7,
    )
    return out.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))


@register(
    "doc_shards",
    f"""
    SELECT {sampling.sql_hash_shard("CAST(doc_id AS VARCHAR)", 8, seed=3)} AS shard,
           COUNT(*) AS n, MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
    FROM documents
    GROUP BY 1
    """,
)
def doc_shards(spark, sf_dir):
    """Deterministic output sharding for training-shard writes: shard
    id is a pure function of the key, so re-runs and backfills land
    rows in the same shard. The groupBy here just summarizes balance;
    a real write partitions by the shard column (one shuffle)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.withColumn(
        "shard", sampling.hash_shard("doc_id", 8, seed=3)
    ).groupBy("shard").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


@register(
    "json_props_stats",
    """
    SELECT event_type,
           COUNT(k) AS n,
           CAST(SUM(k) AS BIGINT) AS sum_k,
           ROUND(AVG(k), 6) AS avg_k,
           MAX(k) AS max_k
    FROM (
      SELECT event_type,
             CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
      FROM events
    )
    GROUP BY event_type
    """,
)
def json_props_stats(spark, sf_dir):
    """Semi-structured extraction: pull a typed field out of a JSON
    string column (get_json_object — JVM-side Jackson path eval, no
    Python) and aggregate it. The 100-TB form is identical; for many
    fields prefer from_json with an explicit schema so the parse
    happens once per row."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.round(F.avg("k"), 6).alias("avg_k"),
            F.max("k").alias("max_k"),
        )
    )


def _benchmark_overlap_sql(n: int) -> str:
    gram = " || ' ' || ".join(f"{_SQL_TOKS}[i + {j}]" for j in range(n))
    return f"""
    WITH g AS (
      SELECT doc_id, source,
             unnest(list_distinct(list_transform(
               generate_series(1, len({_SQL_TOKS}) - {n - 1}),
               i -> {gram}))) AS gram
      FROM documents
    ),
    bench AS (SELECT DISTINCT gram FROM g WHERE source = 'src0'),
    tgt AS (SELECT doc_id, gram FROM g WHERE source <> 'src0')
    SELECT t.doc_id,
           COUNT(*) AS n_grams,
           CAST(COUNT(b.gram) AS BIGINT) AS n_hit,
           ROUND(CAST(COUNT(b.gram) AS DOUBLE) / COUNT(*), 6) AS contamination
    FROM tgt t LEFT JOIN bench b ON t.gram = b.gram
    GROUP BY t.doc_id
    """


@register(
    "interval_join_daily_activity",
    """
    WITH iv AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             MIN(ts) AS s_start, MAX(ts) AS s_end
      FROM events GROUP BY 1, 2
    )
    SELECT iv.user_id, iv.day, COUNT(*) AS n_concurrent
    FROM iv JOIN events e ON e.ts BETWEEN iv.s_start AND iv.s_end
    GROUP BY 1, 2
    """,
)
def interval_join_daily_activity(spark, sf_dir):
    """Point-in-interval join at scale: for each user's daily activity
    span [first event, last event], count ALL events platform-wide
    that fall inside it (a concurrency measure). The oracle writes the
    natural inequality join — which Spark could only plan as a
    broadcast-nested-loop — while the engine runs
    operators.joins.interval_join: points map to one coarse time
    bucket, intervals explode across their overlapped buckets, and the
    match becomes a shuffled EQUI-join on bucket with BETWEEN as a
    residual filter. Hash-partitionable, AQE-splittable, no cartesian."""
    ev = _t(spark, sf_dir, "events")
    iv = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.min("ts").alias("s_start"), F.max("ts").alias("s_end")
    )
    hits = joins.interval_join(
        ev.select("ts"), iv, "ts", "s_start", "s_end", bucket_seconds=3600.0
    )
    return hits.groupBy("user_id", "day").agg(
        F.count(F.lit(1)).alias("n_concurrent")
    )


@register(
    "redact_docs",
    """
    SELECT doc_id,
           CAST(length(text)
                - length(regexp_replace(text, '[aeiou]+', '', 'g'))
                AS BIGINT) AS n_removed,
           md5(regexp_replace(text, '[aeiou]+', '<X>', 'g')) AS redacted_md5
    FROM documents
    """,
)
def redact_docs(spark, sf_dir):
    """PII-style pattern redaction (text.redact_patterns): map-only
    regexp_replace projection, verified char-exact cross-engine via an
    md5 of the redacted text. The demo pattern is one the synthetic
    corpus actually hits; production composes text.PII_PATTERNS
    (email/phone/IP/SSN) the same way."""
    docs = _t(spark, sf_dir, "documents")
    redacted = text.redact_patterns("text", ["[aeiou]+"], "<X>")
    removed = F.length("text") - F.length(
        text.redact_patterns("text", ["[aeiou]+"], "")
    )
    return docs.select(
        "doc_id",
        removed.cast("bigint").alias("n_removed"),
        F.md5(redacted).alias("redacted_md5"),
    )


@register(
    "rolling_1h_sum_per_user",
    """
    SELECT user_id, ts,
           ROUND(SUM(value) OVER (
             PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
           ), 6) AS sum_1h
    FROM events WHERE value IS NOT NULL
    """,
)
def rolling_1h_sum_per_user(spark, sf_dir):
    """TIME-RANGE rolling window (not row-count): per-user trailing-1h
    sum via rangeBetween on epoch microseconds — the frame adapts to
    irregular sampling, which a ROWS frame can't express. One shuffle
    on user_id, sort within partition, no self-join."""
    ev = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "user_id", "ts", F.round(F.sum("value").over(w), 6).alias("sum_1h")
    )


@register("benchmark_overlap_docs", _benchmark_overlap_sql(3))
def benchmark_overlap_docs(spark, sf_dir):
    """Test-set decontamination: per-document fraction of distinct
    word n-grams that also occur in a benchmark corpus (here the
    'src0' slice plays the benchmark; production uses 8-13-grams of
    actual eval sets). Benchmark gram set is broadcast — the corpus
    side never shuffles on gram, only the final per-doc aggregate."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("source") == "src0")
    corpus = docs.where(F.col("source") != "src0")
    return text.benchmark_overlap(corpus, bench, "text", "doc_id", n=3)


def _bloom_decontaminate_sql(n: int) -> str:
    gram = " || ' ' || ".join(f"{_SQL_TOKS}[i + {j}]" for j in range(n))
    return f"""
    WITH g AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               generate_series(1, len({_SQL_TOKS}) - {n - 1}),
               i -> {gram}))) AS gram
      FROM documents
    ),
    bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
    tgt AS (SELECT doc_id, gram FROM g WHERE doc_id % 97 <> 0)
    SELECT t.doc_id,
           COUNT(*) AS n_grams,
           CAST(COUNT(b.gram) AS BIGINT) AS n_hit,
           ROUND(CAST(COUNT(b.gram) AS DOUBLE) / COUNT(*), 6)
             AS contamination
    FROM tgt t LEFT JOIN bench b ON t.gram = b.gram
    GROUP BY t.doc_id
    """


@register(
    "sliding_chunks_docs",
    f"""
    WITH d AS (SELECT doc_id,
                      list_filter({_SQL_TOKS}, w -> w <> '') AS toks
               FROM documents),
    e AS (
      SELECT doc_id, toks,
             unnest(generate_series(0,
               CAST(GREATEST(floor((len(toks) - 24 + 15) / 16.0), 0)
                    AS INT))) AS chunk_id
      FROM d
      WHERE len(toks) > 0
    )
    SELECT doc_id,
           CAST(chunk_id AS INT) AS chunk_id,
           CAST(len(toks[chunk_id * 16 + 1 : chunk_id * 16 + 24]) AS INT)
             AS n_tokens,
           array_to_string(toks[chunk_id * 16 + 1 : chunk_id * 16 + 24],
                           ' ') AS chunk_text
    FROM e
    """,
)
def sliding_chunks_docs(spark, sf_dir):
    """Retrieval/embedding-training chunking: overlapping 24-token
    windows at stride 16 (8 tokens of overlap). Map-side posexplode —
    rows fan out ~n_tok/stride with NO shuffle; chunk boundaries are
    integer arithmetic (floor((n-24+15)/16) extra chunks, generation
    stops at the first window reaching the document end), so the
    chunk set is engine-exact."""
    docs = _t(spark, sf_dir, "documents")
    return text.sliding_token_chunks(
        docs, "text", "doc_id", chunk_tokens=24, stride=16
    )


@register(
    "multimodal_image_metadata",
    """
    SELECT doc_id,
           CAST(16 + doc_id % 32 AS INT) AS width,
           CAST(16 + doc_id % 24 AS INT) AS height,
           CAST(8 AS INT) AS bit_depth,
           CAST(2 AS INT) AS color_type,
           CAST(68 + (16 + doc_id % 24) * (1 + 3 * (16 + doc_id % 32))
                AS BIGINT) AS n_bytes
    FROM documents
    """,
)
def multimodal_image_metadata(spark, sf_dir):
    """Image-column metadata extraction with a REAL decode path: each
    doc_id deterministically synthesizes a fully valid RGB8 PNG
    (real zlib stream + chunk CRCs, multimodal.synthesize_png), and
    one Arrow mapInPandas pass parses the IHDR back out
    (multimodal.parse_png_header — byte-level chunk walking, no PIL).
    Builder and parser are independent spec implementations, and the
    oracle derives width/height/bit-depth/color-type AND the exact
    file size from first-principles arithmetic (level-0 zlib stored
    block: |IDAT data| = raw + 11), so a single mis-packed offset on
    either side fails the hash. Scale shape: bytes are born and
    decoded inside one map stage — only scalar metadata ever
    shuffles, the pattern that makes a 100 TB image corpus tractable."""
    from openoa_spark.datapipe import multimodal
    from openoa_spark.session import spread_small_input

    docs = spread_small_input(
        _t(spark, sf_dir, "documents").select("doc_id")
    )
    spec = docs.select(
        F.col("doc_id").alias("media_id"),
        (F.lit(16) + F.col("doc_id") % 32).cast("int").alias("_w"),
        (F.lit(16) + F.col("doc_id") % 24).cast("int").alias("_h"),
        (F.col("doc_id") * 7919 % 1000003).alias("_seed"),
    )
    media = multimodal.synthesize_png_column(spec)
    return multimodal.image_metadata(media).select(
        F.col("media_id").alias("doc_id"),
        "width", "height", "bit_depth", "color_type", "n_bytes",
    )


@register(
    "multimodal_audio_metadata",
    """
    SELECT doc_id,
           CAST(1 + doc_id % 2 AS INT) AS channels,
           CAST(8000 + 1000 * (doc_id % 5) AS INT) AS sample_rate,
           CAST(16 AS INT) AS bits,
           CAST(100 + doc_id % 400 AS BIGINT) AS n_samples,
           CAST((100 + doc_id % 400) * 1000
                // (8000 + 1000 * (doc_id % 5)) AS BIGINT) AS duration_ms,
           CAST(44 + 2 * (1 + doc_id % 2) * (100 + doc_id % 400)
                AS BIGINT) AS n_bytes
    FROM documents
    """,
)
def multimodal_audio_metadata(spark, sf_dir):
    """Audio-column metadata twin of multimodal_image_metadata: a
    valid PCM16 WAV per doc_id (multimodal.synthesize_wav), RIFF
    chunk-walk decode back to channels/rate/bits/exact sample count
    (multimodal.parse_wav_header), and integer-floor duration_ms —
    all replayed by the oracle as closed-form arithmetic (file size =
    44 + 2*channels*n_samples). Map-only; payloads never shuffle."""
    from openoa_spark.datapipe import multimodal
    from openoa_spark.session import spread_small_input

    docs = spread_small_input(
        _t(spark, sf_dir, "documents").select("doc_id")
    )
    spec = docs.select(
        F.col("doc_id").alias("media_id"),
        (F.lit(1) + F.col("doc_id") % 2).cast("int").alias("_ch"),
        (F.lit(8000) + F.lit(1000) * (F.col("doc_id") % 5))
        .cast("int").alias("_rate"),
        (F.lit(100) + F.col("doc_id") % 400).alias("_n"),
        (F.col("doc_id") * 104729 % 999983).alias("_seed"),
    )
    media = multimodal.synthesize_wav_column(spec)
    return multimodal.audio_metadata(media).select(
        F.col("media_id").alias("doc_id"),
        "channels", "sample_rate", "bits",
        "n_samples", "duration_ms", "n_bytes",
    )


_PIXEL_MEAN_SQL = ",\n           ".join(
    f"ROUND(CAST(SUM((seed*31 + ((i//w)*3*w + 3*(i%w) + {c})*7) % 256) "
    f"AS DOUBLE) / COUNT(*), 6) AS mean_{ch}"
    for c, ch in enumerate("rgb")
)


@register(
    "multimodal_pixel_stats",
    f"""
    WITH p AS (
      SELECT doc_id,
             CAST(16 + doc_id % 32 AS BIGINT) AS w,
             CAST(16 + doc_id % 24 AS BIGINT) AS h,
             (doc_id * 7919 % 1000003) AS seed
      FROM documents
    ),
    e AS (
      SELECT doc_id, w, h, seed,
             unnest(generate_series(0, w*h - 1)) AS i
      FROM p
    )
    SELECT doc_id,
           {_PIXEL_MEAN_SQL},
           CAST(MAX(w*h) AS BIGINT) AS n_pixels
    FROM e GROUP BY doc_id
    """,
)
def multimodal_pixel_stats(spark, sf_dir):
    """FULL image decode, not just header metadata: per-channel pixel
    means from decode_png_pixels (chunk walk -> zlib inflate ->
    scanline unfiltering -> (h,w,3) array). The oracle recomputes the
    means in closed form from the deterministic pixel formula, so a
    bug anywhere in the byte pipeline — chunk assembly, the zlib
    stream, filter handling, row-major ordering — breaks the hash.
    uint8 sums stay exact in float64, so the means are engine-exact
    before the defensive round. Decode is one Arrow map pass; only
    three doubles per image ever shuffle."""
    from openoa_spark.datapipe import multimodal
    from openoa_spark.session import spread_small_input

    docs = spread_small_input(
        _t(spark, sf_dir, "documents").select("doc_id")
    )
    spec = docs.select(
        F.col("doc_id").alias("media_id"),
        (F.lit(16) + F.col("doc_id") % 32).cast("int").alias("_w"),
        (F.lit(16) + F.col("doc_id") % 24).cast("int").alias("_h"),
        (F.col("doc_id") * 7919 % 1000003).alias("_seed"),
    )
    media = multimodal.synthesize_png_column(spec)
    stats = multimodal.image_pixel_stats(media)
    return stats.select(
        F.col("media_id").alias("doc_id"),
        rounded("mean_r").alias("mean_r"),
        rounded("mean_g").alias("mean_g"),
        rounded("mean_b").alias("mean_b"),
        "n_pixels",
    )


@register(
    "multimodal_audio_stats",
    """
    WITH p AS (
      SELECT doc_id,
             CAST(1 + doc_id % 2 AS BIGINT) AS ch,
             CAST(100 + doc_id % 400 AS BIGINT) AS n,
             (doc_id * 104729 % 999983) AS seed
      FROM documents
    ),
    e AS (
      SELECT doc_id, ch, n, seed,
             unnest(generate_series(0, ch*n - 1)) AS i
      FROM p
    ),
    v AS (
      SELECT doc_id, n, ((seed*7 + i*13) % 65536) - 32768 AS v FROM e
    )
    SELECT doc_id,
           ROUND(CAST(SUM(v) AS DOUBLE) / COUNT(*), 6) AS mean_amp,
           CAST(MAX(ABS(v)) AS INT) AS max_abs,
           ROUND(sqrt(CAST(SUM(v*v) AS DOUBLE) / COUNT(*)), 6) AS rms,
           CAST(MAX(n) AS BIGINT) AS n_frames
    FROM v GROUP BY doc_id
    """,
)
def multimodal_audio_stats(spark, sf_dir):
    """FULL audio decode twin of multimodal_pixel_stats: per-clip
    amplitude stats (mean, peak |sample|, RMS) from
    decode_wav_samples' real PCM16 interpretation of the data chunk.
    The oracle recomputes every stat in closed form from the sample
    formula — int16 sums and sums of squares stay exact in float64
    and IEEE sqrt is correctly rounded in both engines, so the stats
    match bit-for-bit before the defensive round. The
    loudness/clipping screen an audio pipeline runs before feature
    extraction; decode is one Arrow map pass, payloads never
    shuffle."""
    from openoa_spark.datapipe import multimodal
    from openoa_spark.session import spread_small_input

    docs = spread_small_input(
        _t(spark, sf_dir, "documents").select("doc_id")
    )
    spec = docs.select(
        F.col("doc_id").alias("media_id"),
        (F.lit(1) + F.col("doc_id") % 2).cast("int").alias("_ch"),
        (F.lit(8000) + F.lit(1000) * (F.col("doc_id") % 5))
        .cast("int").alias("_rate"),
        (F.lit(100) + F.col("doc_id") % 400).alias("_n"),
        (F.col("doc_id") * 104729 % 999983).alias("_seed"),
    )
    media = multimodal.synthesize_wav_column(spec)
    stats = multimodal.audio_sample_stats(media)
    return stats.select(
        F.col("media_id").alias("doc_id"),
        rounded("mean_amp").alias("mean_amp"),
        "max_abs",
        rounded("rms").alias("rms"),
        "n_frames",
    )


@register(
    "multimodal_corrupt_media",
    """
    SELECT doc_id, doc_id % 13 <> 0 AS is_valid
    FROM documents
    """,
)
def multimodal_corrupt_media(spark, sf_dir):
    """Corrupt-media detection over a binary column: every 13th
    payload is truncated to its first 20 bytes (not even a full PNG
    signature+IHDR), and the REAL header parser must classify exactly
    those as invalid (NULL metadata) without raising. The oracle knows
    which rows were corrupted by construction; the engine has to
    rediscover them from the bytes."""
    from openoa_spark.datapipe import multimodal
    from openoa_spark.session import spread_small_input

    docs = spread_small_input(
        _t(spark, sf_dir, "documents").select("doc_id")
    )
    spec = docs.select(
        F.col("doc_id").alias("media_id"),
        (F.lit(16) + F.col("doc_id") % 32).cast("int").alias("_w"),
        (F.lit(16) + F.col("doc_id") % 24).cast("int").alias("_h"),
        (F.col("doc_id") * 7919 % 1000003).alias("_seed"),
    )
    media = multimodal.synthesize_png_column(spec)
    corrupted = media.select(
        "media_id",
        F.when(
            F.col("media_id") % 13 == 0,
            F.expr("substring(content, 1, 20)"),
        ).otherwise(F.col("content")).alias("content"),
    )
    return multimodal.image_metadata(corrupted).select(
        F.col("media_id").alias("doc_id"),
        F.col("width").isNotNull().alias("is_valid"),
    )


@register(
    "multimodal_jpeg_metadata",
    """
    WITH p AS (
      SELECT doc_id,
             16 + doc_id % 48 AS w,
             16 + doc_id % 40 AS h,
             CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 3 END AS c,
             (doc_id * 6151 % 999979) AS seed
      FROM documents
    )
    SELECT doc_id,
           CAST(CASE WHEN doc_id % 13 = 0 THEN NULL ELSE w END AS INT)
             AS width,
           CAST(CASE WHEN doc_id % 13 = 0 THEN NULL ELSE h END AS INT)
             AS height,
           CAST(CASE WHEN doc_id % 13 = 0 THEN NULL ELSE 8 END AS INT)
             AS sof_precision,
           CAST(CASE WHEN doc_id % 13 = 0 THEN NULL ELSE c END AS INT)
             AS n_components,
           CAST(CASE WHEN doc_id % 13 = 0 THEN 3
                ELSE 173 + 5*c + seed % 17 + (w*h) % 191 END AS BIGINT)
             AS n_bytes
    FROM p
    """,
)
def multimodal_jpeg_metadata(spark, sf_dir):
    """JPEG frame-header metadata + corrupt detection in one pass: a
    structurally valid JPEG marker stream per doc_id (JFIF APP0, a
    seed-length COM segment the walker must skip by length, DQT, SOF0,
    SOS — multimodal.synthesize_jpeg), every 13th payload truncated to
    3 bytes (mid-marker), and the REAL segment walker
    (multimodal.parse_jpeg_header) recovers width/height/precision/
    component count — or all-NULL for the corrupt rows — from the
    bytes. Mixed grayscale (1-component, doc_id%3==0) and color
    (3-component) frames. The oracle replays dimensions and the exact
    closed-form file size (113 + 5c + seed%17 + 60 + (w*h)%191).
    Unlike the PNG/WAV twins, the parser here is ALSO pinned against
    foreign camera-produced fixtures via Spark's image data source
    (tests/test_multimodal_codec.py), so builder/parser round-trip
    bugs cannot cancel. Map-only; payloads never shuffle."""
    from openoa_spark.datapipe import multimodal
    from openoa_spark.session import spread_small_input

    docs = spread_small_input(
        _t(spark, sf_dir, "documents").select("doc_id")
    )
    spec = docs.select(
        F.col("doc_id").alias("media_id"),
        (F.lit(16) + F.col("doc_id") % 48).cast("int").alias("_w"),
        (F.lit(16) + F.col("doc_id") % 40).cast("int").alias("_h"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(1))
        .otherwise(F.lit(3)).cast("int").alias("_c"),
        (F.col("doc_id") * 6151 % 999979).alias("_seed"),
    )
    media = multimodal.synthesize_jpeg_column(spec)
    corrupted = media.select(
        "media_id",
        F.when(
            F.col("media_id") % 13 == 0,
            F.expr("substring(content, 1, 3)"),
        ).otherwise(F.col("content")).alias("content"),
    )
    return multimodal.jpeg_metadata(corrupted).select(
        F.col("media_id").alias("doc_id"),
        "width", "height",
        F.col("precision").alias("sof_precision"),
        "n_components", "n_bytes",
    )


@register(
    "embedding_int8_quantization",
    """
    WITH s AS (
      SELECT i, MAX(ABS(CAST(embedding[i] AS DOUBLE))) AS sc
      FROM embeddings, generate_series(1, 64) gs(i)
      GROUP BY i
    ),
    sl AS (SELECT list(sc ORDER BY i) AS scs FROM s)
    SELECT vec_id,
           array_to_string(list_transform(generate_series(1, len(embedding)),
             i -> CASE WHEN scs[i] > 0
                  THEN CAST(floor(CAST(embedding[i] AS DOUBLE) / scs[i]
                                  * 127 + 0.5) AS INT)
                  ELSE 0 END), ',') AS q,
           ROUND(list_max(list_transform(generate_series(1, len(embedding)),
             i -> ABS(CAST(embedding[i] AS DOUBLE)
                  - (CASE WHEN scs[i] > 0
                     THEN floor(CAST(embedding[i] AS DOUBLE) / scs[i]
                                * 127 + 0.5)
                     ELSE 0 END) * scs[i] / 127))), 6) AS max_abs_err
    FROM embeddings, sl
    """,
)
def embedding_int8_quantization(spark, sf_dir):
    """Symmetric int8 scalar quantization of the embedding table (4x
    storage cut before ANN indexing). Per-dimension scales from one
    posexplode + dim-grain agg (d rows — bounded collect), then a
    MAP-ONLY quantize pass sharing one scalar-broadcast scales array.
    floor(x+0.5) instead of round() pins half-up semantics in both
    engines; float->double widening is exact, so q and the rounded
    per-vector max reconstruction error match bit-for-bit. q is
    emitted comma-joined (scalar string): the driver's canonicalizer
    cannot hash LIST columns (the round-5 red row), and the joined
    form is still byte-exact per vector."""
    from openoa_spark.session import spread_small_input

    vecs = spread_small_input(_t(spark, sf_dir, "embeddings"))
    sq = similarity.scalar_quantize_embeddings(vecs, "embedding", "vec_id")
    return sq.select(
        "vec_id",
        F.array_join(F.col("q").cast("array<string>"), ",").alias("q"),
        "max_abs_err",
    )


_DMG_SQL = {n: s for n, _java, s in text.ENCODING_DAMAGE_PATTERNS}
_DMG_COUNTS = ",\n           ".join(
    f"CAST(length(regexp_extract_all(t, '{s}')) AS BIGINT) AS {n}"
    for n, s in _DMG_SQL.items()
)


@register(
    "encoding_damage_docs",
    f"""
    WITH d AS (
      SELECT doc_id,
             text
               || CASE WHEN doc_id % 11 = 0
                  THEN repeat(chr(65533), CAST(doc_id % 3 + 1 AS INT))
                  ELSE '' END
               || CASE WHEN doc_id % 13 = 0 THEN chr(7) ELSE '' END
               || CASE WHEN doc_id % 17 = 0
                  THEN repeat(chr(195) || chr(169), 2) ELSE '' END AS t
      FROM documents
    )
    SELECT doc_id,
           {_DMG_COUNTS},
           (length(regexp_extract_all(t, '{_DMG_SQL["n_replacement"]}')) >= 1
            OR length(regexp_extract_all(t, '{_DMG_SQL["n_control"]}')) >= 1
            OR length(regexp_extract_all(t, '{_DMG_SQL["n_mojibake"]}')) >= 2)
             AS is_damaged
    FROM d
    """,
)
def encoding_damage_docs(spark, sf_dir):
    """Encoding-damage / mojibake detection (the crawl-hygiene gate):
    per-doc counts of U+FFFD replacement chars, C0 control chars, and
    UTF-8-as-Latin-1 mojibake digraphs, plus an integer-threshold
    verdict. Damage is injected deterministically from doc_id (the
    PII_RULES pattern — testdata text is clean, so the oracle must
    exercise real matches AND real non-matches); patterns are
    Java-regex ∩ RE2 so both engines compile the same expression.
    Map-only, fused into the scan, zero shuffle."""
    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    t = F.col("text")
    t = F.when(
        did % 11 == 0,
        F.concat(t, F.repeat(F.lit("�"), (did % 3 + 1).cast("int"))),
    ).otherwise(t)
    t = F.when(did % 13 == 0, F.concat(t, F.lit("\x07"))).otherwise(t)
    t = F.when(
        did % 17 == 0, F.concat(t, F.lit("Ã©Ã©"))
    ).otherwise(t)
    mut = docs.select("doc_id", t.alias("text"))
    return text.encoding_damage_signals(mut, "text", "doc_id")


@register("bloom_decontaminate_docs", _bloom_decontaminate_sql(3))
def bloom_decontaminate_docs(spark, sf_dir):
    """Bloom-prefiltered EXACT decontamination — same answer as the
    benchmark-overlap join (the oracle IS the plain exact join), but
    the benchmark gram set is carried as a fixed-size packed-long
    bitmap (m_bits/64 longs however many grams it holds) inlined as a
    plan literal, so the corpus pass is MAP-ONLY: gram arrays filtered
    by might-contain in the scan projection. Only the candidate sliver
    (true hits + the ~0.1% bloom false positives) explodes and
    semi-joins the true gram set for exact verification; blooms have
    no false negatives, so the verified counts are exact. This is the
    scale path for benchmark sets too big to broadcast as strings."""
    from openoa_spark.session import spread_small_input

    docs = spread_small_input(_t(spark, sf_dir, "documents"))
    bench = docs.where(F.col("doc_id") % 97 == 0)
    corpus = docs.where(F.col("doc_id") % 97 != 0)
    return text.bloom_decontaminate(
        corpus, bench, "text", "doc_id", n=3, m_bits=1 << 20, k=5
    )


@register(
    "q11_important_stock",
    """
    WITH pv AS (
      SELECT l_partkey,
             SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS v
      FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
      WHERE s_nationkey = 1
      GROUP BY l_partkey
    )
    SELECT l_partkey, CAST(v AS DOUBLE) AS part_value
    FROM pv
    WHERE v > 0.001 * (SELECT SUM(v) FROM pv)
    """,
)
def q11_important_stock(spark, sf_dir):
    """TPC-H Q11 shape (important stock) on the reduced schema: per-
    part shipped value from one nation's suppliers, kept where the
    part's value exceeds a fraction of that nation's total (reference
    uses partsupp supplycost*availqty; no partsupp table here).

    Plan: supplier filter broadcast into lineitem, ONE shuffle to the
    part-grain decimal aggregate; the global total is re-aggregated
    from that tiny per-part table (no second fact scan) and broadcast
    back as a single-row cross join. Exact decimal compare on both
    engines, so the threshold cut is bit-identical."""
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier").where(F.col("s_nationkey") == 1)
    pv = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .groupBy("l_partkey")
        .agg(F.sum(dec("l_extendedprice")).alias("_v"))
    )
    # part-grain (tiny); cut the lineage so the lineitem scan + join +
    # aggregate run once — a broadcast build side gets no
    # ReusedExchange, so without this the fact pass evaluates twice
    pv = pv.localCheckpoint(eager=False)
    total = pv.agg(F.sum("_v").alias("_total"))
    return (
        pv.join(F.broadcast(total))
        .where(F.col("_v") > F.lit(0.001).cast("decimal(4,3)") * F.col("_total"))
        .select("l_partkey", F.col("_v").cast("double").alias("part_value"))
    )


# Mean rounded to the 1e-6 grid in INTEGER micros (half away from
# zero): sum_micros % n == n/2 puts the true mean exactly on a round()
# midpoint for 1-in-n cells, where double round() is engine-dependent
# (see similarity.label_centroids).
_CENTROID_CTE = """
    WITH comps AS (
      SELECT label,
             CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS pos,
             unnest(CAST(embedding AS DOUBLE[])) AS comp
      FROM embeddings
    ),
    sums AS (
      SELECT label, pos,
             CAST(SUM(CAST(ROUND(comp, 6) AS DECIMAL(20,6))) * 1000000
               AS BIGINT) AS sm,
             COUNT(comp) AS n
      FROM comps GROUP BY label, pos
    ),
    cent AS (
      SELECT label, pos,
             CAST(CASE WHEN sm >= 0 THEN (2*sm + n) // (2*n)
                       ELSE -((2*(-sm) + n) // (2*n)) END AS DOUBLE)
             / 1000000.0 AS centroid
      FROM sums
    )
"""


@register(
    "label_centroids",
    _CENTROID_CTE + "SELECT label, pos, centroid FROM cent",
)
def label_centroids_q(spark, sf_dir):
    """IVF centroid fit: per-label mean embedding in long form. One
    hash-agg on (label, pos); map-side combine bounds shuffle volume
    at partitions x labels x dim (see similarity.label_centroids)."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.label_centroids(emb, "embedding", "label")


@register(
    "centroid_distances",
    _CENTROID_CTE + """
    SELECT a.label AS label_a, b.label AS label_b,
           ROUND(sqrt(CAST(CAST(SUM(CAST(
             ROUND((a.centroid - b.centroid) * (a.centroid - b.centroid), 12)
             AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)), 6) AS l2_dist
    FROM cent a JOIN cent b ON a.pos = b.pos AND a.label < b.label
    GROUP BY a.label, b.label
    """,
)
def centroid_distances(spark, sf_dir):
    """IVF cluster-separation matrix: pairwise L2 between label
    centroids. Fact table scanned once; the pair expansion joins two
    broadcast copies of the O(labels x dim) centroid table."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.centroid_pairwise_distances(emb, "embedding", "label")


@register(
    "source_overlap_matrix",
    f"""
    WITH g AS (
      SELECT DISTINCT source AS g,
             unnest(list_transform(
               generate_series(1, len({_SQL_TOKS}) - 2),
               i -> {_SQL_TOKS}[i] || ' ' || {_SQL_TOKS}[i + 1]
                    || ' ' || {_SQL_TOKS}[i + 2])) AS gram
      FROM documents
    ),
    sizes AS (SELECT g, COUNT(*) AS n FROM g GROUP BY g)
    SELECT a.g AS src_a, b.g AS src_b, COUNT(*) AS shared_grams,
           ROUND(CAST(COUNT(*) AS DOUBLE)
                 / (MIN(sa.n) + MIN(sb.n) - COUNT(*)), 6) AS jaccard
    FROM g a
    JOIN g b ON a.gram = b.gram AND a.g < b.g
    JOIN sizes sa ON sa.g = a.g
    JOIN sizes sb ON sb.g = b.g
    GROUP BY a.g, b.g
    """,
)
def source_overlap_matrix(spark, sf_dir):
    """Corpus-level decontamination matrix: pairwise distinct-3-gram
    overlap + Jaccard between sources. Distinct (source, gram) first
    (one shuffle, gram survives once per source), then a self-equi-
    join on gram whose fan-out is bounded by source cardinality."""
    docs = _t(spark, sf_dir, "documents")
    return text.group_shingle_overlap(docs, "text", "source", n=3)


@register(
    "near_dedup_keep_best_docs",
    rf"""
    WITH RECURSIVE mh AS ({_minhash_sql(32, 8, 0.4)}),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM mh
      UNION
      SELECT id_b AS a, id_a AS b FROM mh
    ),
    verts AS (SELECT DISTINCT a FROM edges),
    reach(a, b) AS (
      SELECT a, a FROM verts
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    comp AS (SELECT a AS doc_id, MIN(b) AS component FROM reach GROUP BY a),
    q AS (
      SELECT doc_id,
             ROUND((
               LEAST(CAST(len(toks) AS DOUBLE) / 100.0, 1.0)
               + LEAST(5 * (CAST(len(list_filter(toks,
                   x -> list_contains({_SQL_STOPLIST}, lower(x)))) AS DOUBLE)
                 / len(toks)), 1.0)
               + GREATEST(0.0, 1.0 - 5 * (CAST(length(text)
                   - length(regexp_replace(text, '[^\w\s]', '', 'g')) AS DOUBLE)
                 / length(text)))
             ) / 3.0, 6) AS quality
      FROM (SELECT doc_id, text,
                   regexp_split_to_array(trim(text), '\s+') AS toks
            FROM documents)
    ),
    winners AS (
      SELECT doc_id FROM (
        SELECT c.doc_id,
               ROW_NUMBER() OVER (PARTITION BY c.component
                                  ORDER BY q.quality DESC, c.doc_id) AS rn
        FROM comp c JOIN q ON q.doc_id = c.doc_id)
      WHERE rn = 1
    )
    SELECT doc_id FROM documents
    WHERE doc_id NOT IN (SELECT doc_id FROM comp)
    UNION ALL
    SELECT doc_id FROM winners
    """,
)
def near_dedup_keep_best_docs(spark, sf_dir):
    """Quality-aware near-dedup: per near-dup cluster keep the
    HIGHEST-quality document (tie: lowest id) instead of the lowest
    id — the production corpus-cleaning policy. Arg-max per component
    is one hash-agg of max(struct(score, -id)): no sort, no window
    over the corpus (see dedup.near_dedup_keep_best)."""
    docs = _t(spark, sf_dir, "documents")
    kept = dedup.near_dedup_keep_best(
        docs, "text", "doc_id", text.quality_score("text"),
        num_hashes=32, bands=8, jaccard_threshold=0.4, hash_fn="md5",
    )
    return kept.select("doc_id")


@register(
    "pack_blocks_docs",
    rf"""
    WITH t AS (
      SELECT doc_id,
             {sampling.sql_hash_shard("CAST(doc_id AS VARCHAR)", 8, seed=3)} AS shard,
             CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) AS n_tokens
      FROM documents
    ),
    s AS (
      SELECT doc_id, shard, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS start_offset
      FROM t
    )
    SELECT doc_id, shard, n_tokens, start_offset,
           start_offset // 256 AS block_id,
           start_offset % 256 AS block_offset
    FROM s
    """,
)
def pack_blocks_docs(spark, sf_dir):
    """Sequence-packing manifest: docs hash-sharded, laid head-to-tail
    per shard in id order, chunked into 256-token training blocks.
    One integer window cumsum per shard; block boundaries never cross
    shards, so packing parallelizes with the shard count (see
    sampling.pack_sequences)."""
    docs = _t(spark, sf_dir, "documents")
    return sampling.pack_sequences(
        docs, "doc_id", text.token_count("text"), block_tokens=256,
        num_shards=8, seed=3,
    )


@register(
    "lang_sampling_weights",
    """
    WITH c AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
    t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total FROM c),
    p AS (
      SELECT lang, n_docs,
             CAST(n_docs AS DOUBLE) / total AS nat,
             POW(CAST(n_docs AS DOUBLE) / total, 0.7) AS un
      FROM c, t
    ),
    z AS (SELECT SUM(un) AS zsum FROM p)
    SELECT lang, n_docs,
           ROUND(nat, 6) AS natural_frac,
           ROUND(un / zsum, 6) AS target_frac,
           ROUND((un / zsum) / nat, 6) AS weight
    FROM p, z
    """,
)
def lang_sampling_weights(spark, sf_dir):
    """Temperature resampling mix (target ∝ natural^0.7): per-language
    sampling multipliers for a balanced training mix. One fact-table
    count agg + two one-row scalar broadcasts (see
    sampling.temperature_sampling_weights)."""
    docs = _t(spark, sf_dir, "documents")
    return sampling.temperature_sampling_weights(docs, "lang", alpha=0.7)


@register(
    "percent_rank_daily_user_value",
    """
    WITH d AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             ROUND(SUM(CAST(value AS DECIMAL(20,6))), 6) AS day_value
      FROM events WHERE value IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT user_id, day, CAST(day_value AS DOUBLE) AS day_value,
           ROUND(percent_rank() OVER (
             PARTITION BY day ORDER BY day_value, user_id), 6) AS pr,
           ROUND(cume_dist() OVER (
             PARTITION BY day ORDER BY day_value, user_id), 6) AS cd
    FROM d
    """,
)
def percent_rank_daily_user_value(spark, sf_dir):
    """Relative-standing windows: each user's percent_rank and
    cume_dist among that day's user totals (leaderboard normalization).
    One shuffle to the (user, day) decimal aggregate, one more for the
    per-day window — partitioned by day, so no global sort."""
    ev = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    d = (
        ev.groupBy(
            "user_id", F.col("ts").cast("date").alias("day")
        )
        .agg(F.round(F.sum(F.col("value").cast("decimal(20,6)")), 6)
             .alias("_dv"))
    )
    w = Window.partitionBy("day").orderBy("_dv", "user_id")
    return d.select(
        "user_id",
        "day",
        F.col("_dv").cast("double").alias("day_value"),
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
    )


@register(
    "grouping_sets_revenue",
    f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_extendedprice')} AS revenue, COUNT(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
    """,
)
def grouping_sets_revenue(spark, sf_dir):
    """Arbitrary GROUPING SETS (not expressible as one rollup/cube):
    revenue by returnflag and, separately, by linestatus — one
    logical pass over the fact table (Spark's Expand operator emits a
    row per grouping set, then a single hash aggregate; cheaper than
    unioning two scans)."""
    li = _t(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("_gs_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,4))) AS DOUBLE)
                 AS revenue,
               COUNT(*) AS n
        FROM _gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        """
    )


@register(
    "value_moments_by_type",
    """
    WITH s AS (
      SELECT event_type,
             COUNT(value) AS n,
             CAST(CAST(SUM(CAST(value AS DECIMAL(20,6))) AS VARCHAR) AS DOUBLE) AS s1,
             CAST(CAST(SUM(CAST(ROUND(value * value, 6) AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) AS s2,
             CAST(CAST(SUM(CAST(ROUND(value * value * value, 6) AS DECIMAL(30,6))) AS VARCHAR) AS DOUBLE) AS s3
      FROM events WHERE value IS NOT NULL
      GROUP BY event_type
    )
    SELECT event_type, n,
           ROUND(s1 / n, 6) AS mean,
           ROUND(s2 / n - (s1 / n) * (s1 / n), 6) AS variance,
           ROUND(
             (s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * POW(s1 / n, 3))
             / POW(s2 / n - (s1 / n) * (s1 / n), 1.5), 6) AS skewness
    FROM s
    """,
)
def value_moments_by_type(spark, sf_dir):
    """Distribution moments per group from explicit power sums — ONE
    pass, one shuffle (engine-native skewness/kurtosis differ in bias
    correction across engines, and a naive two-pass mean-then-moments
    plan scans twice; power sums in decimal space are single-pass,
    order-independent, and engine-exact). Powers are rounded to the
    1e-6 grid before the decimal cast — they are derived doubles, the
    one case a direct decimal cast is not cross-engine safe."""
    ev = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    v = F.col("value")
    s = ev.groupBy("event_type").agg(
        F.count(v).alias("n"),
        F.sum(v.cast("decimal(20,6)")).cast("double").alias("_s1"),
        F.sum(F.round(v * v, 6).cast("decimal(25,6)")).cast("double")
          .alias("_s2"),
        F.sum(F.round(v * v * v, 6).cast("decimal(30,6)")).cast("double")
          .alias("_s3"),
    )
    m1 = F.col("_s1") / F.col("n")
    m2 = F.col("_s2") / F.col("n")
    m3 = F.col("_s3") / F.col("n")
    var = m2 - m1 * m1
    return s.select(
        "event_type",
        "n",
        F.round(m1, 6).alias("mean"),
        F.round(var, 6).alias("variance"),
        F.round((m3 - 3 * m1 * m2 + 2 * F.pow(m1, 3)) / F.pow(var, 1.5), 6)
          .alias("skewness"),
    )


@register(
    "full_outer_daily_activity",
    """
    WITH a AS (
      SELECT user_id, COUNT(*) AS n_a FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    b AS (
      SELECT user_id, COUNT(*) AS n_b FROM events
      WHERE event_type = 'purchase' GROUP BY user_id
    )
    SELECT COALESCE(a.user_id, b.user_id) AS user_id,
           COALESCE(n_a, 0) AS n_view,
           COALESCE(n_b, 0) AS n_purchase
    FROM a FULL OUTER JOIN b ON a.user_id = b.user_id
    """,
)
def full_outer_daily_activity(spark, sf_dir):
    """FULL OUTER JOIN shape: per-user view vs purchase counts,
    keeping users present on either side (the activity-reconciliation
    join inner/left shapes can't express). Two aggregates share the
    user_id shuffle key, so the join adds no extra exchange beyond
    the aggregation's own."""
    ev = _t(spark, sf_dir, "events")
    a = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id").agg(F.count(F.lit(1)).alias("n_a"))
    )
    b = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy(F.col("user_id").alias("_uid"))
        .agg(F.count(F.lit(1)).alias("n_b"))
    )
    return a.join(b, a["user_id"] == b["_uid"], "full_outer").select(
        F.coalesce(a["user_id"], F.col("_uid")).alias("user_id"),
        F.coalesce(F.col("n_a"), F.lit(0)).alias("n_view"),
        F.coalesce(F.col("n_b"), F.lit(0)).alias("n_purchase"),
    )


@register(
    "char_entropy_docs",
    """
    WITH chars AS (
      SELECT doc_id, unnest(string_split_regex(text, '')) AS ch
      FROM documents
    ),
    cc AS (
      SELECT doc_id, ch, COUNT(*) AS c FROM chars
      WHERE ch <> '' GROUP BY 1, 2
    ),
    tot AS (SELECT doc_id, SUM(c) AS n FROM cc GROUP BY 1)
    SELECT cc.doc_id,
           ROUND(-SUM((CAST(c AS DOUBLE) / n) * log2(CAST(c AS DOUBLE) / n)),
                 6) AS char_entropy
    FROM cc JOIN tot ON cc.doc_id = tot.doc_id
    GROUP BY cc.doc_id
    """,
)
def char_entropy_docs(spark, sf_dir):
    """Per-doc character-distribution entropy (gibberish/binary/spam
    signal). Spark side is a map-only array fold — zero data-dependent
    shuffles — vs the oracle's explode + two aggregations; at corpus
    scale the shuffle saved IS the cost of the query.
    spread_small_input adds one round-robin exchange ONLY when the
    scan yields fewer partitions than cores (single-file local input),
    so the per-char fold parallelizes; it is a no-op at scale."""
    from openoa_spark.session import spread_small_input

    docs = spread_small_input(_t(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id", text.char_entropy("text").alias("char_entropy")
    )


@register(
    "event_funnel",
    """
    WITH u AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purch
      FROM events GROUP BY user_id
    )
    SELECT COUNT(t_view) AS n_view,
           COUNT(CASE WHEN t_click > t_view THEN 1 END) AS n_view_then_click,
           COUNT(CASE WHEN t_purch > t_click AND t_click > t_view THEN 1 END)
             AS n_full_funnel
    FROM u
    """,
)
def event_funnel(spark, sf_dir):
    """Ordered conversion funnel (view -> click -> purchase): first
    occurrence of each stage per user via conditional MIN — ONE
    shuffle on user_id and a scalar rollup, the scalable funnel
    formulation (no per-stage self-joins, no event-sequence sort)."""
    ev = _t(spark, sf_dir, "events")

    def first_ts(t):
        return F.min(F.when(F.col("event_type") == t, F.col("ts")))

    u = ev.groupBy("user_id").agg(
        first_ts("view").alias("t_view"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_purch"),
    )
    return u.agg(
        F.count("t_view").alias("n_view"),
        F.count(F.when(F.col("t_click") > F.col("t_view"), 1))
          .alias("n_view_then_click"),
        F.count(
            F.when(
                (F.col("t_purch") > F.col("t_click"))
                & (F.col("t_click") > F.col("t_view")),
                1,
            )
        ).alias("n_full_funnel"),
    )


@register(
    "bigram_pmi_top",
    rf"""
    WITH toks AS (
      SELECT unnest({_SQL_TOKS}) AS tok FROM documents
    ),
    uni AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
    tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS a FROM uni),
    bg AS (
      SELECT unnest(list_transform(
               generate_series(1, len({_SQL_TOKS}) - 1),
               i -> {_SQL_TOKS}[i] || ' ' || {_SQL_TOKS}[i + 1])) AS gram
      FROM documents
    ),
    bgc AS (SELECT gram, COUNT(*) AS cb FROM bg GROUP BY gram),
    btot AS (SELECT CAST(SUM(cb) AS DOUBLE) AS b FROM bgc),
    scored AS (
      SELECT gram, cb,
             ROUND(log2((cb / b) /
               ((u1.c / a) * (u2.c / a))), 6) AS pmi
      FROM bgc, tot, btot
      JOIN uni u1 ON u1.tok = string_split(gram, ' ')[1]
      JOIN uni u2 ON u2.tok = string_split(gram, ' ')[2]
      WHERE cb >= 20
    )
    SELECT gram, cb, pmi FROM scored
    ORDER BY pmi DESC, gram LIMIT 20
    """,
)
def bigram_pmi_top(spark, sf_dir):
    """Collocation mining: top-20 bigrams by pointwise mutual
    information (the phrase-detection step of corpus preprocessing).
    Two count aggregates (unigram, bigram) off one scan lineage, then
    the bigram table joins the BROADCAST unigram counts twice — the
    corpus never re-shuffles on token; rank is deterministic
    (round-6 PMI, gram tiebreak)."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(text.tokens("text")).alias("tok"))
    # the two count tables are vocab-sized but their lineage contains
    # the corpus scan + explode — cut each once so the corpus is read
    # exactly twice (once per gram arity), not once per consumer; the
    # totals then roll up from the materialized counts
    uni = toks.groupBy("tok").agg(
        F.count(F.lit(1)).alias("c")
    ).localCheckpoint(eager=False)
    a = uni.agg(F.sum("c").cast("double").alias("_a"))
    bg = docs.select(
        F.explode(text.word_ngrams("text", 2)).alias("gram")
    )
    bgc_all = bg.groupBy("gram").agg(
        F.count(F.lit(1)).alias("cb")
    ).localCheckpoint(eager=False)
    bgc = bgc_all.where(F.col("cb") >= 20)
    b = bgc_all.agg(F.sum("cb").cast("double").alias("_b"))
    w = F.split(F.col("gram"), " ")
    u1 = uni.select(F.col("tok").alias("_t1"), F.col("c").alias("_c1"))
    u2 = uni.select(F.col("tok").alias("_t2"), F.col("c").alias("_c2"))
    scored = (
        bgc.join(F.broadcast(a)).join(F.broadcast(b))
        .join(F.broadcast(u1), w.getItem(0) == F.col("_t1"))
        .join(F.broadcast(u2), w.getItem(1) == F.col("_t2"))
        .select(
            "gram",
            "cb",
            F.round(
                F.log2(
                    (F.col("cb") / F.col("_b"))
                    / ((F.col("_c1") / F.col("_a"))
                       * (F.col("_c2") / F.col("_a")))
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.desc("pmi"), "gram").limit(20)


@register(
    "asof_forward_hourly_value",
    """
    WITH b AS (
      SELECT user_id,
             CAST(date_trunc('hour', min(ts)) AS TIMESTAMP) AS lo,
             CAST(date_trunc('hour', max(ts)) AS TIMESTAMP) AS hi
      FROM events GROUP BY user_id
    ),
    spine AS (
      SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM b
    ),
    dedup AS (
      SELECT user_id, ts, arg_max(value, event_id) AS value
      FROM events GROUP BY user_id, ts
    )
    SELECT s.user_id, s.hour, d.value
    FROM spine s ASOF LEFT JOIN dedup d
      ON s.user_id = d.user_id AND s.hour <= d.ts
    """,
)
def asof_forward_hourly_value(spark, sf_dir):
    """Forward as-of: each hourly spine point takes the NEXT reading
    at or after it (asof_hourly_value's mirror). Same union + keyed
    window shape over a FOLLOWING frame — one shuffle, no range join;
    the oracle rides DuckDB's native ASOF JOIN (the r10 13× campaign
    DNF'd the old correlated-subquery twin; the ASOF form is value-
    identical — verified row-for-row at sf0.01 — and scales)."""
    ev = _t(spark, sf_dir, "events")
    dedup_ev = ev.groupBy("user_id", "ts").agg(
        F.max_by("value", "event_id").alias("value")
    )
    hours = ev.select("user_id", F.date_trunc("hour", "ts").alias("hour"))
    spine = timeseries.calendar_spine(hours, "hour", "h", keys=["user_id"])
    return timeseries.asof_join_forward(
        spine, dedup_ev, "hour", ["value"], keys=["user_id"], right_time_col="ts"
    )


@register(
    "ohlc_daily_user",
    """
    WITH v AS (
      SELECT user_id, CAST(ts AS DATE) AS day, value,
             ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                ORDER BY ts, event_id) AS rn_a,
             ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                ORDER BY ts DESC, event_id DESC) AS rn_z
      FROM events WHERE value IS NOT NULL
    )
    SELECT user_id, day,
           ROUND(MAX(CASE WHEN rn_a = 1 THEN value END), 6) AS open,
           ROUND(MAX(value), 6) AS high,
           ROUND(MIN(value), 6) AS low,
           ROUND(MAX(CASE WHEN rn_z = 1 THEN value END), 6) AS close,
           COUNT(value) AS n
    FROM v GROUP BY 1, 2
    """,
)
def ohlc_daily_user(spark, sf_dir):
    """OHLC rollup: per user-day first/max/min/last value (open-high-
    low-close, the bar-chart aggregation). ONE hash aggregate —
    min_by/max_by over a (ts, event_id) struct replaces the window +
    row_number formulation, so there is no sort anywhere; event_id
    tie-breaks simultaneous readings deterministically."""
    ev = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    order = F.struct(F.col("ts"), F.col("event_id"))
    return ev.groupBy(
        "user_id", F.col("ts").cast("date").alias("day")
    ).agg(
        F.round(F.min_by("value", order), 6).alias("open"),
        F.round(F.max("value"), 6).alias("high"),
        F.round(F.min("value"), 6).alias("low"),
        F.round(F.max_by("value", order), 6).alias("close"),
        F.count("value").alias("n"),
    )


@register(
    "profile_events",
    """
    SELECT 'event_type' AS column, COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_null,
           CAST(MIN(event_type) AS VARCHAR) AS min_str,
           CAST(MAX(event_type) AS VARCHAR) AS max_str
    FROM events
    UNION ALL
    SELECT 'user_id', COUNT(*),
           CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(MIN(user_id) AS VARCHAR), CAST(MAX(user_id) AS VARCHAR)
    FROM events
    """,
)
def profile_events(spark, sf_dir):
    """One-pass data-quality profile (ops variant of describe): all
    per-column aggregates ride a single scan + single aggregate. The
    oracle twin covers the string/integer columns (double→string
    rendering is engine-specific; approx-distinct is sketch-specific
    — both stay in the operator, outside the hash-checked slice)."""
    ev = _t(spark, sf_dir, "events")
    return qa_ops.profile_table(ev, ["event_type", "user_id"]).select(
        "column", "n_rows", "n_null", "min_str", "max_str"
    )


@register(
    "value_drift_psi",
    """
    WITH m AS (
      SELECT (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) // 2 AS mid FROM events
    ),
    ref AS (SELECT value FROM events, m
            WHERE value IS NOT NULL AND epoch_us(ts) < mid),
    cur AS (SELECT value FROM events, m
            WHERE value IS NOT NULL AND epoch_us(ts) >= mid),
    e AS (SELECT quantile_cont(value,
            [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS edges FROM ref),
    rb AS (SELECT len(list_filter((SELECT edges FROM e), x -> value > x)) AS b
           FROM ref),
    cb AS (SELECT len(list_filter((SELECT edges FROM e), x -> value > x)) AS b
           FROM cur),
    rn AS (SELECT COUNT(*) AS n FROM ref),
    cn AS (SELECT COUNT(*) AS n FROM cur),
    buckets AS (SELECT unnest(generate_series(0, 9)) AS b),
    props AS (
      SELECT buckets.b,
             GREATEST(CAST((SELECT COUNT(*) FROM rb WHERE rb.b = buckets.b)
               AS DOUBLE) / (SELECT n FROM rn), 1e-6) AS p_ref,
             GREATEST(CAST((SELECT COUNT(*) FROM cb WHERE cb.b = buckets.b)
               AS DOUBLE) / (SELECT n FROM cn), 1e-6) AS p_cur
      FROM buckets
    )
    SELECT ROUND(SUM((p_cur - p_ref) * ln(p_cur / p_ref)), 6) AS psi,
           (SELECT n FROM rn) AS n_reference,
           (SELECT n FROM cn) AS n_current
    FROM props
    """,
)
def value_drift_psi(spark, sf_dir):
    """Population stability index between the first and second half of
    the events span (the train-vs-serve drift gate): current bucketed
    by the reference's exact decile edges, PSI from the proportion
    deltas. One exact-percentile aggregate + one conditional-count
    aggregate per side — no join, no sort (see
    qa.population_stability_index)."""
    ev = _t(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min(F.unix_micros("ts")).alias("lo"),
        F.max(F.unix_micros("ts")).alias("hi"),
    ).first()
    if bounds["lo"] is None:  # empty input: nothing to compare
        return spark.createDataFrame(
            [], "psi double, n_reference bigint, n_current bigint"
        )
    mid = (bounds["lo"] + bounds["hi"]) // 2
    ref = ev.where(F.unix_micros("ts") < mid)
    cur = ev.where(F.unix_micros("ts") >= mid)
    return qa_ops.population_stability_index(ref, cur, "value")


@register(
    "tokenized_user_activity",
    """
    SELECT substring(sha256('demo-secret|' || CAST(user_id AS VARCHAR)), 1, 16)
             AS user_token,
           COUNT(*) AS n_events
    FROM events
    GROUP BY 1
    """,
)
def tokenized_user_activity(spark, sf_dir):
    """Join-preserving pseudonymization: per-user activity keyed by a
    keyed-hash token instead of the raw id (same (secret, id) -> same
    token, so downstream tables still link; rotate the secret to
    unlink releases). JVM-side sha2 — aggregating on the token costs
    the same one shuffle as aggregating on the id."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        text.tokenize_key("user_id", "demo-secret").alias("user_token")
    ).agg(F.count(F.lit(1)).alias("n_events"))


@register(
    "interpolate_user_values",
    """
    WITH dedup AS (
      SELECT user_id, ts, arg_max(value, event_id) AS value
      FROM events GROUP BY user_id, ts
    ),
    b AS (
      SELECT user_id, ts, value,
             CAST(epoch_us(ts) AS DOUBLE) AS tu,
             last_value(value IGNORE NULLS) OVER w_b AS prev_v,
             last_value(CASE WHEN value IS NOT NULL
               THEN CAST(epoch_us(ts) AS DOUBLE) END IGNORE NULLS)
               OVER w_b AS prev_t,
             first_value(value IGNORE NULLS) OVER w_f AS next_v,
             first_value(CASE WHEN value IS NOT NULL
               THEN CAST(epoch_us(ts) AS DOUBLE) END IGNORE NULLS)
               OVER w_f AS next_t
      FROM dedup
      WINDOW w_b AS (PARTITION BY user_id ORDER BY ts
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             w_f AS (PARTITION BY user_id ORDER BY ts
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, ts,
           ROUND(CASE WHEN value IS NOT NULL THEN value
                 WHEN prev_v IS NOT NULL AND next_v IS NOT NULL
                 THEN prev_v + (next_v - prev_v) * (tu - prev_t)
                      / (next_t - prev_t) END, 6) AS value
    FROM b
    """,
)
def interpolate_user_values(spark, sf_dir):
    """Time-weighted linear interpolation of interior NULL runs per
    user (pandas interpolate(method='time', limit_area='inside')
    semantics): two keyed windows, one shuffle; edges stay null. The
    series is first deduped to (user, ts) grain with the event_id
    tiebreak so window order is engine-deterministic."""
    ev = _t(spark, sf_dir, "events")
    dedup_ev = ev.groupBy("user_id", "ts").agg(
        F.max_by("value", "event_id").alias("value")
    )
    return timeseries.interpolate_linear(
        dedup_ev, "value", "ts", keys=["user_id"], round_digits=6
    )


@register(
    "user_value_trend",
    """
    SELECT user_id,
           ROUND(regr_slope(value,
             CAST(epoch_us(ts) AS DOUBLE) / 3600e6), 6) AS slope_per_hour,
           ROUND(regr_intercept(value,
             CAST(epoch_us(ts) AS DOUBLE) / 3600e6), 6) AS intercept,
           ROUND(regr_r2(value,
             CAST(epoch_us(ts) AS DOUBLE) / 3600e6), 6) AS r2,
           regr_count(value,
             CAST(epoch_us(ts) AS DOUBLE) / 3600e6) AS n
    FROM events WHERE value IS NOT NULL
    GROUP BY user_id
    """,
)
def user_value_trend(spark, sf_dir):
    """Per-key OLS trend (drift/degradation screening across a fleet):
    slope/intercept/R² of value vs time for EVERY user in ONE hash
    aggregate — the built-in regr_* aggregates carry the co-moment
    sums map-side, so a million keys cost the same single shuffle a
    count would. Round-6 (co-moment merges are order-sensitive in the
    last ulps)."""
    ev = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    x = (F.unix_micros("ts").cast("double") / F.lit(3600e6))
    y = F.col("value")
    return ev.groupBy("user_id").agg(
        F.round(F.regr_slope(y, x), 6).alias("slope_per_hour"),
        F.round(F.regr_intercept(y, x), 6).alias("intercept"),
        F.round(F.regr_r2(y, x), 6).alias("r2"),
        F.regr_count(y, x).alias("n"),
    )


@register(
    "near_dup_edit_verified",
    f"""
    WITH mh AS ({_minhash_sql(32, 8, 0.3)}),
    j AS (
      SELECT mh.id_a, mh.id_b, a.text AS ta, b.text AS tb
      FROM mh
      JOIN documents a ON a.doc_id = mh.id_a
      JOIN documents b ON b.doc_id = mh.id_b
    )
    SELECT id_a, id_b,
           levenshtein(ta, tb) AS edit_distance,
           ROUND(1.0 - CAST(levenshtein(ta, tb) AS DOUBLE)
                 / GREATEST(length(ta), length(tb)), 6) AS edit_similarity
    FROM j
    WHERE 1.0 - CAST(levenshtein(ta, tb) AS DOUBLE)
          / GREATEST(length(ta), length(tb)) >= 0.4
    """,
)
def near_dup_edit_verified(spark, sf_dir):
    """Post-LSH exact verification: MinHash candidate pairs re-scored
    by true edit distance (normalized similarity >= 0.4). The standard
    fuzzy-dedup refinement — the O(len^2) Levenshtein kernel runs ONLY
    on LSH candidates (never all pairs), and the pair texts arrive by
    two id-equi-joins against the corpus, so the quadratic step is
    bounded by candidate count."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_near_dup_pairs(
        docs, "text", "doc_id", num_hashes=32, bands=8,
        jaccard_threshold=0.3, hash_fn="md5",
    )
    a = docs.select(F.col("doc_id").alias("_ida"), F.col("text").alias("_ta"))
    b = docs.select(F.col("doc_id").alias("_idb"), F.col("text").alias("_tb"))
    sim = F.lit(1.0) - F.levenshtein("_ta", "_tb") / F.greatest(
        F.length("_ta"), F.length("_tb")
    )
    return (
        pairs.join(a, pairs.id_a == F.col("_ida"))
        .join(b, pairs.id_b == F.col("_idb"))
        .where(sim >= 0.4)
        .select(
            "id_a", "id_b",
            F.levenshtein("_ta", "_tb").alias("edit_distance"),
            F.round(sim, 6).alias("edit_similarity"),
        )
    )


@register(
    "cohort_retention",
    """
    WITH first_day AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id, f.cohort_day,
             date_diff('day', f.cohort_day, CAST(e.ts AS DATE)) AS days_since
      FROM events e JOIN first_day f ON e.user_id = f.user_id
    )
    SELECT cohort_day, days_since, COUNT(*) AS n_active
    FROM activity GROUP BY 1, 2
    """,
)
def cohort_retention(spark, sf_dir):
    """Cohort retention matrix: users grouped by first-seen day, per
    (cohort, days-since-join) distinct-active counts — the standard
    product-retention triangle. One aggregate for cohorts (broadcast
    back), one distinct + count; both shuffles key on user_id/cohort,
    never on raw events."""
    ev = _t(spark, sf_dir, "events")
    # ONE events pass (r11, guide §2.2): cohort_day is functional in
    # user_id, so distinct (user, day) first — the same row set the
    # old join-then-distinct produced — then min-over-user as a window
    # on the already-reduced table; the second fact scan and the
    # user-key join drop out, rows are identical
    ud = ev.select(
        "user_id", F.col("ts").cast("date").alias("_day")
    ).distinct()
    w = Window.partitionBy("user_id")
    activity = ud.select(
        F.min("_day").over(w).alias("cohort_day"),
        F.datediff(F.col("_day"), F.min("_day").over(w)).alias(
            "days_since"
        ),
    )
    return activity.groupBy("cohort_day", "days_since").agg(
        F.count(F.lit(1)).alias("n_active")
    )


@register(
    "dow_hour_heatmap",
    """
    SELECT CAST(dayofweek(ts) AS INT) AS dow,
           CAST(hour(ts) AS INT) AS hod,
           COUNT(*) AS n,
           ROUND(CAST(CAST(SUM(CAST(value AS DECIMAL(20,6))) AS VARCHAR) AS DOUBLE), 6)
             AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def dow_hour_heatmap(spark, sf_dir):
    """Day-of-week × hour-of-day activity heatmap (the calendar
    profile behind load/usage dashboards): one hash aggregate to an
    at-most-168-cell grid. DuckDB dayofweek is 0=Sunday;
    Spark's dayofweek is 1=Sunday — shifted to match."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        (F.dayofweek("ts") - 1).cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hod"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.col("value").cast("decimal(20,6)")).cast("double"), 6)
          .alias("total_value"),
    )


@register(
    "event_gini_by_type",
    """
    WITH u AS (
      SELECT event_type, user_id, COUNT(*) AS c
      FROM events GROUP BY 1, 2
    ),
    r AS (
      SELECT event_type, c,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY c, user_id) AS i,
             COUNT(*) OVER (PARTITION BY event_type) AS n,
             SUM(c) OVER (PARTITION BY event_type) AS s
      FROM u
    )
    SELECT event_type,
           ROUND(CAST(SUM((2.0 * i - n - 1) * c) AS DOUBLE)
                 / (MAX(n) * MAX(s)), 6) AS gini,
           MAX(n) AS n_users
    FROM r GROUP BY event_type
    """,
)
def event_gini_by_type(spark, sf_dir):
    """Activity-concentration Gini per event type (is engagement
    spread out or dominated by a few heavy users?): per-user counts,
    rank window within type (user_id tiebreak for determinism), then
    the closed-form Gini Σ(2i−n−1)c / (n·Σc). Two shuffles — the
    per-user aggregate and the per-type window — both keyed."""
    ev = _t(spark, sf_dir, "events")
    u = ev.groupBy("event_type", "user_id").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("event_type").orderBy("c", "user_id")
    wp = Window.partitionBy("event_type")
    r = u.select(
        "event_type",
        "c",
        F.row_number().over(w).alias("i"),
        F.count(F.lit(1)).over(wp).alias("n"),
        F.sum("c").over(wp).alias("s"),
    )
    return r.groupBy("event_type").agg(
        F.round(
            F.sum((2.0 * F.col("i") - F.col("n") - 1) * F.col("c"))
            .cast("double")
            / (F.max("n") * F.max("s")),
            6,
        ).alias("gini"),
        F.max("n").alias("n_users"),
    )


@register(
    "zipf_slope",
    rf"""
    WITH tf AS (
      SELECT tok, COUNT(*) AS c
      FROM (SELECT unnest({_SQL_TOKS}) AS tok FROM documents)
      GROUP BY tok
    ),
    ranked AS (
      SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS rnk
      FROM tf
    )
    SELECT ROUND(regr_slope(log(CAST(c AS DOUBLE)),
                            log(CAST(rnk AS DOUBLE))), 6) AS zipf_slope,
           ROUND(regr_r2(log(CAST(c AS DOUBLE)),
                         log(CAST(rnk AS DOUBLE))), 6) AS r2,
           COUNT(*) AS n_terms
    FROM ranked
    """,
)
def zipf_slope(spark, sf_dir):
    """Corpus-health check: the log-log slope of the term
    frequency-rank curve (natural text ≈ −1; spam/templated corpora
    deviate). Term counts (one shuffle on token), then a DISTRIBUTED
    global rank: a naive ``Window.orderBy(c desc, tok)`` would sort
    the whole vocabulary in one task (WindowExec warns, and a web
    corpus's vocabulary is 10⁸⁺ terms). Instead rank(t) decomposes as
    offset(c, pfx) + within-group row_number, where pfx is an
    order-preserving 2-char prefix of the token: truncation preserves
    lexicographic order, so (c desc, pfx asc, tok asc) == the original
    total order. The offset table is per-(count, prefix) — bounded by
    |distinct counts| × |prefixes|, orders of magnitude below the
    vocabulary (the only keyless window runs over it, same accepted
    tiny-table pattern as operators/timeseries.py:122) — and the
    within-group window is keyed by (c, pfx), which sub-buckets the
    hapax (c=1) mass that would otherwise skew a c-only key. Finally
    the regr_* co-moment aggregate fits the slope without collecting
    anything."""
    docs = _t(spark, sf_dir, "documents")
    tf = (
        docs.select(F.explode(text.tokens("text")).alias("tok"))
        .groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
        .withColumn("_pfx", F.substring("tok", 1, 2))
    )
    # tf (the explode + token-count shuffle — the dominant cost) feeds
    # BOTH the offset table and the final rank join; checkpoint it so
    # the tokenize/count pipeline executes once, not twice (same
    # lineage-cut pattern as the minhash signature reuse)
    tf = tf.localCheckpoint(eager=False)
    grp = tf.groupBy("c", "_pfx").agg(F.count(F.lit(1)).alias("_n"))
    w_off = (
        Window.orderBy(F.desc("c"), F.asc("_pfx"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = grp.select(
        "c", "_pfx",
        F.coalesce(F.sum("_n").over(w_off), F.lit(0)).alias("_off"),
    )
    w_in = Window.partitionBy("c", "_pfx").orderBy("tok")
    ranked = (
        tf.join(F.broadcast(off), ["c", "_pfx"])
        .select("c", (F.col("_off") + F.row_number().over(w_in)).alias("rnk"))
    )
    return ranked.agg(
        F.round(
            F.regr_slope(F.log(F.col("c").cast("double")),
                         F.log(F.col("rnk").cast("double"))), 6
        ).alias("zipf_slope"),
        F.round(
            F.regr_r2(F.log(F.col("c").cast("double")),
                      F.log(F.col("rnk").cast("double"))), 6
        ).alias("r2"),
        F.count(F.lit(1)).alias("n_terms"),
    )


@register(
    "event_type_transitions",
    """
    WITH s AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    )
    SELECT prev_type, event_type AS next_type, COUNT(*) AS n
    FROM s WHERE prev_type IS NOT NULL
    GROUP BY 1, 2
    """,
)
def event_type_transitions(spark, sf_dir):
    """First-order Markov transition counts between consecutive event
    types per user (the behavioral-model / anomalous-flow input): one
    keyed lag window + one hash aggregate to a |types|² matrix;
    event_id tiebreak keeps the sequence engine-deterministic."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    return (
        s.where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "interarrival_histogram",
    """
    WITH d AS (
      SELECT user_id,
             epoch_us(ts) - LAG(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      FROM events
    )
    SELECT CAST(FLOOR(log2(CAST(gap_us AS DOUBLE) / 1e6 + 1.0)) AS INT)
             AS log2_seconds_bucket,
           COUNT(*) AS n
    FROM d WHERE gap_us IS NOT NULL AND gap_us > 0
    GROUP BY 1
    """,
)
def interarrival_histogram(spark, sf_dir):
    """Inter-arrival-time distribution in log2-second buckets (the
    arrival-process / burstiness profile): keyed lag window + hash
    aggregate to ~40 buckets. log2 on a bucket boundary is safe: the
    input to floor is 1 + integer-seconds-derived, and a last-ulp
    disagreement would need the true value to sit exactly on a power
    of two with a conflicting representation — log2 of such inputs is
    exact in both engines' libm."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
    d = ev.select(gap.alias("gap_us"))
    return (
        d.where(F.col("gap_us").isNotNull() & (F.col("gap_us") > 0))
        .groupBy(
            F.floor(F.log2(F.col("gap_us").cast("double") / 1e6 + 1.0))
            .cast("int")
            .alias("log2_seconds_bucket")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "latest_event_per_user",
    """
    WITH r AS (
      SELECT user_id, ts, event_id, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT user_id, ts AS last_ts, event_id AS last_event_id,
           event_type AS last_event_type, value AS last_value
    FROM r WHERE rn = 1
    """,
)
def latest_event_per_user(spark, sf_dir):
    """Keep-latest survivorship as ONE hash aggregate: max of a
    (ts, event_id, payload...) struct picks the newest row per key by
    lexicographic struct comparison — no window, no sort, full
    map-side partial aggregation. This is the scale-correct shape for
    latest-record dedup over an append-only log (the window/row_number
    form the oracle uses shuffles and sorts every row; the aggregate
    form shuffles one struct per key per map task). event_id breaks
    ts ties before any nullable payload field is ever compared."""
    ev = _t(spark, sf_dir, "events")
    picked = ev.groupBy("user_id").agg(
        F.max(F.struct("ts", "event_id", "event_type", "value")).alias("_s")
    )
    return picked.select(
        "user_id",
        F.col("_s.ts").alias("last_ts"),
        F.col("_s.event_id").alias("last_event_id"),
        F.col("_s.event_type").alias("last_event_type"),
        F.col("_s.value").alias("last_value"),
    )


@register(
    "rolling_zscore_outliers",
    """
    WITH s AS (
      SELECT user_id, ts, event_id, value,
             SUM(CAST(value AS DECIMAL(12,2))) OVER w AS s1,
             SUM(CAST(value AS DECIMAL(12,2))
                 * CAST(value AS DECIMAL(12,2))) OVER w AS s2,
             COUNT(value) OVER w AS n
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, ts, event_id, value,
           ROUND((value - CAST(s1 AS DOUBLE) / n)
                 / sqrt((CAST(s2 AS DOUBLE)
                         - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
                        / (n - 1)), 6) AS z
    FROM s
    WHERE n >= 10
      AND (CAST(s2 AS DOUBLE)
           - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) / (n - 1) > 0
      AND abs((value - CAST(s1 AS DOUBLE) / n)
              / sqrt((CAST(s2 AS DOUBLE)
                      - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
                     / (n - 1))) > 2.5
    """,
)
def rolling_zscore_outliers(spark, sf_dir):
    """Streaming-style anomaly flag: each event's value scored
    against the mean/std of its user's trailing 20 events (the
    self-baselined outlier detector a telemetry QA pipeline runs on
    every metric). One keyed window, deterministic (ts, event_id)
    frame order, and the moments are EXACT decimal sums — value is a
    raw 2-decimal measure, so dec²-products and sums are associative
    and bit-identical across engines/partitionings (functions/stats
    rule); the only float ops are the final division and a correctly
    rounded IEEE sqrt, identical everywhere, with round(6) belt."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-19, 0)
    )
    v = dec("value", 12, 2)
    s = ev.select(
        "user_id", "ts", "event_id", "value",
        F.sum(v).over(w).alias("s1"),
        F.sum(v * v).over(w).alias("s2"),
        F.count("value").over(w).alias("n"),
    )
    s1d = F.col("s1").cast("double")
    var = (F.col("s2").cast("double") - s1d * s1d / F.col("n")) / (
        F.col("n") - 1
    )
    z = (F.col("value") - s1d / F.col("n")) / F.sqrt(var)
    return (
        s.where((F.col("n") >= 10) & (var > 0) & (F.abs(z) > 2.5))
        .select(
            "user_id", "ts", "event_id", "value",
            F.round(z, 6).alias("z"),
        )
    )


@register(
    "rabin_karp_fingerprints",
    """
    SELECT doc_id,
           list_reduce(
             list_prepend(
               CAST(0 AS BIGINT),
               list_transform(
                 list_filter(
                   string_split(regexp_replace(lower(text),
                                               '[^a-z0-9]', '', 'g'), ''),
                   ch -> ch <> ''),
                 ch -> CAST(ascii(ch) AS BIGINT))),
             (acc, code) -> (acc * 31 + code) % 1000000007) AS rk_hash
    FROM documents
    """,
)
def rabin_karp_fingerprints(spark, sf_dir):
    """Polynomial rolling-hash (Rabin-Karp) document fingerprint over
    the normalized text — the content-defined-chunking / shift-robust
    cousin of the md5 fingerprint (text.fingerprint): hash = fold
    (acc·31 + code) mod 1e9+7 over the alphanumeric-lowercase byte
    stream. Pure JVM array fold (F.aggregate), no UDF, no shuffle —
    embarrassingly parallel per document at any scale. Normalization
    restricts codes to ASCII so Spark's and DuckDB's ascii() agree;
    mod keeps the accumulator < 2³¹ so 64-bit products never
    overflow."""
    docs = _t(spark, sf_dir, "documents")
    chars = F.filter(
        F.split(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]", ""), ""
        ),
        lambda ch: ch != F.lit(""),
    )
    rk = F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * F.lit(31) + F.ascii(ch).cast("long"))
        % F.lit(1000000007),
    )
    return docs.select("doc_id", rk.alias("rk_hash"))


@register(
    "price_histogram",
    f"""
    SELECT CAST(FLOOR(l_extendedprice / 5000.0) AS INT) AS bucket,
           COUNT(*) AS n,
           {sql_dsum('l_extendedprice')} AS total_price
    FROM lineitem
    GROUP BY 1
    """,
)
def price_histogram(spark, sf_dir):
    """Equi-width histogram (the profiling primitive behind every
    distribution plot and equi-width binned stat): bucket via floor
    division — one narrow-key hash aggregate with full map-side
    combine, output is O(buckets). Float division and floor are exact
    IEEE ops, identical across engines, so no rounding belt is
    needed on the key; the per-bucket sum uses the decimal-exact
    path."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy(
            F.floor(F.col("l_extendedprice") / 5000.0)
            .cast("int")
            .alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("l_extendedprice").alias("total_price"),
        )
    )


@register(
    "modal_event_type_per_user",
    """
    WITH c AS (
      SELECT user_id, event_type, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    r AS (
      SELECT user_id, event_type, n,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY n DESC, event_type ASC) AS rn
      FROM c
    )
    SELECT user_id, event_type AS modal_type, n AS modal_count
    FROM r WHERE rn = 1
    """,
)
def modal_event_type_per_user(spark, sf_dir):
    """Per-key mode (most frequent value) as TWO hash aggregates and
    zero windows: count per (key, value), then min of a
    (-count, value) struct picks highest-count-then-lexicographic
    deterministically. The aggregate form partial-aggregates map-side
    on both passes; the oracle's row_number form sorts every (key,
    value) group — the same window-vs-aggregate trade as
    latest_event_per_user, at mode semantics."""
    ev = _t(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    picked = c.groupBy("user_id").agg(
        F.min(F.struct((-F.col("n")).alias("_neg"), "event_type", "n"))
        .alias("_s")
    )
    return picked.select(
        "user_id",
        F.col("_s.event_type").alias("modal_type"),
        F.col("_s.n").alias("modal_count"),
    )


@register(
    "state_islands",
    """
    WITH m AS (
      SELECT user_id, event_type AS state, ts, event_id,
             CASE WHEN LAG(event_type) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id)
                  IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
      FROM events
    ),
    g AS (
      SELECT user_id, state, ts,
             SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS grp
      FROM m
    )
    SELECT user_id, state, MIN(ts) AS valid_from, MAX(ts) AS last_seen,
           COUNT(*) AS n_events
    FROM g GROUP BY user_id, state, grp
    """,
)
def state_islands(spark, sf_dir):
    """Gaps-and-islands / SCD2 interval builder: collapse each run of
    consecutive same-state events per user into one (valid_from,
    last_seen, n_events) interval — the change-data-capture →
    dimension-history primitive. Change-flag lag window + running-sum
    island id + hash aggregate; both windows share one (user_id)
    partitioning and (ts, event_id) sort, so Spark plans a single
    shuffle + single sort for the whole query."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    m = ev.select(
        "user_id", F.col("event_type").alias("state"), "ts", "event_id",
        F.when(
            ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type")),
            1,
        ).otherwise(0).alias("chg"),
    )
    g = m.select(
        "user_id", "state", "ts",
        F.sum("chg").over(
            Window.partitionBy("user_id")
            .orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        ).alias("grp"),
    )
    return (
        g.groupBy("user_id", "state", "grp")
        .agg(
            F.min("ts").alias("valid_from"),
            F.max("ts").alias("last_seen"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .drop("grp")
    )


@register(
    "winsorized_quantity_stats",
    """
    WITH b AS (
      SELECT l_returnflag,
             quantile_cont(l_quantity, 0.05) AS lo,
             quantile_cont(l_quantity, 0.95) AS hi
      FROM lineitem GROUP BY 1
    )
    SELECT l.l_returnflag,
           CAST(CAST(SUM(CAST(ROUND(LEAST(GREATEST(l_quantity, lo), hi), 6)
                         AS DECIMAL(20,6))) AS VARCHAR) AS DOUBLE) / COUNT(*)
             AS winsor_mean,
           COUNT(*) AS n
    FROM lineitem l JOIN b USING (l_returnflag)
    GROUP BY 1
    """,
)
def winsorized_quantity_stats(spark, sf_dir):
    """Winsorized (5%/95%-clipped) mean per group — the
    outlier-robust mean a feature pipeline uses where a plain mean is
    skew-hostage. Two passes, both scale-correct: exact grouped
    percentiles reduce to an O(groups) table that broadcast-joins
    back onto the fact scan (no fact shuffle for the join), then one
    decimal-exact hash aggregate. Clipped values are rounded to the
    1e-6 grid before the decimal cast: the boundary is an
    interpolated (derived) double, and round-then-cast is the
    documented safe path for those (functions/stats)."""
    li = _t(spark, sf_dir, "lineitem")
    b = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_quantity, 0.05)").alias("lo"),
        F.expr("percentile(l_quantity, 0.95)").alias("hi"),
    )
    clipped = F.round(
        F.least(F.greatest(F.col("l_quantity"), F.col("lo")), F.col("hi")),
        6,
    ).cast("decimal(20,6)")
    return (
        li.join(F.broadcast(b), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            (F.sum(clipped).cast("double") / F.count(F.lit(1)))
            .alias("winsor_mean"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "dq_checks_events",
    """
    WITH t AS (
      SELECT COUNT(*) AS total,
             CAST(SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS v1,
             COUNT(event_id) - COUNT(DISTINCT event_id) AS v2,
             CAST(SUM(CASE WHEN value NOT BETWEEN 0 AND 1000
                        OR value IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS v3,
             CAST(SUM(CASE WHEN event_type NOT IN
                        ('click','error','purchase','signup','view')
                        OR event_type IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS v4,
             CAST(SUM(CASE WHEN NOT COALESCE(user_id >= 0, FALSE)
                      THEN 1 ELSE 0 END) AS BIGINT) AS v5
      FROM events
    )
    SELECT 'ts_not_null' AS rule, v1 AS violations, total, v1 = 0 AS pass FROM t
    UNION ALL
    SELECT 'event_id_unique', v2, total, v2 = 0 FROM t
    UNION ALL
    SELECT 'value_in_range', v3, total, v3 = 0 FROM t
    UNION ALL
    SELECT 'type_in_set', v4, total, v4 = 0 FROM t
    UNION ALL
    SELECT 'user_id_nonneg', v5, total, v5 = 0 FROM t
    """,
)
def dq_checks_events(spark, sf_dir):
    """Declarative expectation suite over the event log — five rules
    (not-null, uniqueness, range, accepted-set, custom predicate)
    compiled by operators/checks.run_checks into ONE aggregation pass:
    a single scan with map-side partial aggregation no matter how many
    rules are attached, then a stack() unpivot of the 1-row result.
    The gate every ingest job runs before anything downstream."""
    from openoa_spark.operators.checks import Rule, run_checks

    ev = _t(spark, sf_dir, "events")
    return run_checks(
        ev,
        [
            Rule("ts_not_null", "not_null", "ts"),
            Rule("event_id_unique", "unique", "event_id"),
            Rule("value_in_range", "in_range", "value",
                 {"lo": 0, "hi": 1000}),
            Rule("type_in_set", "in_set", "event_type",
                 {"values": ["click", "error", "purchase", "signup",
                             "view"]}),
            Rule("user_id_nonneg", "custom", "user_id",
                 {"predicate": F.col("user_id") >= 0}),
        ],
    )


@register(
    "top_session_paths",
    """
    WITH d AS (
      SELECT user_id, ts, event_id, event_type,
             epoch_us(ts) - epoch_us(lag(ts) OVER (
               PARTITION BY user_id ORDER BY ts)) AS delta_us
      FROM events
    ),
    s AS (
      SELECT user_id, ts, event_id, event_type,
             SUM(CASE WHEN delta_us IS NULL OR delta_us > 1800000000
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM d
    ),
    p AS (
      SELECT user_id, session_id,
             string_agg(event_type, '>' ORDER BY ts, event_id) AS path,
             COUNT(*) AS n_events
      FROM s GROUP BY 1, 2
    )
    SELECT path, COUNT(*) AS n_sessions
    FROM p WHERE n_events BETWEEN 2 AND 8
    GROUP BY 1
    ORDER BY n_sessions DESC, path
    LIMIT 20
    """,
)
def top_session_paths(spark, sf_dir):
    """Navigation-path mining: most common within-session event-type
    sequences (the clickstream / funnel-discovery primitive).
    Gap-sessionize (operators/timeseries.sessionize — one keyed
    window), build each session's path with array_sort over a
    collected (ts, event_id, type) struct — order restored inside the
    aggregate, engine-deterministic, no second window — then count
    paths and TakeOrderedAndProject the global top 20 with a (count
    desc, path) total order. Path length capped at 8 so the group key
    stays bounded; longer sessions are the tail by construction."""
    ev = _t(spark, sf_dir, "events")
    s = timeseries.sessionize(ev, "ts", ["user_id"], gap_seconds=1800.0)
    p = s.groupBy("user_id", "session_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("ts", "event_id", "event_type")
                    )
                ),
                lambda st: st["event_type"],
            ),
            ">",
        ).alias("path"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return (
        p.where(F.col("n_events").between(2, 8))
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(20)
    )


@register(
    "seasonal_residual_outliers",
    """
    WITH m AS (
      SELECT event_type, CAST(EXTRACT(hour FROM ts) AS INT) AS hr,
             SUM(CAST(value AS DECIMAL(12,2))) AS s1,
             SUM(CAST(value AS DECIMAL(12,2))
                 * CAST(value AS DECIMAL(12,2))) AS s2,
             COUNT(value) AS n
      FROM events GROUP BY 1, 2
    ),
    b AS (
      SELECT event_type, hr,
             CAST(s1 AS DOUBLE) / n AS mu,
             sqrt((CAST(s2 AS DOUBLE)
                   - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
                  / (n - 1)) AS sd,
             n
      FROM m
    )
    SELECT e.event_id, e.user_id, e.event_type, b.hr, e.value,
           ROUND((e.value - b.mu) / b.sd, 6) AS resid_z
    FROM events e
    JOIN b ON e.event_type = b.event_type
          AND CAST(EXTRACT(hour FROM e.ts) AS INT) = b.hr
    WHERE b.n >= 30 AND b.sd > 0
      AND abs((e.value - b.mu) / b.sd) > 3.0
    """,
)
def seasonal_residual_outliers(spark, sf_dir):
    """Seasonal-baseline anomaly flag: each value scored against the
    mean/std of its (event_type, hour-of-day) cell — the calendar
    complement of rolling_zscore_outliers' trailing window (diurnal
    patterns are baseline, not anomaly). The baseline is an O(types ×
    24) decimal-exact aggregate that BROADCASTS back onto the fact
    scan, so the fact table is never shuffled; only the final float
    division and an IEEE sqrt run per row."""
    ev = _t(spark, sf_dir, "events")
    hr = F.hour("ts").cast("int")
    v = dec("value", 12, 2)
    m = ev.groupBy("event_type", hr.alias("hr")).agg(
        F.sum(v).alias("s1"),
        F.sum(v * v).alias("s2"),
        F.count("value").alias("n"),
    )
    s1d = F.col("s1").cast("double")
    b = m.select(
        "event_type", "hr",
        (s1d / F.col("n")).alias("mu"),
        F.sqrt(
            (F.col("s2").cast("double") - s1d * s1d / F.col("n"))
            / (F.col("n") - 1)
        ).alias("sd"),
        "n",
    )
    z = (F.col("value") - F.col("mu")) / F.col("sd")
    return (
        ev.withColumn("hr", hr)
        .join(F.broadcast(b), ["event_type", "hr"])
        .where((F.col("n") >= 30) & (F.col("sd") > 0) & (F.abs(z) > 3.0))
        .select(
            "event_id", "user_id", "event_type", "hr", "value",
            F.round(z, 6).alias("resid_z"),
        )
    )


@register(
    "lineitem_corr_matrix",
    """
    WITH m AS (
      SELECT COUNT(*) AS n,
             SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sq,
             SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS sp,
             SUM(CAST(l_discount AS DECIMAL(12,2))) AS sd,
             SUM(CAST(l_quantity AS DECIMAL(12,2))
                 * CAST(l_quantity AS DECIMAL(12,2))) AS sqq,
             SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                 * CAST(l_extendedprice AS DECIMAL(12,2))) AS spp,
             SUM(CAST(l_discount AS DECIMAL(12,2))
                 * CAST(l_discount AS DECIMAL(12,2))) AS sdd,
             SUM(CAST(l_quantity AS DECIMAL(12,2))
                 * CAST(l_extendedprice AS DECIMAL(12,2))) AS sqp,
             SUM(CAST(l_quantity AS DECIMAL(12,2))
                 * CAST(l_discount AS DECIMAL(12,2))) AS sqd,
             SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                 * CAST(l_discount AS DECIMAL(12,2))) AS spd
      FROM lineitem
    )
    SELECT n,
           ROUND((n * CAST(sqp AS DOUBLE)
                  - CAST(sq AS DOUBLE) * CAST(sp AS DOUBLE))
                 / sqrt((n * CAST(sqq AS DOUBLE)
                         - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
                        * (n * CAST(spp AS DOUBLE)
                           - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE))),
                 6) AS corr_qty_price,
           ROUND((n * CAST(sqd AS DOUBLE)
                  - CAST(sq AS DOUBLE) * CAST(sd AS DOUBLE))
                 / sqrt((n * CAST(sqq AS DOUBLE)
                         - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
                        * (n * CAST(sdd AS DOUBLE)
                           - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE))),
                 6) AS corr_qty_disc,
           ROUND((n * CAST(spd AS DOUBLE)
                  - CAST(sp AS DOUBLE) * CAST(sd AS DOUBLE))
                 / sqrt((n * CAST(spp AS DOUBLE)
                         - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE))
                        * (n * CAST(sdd AS DOUBLE)
                           - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE))),
                 6) AS corr_price_disc
    FROM m
    """,
)
def lineitem_corr_matrix(spark, sf_dir):
    """Pairwise Pearson correlation matrix of the lineitem measures in
    ONE aggregation pass: all co-moments as exact decimal sums (raw
    2-decimal factors multiplied in decimal space — associative,
    engine- and partitioning-independent), correlations assembled from
    them in float afterward. The feature-selection / multicollinearity
    screen at 100 TB costs exactly one scan — never one pass per
    pair like naive corr() loops."""
    li = _t(spark, sf_dir, "lineitem")
    q, p, d = (dec(c, 12, 2) for c in
               ("l_quantity", "l_extendedprice", "l_discount"))
    m = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(q).alias("sq"), F.sum(p).alias("sp"), F.sum(d).alias("sd"),
        F.sum(q * q).alias("sqq"), F.sum(p * p).alias("spp"),
        F.sum(d * d).alias("sdd"), F.sum(q * p).alias("sqp"),
        F.sum(q * d).alias("sqd"), F.sum(p * d).alias("spd"),
    )

    def corr(sxy, sx, sy, sxx, syy):
        n = F.col("n")
        num = n * F.col(sxy).cast("double") - F.col(sx).cast(
            "double"
        ) * F.col(sy).cast("double")
        vx = n * F.col(sxx).cast("double") - F.col(sx).cast(
            "double"
        ) * F.col(sx).cast("double")
        vy = n * F.col(syy).cast("double") - F.col(sy).cast(
            "double"
        ) * F.col(sy).cast("double")
        return F.round(num / F.sqrt(vx * vy), 6)

    return m.select(
        "n",
        corr("sqp", "sq", "sp", "sqq", "spp").alias("corr_qty_price"),
        corr("sqd", "sq", "sd", "sqq", "sdd").alias("corr_qty_disc"),
        corr("spd", "sp", "sd", "spp", "sdd").alias("corr_price_disc"),
    )


@register(
    "customer_rfm_segments",
    f"""
    WITH rfm AS (
      SELECT o_custkey,
             MAX(o_orderdate) AS last_order,
             COUNT(*) AS frequency,
             {sql_dsum('o_totalprice')} AS monetary
      FROM orders GROUP BY 1
    )
    SELECT NTILE(4) OVER (ORDER BY last_order, o_custkey) AS r_quartile,
           NTILE(4) OVER (ORDER BY frequency, o_custkey) AS f_quartile,
           NTILE(4) OVER (ORDER BY monetary, o_custkey) AS m_quartile,
           o_custkey, frequency
    FROM rfm
    """,
)
def customer_rfm_segments(spark, sf_dir):
    """RFM (recency/frequency/monetary) quartile segmentation — the
    standard customer-scoring shape, WITHOUT the standard keyless
    ``ntile() OVER (ORDER BY …)``: a window partition is the unit AQE
    cannot split, so a global ntile serializes the whole customer
    table onto one task — and in this engine's 100-TB story the user
    table grows with the corpus (r9 verdict item 3). Instead each
    metric is tie-broken into a UNIQUE numeric composite
    (metric·10¹² + custkey — the exact order NTILE's
    ``ORDER BY metric, o_custkey`` sorts by), globally ranked by
    :func:`keyed_row_number` (grid-bucketed: per-bucket windows plus a
    ≤64-row bucket-offset prefix — no unbounded single partition), and
    the NTILE bucket recovered closed-form from (rank, total) via
    :func:`ntile_from_rank`. Boundary ties are pinned: the composite
    is unique, so every quartile edge is engine-deterministic. The
    fact scan still reduces to one row per customer first (hash
    aggregate, decimal-exact monetary).

    r11 plan diet (guide §2.4 — remove shuffles outright): the three
    metrics used to run three SEPARATE keyed_row_number pipelines over
    three recomputations of ``rfm`` plus three customer-grain
    join-backs — 28 exchanges, the heaviest plan in the registry.
    Now ``rfm`` is lazily checkpointed (materialized exactly once, by
    the grid-probe action keyed_row_number issues anyway), the three
    composites are UNPIVOTED into one (custkey, metric, composite)
    table, ranked by ONE keyed_row_number run with keys=[metric]
    (the three composite ranges are disjoint, so the global value
    grid still splits every metric across ~n_buckets/3 buckets), and
    the quartiles are pivoted back by a single customer-grain
    aggregate that also carries ``frequency`` — no join-back at all.
    Per-metric rank and NTILE math are unchanged, so the output is
    row-identical to the three-pipeline shape (oracle-checked)."""
    from openoa_spark.functions.stats import (
        keyed_row_number,
        ntile_from_rank,
    )

    o = _t(spark, sf_dir, "orders")
    rfm = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        dsum("o_totalprice").alias("monetary"),
    ).localCheckpoint(eager=False)
    n_df = rfm.agg(F.count(F.lit(1)).alias("_n"))

    def composite(metric_int: Column, out: str) -> Column:
        # metric·10¹² + custkey: exact in decimal(38,0), unique, and
        # order-identical to (metric ASC, o_custkey ASC) — but ONLY
        # while the key stays below the 10¹² packing stride and the
        # metric is integer-exact in double (|m| < 2⁵³; for m_quartile
        # the metric is the cent-grain monetary, so this bounds totals
        # at ~90 trillion currency units per customer). Out of range
        # the composite would merge adjacent metric values and shift
        # quartile edges SILENTLY (r10 ADVICE) — guard per row so it
        # raises loudly instead; the predicate is columnar and folds
        # into the same projection, no extra job.
        bad = (
            (F.col("o_custkey") < 0)
            | (F.col("o_custkey") >= F.lit(10**12))
            | (F.abs(metric_int) >= F.lit(float(2**53)))
        )
        comp = (
            metric_int.cast("decimal(38,0)") * F.lit(10**12)
            + F.col("o_custkey")
        ).cast("decimal(38,0)")
        return F.when(
            bad,
            F.raise_error(
                F.lit(
                    f"rfm composite for {out} out of exact range "
                    "(custkey must be in [0, 10^12) and |metric| < 2^53)"
                )
            ).cast("decimal(38,0)"),
        ).otherwise(comp)

    comps = [
        composite(
            F.datediff("last_order", F.lit(datetime.date(1970, 1, 1))),
            "r_quartile",
        ),
        composite(F.col("frequency"), "f_quartile"),
        composite(F.col("monetary") * F.lit(100), "m_quartile"),
    ]
    un = rfm.select(
        "o_custkey",
        "frequency",
        F.inline(
            F.array(*[
                F.struct(F.lit(i).alias("_mid"), c.alias("_ord"))
                for i, c in enumerate(comps)
            ])
        ),
    )
    ranked = keyed_row_number(un, ["_mid"], "_ord", "_gr", n_buckets=192)
    q = ranked.crossJoin(F.broadcast(n_df)).select(
        "o_custkey",
        "frequency",
        "_mid",
        ntile_from_rank(F.col("_gr"), F.col("_n"), 4).alias("_q"),
    )
    return q.groupBy("o_custkey").agg(
        F.max(F.when(F.col("_mid") == 0, F.col("_q"))).alias("r_quartile"),
        F.max(F.when(F.col("_mid") == 1, F.col("_q"))).alias("f_quartile"),
        F.max(F.when(F.col("_mid") == 2, F.col("_q"))).alias("m_quartile"),
        F.first("frequency").alias("frequency"),
    ).select(
        "r_quartile", "f_quartile", "m_quartile",
        "o_custkey", "frequency",
    )


@register(
    "monthly_revenue_growth",
    f"""
    WITH m AS (
      SELECT date_trunc('month', o_orderdate) AS month,
             {sql_dsum('o_totalprice')} AS revenue
      FROM orders GROUP BY 1
    )
    SELECT month, revenue,
           ROUND(revenue / LAG(revenue) OVER (ORDER BY month) - 1.0, 6)
             AS mom_growth
    FROM m
    """,
)
def monthly_revenue_growth(spark, sf_dir):
    """Month-over-month growth: the fact table collapses to an
    O(months) aggregate (decimal-exact revenue) before the lag window
    touches anything — the keyless window runs over ≤ a few hundred
    rows (accepted tiny-table pattern), never the order log. Growth
    ratio is a float division of two exact decimals, identical across
    engines, rounded as belt."""
    o = _t(spark, sf_dir, "orders")
    m = o.groupBy(
        # F.trunc returns DATE (matching DuckDB's date_trunc on a
        # DATE input); F.date_trunc would return TIMESTAMP
        F.trunc("o_orderdate", "month").alias("month")
    ).agg(dsum("o_totalprice").alias("revenue"))
    w = Window.orderBy("month")
    return m.select(
        "month", "revenue",
        F.round(F.col("revenue") / F.lag("revenue").over(w) - 1.0, 6)
        .alias("mom_growth"),
    )


@register(
    "doc_chunks",
    """
    SELECT doc_id, u AS chunk_start, substr(text, u + 1, 200) AS chunk
    FROM (
      SELECT doc_id, text,
             unnest(generate_series(
               0, CAST(greatest(length(text) - 1, 0) AS BIGINT), 150))
               AS u
      FROM documents WHERE text IS NOT NULL
    )
    """,
)
def doc_chunks(spark, sf_dir):
    """RAG-style document chunking: overlapping 200-char windows at
    stride 150 (50-char overlap so no boundary-straddling content is
    lost) via sequence + explode + substring — map-side only, zero
    shuffle, embarrassingly parallel at any corpus size. The
    token-grain equivalent reuses the same shape with
    datapipe.text.tokens offsets; sequence packing of the chunks is
    datapipe.sampling.pack_sequences."""
    docs = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    return docs.select(
        "doc_id",
        F.explode(
            F.sequence(
                F.lit(0).cast("long"),
                F.greatest(F.length("text") - 1, F.lit(0)).cast("long"),
                F.lit(150).cast("long"),
            )
        ).alias("chunk_start"),
        "text",
    ).select(
        "doc_id",
        "chunk_start",
        F.expr("substr(text, chunk_start + 1, 200)").alias("chunk"),
    )


@register(
    "nation_share_of_region",
    f"""
    WITH nrev AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             {sql_dsum('o.o_totalprice')} AS revenue
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY 1, 2
    )
    SELECT region, nation, revenue,
           ROUND(revenue / SUM(revenue) OVER (PARTITION BY region), 6)
             AS share_of_region
    FROM nrev
    """,
)
def nation_share_of_region(spark, sf_dir):
    """Hierarchical share-of-parent: nation revenue as a fraction of
    its region's total. The fact scan joins only BROADCAST dimensions
    (customer→nation→region) and collapses to an O(nations) rollup
    before the share window runs — the window is partitioned at
    region grain over ≤ 25 rows, never over the fact table. Share is
    a float ratio of two exact decimal sums, identical across
    engines."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    nrev = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy(
            F.col("r_name").alias("region"), F.col("n_name").alias("nation")
        )
        .agg(dsum("o_totalprice").alias("revenue"))
    )
    w = Window.partitionBy("region")
    return nrev.select(
        "region", "nation", "revenue",
        F.round(F.col("revenue") / F.sum("revenue").over(w), 6)
        .alias("share_of_region"),
    )


@register(
    "event_type_cooccurrence",
    """
    WITH ut AS (
      SELECT DISTINCT user_id, event_type FROM events
    )
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           COUNT(*) AS n_users
    FROM ut a JOIN ut b
      ON a.user_id = b.user_id AND a.event_type < b.event_type
    GROUP BY 1, 2
    """,
)
def event_type_cooccurrence(spark, sf_dir):
    """Market-basket co-occurrence: how many users exhibit each PAIR
    of event types. Distinct (user, type) first — the self-join fans
    out per user only over their distinct types (≤ |types|, bounded),
    never over raw events, and the output is the |types|² matrix.
    The association-rule / cross-feature input at any scale."""
    ev = _t(spark, sf_dir, "events")
    # (user, type) grain — bounded by users × |types|; cut the lineage
    # so the events scan + distinct run once, not once per self-join
    # side (the sides never canonicalize equal, so no ReusedExchange)
    ut = ev.select("user_id", "event_type").distinct().localCheckpoint(
        eager=False
    )
    a = ut.alias("a")
    b = ut.alias("b")
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@register(
    "hourly_active_users",
    """
    SELECT date_trunc('hour', ts) AS hour,
           COUNT(DISTINCT user_id) AS active_users,
           COUNT(*) AS n_events
    FROM events GROUP BY 1
    """,
)
def hourly_active_users(spark, sf_dir):
    """HAU/DAU-style activity series: exact distinct users per hour.
    Spark plans COUNT(DISTINCT) as expand + two-phase aggregate —
    still one scan, partial aggregation map-side; for corpus-scale
    distinct-over-windows the mergeable-sketch path
    (datapipe.sketches.hll_rollup) is the documented alternative with
    rollup-without-rescan semantics."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(F.date_trunc("hour", "ts").alias("hour")).agg(
        F.count_distinct(F.col("user_id")).alias("active_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "first_touch_attribution",
    """
    WITH r AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events WHERE ts IS NOT NULL
    ),
    f AS (
      SELECT r.user_id,
             MAX(CASE WHEN rn = 1 THEN event_type END) AS first_type,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS converted
      FROM r GROUP BY 1
    )
    SELECT first_type, COUNT(*) AS n_users,
           CAST(SUM(converted) AS BIGINT) AS n_converted,
           ROUND(CAST(SUM(converted) AS DOUBLE) / COUNT(*), 6)
             AS conversion_rate
    FROM f GROUP BY 1
    """,
)
def first_touch_attribution(spark, sf_dir):
    """First-touch attribution: per acquisition channel (the user's
    FIRST event type), how many users eventually purchase. Two hash
    aggregates, zero windows: the first touch is a struct-min over
    (ts, event_id, type) — same aggregate-instead-of-window trade as
    latest_event_per_user — and conversion is a conditional max in
    the same pass over the per-user rollup. NULL-ts rows are excluded
    up front: Spark's struct-min would sort a NULL ts FIRST while the
    oracle's ORDER BY ts defaults to NULLS LAST, so the filter pins
    both engines to the same (well-defined) semantics."""
    ev = _t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    f = ev.groupBy("user_id").agg(
        F.min(F.struct("ts", "event_id", "event_type"))["event_type"]
        .alias("first_type"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted"),
    )
    return f.groupBy("first_type").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("converted").alias("n_converted"),
        F.round(
            F.sum("converted").cast("double") / F.count(F.lit(1)), 6
        ).alias("conversion_rate"),
    )


@register(
    "behavior_cohorts",
    """
    WITH u AS (
      SELECT user_id,
             array_to_string(list_sort(list(DISTINCT event_type)), ',')
               AS type_set
      FROM events WHERE EXTRACT(day FROM ts) <= 2 GROUP BY 1
    )
    SELECT type_set, COUNT(*) AS n_users
    FROM u GROUP BY 1
    """,
)
def behavior_cohorts(spark, sf_dir):
    """Set-valued cohorting: group users by their exact SET of event
    types in an early-window slice (the canonical 'identical behavior fingerprint' shape).
    collect_set + sort_array canonicalizes the set inside one hash
    aggregate — order-insensitive and engine-deterministic — then a
    second narrow aggregate counts fingerprint frequencies. Both
    aggregates partial-combine map-side; the fingerprint domain is
    2^|types|, bounded regardless of user count."""
    ev = _t(spark, sf_dir, "events").where(F.dayofmonth("ts") <= 2)
    u = ev.groupBy("user_id").agg(
        F.array_join(
            F.sort_array(F.collect_set("event_type")), ","
        ).alias("type_set")
    )
    return u.groupBy("type_set").agg(F.count(F.lit(1)).alias("n_users"))


@register(
    "quantity_weighted_avg_price",
    """
    SELECT l_returnflag,
           ROUND(CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                          * CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE)
                 / CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE),
                 6) AS wavg_price,
           COUNT(*) AS n
    FROM lineitem GROUP BY 1
    """,
)
def quantity_weighted_avg_price(spark, sf_dir):
    """Weighted mean (weights from a second column) with both the
    numerator product and the sums in exact decimal space — one hash
    aggregate, full map-side combine, engine/partitioning-independent
    down to the final float division."""
    li = _t(spark, sf_dir, "lineitem")
    p, q = dec("l_extendedprice", 12, 2), dec("l_quantity", 12, 2)
    return li.groupBy("l_returnflag").agg(
        F.round(
            F.sum(p * q).cast("double") / F.sum(q).cast("double"), 6
        ).alias("wavg_price"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "active_users_grouping_sets",
    """
    SELECT event_type, CAST(EXTRACT(dow FROM ts) AS INT) AS dow,
           COUNT(DISTINCT user_id) AS active_users
    FROM events
    GROUP BY GROUPING SETS ((event_type), (dow), (event_type, dow))
    """,
)
def active_users_grouping_sets(spark, sf_dir):
    """Distinct-count across three grains in one statement: GROUPING
    SETS expands each row to its grouping combinations and the
    distinct aggregate adds its own expand — Spark plans the composed
    expansion as one scan + two-phase aggregate, which is the point:
    three separate distinct-count queries would scan three times.
    DOW numbering: Spark's dayofweek is 1=Sunday..7, DuckDB's dow is
    0=Sunday..6 — aligned by subtracting 1."""
    ev = _t(spark, sf_dir, "events")
    ev.select(
        "user_id", "event_type",
        (F.dayofweek("ts") - 1).cast("int").alias("dow"),
    ).createOrReplaceTempView("_au_events")
    return spark.sql(
        """
        SELECT event_type, dow,
               COUNT(DISTINCT user_id) AS active_users
        FROM _au_events
        GROUP BY GROUPING SETS ((event_type), (dow), (event_type, dow))
        """
    )


@register(
    "mad_by_type",
    """
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events WHERE value IS NOT NULL GROUP BY 1
    )
    SELECT e.event_type,
           ROUND(MIN(m.med), 6) AS median_value,
           ROUND(quantile_cont(abs(e.value - m.med), 0.5), 6) AS mad
    FROM events e JOIN med m ON e.event_type = m.event_type
    WHERE e.value IS NOT NULL
    GROUP BY 1
    """,
)
def mad_by_type(spark, sf_dir):
    """Median absolute deviation per group — the robust spread
    estimator behind the reference's mad-mode bin_filter
    (operators/filters.bin_filter), exposed as a standalone rollup.
    Two passes by necessity (MAD is defined on deviations from the
    median): each pass is an exact grouped percentile, and the
    O(groups) median table broadcast-joins back onto the fact scan
    in between. abs() of a double difference is exact IEEE both
    engines."""
    ev = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    return (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.min("med"), 6).alias("median_value"),
            F.round(
                F.expr("percentile(abs(value - med), 0.5)"), 6
            ).alias("mad"),
        )
    )


# ================================================================
# 18. Round-4 additions: weighted/split sampling, KS drift, dedup
#     cluster audit, measured ANN recall.
# ================================================================


@register(
    "weighted_sample_docs",
    f"""
    SELECT doc_id, lang, n_chars FROM documents
    WHERE {sampling.sql_weighted_sample_pred(
        "CAST(doc_id AS VARCHAR)", "n_chars", 0.3, 1000.0, seed=11)}
    """,
)
def weighted_sample_docs(spark, sf_dir):
    """Deterministic weighted (Poisson) sampling: inclusion
    probability = min(1, 0.3 * n_chars / 1000) decided by a content
    hash — long documents kept proportionally more often (the
    char-budgeted subcorpus builder). Pure codegen'd filter on the
    scan, membership reproducible across runs/engines/partitionings;
    the per-row threshold stays in integer hash space (see
    sampling.weighted_hash_sample)."""
    docs = _t(spark, sf_dir, "documents")
    return sampling.weighted_hash_sample(
        docs, "doc_id", "n_chars", 0.3, 1000.0, seed=11
    ).select("doc_id", "lang", "n_chars")


_LEAK_SPLIT_EXPR = sampling.sql_hash_split(
    "CAST(COALESCE(c.component, d.doc_id) AS VARCHAR)", seed=17
)


@register(
    "leakage_safe_split_docs",
    f"""
    WITH RECURSIVE mh AS ({_minhash_sql(32, 8, 0.4)}),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM mh
      UNION
      SELECT id_b AS a, id_a AS b FROM mh
    ),
    verts AS (SELECT DISTINCT a FROM edges),
    reach(a, b) AS (
      SELECT a, a FROM verts
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    comp AS (SELECT a AS doc_id, MIN(b) AS component FROM reach GROUP BY a)
    SELECT d.doc_id,
           COALESCE(c.component, d.doc_id) AS split_rep,
           {_LEAK_SPLIT_EXPR} AS split
    FROM documents d LEFT JOIN comp c USING (doc_id)
    """,
)
def leakage_safe_split_docs(spark, sf_dir):
    """Near-duplicate-aware train/val/test split: the hash split keys
    on the near-dup CLUSTER representative (LSH pairs -> connected
    components -> min id), so a paraphrased copy of a training
    document can never land in test — the leakage mode a plain
    per-document hash split permits and the reason eval scores inflate
    on carelessly split corpora. Unpaired docs (the vast majority) key
    on their own id with zero extra shuffle; the oracle replays the
    full LSH + recursive-CTE component labeling + md5 split hash."""
    docs = _t(spark, sf_dir, "documents")
    out = sampling.leakage_safe_split(
        docs, "text", "doc_id", seed=17,
        num_hashes=32, bands=8, jaccard_threshold=0.4, hash_fn="md5",
    )
    return out.select("doc_id", "split_rep", "split")


@register(
    "train_val_test_split_docs",
    f"""
    SELECT {sampling.sql_hash_split("CAST(doc_id AS VARCHAR)", seed=13)}
             AS split,
           lang, COUNT(*) AS n,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY 1, 2
    """,
)
def train_val_test_split_docs(spark, sf_dir):
    """Deterministic 80/10/10 train/val/test assignment from a content
    hash: a document's split NEVER changes when the corpus is rebuilt,
    repartitioned, or incrementally extended — the property that
    prevents test-set leakage across retraining runs. One codegen'd
    CASE over the hash + one aggregate to audit the per-language
    balance."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.withColumn("split", sampling.hash_split("doc_id", seed=13))
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )


@register(
    "ks_value_drift",
    """
    WITH m AS (
      SELECT (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) // 2 AS mid FROM events
    ),
    ref AS (SELECT value FROM events, m
            WHERE value IS NOT NULL AND epoch_us(ts) < mid),
    cur AS (SELECT value FROM events, m
            WHERE value IS NOT NULL AND epoch_us(ts) >= mid),
    e AS (SELECT quantile_cont(value,
            [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS edges FROM ref),
    rn AS (SELECT COUNT(*) AS n FROM ref),
    cn AS (SELECT COUNT(*) AS n FROM cur),
    grid AS (SELECT unnest(generate_series(1, 9)) AS j),
    d AS (
      SELECT grid.j,
             ABS(
               CAST((SELECT COUNT(*) FROM ref
                     WHERE value <= (SELECT edges[grid.j] FROM e))
                    AS DOUBLE) / (SELECT n FROM rn)
               - CAST((SELECT COUNT(*) FROM cur
                       WHERE value <= (SELECT edges[grid.j] FROM e))
                      AS DOUBLE) / (SELECT n FROM cn)
             ) AS diff
      FROM grid
    )
    SELECT ROUND(MAX(diff), 6) AS ks,
           (SELECT n FROM rn) AS n_reference,
           (SELECT n FROM cn) AS n_current
    FROM d
    """,
)
def ks_value_drift(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov drift between the first and
    second half of the events span, evaluated on the reference's exact
    decile grid — PSI's companion gate (PSI weights proportional
    shifts, KS catches a localized CDF gap). One exact-percentile
    aggregate + one conditional-count aggregate per side; no global
    sort of either sample (see qa.ks_statistic)."""
    ev = _t(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min(F.unix_micros("ts")).alias("lo"),
        F.max(F.unix_micros("ts")).alias("hi"),
    ).first()
    if bounds["lo"] is None:
        return spark.createDataFrame(
            [], "ks double, n_reference bigint, n_current bigint"
        )
    mid = (bounds["lo"] + bounds["hi"]) // 2
    ref = ev.where(F.unix_micros("ts") < mid)
    cur = ev.where(F.unix_micros("ts") >= mid)
    return qa_ops.ks_statistic(ref, cur, "value")


@register(
    "near_dup_cluster_sizes",
    f"""
    WITH RECURSIVE mh AS ({_minhash_sql(32, 8, 0.4)}),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM mh
      UNION
      SELECT id_b AS a, id_a AS b FROM mh
    ),
    verts AS (SELECT DISTINCT a FROM edges),
    reach(a, b) AS (
      SELECT a, a FROM verts
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    comp AS (SELECT a AS doc_id, MIN(b) AS component FROM reach GROUP BY a),
    sizes AS (SELECT component, COUNT(*) AS cluster_size FROM comp GROUP BY 1)
    SELECT cluster_size, COUNT(*) AS n_clusters
    FROM sizes GROUP BY 1
    """,
)
def near_dup_cluster_sizes(spark, sf_dir):
    """Dedup-audit histogram: size distribution of the MinHash-LSH
    near-duplicate clusters (how much of the corpus is 2-way vs
    100-way duplicated — the number that decides whether dedup is
    worth its cost and catches template explosions). Reuses the
    candidate-pair + pointer-doubling components machinery; the
    histogram itself is two tiny aggregates over the (doc, component)
    labels."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_near_dup_pairs(
        docs, "text", "doc_id", num_hashes=32, bands=8,
        jaccard_threshold=0.4, hash_fn="md5",
    )
    comp = dedup.connected_components(pairs)
    return (
        comp.groupBy("component")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
    )


def _ann_recall_sql(planes: list[list[float]], k: int) -> str:
    terms = " + ".join(
        f"(CASE WHEN round(list_dot_product(CAST(embedding AS DOUBLE[]), "
        f"[{', '.join(repr(x) for x in p)}]), 6) > 0 THEN {2 ** i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    qpred = sampling.sql_hash_sample_pred("CAST(vec_id AS VARCHAR)", 0.1, seed=5)
    return f"""
    WITH q AS (SELECT vec_id FROM embeddings WHERE {qpred}),
    b AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             CAST({terms} AS BIGINT) AS bucket
      FROM embeddings
    ),
    exact AS (
      SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
             row_number() OVER (
               PARTITION BY a.vec_id
               ORDER BY ROUND(list_dot_product(a.v, b2.v)
                        / (sqrt(list_dot_product(a.v, a.v))
                           * sqrt(list_dot_product(b2.v, b2.v))), 6) DESC,
                        b2.vec_id
             ) AS rn
      FROM b a JOIN q ON a.vec_id = q.vec_id
      JOIN b b2 ON b2.vec_id <> a.vec_id
    ),
    approx AS (
      SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
             row_number() OVER (
               PARTITION BY a.vec_id
               ORDER BY ROUND(list_dot_product(a.v, b2.v)
                        / (sqrt(list_dot_product(a.v, a.v))
                           * sqrt(list_dot_product(b2.v, b2.v))), 6) DESC,
                        b2.vec_id
             ) AS rn
      FROM b a JOIN q ON a.vec_id = q.vec_id
      JOIN b b2 ON b2.bucket = a.bucket AND b2.vec_id <> a.vec_id
    ),
    et AS (SELECT id_a, id_b FROM exact WHERE rn <= {k}),
    at2 AS (SELECT id_a, id_b FROM approx WHERE rn <= {k})
    SELECT et.id_a,
           CAST(SUM(CASE WHEN at2.id_b IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hit,
           ROUND(CAST(SUM(CASE WHEN at2.id_b IS NOT NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / {float(k)!r}, 6) AS recall
    FROM et LEFT JOIN at2 ON et.id_a = at2.id_a AND et.id_b = at2.id_b
    GROUP BY et.id_a
    """


def _simhash_pairs_sql(bits: int, max_hamming: int) -> str:
    n_chunks = max_hamming + 1
    base, rem = bits // n_chunks, bits % n_chunks
    offsets, widths, off = [], [], 0
    for c in range(n_chunks):
        w = base + (1 if c < rem else 0)
        offsets.append(off)
        widths.append(w)
        off += w
    chunk_rows = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {c} AS idx, "
        f"(simhash >> {offsets[c]}) & {(1 << widths[c]) - 1} AS val FROM sim"
        for c in range(n_chunks)
    )
    body = _simhash_sql(bits).strip()
    return f"""
    WITH sim AS ({body}),
    chunked AS ({chunk_rows})
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           MIN(bit_count(xor(a.simhash, b.simhash))) AS hamming
    FROM chunked a JOIN chunked b
      ON a.idx = b.idx AND a.val = b.val AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
    GROUP BY 1, 2
    """


@register("simhash_near_dups", _simhash_pairs_sql(16, 1))
def simhash_near_dups(spark, sf_dir):
    """SimHash near-duplicate pairs via pigeonhole chunk banding: a
    pair within Hamming distance k agrees exactly on one of k+1
    fingerprint chunks -> self-equi-join on (chunk, value), never
    all-pairs; one bit_count(XOR) verifies each candidate. The classic
    web-dedup shape is 64-bit fingerprints at distance 3 (16-bit
    chunks); this query runs 16-bit at distance 1 (8-bit chunks) so
    the synthetic corpus's shared-vocabulary fingerprints still
    produce a selective pair set — same plan shape, same banding
    guarantee."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.simhash_near_dup_pairs(
        docs, "text", "doc_id", bits=16, max_hamming=1, hash_fn="md5"
    )


def _embedding_near_dedup_sql(planes: list[list[float]], threshold: float) -> str:
    pairs = _cosine_pairs_sql(planes, threshold)
    return f"""
    WITH RECURSIVE p AS ({pairs}),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM p
      UNION
      SELECT id_b AS a, id_a AS b FROM p
    ),
    verts AS (SELECT DISTINCT a FROM edges),
    reach(a, b) AS (
      SELECT a, a FROM verts
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    comp AS (SELECT a AS vid, MIN(b) AS component FROM reach GROUP BY a)
    SELECT vec_id, label FROM embeddings
    WHERE vec_id NOT IN (SELECT vid FROM comp WHERE vid <> component)
    """


@register(
    "embedding_near_dedup_vecs",
    _embedding_near_dedup_sql(_LSH_PLANES, 0.25),
)
def embedding_near_dedup_vecs(spark, sf_dir):
    """End-to-end embedding near-dedup (the semantic-dedup pass a
    training corpus runs AFTER text dedup — paraphrases and
    re-encodings that text hashing can't see): LSH-bucketed cosine
    pairs → connected components → keep lowest vec_id per cluster.
    The composition twin of near_dedup_docs on the embedding side;
    oracle replays it with a recursive CTE."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.embedding_near_dedup(
        emb, "embedding", "vec_id", _LSH_PLANES, threshold=0.25
    ).select("vec_id", "label")


def _kmeans_sql(k: int = 8, iters: int = 3, dim: int = 64) -> str:
    """Unrolled DuckDB twin of similarity.kmeans_assignments: micros
    grid -> ``iters`` assignment passes with ``iters - 1`` integer-mean
    updates, ties to lowest cid, empty clusters carry forward. All
    distance/mean arithmetic is integer-exact, so the replay is
    bit-identical to the Spark fit."""
    mic = (
        "[CAST(round(CAST(embedding[i] AS DOUBLE)*1000000) AS BIGINT) "
        f"for i in range(1, {dim + 1})]"
    )
    parts = [
        f"e AS (SELECT vec_id, {mic} AS mic FROM embeddings)",
        f"""c0 AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, mic AS cv
      FROM (SELECT vec_id, mic FROM e ORDER BY vec_id LIMIT {k}))""",
    ]
    for t in range(iters):
        d2 = (f"list_sum([(e.mic[i]-cc.cv[i])*(e.mic[i]-cc.cv[i]) "
              f"for i in range(1, {dim + 1})])")
        parts.append(f"""a{t} AS (
      SELECT vec_id, mic, cid, d2 FROM (
        SELECT e.vec_id, e.mic, cc.cid, CAST({d2} AS BIGINT) AS d2,
               row_number() OVER (
                 PARTITION BY e.vec_id ORDER BY {d2}, cc.cid) AS rn
        FROM e CROSS JOIN c{t} cc) WHERE rn = 1)""")
        if t < iters - 1:
            parts.append(f"""s{t} AS (
      SELECT cid, i, CAST(SUM(mic[i]) AS BIGINT) AS sm, COUNT(*) AS n
      FROM a{t} CROSS JOIN range(1, {dim + 1}) t(i) GROUP BY cid, i)""")
            parts.append(f"""c{t + 1} AS (
      SELECT cc.cid,
             list(CASE WHEN s.sm IS NULL THEN cc.cv[t.i]
                  WHEN s.sm >= 0 THEN (2*s.sm + s.n) // (2*s.n)
                  ELSE -((2*(-s.sm) + s.n) // (2*s.n)) END
                  ORDER BY t.i) AS cv
      FROM c{t} cc CROSS JOIN range(1, {dim + 1}) t(i)
      LEFT JOIN s{t} s ON s.cid = cc.cid AND s.i = t.i
      GROUP BY cc.cid)""")
    body = ",\n    ".join(parts)
    return (f"WITH {body}\n    SELECT vec_id, CAST(cid AS INT) AS cluster "
            f"FROM a{iters - 1}")


@register("kmeans_embedding_clusters", _kmeans_sql(8, 3))
def kmeans_embedding_clusters(spark, sf_dir):
    """Deterministic integer-grid Lloyd k-means assignments (k=8,
    3 passes) — the clustering fit the MLlib-backed IVF cannot oracle
    (seeded sampling, float order): init = k lowest ids, squared-L2
    argmin over 1e-6-micros ints, integer half-away centroid means,
    all replayed bit-exactly by the unrolled SQL twin. Map-only assign
    passes over broadcast literals; the update's posexplode collapses
    map-side to <= k*dim rows per partition before the shuffle."""
    from openoa_spark.session import spread_small_input

    emb = spread_small_input(_t(spark, sf_dir, "embeddings"))
    # materialize=True (r12, VERDICT item 3): Lloyd's iters+1 actions
    # re-ran the scan+micros lineage 4x; the lazy cut inside
    # kmeans_fit won the interleaved A/B 5/5 pairs (6.77 -> 5.54 s
    # median at sf0.1)
    return similarity.kmeans_assignments(
        emb, "embedding", "vec_id", k=8, iters=3, materialize=True
    )


def _pq_parts(m: int, k: int, iters: int, dim: int = 64) -> list[str]:
    """Per-subspace integer-exact k-means CTE chains (shared by the
    PQ-codes and PQ-ADC oracles)."""
    d = dim // m
    parts = []
    for j in range(m):
        lo = j * d + 1
        mic = (
            "[CAST(round(CAST(embedding[i] AS DOUBLE)*1000000) AS BIGINT) "
            f"for i in range({lo}, {lo + d})]"
        )
        parts.append(f"e{j} AS (SELECT vec_id, {mic} AS mic FROM embeddings)")
        parts.append(f"""c{j}_0 AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, mic AS cv
      FROM (SELECT vec_id, mic FROM e{j} ORDER BY vec_id LIMIT {k}))""")
        for t in range(iters):
            d2 = (
                f"list_sum([(e.mic[i]-cc.cv[i])*(e.mic[i]-cc.cv[i]) "
                f"for i in range(1, {d + 1})])"
            )
            parts.append(f"""a{j}_{t} AS (
      SELECT vec_id, mic, cid FROM (
        SELECT e.vec_id, e.mic, cc.cid,
               row_number() OVER (
                 PARTITION BY e.vec_id ORDER BY {d2}, cc.cid) AS rn
        FROM e{j} e CROSS JOIN c{j}_{t} cc) WHERE rn = 1)""")
            if t < iters - 1:
                parts.append(f"""s{j}_{t} AS (
      SELECT cid, i, CAST(SUM(mic[i]) AS BIGINT) AS sm, COUNT(*) AS n
      FROM a{j}_{t} CROSS JOIN range(1, {d + 1}) t(i) GROUP BY cid, i)""")
                parts.append(f"""c{j}_{t + 1} AS (
      SELECT cc.cid,
             list(CASE WHEN s.sm IS NULL THEN cc.cv[t.i]
                  WHEN s.sm >= 0 THEN (2*s.sm + s.n) // (2*s.n)
                  ELSE -((2*(-s.sm) + s.n) // (2*s.n)) END
                  ORDER BY t.i) AS cv
      FROM c{j}_{t} cc CROSS JOIN range(1, {d + 1}) t(i)
      LEFT JOIN s{j}_{t} s ON s.cid = cc.cid AND s.i = t.i
      GROUP BY cc.cid)""")
    return parts


def _pq_join(m: int, iters: int) -> str:
    last = iters - 1
    return f"a0_{last} a0" + "".join(
        f" JOIN a{j}_{last} a{j} USING (vec_id)" for j in range(1, m)
    )


def _pq_sql(m: int, k: int, iters: int, dim: int = 64) -> str:
    """Unrolled DuckDB twin of similarity.product_quantize_embeddings:
    one _kmeans_sql-style integer-exact CTE chain PER SUBSPACE (the
    micros grid sliced to that subspace's components), joined at the
    end into the per-vector code list."""
    body = ",\n    ".join(_pq_parts(m, k, iters, dim))
    codes = ", ".join(f"CAST(a{j}.cid AS INT)" for j in range(m))
    # concat_ws (not a list) so the output column is scalar VARCHAR —
    # the driver's canonicalizer sort_values cannot hash LIST columns
    # (round-5 red row on embedding_int8_quantization).
    return (
        f"WITH {body}\n    SELECT vec_id, concat_ws(',', {codes}) AS codes "
        f"FROM {_pq_join(m, iters)}"
    )


def _pq_lut_parts(
    m: int,
    k: int,
    iters: int,
    query: list[float],
    dim: int = 64,
    prefix: str = "lut",
) -> list[str]:
    """Per-subspace ADC lookup-table CTEs (squared L2 from the query
    slice's micros to every codebook entry of c{j}_{iters-1});
    ``prefix`` namespaces the CTEs for multi-query panels."""
    d = dim // m
    last = iters - 1
    qm = [similarity._micros_scalar(q) for q in query]
    parts = []
    for j in range(m):
        qj = qm[j * d : (j + 1) * d]
        parts.append(f"""{prefix}{j} AS (
      SELECT cid, CAST(list_sum([(cv[i] - ([{", ".join(map(str, qj))}])[i])
                                 * (cv[i] - ([{", ".join(map(str, qj))}])[i])
                                 for i in range(1, {d + 1})]) AS BIGINT)
               AS dj
      FROM c{j}_{last})""")
    return parts


def _pq_adc_sql(
    m: int, k: int, iters: int, query: list[float], topk: int, dim: int = 64
) -> str:
    """PQ-ADC search twin: the fitted chains plus per-subspace lookup
    CTEs (squared L2 from the query slice's micros to every codebook
    entry of the POST-update centroids c{j}_{iters-1}), summed via the
    code joins — integer-exact end to end."""
    parts = _pq_parts(m, k, iters, dim) + _pq_lut_parts(
        m, k, iters, query, dim
    )
    body = ",\n    ".join(parts)
    dist = " + ".join(f"l{j}.dj" for j in range(m))
    luts = "".join(
        f" JOIN lut{j} l{j} ON l{j}.cid = a{j}.cid" for j in range(m)
    )
    return (
        f"WITH {body}\n    SELECT vec_id, CAST({dist} AS BIGINT) AS adc_d2 "
        f"FROM {_pq_join(m, iters)}{luts} "
        f"ORDER BY adc_d2, vec_id LIMIT {topk}"
    )


@register("pq_codes_embeddings", _pq_sql(8, 16, 2))
def pq_codes_embeddings(spark, sf_dir):
    """Product quantization codes (m=8 subspaces x k=16 codebooks, 2
    Lloyd passes per subspace): the compressed layout ANN indexes
    store instead of raw floats (8 small ints/vector vs 64 floats).
    Each subspace fit is the deterministic integer-grid k-means, so
    the whole code table replays bit-exactly in the oracle — PQ
    training you can verify across engines. All m subspace fits share
    each job and the final code array is emitted by one map-only
    projection (one Arrow einsum pass on the gemm kernel) — codes
    never shuffle. The code array is emitted comma-joined (scalar
    string) because the driver's canonicalizer cannot hash LIST
    columns; the joined form is still byte-exact per vector."""
    from openoa_spark.session import spread_small_input

    emb = spread_small_input(_t(spark, sf_dir, "embeddings"))
    # materialize=True (r12, VERDICT item 3 extended to pq_fit): A/B
    # won 4/5 pairs (2.75 -> 2.54 s median at sf0.1)
    pq = similarity.product_quantize_embeddings(
        emb, "embedding", "vec_id", dim=64, m=8, k=16, iters=2,
        materialize=True,
    )
    return pq.select(
        "vec_id",
        F.array_join(F.col("codes").cast("array<string>"), ",").alias(
            "codes"
        ),
    )


_PQ_QUERY_VEC = [round(__import__("math").sin(i + 1.0), 6) for i in range(64)]


def _ivf_pq_sql(
    coarse_k: int,
    n_probe: int,
    m: int,
    k: int,
    iters: int,
    query: list[float],
    topk: int,
    dim: int = 64,
) -> str:
    """IVF-PQ twin: the coarse integer-k-means chain (_kmeans_sql
    names: e/c{t}/a{t}) + the PQ chains and ADC lookup tables
    (_pq_parts/_pq_lut_parts names: e{j}/c{j}_{t}/a{j}_{t}/lut{j} —
    disjoint namespaces), a driver-free probed-list CTE ranking the
    final coarse centroids against the query, and ADC scoring of the
    probed lists only."""
    qm = [similarity._micros_scalar(q) for q in query]
    last = iters - 1
    qlit = ", ".join(map(str, qm))
    # _kmeans_body is defined further down the module (decorator args
    # evaluate at import, top-to-bottom) — extract the CTE body inline
    km = _kmeans_sql(coarse_k, iters, dim)
    coarse = km[len("WITH ") : km.rindex("\n    SELECT")]
    pq = ",\n    ".join(
        _pq_parts(m, k, iters, dim) + _pq_lut_parts(m, k, iters, query, dim)
    )
    probed = f"""qd AS (
      SELECT cid, CAST(list_sum([(cv[i] - ([{qlit}])[i])
                                 * (cv[i] - ([{qlit}])[i])
                                 for i in range(1, {dim + 1})]) AS BIGINT)
               AS d
      FROM c{last}),
    probed AS (SELECT cid FROM qd ORDER BY d, cid LIMIT {n_probe})"""
    dist = " + ".join(f"l{j}.dj" for j in range(m))
    pq_joins = "".join(
        f" JOIN a{j}_{last} p{j} ON p{j}.vec_id = ca.vec_id"
        f" JOIN lut{j} l{j} ON l{j}.cid = p{j}.cid"
        for j in range(m)
    )
    return f"""
    WITH {coarse},
    {pq},
    {probed}
    SELECT ca.vec_id, CAST(ca.cid AS INT) AS cluster,
           CAST({dist} AS BIGINT) AS adc_d2
    FROM a{last} ca JOIN probed pr ON pr.cid = ca.cid{pq_joins}
    ORDER BY adc_d2, ca.vec_id LIMIT {topk}
    """


def _pq_recon_sql(m: int, k: int, iters: int, dim: int = 64) -> str:
    """PQ reconstruction-error twin: per subspace, join the final
    assignments back to their codebook entry and sum the squared L2
    (er{j} names avoid the e{j} chain CTEs)."""
    d = dim // m
    last = iters - 1
    parts = _pq_parts(m, k, iters, dim)
    for j in range(m):
        parts.append(f"""er{j} AS (
      SELECT a.vec_id,
             CAST(list_sum([(a.mic[i] - c.cv[i]) * (a.mic[i] - c.cv[i])
                            for i in range(1, {d + 1})]) AS BIGINT) AS d
      FROM a{j}_{last} a JOIN c{j}_{last} c ON c.cid = a.cid)""")
    body = ",\n    ".join(parts)
    total = " + ".join(f"er{j}.d" for j in range(m))
    joins = "er0" + "".join(
        f" JOIN er{j} USING (vec_id)" for j in range(1, m)
    )
    return (
        f"WITH {body}\n    SELECT vec_id, CAST({total} AS BIGINT) AS pq_d2 "
        f"FROM {joins}"
    )


@register("pq_reconstruction_error", _pq_recon_sql(8, 16, 2))
def pq_reconstruction_error(spark, sf_dir):
    """Per-vector PQ reconstruction error (micros^2) — the
    compression-quality diagnostic read before trusting ADC distances,
    the PQ analogue of int8 quantization's max_abs_err. One extra
    map-only pass after the fit: each subspace's argmin struct carries
    its own d2, summed — no join against the codes table. Exact
    integer arithmetic; the oracle replays it from the fitted
    chains."""
    from openoa_spark.session import spread_small_input

    emb = spread_small_input(_t(spark, sf_dir, "embeddings"))
    # materialize=True (r12): A/B won 4/5 pairs (4.72 -> 4.31 s
    # median at sf0.1)
    return similarity.pq_reconstruction_error(
        emb, "embedding", "vec_id", dim=64, m=8, k=16, iters=2,
        materialize=True,
    )


_PQ_PANEL = [
    [round(__import__("math").sin(i + 1.0), 6) for i in range(64)],
    [round(__import__("math").cos(i + 1.0), 6) for i in range(64)],
    [round(__import__("math").sin(0.5 * (i + 1.0)), 6) for i in range(64)],
]


def _pq_recall_sql(
    m: int,
    k: int,
    iters: int,
    queries: list[list[float]],
    top: int,
    dim: int = 64,
) -> str:
    """PQ recall-measurement twin: the PQ chains once, per panel query
    an exact-L2 top list over full-dim micros AND an ADC top list over
    the codes (both integer-ranked, ties to lowest vec_id), hit counts
    by membership."""
    last = iters - 1
    mic = (
        "[CAST(round(CAST(embedding[i] AS DOUBLE)*1000000) AS BIGINT) "
        f"for i in range(1, {dim + 1})]"
    )
    parts = _pq_parts(m, k, iters, dim)
    parts.append(f"eq AS (SELECT vec_id, {mic} AS mic FROM embeddings)")
    selects = []
    for qi, q in enumerate(queries):
        parts += _pq_lut_parts(m, k, iters, q, dim, prefix=f"q{qi}lut")
        qm = [similarity._micros_scalar(v) for v in q]
        qlit = ", ".join(map(str, qm))
        parts.append(f"""ex{qi} AS (
      SELECT vec_id FROM (
        SELECT vec_id,
               CAST(list_sum([(mic[i] - ([{qlit}])[i])
                              * (mic[i] - ([{qlit}])[i])
                              for i in range(1, {dim + 1})]) AS BIGINT)
                 AS d2
        FROM eq) ORDER BY d2, vec_id LIMIT {top})""")
        dist = " + ".join(f"l{j}.dj" for j in range(m))
        luts = "".join(
            f" JOIN q{qi}lut{j} l{j} ON l{j}.cid = a{j}.cid"
            for j in range(m)
        )
        parts.append(f"""ad{qi} AS (
      SELECT vec_id FROM (
        SELECT vec_id, CAST({dist} AS BIGINT) AS d2
        FROM {_pq_join(m, iters)}{luts})
      ORDER BY d2, vec_id LIMIT {top})""")
        # denominator = |exact list| = min(top, corpus), not fixed top
        selects.append(
            f"SELECT CAST({qi} AS INT) AS query_id, "
            f"CAST((SELECT COUNT(*) FROM ex{qi} WHERE vec_id IN "
            f"(SELECT vec_id FROM ad{qi})) AS BIGINT) AS n_hit, "
            f"CASE WHEN (SELECT COUNT(*) FROM ex{qi}) > 0 THEN "
            f"ROUND(CAST((SELECT COUNT(*) FROM ex{qi} WHERE vec_id IN "
            f"(SELECT vec_id FROM ad{qi})) AS DOUBLE) "
            f"/ (SELECT COUNT(*) FROM ex{qi}), 6) ELSE 0.0 END "
            f"AS recall"
        )
    body = ",\n    ".join(parts)
    union = "\n    UNION ALL ".join(selects)
    return f"WITH {body}\n    {union}"


@register("pq_recall_measured", _pq_recall_sql(8, 16, 2, _PQ_PANEL, 10))
def pq_recall_measured(spark, sf_dir):
    """Measured recall@10 of PQ-ADC vs exact L2 over a 3-query panel —
    the measure-don't-guess harness for the PQ layer (the LSH family
    has ann_recall_lsh; this is its PQ sibling). Both sides rank on
    micro-grid INTEGERS with ties to the lowest id, so unlike float
    ANN recall the measurement itself replays bit-for-bit in the
    oracle. Panel stays small by contract: |Q| TakeOrdered passes on
    bounded top lists, one (query_id, id) semi-join for hits."""
    from openoa_spark.session import spread_small_input

    emb = spread_small_input(_t(spark, sf_dir, "embeddings"))
    # kmeans/pq materialize= left OFF (r12 receipt): a wash — 3/5
    # then 4/7 pairs, medians 4.147 vs 4.136 s. pq_recall_at_k
    # already lazy-checkpoints its own base and codes tables, so the
    # extra cut inside pq_fit has nothing left to save.
    return similarity.pq_recall_at_k(
        emb, "embedding", "vec_id", _PQ_PANEL, dim=64,
        m=8, k=16, iters=2, top=10,
    )


@register("ivf_pq_topk", _ivf_pq_sql(4, 2, 8, 16, 2, _PQ_QUERY_VEC, 10))
def ivf_pq_topk(spark, sf_dir):
    """IVF-PQ ANN search — the FAISS-style layout composed from the
    engine's two deterministic quantizers: a coarse integer-grid
    k-means partitions the corpus into inverted lists (persisted form:
    codes PARTITIONED BY coarse cluster, so partition pruning IS the
    inverted file); the query ranks coarse centroids driver-side,
    probes only the n_probe nearest lists, and ADC-scores their PQ
    codes (raw vectors never read at query time). Both fits are
    integer-exact, so the ENTIRE index + search — coarse fit, PQ fit,
    probe selection, lookup tables, final ranking — replays in SQL."""
    from openoa_spark.session import spread_small_input

    emb = spread_small_input(_t(spark, sf_dir, "embeddings"))
    # materialize=True (r12): both fits' Lloyd loops rescan the
    # scan+micros lineage; the lazy cuts won the interleaved A/B 4/5
    # pairs (8.58 -> 7.29 s median at sf0.1)
    return similarity.ivf_pq_search(
        emb, "embedding", "vec_id", _PQ_QUERY_VEC, dim=64,
        coarse_k=4, n_probe=2, m=8, k=16, iters=2, k_results=10,
        materialize=True,
    )


@register("pq_adc_topk", _pq_adc_sql(8, 16, 2, _PQ_QUERY_VEC, 10))
def pq_adc_topk(spark, sf_dir):
    """ANN search over PQ codes by asymmetric distance computation:
    the per-subspace lookup table (query slice vs every codebook
    entry, m*k ints) is built driver-side from the fitted codebooks
    and carried as a one-row scalar broadcast; each row's approximate
    distance is m element_at lookups over the CODES table — the raw
    vectors are never read at query time. Top-k runs as
    TakeOrderedAndProject. Integer-exact end to end, so the oracle
    replays the fit, the lookup tables, and the final ranking."""
    from openoa_spark.session import spread_small_input

    emb = spread_small_input(_t(spark, sf_dir, "embeddings"))
    # materialize= left OFF (r12 receipt): A/B 2/5 pairs, medians
    # 3.52 vs 4.14 s AGAINST the cut — the ADC consumer touches only
    # the codes table, so the checkpoint's storage barrier outweighs
    # the saved rescans here.
    codes, centroids = similarity.pq_fit(
        emb, "embedding", "vec_id", dim=64, m=8, k=16, iters=2
    )
    return similarity.pq_adc_top_k(
        codes, centroids, _PQ_QUERY_VEC, "vec_id", k_results=10
    )


def _kmeans_body(k: int = 8, iters: int = 3, dim: int = 64) -> str:
    """The WITH-clause body of _kmeans_sql (CTE chain without the
    final SELECT), for composition by the rider queries."""
    km = _kmeans_sql(k, iters, dim)
    return km[len("WITH "):km.rindex("\n    SELECT")]


@register(
    "kmeans_cluster_profile",
    f"""
    WITH {_kmeans_body(8, 3)}
    SELECT CAST(cid AS INT) AS cluster, COUNT(*) AS n_vecs,
           CAST(SUM(d2) AS DOUBLE) AS inertia
    FROM a2 GROUP BY cid
    """,
)
def kmeans_cluster_profile(spark, sf_dir):
    """Per-cluster size + exact within-cluster sum of squares (the
    convergence diagnostic you read before hanging SemDeDup or an IVF
    index off the clustering): d2 carried exactly in micros^2 from the
    assignment pass, decimal-summed (exact), one nearest-double
    conversion at the end — one map pass + one k-row aggregate."""
    from openoa_spark.session import spread_small_input

    emb = spread_small_input(_t(spark, sf_dir, "embeddings"))
    # materialize= left OFF (r12 receipt): the lazy-cut variant lost
    # the interleaved A/B here — 3/5 then 3/9 pairs, medians 6.22 vs
    # 6.48 s and 7.16 vs 7.29 s — unlike the three sibling consumers
    # where it won 5/5. The with_distance assignment keeps _mic in
    # flight for d2, so the barrier's storage write/read overhead eats
    # the rescan saving. Re-open only with a new evidence class.
    return similarity.kmeans_cluster_profile(
        emb, "embedding", "vec_id", k=8, iters=3
    )


@register(
    "cluster_balanced_sample_vecs",
    f"""
    WITH {_kmeans_body(8, 3)},
    h AS (SELECT vec_id, cid,
                 {dedup.sql_hash64("CAST(vec_id AS VARCHAR)", seed=0)} AS hh
          FROM a2),
    r AS (SELECT vec_id, cid,
                 row_number() OVER (
                   PARTITION BY cid ORDER BY hh DESC, vec_id) AS rn
          FROM h)
    SELECT vec_id, CAST(cid AS INT) AS cluster FROM r WHERE rn <= 5
    """,
)
def cluster_balanced_sample_vecs(spark, sf_dir):
    """Cluster-balanced coreset selection: exactly 5 rows per k-means
    cluster by keyed md5 hash (greatest wins, ties -> lowest id) — the
    diversity-preserving subsample that keeps corpus tails a uniform
    sample starves. Per-cluster capping rides grouped_top_k (the
    window-free domain-capping primitive), so a mega-cluster cannot
    serialize the rank; selection is a pure function of (id, seed)
    within the deterministic clustering."""
    from openoa_spark.session import spread_small_input

    emb = spread_small_input(_t(spark, sf_dir, "embeddings"))
    # materialize=True (r12, VERDICT item 3): A/B won 5/5 pairs
    # (10.55 -> 6.62 s median at sf0.1)
    return similarity.cluster_balanced_sample(
        emb, "embedding", "vec_id", k=8, iters=3, m=5, seed=0, hash_fn="md5",
        materialize=True,
    )


@register(
    "cluster_lang_profile",
    f"""
    WITH {_kmeans_body(8, 3)},
    j AS (
      SELECT a.cid, d.lang
      FROM a2 a JOIN documents d ON d.doc_id = a.vec_id
    ),
    g AS (SELECT cid, lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM j
          GROUP BY cid, lang)
    SELECT CAST(cid AS INT) AS cluster, lang, n_docs,
           ROUND(CAST(n_docs AS DOUBLE)
                 / SUM(n_docs) OVER (PARTITION BY cid), 6) AS share
    FROM g
    """,
)
def cluster_lang_profile(spark, sf_dir):
    """Cluster-composition audit — the 'is my semantic clustering
    capturing language/boilerplate instead of topic?' diagnostic run
    before trusting cluster-balanced sampling or SemDeDup: k-means
    assignments joined to document metadata (embedding id = doc id in
    this corpus), per-(cluster, lang) counts and within-cluster
    shares. The share denominator is a k-grain aggregate joined back
    broadcast — no window over the doc-grain table."""
    from openoa_spark.session import spread_small_input

    emb = spread_small_input(_t(spark, sf_dir, "embeddings"))
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "lang"
    )
    # materialize=True (r12, VERDICT item 3): A/B won 5/5 pairs
    # (6.74 -> 6.15 s median at sf0.1) — the assign chain's upstream
    # evaluates once instead of iters+1 times
    asg = similarity.kmeans_assignments(
        emb, "embedding", "vec_id", k=8, iters=3, materialize=True
    )
    g = (
        asg.join(docs, "vec_id")
        .groupBy("cluster", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    # (cluster, lang) grain — bounded by k × langs; cut the lineage so
    # the k-means assign + metadata join + aggregate run once, not
    # once per consumer (broadcast totals build gets no ReusedExchange)
    g = g.localCheckpoint(eager=False)
    totals = g.groupBy("cluster").agg(F.sum("n_docs").alias("_tot"))
    return g.join(F.broadcast(totals), "cluster").select(
        "cluster",
        "lang",
        "n_docs",
        F.round(F.col("n_docs").cast("double") / F.col("_tot"), 6).alias(
            "share"
        ),
    )


def _semantic_dedup_sql(
    threshold: float, k: int = 8, iters: int = 3, dim: int = 64
) -> str:
    km = _kmeans_sql(k, iters, dim)
    body = km[len("WITH "):km.rindex("\n    SELECT")]
    return f"""
    WITH RECURSIVE {body},
    vv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    p AS (
      SELECT x.vec_id AS id_a, y.vec_id AS id_b
      FROM a{iters - 1} x JOIN a{iters - 1} y
        ON x.cid = y.cid AND x.vec_id < y.vec_id
      JOIN vv va ON va.vec_id = x.vec_id
      JOIN vv vb ON vb.vec_id = y.vec_id
      WHERE ROUND(list_dot_product(va.v, vb.v)
                  / (sqrt(list_dot_product(va.v, va.v))
                     * sqrt(list_dot_product(vb.v, vb.v))), 6) >= {threshold}
    ),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM p
      UNION
      SELECT id_b AS a, id_a AS b FROM p
    ),
    verts AS (SELECT DISTINCT a FROM edges),
    reach(a, b) AS (
      SELECT a, a FROM verts
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    comp AS (SELECT a AS vid, MIN(b) AS component FROM reach GROUP BY a)
    SELECT vec_id, label FROM embeddings
    WHERE vec_id NOT IN (SELECT vid FROM comp WHERE vid <> component)
    """


@register("semantic_dedup_vecs", _semantic_dedup_sql(0.25))
def semantic_dedup_vecs(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): the k-means CLUSTER is the
    candidate bucket — exact cosine only within a cluster (equi-join
    on cluster id, never all-pairs), round-6 cosine >= 0.25 pairs ->
    connected components -> keep lowest vec_id. Same survivor rule as
    embedding_near_dedup_vecs with the LSH bucket replaced by the
    learned cluster, so semantically-close pairs an unlucky hyperplane
    cut separates still meet; k bounds the join like an LSH band cap.
    Fully oracle-replayable because the fit itself is the
    integer-grid Lloyd."""
    from openoa_spark.session import spread_small_input

    emb = spread_small_input(_t(spark, sf_dir, "embeddings"))
    # kmeans materialize= left OFF (r12 receipt): 3/5 pairs, medians
    # 18.82 vs 18.85 s under heavy window noise — the within-cluster
    # pair join dominates this query, so cutting the fit's rescans
    # doesn't move the total. Re-A/B in a quiet window if this query
    # ever joins the bench set.
    return similarity.semantic_dedup(
        emb, "embedding", "vec_id", k=8, iters=3, threshold=0.25
    ).select("vec_id", "label")


@register("ann_recall_lsh", _ann_recall_sql(_LSH_PLANES, 3))
def ann_recall_lsh(spark, sf_dir):
    """Measured recall@3 of the sign-LSH kNN against exact kNN on a
    deterministic 10% query sample — 'measure, don't guess' for the
    ANN layer: the number that tells you whether the plane/band config
    retrieves what the O(n^2) baseline would. Ground truth is
    |Q| x n with the small query side broadcast (never all-pairs);
    the approximate side reuses the bucketed equi-join."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.lsh_recall_at_k(
        emb, "embedding", "vec_id", _LSH_PLANES, k=3,
        query_fraction=0.1, seed=5, hash_fn="md5", round_digits=6,
    )


@register(
    "chunk_dedup_docs",
    r"""
    WITH d AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents
    ),
    c AS (
      SELECT doc_id, toks,
             unnest(generate_series(0, CAST(ceil(len(toks) / 10.0) AS INT) - 1))
               AS pos
      FROM d
    ),
    ch AS (
      SELECT doc_id, pos,
             array_to_string(list_slice(toks, pos * 10 + 1, pos * 10 + 10), ' ')
               AS chunk
      FROM c
    ),
    o1 AS (SELECT chunk, MIN(doc_id) AS d0 FROM ch GROUP BY 1),
    o2 AS (
      SELECT ch.chunk, MIN(ch.pos) AS p0
      FROM ch JOIN o1 ON ch.chunk = o1.chunk AND ch.doc_id = o1.d0
      GROUP BY 1
    ),
    kept AS (
      SELECT ch.doc_id, ch.pos, ch.chunk
      FROM ch
      JOIN o1 ON ch.chunk = o1.chunk AND ch.doc_id = o1.d0
      JOIN o2 ON ch.chunk = o2.chunk AND ch.pos = o2.p0
    )
    SELECT doc_id, COUNT(*) AS n_kept,
           string_agg(chunk, ' ' ORDER BY pos) AS clean_text
    FROM kept GROUP BY doc_id
    """,
)
def chunk_dedup_docs(spark, sf_dir):
    """Chunk-level exact dedup (C4/RefinedWeb line-dedup analogue):
    each 10-token chunk survives only at its first corpus-wide
    occurrence (min (doc_id, pos)); documents reassemble from their
    surviving chunks. Ownership shuffles 64-bit chunk hashes + ids
    only; chunk text moves once, in the reassembly aggregate the
    output needs anyway (datapipe/dedup.chunk_dedup). The oracle
    replays ownership on the chunk strings directly."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.chunk_dedup(docs, "text", "doc_id", chunk_tokens=10)


@register(
    "lm_score_docs",
    """
    WITH g AS (
      SELECT doc_id, text,
             unnest(generate_series(1, GREATEST(length(text) - 1, 0))) AS i
      FROM documents
    ),
    b AS (SELECT doc_id, substring(text, i, 2) AS bigram FROM g),
    dc AS (SELECT doc_id, bigram, COUNT(*) AS c FROM b GROUP BY 1, 2),
    gl AS (SELECT bigram, SUM(c) AS gc FROM dc GROUP BY 1),
    tot AS (SELECT CAST(SUM(gc) AS DOUBLE) AS t FROM gl),
    lp AS (
      SELECT bigram,
             CAST(ROUND(log2(CAST(gc AS DOUBLE) / (SELECT t FROM tot)), 6)
                  AS DECIMAL(18,6)) AS lp
      FROM gl
    )
    SELECT dc.doc_id,
           CAST(SUM(dc.c) AS BIGINT) AS n_bigrams,
           ROUND(CAST(CAST(-SUM(CAST(dc.c AS DECIMAL(18,0)) * lp.lp) AS VARCHAR) AS DOUBLE)
                 / CAST(SUM(dc.c) AS DOUBLE), 6) AS bits_per_bigram
    FROM dc JOIN lp USING (bigram)
    GROUP BY 1
    """,
)
def lm_score_docs(spark, sf_dir):
    """CCNet-style LM quality signal with the corpus as its own model:
    per-document average negative log2 char-bigram probability ("bits
    per bigram") — templated text scores low, character soup high.
    One explode + one map-side-combined aggregate to per-doc bigram
    counts; the global model is an alphabet²-bounded rollup of that
    table broadcast back for scoring. Per-bigram logprobs are fixed
    as rounded DECIMAL(18,6) so both engines' doc scores reduce to
    exact integer x decimal sums plus one IEEE division
    (datapipe/text.char_bigram_lm_scores)."""
    docs = _t(spark, sf_dir, "documents")
    return text.char_bigram_lm_scores(docs, "text", "doc_id")


@register(
    "ccnet_perplexity_buckets",
    f"""
    WITH g AS (
      SELECT doc_id, text,
             unnest(generate_series(1, GREATEST(length(text) - 1, 0))) AS i
      FROM documents
    ),
    b AS (SELECT doc_id, substring(text, i, 2) AS bigram FROM g),
    dc AS (SELECT doc_id, bigram, COUNT(*) AS c FROM b GROUP BY 1, 2),
    gl AS (SELECT bigram, SUM(c) AS gc FROM dc GROUP BY 1),
    tot AS (SELECT CAST(SUM(gc) AS DOUBLE) AS t FROM gl),
    lp AS (
      SELECT bigram,
             CAST(ROUND(log2(CAST(gc AS DOUBLE) / (SELECT t FROM tot)), 6)
                  AS DECIMAL(18,6)) AS lp
      FROM gl
    ),
    sc AS (
      SELECT dc.doc_id,
             CAST(SUM(dc.c) AS BIGINT) AS n_bigrams,
             ROUND(CAST(CAST(-SUM(CAST(dc.c AS DECIMAL(18,0)) * lp.lp) AS VARCHAR) AS DOUBLE)
                   / CAST(SUM(dc.c) AS DOUBLE), 6) AS bits
      FROM dc JOIN lp USING (bigram)
      GROUP BY 1
    ),
    bounds AS (
      SELECT quantile_disc(bits, {1.0 / 3.0!r}) AS blo,
             quantile_disc(bits, {2.0 / 3.0!r}) AS bhi
      FROM sc
    )
    SELECT CASE WHEN bits <= blo THEN 'head'
                WHEN bits <= bhi THEN 'middle'
                ELSE 'tail' END AS bucket,
           COUNT(*) AS n_docs,
           CAST(SUM(n_bigrams) AS BIGINT) AS sum_bigrams,
           ROUND(MIN(bits), 6) + 0.0 AS min_bits,
           ROUND(MAX(bits), 6) + 0.0 AS max_bits
    FROM sc, bounds
    GROUP BY 1
    """,
)
def ccnet_perplexity_buckets(spark, sf_dir):
    """CCNet head/middle/tail perplexity bucketing (Wenzek et al.
    2020 §4.3) over the corpus-trained char-bigram LM: boundaries are
    DISCRETE order statistics (grouped_exact_order_stat — rank
    ceil(q·n), DuckDB quantile_disc semantics pinned empirically), so
    bucket membership compares identical round-6 doubles on both
    engines and no interpolation ulp can flip a document. Output is
    the per-bucket accounting (count, bigram mass, score range) —
    order-independent aggregates only. Scale shape: score frame
    lineage-cut once; boundaries via the bounded-memory bracket
    aggregate; assignment is a map over a one-row broadcast — no
    global sort anywhere."""
    docs = _t(spark, sf_dir, "documents")
    buckets = text.perplexity_buckets(docs, "text", "doc_id")
    return buckets.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_bigrams").cast("bigint").alias("sum_bigrams"),
        (F.round(F.min("bits_per_bigram"), 6) + F.lit(0.0)).alias("min_bits"),
        (F.round(F.max("bits_per_bigram"), 6) + F.lit(0.0)).alias("max_bits"),
    )


@register(
    "token_budget_selection",
    r"""
    WITH d AS (
      SELECT doc_id,
             CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
               AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_tokens,
             CAST(SUM(n_tokens) OVER (
               ORDER BY n_tokens DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum_tokens
      FROM d
    )
    SELECT doc_id, n_tokens, cum_tokens
    FROM c WHERE cum_tokens - n_tokens < 5000
    """,
)
def token_budget_selection(spark, sf_dir):
    """Fixed-token-budget corpus selection: take documents in
    (n_tokens DESC, doc_id) priority order until 5000 cumulative
    tokens — the "assemble a training mix of exactly N tokens from
    the best documents" primitive. The running total is DISTRIBUTED
    via the zipf-rank decomposition (offset per distinct token count
    + keyed within-group rank) — no corpus-wide single-task window
    (datapipe/sampling.token_budget_select)."""
    docs = _t(spark, sf_dir, "documents")
    d = docs.select("doc_id", text.token_count("text").alias("n_tokens"))
    return sampling.token_budget_select(d, "doc_id", "n_tokens", 5000)


@register(
    "benford_first_digit",
    """
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(abs(value) AS DOUBLE) AS VARCHAR), 1, 1)
                  AS INTEGER) AS digit
      FROM events WHERE abs(value) >= 1.0
    ),
    c AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY 1),
    t AS (SELECT SUM(n) AS total FROM c)
    SELECT digit,
           CAST(n AS BIGINT) AS n,
           ROUND(CAST(n AS DOUBLE) / (SELECT total FROM t), 6) AS observed,
           ROUND(log10(1.0 + 1.0 / digit), 6) AS benford_expected
    FROM c
    """,
)
def benford_first_digit(spark, sf_dir):
    """Benford first-significant-digit audit — the classic
    fabricated-data / unit-mixup detector for measurement columns:
    observed first-digit shares vs Benford's log10(1 + 1/d). One
    map-only digit projection + one 9-row hash aggregate; the total
    joins back as a scalar broadcast. Values below 1 are excluded so
    the leading character of the decimal rendering IS the first
    significant digit in both engines."""
    ev = _t(spark, sf_dir, "events").where(F.abs("value") >= 1.0)
    d = ev.select(
        F.substring(F.abs("value").cast("double").cast("string"), 1, 1)
        .cast("int")
        .alias("digit")
    )
    # 9 rows; cut the lineage so the events scan runs once — the
    # broadcast total's build side would otherwise re-evaluate it
    c = d.groupBy("digit").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    ).localCheckpoint(eager=False)
    t = c.agg(F.sum("n").alias("total"))
    return c.crossJoin(F.broadcast(t)).select(
        "digit",
        "n",
        F.round(F.col("n").cast("double") / F.col("total"), 6).alias(
            "observed"
        ),
        F.round(F.log10(1.0 + 1.0 / F.col("digit")), 6).alias(
            "benford_expected"
        ),
    )


@register(
    "hampel_outliers",
    """
    WITH a AS (
      SELECT event_id, user_id, ts, value,
             median(value) OVER w AS roll_med
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    ),
    b AS (SELECT *, abs(value - roll_med) AS dev FROM a),
    c AS (
      SELECT *, median(dev) OVER w2 AS roll_mad
      FROM b
      WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, user_id, value,
           ROUND(roll_med, 6) AS roll_med
    FROM c WHERE dev > 3.0 * 1.4826 * roll_mad
    """,
)
def hampel_outliers(spark, sf_dir):
    """Hampel despiking (rolling median ± scaled rolling MAD over a
    trailing 5-row frame): the robust spike detector a rolling-mean
    z-score can't replicate (a spike masks itself in the mean/std).
    Two chained keyed windows with exact interpolated percentiles,
    ONE shuffle on user_id — both windows reuse the same sort
    (operators/filters.hampel_flag). Cross-engine determinism: both
    engines interpolate the even-count median from identical doubles
    in the identical frame, and the flag comparison multiplies the
    same constants in the same order."""
    ev = _t(spark, sf_dir, "events")
    f = filters.hampel_flag(
        ev, "value", "ts", keys=["user_id"],
        order_cols=["ts", "event_id"], window=5, k=3.0,
    )
    return f.where(F.col("value_flag")).select(
        "event_id", "user_id", "value",
        F.round("_roll_med", 6).alias("roll_med"),
    )


@register(
    "vocab_coverage_90",
    r"""
    WITH tf AS (
      SELECT tok, COUNT(*) AS c FROM (
        SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        FROM documents
      ) GROUP BY 1
    ),
    tot AS (SELECT SUM(c) AS t FROM tf),
    w AS (
      SELECT tok, c,
             SUM(c) OVER (ORDER BY c DESC, tok
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cum
      FROM tf
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS vocab_size,
           CAST(MAX(cum) AS BIGINT) AS covered_tokens,
           CAST((SELECT t FROM tot) AS BIGINT) AS total_tokens
    FROM w
    WHERE cum - c < CAST(ceil(0.9 * (SELECT t FROM tot)) AS BIGINT)
    """,
)
def vocab_coverage_90(spark, sf_dir):
    """Tokenizer-budgeting statistic: the smallest vocabulary (tokens
    in count-desc, token-asc priority order) covering >= 90% of all
    token occurrences. The statistic needs NO per-token ranks at all
    (round-5 rewrite): group the vocabulary by frequency value c —
    within a group every token contributes the same c, so the number
    kept from a group is closed-form, m = clamp(ceil((budget−off)/c),
    0, group size), with off = the cumulative tokens of all
    higher-frequency groups. One hash aggregate to frequency grain,
    one keyless cumsum over the DISTINCT-COUNT table (bounded ~√total
    under Zipf — the documented tiny-table keyless window), and a
    closed-form projection. The previous version ranked tokens
    within each frequency group — the hapax group (c=1) holds most of
    a web-scale vocabulary, an unsplittable mega-partition for the
    rank window; this shape has no such group."""
    import math as m

    docs = _t(spark, sf_dir, "documents")
    tf = (
        docs.select(F.explode(text.tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    grp = tf.groupBy("c").agg(
        F.count(F.lit(1)).alias("sz"),
        F.sum("c").alias("gtot"),
    )
    grp = grp.localCheckpoint(eager=False)  # feeds total AND selection
    total = grp.agg(F.sum("gtot")).first()[0] or 0
    budget = m.ceil(0.9 * total)
    from pyspark.sql import Window as W

    w_off = W.orderBy(F.desc("c")).rowsBetween(W.unboundedPreceding, -1)
    sel = grp.select(
        "c", "sz", "gtot",
        F.coalesce(F.sum("gtot").over(w_off), F.lit(0)).alias("off"),
    ).select(
        "c", "sz",
        F.greatest(
            F.lit(0),
            F.least(
                F.col("sz").cast("long"),
                F.ceil((F.lit(budget) - F.col("off")) / F.col("c")),
            ),
        ).alias("m"),
    )
    return sel.agg(
        F.sum("m").cast("bigint").alias("vocab_size"),
        F.sum(F.col("m") * F.col("c")).cast("bigint").alias("covered_tokens"),
        F.lit(int(total)).alias("total_tokens"),
    )


@register(
    "corpus_version_diff",
    r"""
    WITH old AS (
      SELECT doc_id,
             md5(concat_ws(chr(31),
                           coalesce(CAST(lang AS VARCHAR), chr(0)),
                           coalesce(CAST(source AS VARCHAR), chr(0)),
                           coalesce(CAST(text AS VARCHAR), chr(0)))) AS h
      FROM documents WHERE doc_id % 5 <> 4
    ),
    new AS (
      SELECT doc_id,
             md5(concat_ws(chr(31),
                           coalesce(CAST(lang AS VARCHAR), chr(0)),
                           coalesce(CAST(source AS VARCHAR), chr(0)),
                           coalesce(CAST(CASE WHEN doc_id % 7 = 0
                                              THEN upper(text)
                                              ELSE text END AS VARCHAR),
                                    chr(0)))) AS h
      FROM documents WHERE doc_id % 5 <> 0
    ),
    d AS (
      SELECT coalesce(old.doc_id, new.doc_id) AS doc_id,
             CASE WHEN old.h IS NULL THEN 'added'
                  WHEN new.h IS NULL THEN 'removed'
                  WHEN old.h = new.h THEN 'unchanged'
                  ELSE 'changed' END AS status
      FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id
    )
    SELECT status, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM d GROUP BY 1
    """,
)
def corpus_version_diff(spark, sf_dir):
    """Corpus snapshot diff ("what moved between crawl N and N+1"):
    two deterministic synthetic versions of the documents table (one
    residue class dropped from each side, one class uppercased) run
    through the generic keyed table_diff — md5 row fingerprints as
    map-side projections, ONE full-outer equi-join on the key shipping
    (key, hash) only, then a bounded status rollup
    (operators/qa.table_diff)."""
    docs = _t(spark, sf_dir, "documents")
    old = docs.where(F.col("doc_id") % 5 != 4)
    new = docs.where(F.col("doc_id") % 5 != 0).withColumn(
        "text",
        F.when(F.col("doc_id") % 7 == 0, F.upper("text")).otherwise(
            F.col("text")
        ),
    )
    d = qa_ops.table_diff(
        old, new, ["doc_id"], compare_cols=["lang", "source", "text"]
    )
    return d.groupBy("status").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )


@register(
    "dup_span_removal_docs",
    r"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents
    ),
    w AS (
      SELECT doc_id, i - 1 AS pos,
             array_to_string(toks[i : i + 9], ' ') AS win
      FROM t, unnest(generate_series(1, len(toks) - 9)) AS u(i)
      WHERE len(toks) >= 10
    ),
    own AS (
      SELECT doc_id, pos,
             ROW_NUMBER() OVER (PARTITION BY win
                                ORDER BY doc_id, pos) AS rn
      FROM w
    ),
    cov AS (
      SELECT DISTINCT doc_id, pos + d AS pos
      FROM own, unnest(generate_series(0, 9)) AS g(d)
      WHERE rn > 1
    ),
    tok AS (
      SELECT doc_id, i - 1 AS pos, toks[i] AS tok
      FROM t, unnest(generate_series(1, len(toks))) AS u(i)
    )
    SELECT tok.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           string_agg(tok.tok, ' ' ORDER BY tok.pos) AS clean_text
    FROM tok LEFT JOIN cov
      ON tok.doc_id = cov.doc_id AND tok.pos = cov.pos
    WHERE cov.doc_id IS NULL
    GROUP BY 1
    """,
)
def dup_span_removal_docs(spark, sf_dir):
    """ExactSubstr-style duplicated-span excision: overlapping
    stride-1 10-token windows, first corpus-wide occurrence owns each
    window, tokens covered by any non-first occurrence are removed and
    documents reassemble from the survivors — catches duplicated spans
    at ANY alignment, unlike the chunk-grain operator
    (datapipe/dedup.duplicated_span_removal)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.duplicated_span_removal(docs, "text", "doc_id", 10)


@register(
    "gopher_quality_docs",
    r"""
    WITH t AS (
      SELECT source, regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents
    ),
    s AS (
      SELECT source,
             len(toks) AS n,
             CAST(list_sum(list_transform(toks, x -> length(x)))
                  AS BIGINT) AS total_len,
             len(list_filter(toks,
                             x -> regexp_matches(x, '[A-Za-z]')))
               AS n_alpha,
             (CASE WHEN list_contains(list_transform(toks, x -> lower(x)),
                                      'the') THEN 1 ELSE 0 END
              + CASE WHEN list_contains(list_transform(toks, x -> lower(x)),
                                        'be') THEN 1 ELSE 0 END
              + CASE WHEN list_contains(list_transform(toks, x -> lower(x)),
                                        'to') THEN 1 ELSE 0 END
              + CASE WHEN list_contains(list_transform(toks, x -> lower(x)),
                                        'of') THEN 1 ELSE 0 END
              + CASE WHEN list_contains(list_transform(toks, x -> lower(x)),
                                        'and') THEN 1 ELSE 0 END
              + CASE WHEN list_contains(list_transform(toks, x -> lower(x)),
                                        'that') THEN 1 ELSE 0 END
              + CASE WHEN list_contains(list_transform(toks, x -> lower(x)),
                                        'have') THEN 1 ELSE 0 END
              + CASE WHEN list_contains(list_transform(toks, x -> lower(x)),
                                        'with') THEN 1 ELSE 0 END)
               AS stop_hits
      FROM t
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n BETWEEN 50 AND 100000
                          AND total_len BETWEEN 3 * n AND 10 * n
                          AND n_alpha * 100 >= n * 80
                          AND stop_hits >= 2
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_all,
           CAST(SUM(CASE WHEN n NOT BETWEEN 50 AND 100000
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_word_count,
           CAST(SUM(CASE WHEN total_len NOT BETWEEN 3 * n AND 10 * n
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_mean_word_len,
           CAST(SUM(CASE WHEN n_alpha * 100 < n * 80
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_alpha,
           CAST(SUM(CASE WHEN stop_hits < 2
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_stopwords
    FROM s GROUP BY 1
    """,
)
def gopher_quality_docs(spark, sf_dir):
    """Gopher-rule corpus report: per source, how many documents pass
    ALL the published lexical gates (word count 50..100k, mean word
    length 3..10, >=80% alphabetic words, >=2 required stopwords) and
    how many fail each individual rule. The flags come from ONE
    struct-valued map expression (datapipe/text.gopher_flags — every
    threshold is integer math, so no float boundary can flip a flag
    between engines) followed by a single per-source hash aggregate:
    map-only + bounded-cardinality agg, the minimal 100-TB shape."""
    docs = _t(spark, sf_dir, "documents")
    g = docs.select("source", text.gopher_flags("text").alias("_g"))
    f = F.col  # noqa: E741 - brevity in the aggregate list below
    flag = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("long")  # noqa: E731
    return g.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        flag(
            f("_g.pass_word_count")
            & f("_g.pass_mean_word_len")
            & f("_g.pass_alpha_ratio")
            & f("_g.pass_stopwords")
        ).alias("n_pass_all"),
        flag(~f("_g.pass_word_count")).alias("n_fail_word_count"),
        flag(~f("_g.pass_mean_word_len")).alias("n_fail_mean_word_len"),
        flag(~f("_g.pass_alpha_ratio")).alias("n_fail_alpha"),
        flag(~f("_g.pass_stopwords")).alias("n_fail_stopwords"),
    )


@register(
    "top_ngram_repetition_docs",
    r"""
    WITH t AS (
      SELECT doc_id, length(text) AS n_chars,
             regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents
    ),
    g AS (
      SELECT doc_id, n_chars,
             unnest(list_transform(range(1, len(toks)),
                                   i -> toks[i] || ' ' || toks[i + 1]))
               AS gram
      FROM t WHERE len(toks) >= 2
    ),
    c AS (
      SELECT doc_id, gram, COUNT(*) AS cnt, MAX(n_chars) AS n_chars
      FROM g GROUP BY doc_id, gram
    )
    SELECT doc_id,
           CAST(MAX(cnt * length(gram)) AS BIGINT) AS top_gram_chars,
           ROUND(CAST(MAX(cnt * length(gram)) AS DOUBLE)
                 / CAST(MAX(n_chars) AS DOUBLE), 6) AS rep_frac
    FROM c GROUP BY 1
    """,
)
def top_ngram_repetition_docs(spark, sf_dir):
    """Gopher's dominant-bigram repetition rule per document: the
    fraction of characters covered by the most frequent word 2-gram
    (count x gram length / doc length). One explode + two map-side-
    combined hash aggregates; MAX over the count x length product
    resolves ties without ordering on gram text, and the doc length
    rides the aggregates so no join back to the corpus is needed
    (datapipe/text.top_ngram_char_frac)."""
    docs = _t(spark, sf_dir, "documents")
    return text.top_ngram_char_frac(docs, "text", "doc_id", n=2)


# ================================================================
# Registry iteration order
# ================================================================
# The driver's correctness gate samples queries in dict-iteration
# order (rounds 1-2 recorded exactly the first 50 registered names).
# Re-rank so the hard-verification window covers the operators that
# most need it: everything added in round 2 (never driver-checked)
# plus the structurally nontrivial round-1 queries. Demoted names are
# single-expression scalar queries that went driver-green in BOTH
# rounds 1 and 2 and are pinned by pytest; rotating them out lets the
# whole registry accumulate hard verification across rounds.
# Window composition, round 4 (per VERDICT r3 instruction #3):
#   * Slots 1-2: the two round-3 red rows (q12_priority_counts,
#     event_sessions) stay IN the window to prove the HUGEINT-oracle
#     fix at the driver's own Arrow-path gate.
#   * Slots 3-50: the 48 most structural of the 57 queries that have
#     never had a driver CORRECTNESS row (rounds 1-3 union) — the
#     round-3c §17 analytics batch (funnel, retention, OHLC, Markov,
#     islands, checks, attribution — including the three latent
#     HUGEINT fixes: profile_events, dq_checks_events,
#     first_touch_attribution) plus the displaced round-3b set, with
#     three late swaps: the round-4c structural ops (chunk_dedup_docs,
#     lm_score_docs, token_budget_selection) took the slots of the
#     three single-agg histogram queries (dow_hour_heatmap,
#     interarrival_histogram, price_histogram).
# The never-checked names deferred to round 5 (the 12 below plus the
# two set-op queries intersect_both_halves_users / common_ngram_docs,
# displaced by the round-4d Gopher rotation) are single-expression
# or single-agg queries whose machinery is hash-pinned by in-window
# cousins and pytest: uv_components / veer_values (met exprs, u-v
# round-trip property), feet_to_meter_part (unit multiply),
# quality_score_docs / bpe_token_counts / repetition_ratio_docs
# (single projections; language_id pins the token exprs),
# lsh_knn_topk (embedding_cosine_near_dups green r3 pins the bucket
# join), hash_sample_docs (md5 path pinned by minhash, green r3),
# describe_quantity_by_flag (percentile parity pinned by
# exact_quantiles_by_type, green r3), and the three displaced
# histogram queries above (date_trunc/width_bucket projection + hash
# agg). Every query outside the window
# is green in tools/check_correctness.py at sf0.01 (now with the
# HUGEINT output-type lint, tests/test_oracle_types.py) and pinned by
# pytest. Flagship q1_pricing_summary stays exercised every round via
# entry().

# ================================================================
# 19. Round-5 structural additions
# ================================================================

@register(
    "median_price_by_flag",
    """
    SELECT l_returnflag, median(l_extendedprice) AS med_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def median_price_by_flag(spark, sf_dir):
    """Exact grouped median via the bounded-memory bracket algorithm
    (functions/stats.py:grouped_exact_median) — LARGE-group path: each
    l_returnflag group exceeds the accuracy/2 cap, so the median is
    resolved by rank arithmetic inside an approx-percentile bracket,
    never buffering the group (the F.median per-group buffer is the
    100-TB OOM hazard this replaces). Reference center stat:
    filters.py:189-286 (bin_filter median centers)."""
    from openoa_spark.functions import stats as _stats

    li = _t(spark, sf_dir, "lineitem")
    return _stats.grouped_exact_median(
        li, ["l_returnflag"], "l_extendedprice", "med_price"
    )


@register(
    "median_value_by_user",
    """
    SELECT user_id, median(value) AS med_value
    FROM events WHERE value IS NOT NULL GROUP BY user_id
    """,
)
def median_value_by_user(spark, sf_dir):
    """grouped_exact_median SMALL-group path: per-user event groups sit
    under the collect cap, so the algorithm degenerates to
    sort-within-group — pinning both regimes of the bracket median
    against DuckDB's exact median."""
    from openoa_spark.functions import stats as _stats

    ev = _t(spark, sf_dir, "events")
    return _stats.grouped_exact_median(ev, ["user_id"], "value", "med_value")


def _minhash_star_sql(
    num_hashes: int, bands: int, threshold: float, cap: int, n: int = 3
) -> str:
    rpb = num_hashes // bands
    b52 = "CAST('0x' || substring(md5({s}), 1, 13) AS BIGINT)"
    sig_items = ",\n             ".join(
        f"list_min(list_transform(hp, p -> (p.h1 + {i} * p.h2) % 2147483647))"
        for i in range(num_hashes)
    )
    bhash = dedup.sql_hash64(
        f"array_to_string(sig[band*{rpb}+1 : band*{rpb}+{rpb}], ',')"
    )
    agree = " + ".join(
        f"(CASE WHEN sa[{i}] = sb[{i}] THEN 1 ELSE 0 END)"
        for i in range(1, num_hashes + 1)
    )
    return f"""
    WITH {_shingle_cte(n)},
    hps AS (
      SELECT doc_id,
             list_transform(shs, s -> {{'h1': {b52.format(s='s')},
                                        'h2': {b52.format(s="s || '#'")}}}) AS hp
      FROM sh
    ),
    sig AS (SELECT doc_id, [{sig_items}] AS sig FROM (SELECT doc_id, hp FROM hps)),
    banded AS (
      SELECT doc_id, sig, band, {bhash} AS bhash
      FROM sig, (SELECT unnest(range(0, {bands})) AS band)
    ),
    sized AS (
      SELECT doc_id, sig, band, bhash,
             COUNT(*) OVER (PARTITION BY band, bhash) AS bsz,
             MIN(doc_id) OVER (PARTITION BY band, bhash) AS rep
      FROM banded
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                      a.sig AS sa, b.sig AS sb
      FROM sized a JOIN sized b
        ON a.band = b.band AND a.bhash = b.bhash AND a.doc_id < b.doc_id
       AND a.bsz <= {cap}
      UNION
      SELECT DISTINCT a.doc_id, b.doc_id, a.sig, b.sig
      FROM sized a JOIN sized b
        ON a.band = b.band AND a.bhash = b.bhash
       AND a.bsz > {cap} AND a.doc_id = a.rep AND b.doc_id <> b.rep
    )
    SELECT id_a, id_b, est_jaccard FROM (
      SELECT id_a, id_b, ({agree}) / {float(num_hashes)} AS est_jaccard FROM cand
    ) WHERE est_jaccard >= {threshold}
    """


@register("minhash_star_near_dups", _minhash_star_sql(32, 8, 0.4, 1))
def minhash_star_near_dups(spark, sf_dir):
    """The hot-bucket-capped LSH path (datapipe/dedup.py
    _pairs_from_banded max_band_bucket): with cap=1 EVERY multi-doc
    band bucket degrades to star topology (members pair with the
    min-id representative only), so the query drives the skew-bounding
    code end-to-end; the DuckDB twin replays the identical size/rep
    window + union. See tools/skew_probe.py for the blowup this
    bounds."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.minhash_near_dup_pairs(
        docs, "text", "doc_id", num_hashes=32, bands=8,
        jaccard_threshold=0.4, hash_fn="md5", max_band_bucket=1,
    )


@register(
    "p90_price_by_flag",
    """
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.9), 6) + 0.0 AS p90_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def p90_price_by_flag(spark, sf_dir):
    """Exact grouped PERCENTILE via the bracket algorithm
    (functions/stats.py:grouped_exact_percentile) — the arbitrary-q
    generalization of the bounded-memory median, interpolation
    replicating F.percentile/quantile_cont ((1-frac)*lo + frac*hi).
    round(6) bridges the engines' last-ulp interpolation arithmetic
    (same libm discipline as the trig queries)."""
    from openoa_spark.functions import stats as _stats

    li = _t(spark, sf_dir, "lineitem")
    out = _stats.grouped_exact_percentile(
        li, ["l_returnflag"], "l_extendedprice", 0.9, "p90_price"
    )
    return out.select(
        "l_returnflag", (rounded("p90_price") + F.lit(0.0)).alias("p90_price")
    )


@register(
    "top3_docs_per_source",
    """
    SELECT doc_id, source, n_chars FROM (
      SELECT doc_id, source, n_chars,
             ROW_NUMBER() OVER (
               PARTITION BY source ORDER BY n_chars DESC, doc_id
             ) AS rn
      FROM documents
    ) WHERE rn <= 3
    """,
)
def top3_docs_per_source(spark, sf_dir):
    """Domain capping (keep the K best documents per source/domain —
    the Common-Crawl curation staple) via grouped_top_k: exact top-K
    per group WITHOUT a per-group window sort, so a megadomain cannot
    funnel the job through one task (functions/stats.py bracket
    selection; a window would be the partition AQE cannot split).
    The oracle is the row_number idiom the operator replaces."""
    from openoa_spark.functions import stats as _stats

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    return _stats.grouped_top_k(docs, ["source"], "n_chars", "doc_id", 3)


@register(
    "ngram_novelty_by_slice",
    f"""
    WITH {_shingle_cte(3)},
    bounds AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents),
    pairs AS (
      SELECT DISTINCT
        CAST(least(9, ((sh.doc_id - b.lo) * 10)
                      // (b.hi - b.lo + 1)) AS INT) AS slice,
        g.gram AS gram
      FROM sh, bounds b, unnest(sh.shs) AS g(gram)
    ),
    present AS (SELECT slice, COUNT(*) AS present_grams FROM pairs GROUP BY slice),
    novel AS (
      SELECT slice, COUNT(*) AS novel_grams FROM (
        SELECT gram, MIN(slice) AS slice FROM pairs GROUP BY gram
      ) GROUP BY slice
    )
    SELECT p.slice,
           CAST(p.present_grams AS BIGINT) AS present_grams,
           CAST(COALESCE(n.novel_grams, 0) AS BIGINT) AS novel_grams,
           ROUND(COALESCE(n.novel_grams, 0) / p.present_grams, 6) AS novelty
    FROM present p LEFT JOIN novel n USING (slice)
    """,
)
def ngram_novelty_by_slice(spark, sf_dir):
    """Corpus saturation curve (datapipe/text.py:ngram_novelty_by_slice):
    per id-ordered corpus slice, the fraction of its distinct word
    3-grams appearing for the first time — the diminishing-returns
    signal for crawl scheduling. Gram-grain hash aggregates only;
    slice-grain output."""
    docs = _t(spark, sf_dir, "documents")
    out = text.ngram_novelty_by_slice(docs, "text", "doc_id", n=3, n_slices=10)
    return out


@register(
    "embedding_norm_outliers",
    """
    WITH norms AS (
      SELECT vec_id,
             ROUND(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                         CAST(embedding AS DOUBLE[]))), 6)
               AS norm
      FROM embeddings
    ),
    med AS (SELECT median(norm) AS m FROM norms)
    SELECT vec_id, norm,
           (norm < 0.25 * m OR norm > 4.0 * m) AS is_outlier
    FROM norms, med
    """,
)
def embedding_norm_outliers(spark, sf_dir):
    """Corrupt-embedding detector: vectors whose L2 norm sits outside
    [med/4, 4·med] of the corpus norm distribution — zeroed/truncated
    vectors collapse toward 0, blown-up ones explode, and both poison
    cosine pipelines silently. Norm is a JVM array fold (no UDF);
    the global median comes from the bounded-memory bracket median
    (one keys=[] group — no F.median value buffer) and broadcasts
    back as a one-row scalar (allowlisted NLJ)."""
    from openoa_spark.functions import stats as _stats

    emb = _t(spark, sf_dir, "embeddings")
    v = similarity._vec("embedding")
    norms = emb.select(
        "vec_id",
        rounded(similarity.norm(v)).alias("norm"),
    )
    norms = norms.localCheckpoint(eager=False)  # feeds median AND flags
    med = _stats.grouped_exact_median(norms, [], "norm", "m")
    return norms.join(F.broadcast(med)).select(
        "vec_id", "norm",
        (
            (F.col("norm") < 0.25 * F.col("m"))
            | (F.col("norm") > 4.0 * F.col("m"))
        ).alias("is_outlier"),
    )


def _lang_mismatch_sql() -> str:
    inner = _langid_sql().strip()
    return f"""
    WITH pred AS ({inner})
    SELECT d.lang AS meta_lang, p.pred_lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM documents d JOIN pred p USING (doc_id)
    WHERE p.pred_lang <> 'und' AND p.pred_lang <> d.lang
    GROUP BY 1, 2
    """


@register("lang_metadata_mismatch", _lang_mismatch_sql())
def lang_metadata_mismatch(spark, sf_dir):
    """Metadata-vs-content language audit: documents whose declared
    ``lang`` field disagrees with the stopword language-ID of the text
    — the standard crawl-metadata defect that silently poisons
    per-language sampling weights and decontamination. Confusion
    grain: (meta_lang, predicted) counts for the confident-mismatch
    cells. Same map-only scorer as ``language_id``; one bounded hash
    aggregate (|langs|² rows)."""
    from openoa_spark.session import spread_small_input

    docs = spread_small_input(_t(spark, sf_dir, "documents"))
    pred = docs.select(
        "doc_id",
        F.col("lang").alias("meta_lang"),
        text.language_id("text").alias("pred_lang"),
    )
    return (
        pred.where(
            (F.col("pred_lang") != "und")
            & (F.col("pred_lang") != F.col("meta_lang"))
        )
        .groupBy("meta_lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# ------------------------------------------------------ trained LID
#
# The synthetic corpus's lang column is metadata-only (every language
# shares one token vocabulary), so the queries DECORATE each document
# with a deterministic per-language marker phrase — planting real
# signal — and the trained classifier must RECOVER the held-out
# labels. Markers are module-level so the Spark decoration and the
# oracle's CASE expression are generated from one table.
_LID_MARKERS = {
    "de": "der und die das ein zu ist nicht",
    "en": "the and of to a in is that",
    "es": "el y la los una de que no",
    "fr": "le et la les une du est pas",
    "zh": "de shi le zai he bu wo you",
}
_LID_V = text.LID_SMOOTH_V
# marker phrase repeated 4x: a single 40-char phrase against ~500
# chars of shared vocabulary trains near-chance profiles (measured
# 24% held-out); at ~30% of the document's trigram mass the planted
# signal dominates and recovery is assertable
_LID_DECOR = {k: (" " + v) * 4 for k, v in _LID_MARKERS.items()}
_LID_CASE = "CASE " + " ".join(
    f"WHEN lang = '{k}' THEN '{v}'" for k, v in sorted(_LID_DECOR.items())
) + " END"
_LID_SQL_PREFIX = f"""
    WITH d AS (
      SELECT doc_id, lang,
             trim(regexp_replace(lower(text || {_LID_CASE}),
                                 '\\s+', ' ', 'g')) AS s
      FROM documents
    ),
    gi AS (
      SELECT doc_id, lang, s,
             unnest(generate_series(1, length(s) - 2)) AS i
      FROM d
    ),
    g AS (
      SELECT doc_id, lang, substring(s, i, 3) AS gram FROM gi
    ),
    counts AS (
      SELECT lang, gram, COUNT(*) AS cnt FROM g
      WHERE doc_id % 2 = 0 GROUP BY 1, 2
    ),
    totals AS (
      SELECT lang, CAST(SUM(cnt) AS BIGINT) AS total
      FROM counts GROUP BY 1
    ),
    prof AS (
      SELECT lang, gram,
             ROUND(ln((cnt + 1) / (total + {_LID_V})), 6) AS logp
      FROM (
        SELECT c.lang, c.gram, c.cnt, t.total,
               ROW_NUMBER() OVER (PARTITION BY c.lang
                                  ORDER BY c.cnt DESC, c.gram) AS rk
        FROM counts c JOIN totals t USING (lang)
      ) WHERE rk <= 64
    )
"""


@register(
    "lid_trained_profiles",
    _LID_SQL_PREFIX + "SELECT lang, gram, logp FROM prof",
)
def lid_trained_profiles(spark, sf_dir):
    """TRAIN step of the char-trigram LID (Cavnar-Trenkle/langid
    family — the real-classifier counterpart the r6 verdict asked the
    stopword heuristic not to impersonate): per-language trigram
    profiles learned from the even-doc_id half of the marker-decorated
    corpus. One explode + vocabulary-grain hash aggregate + lang-keyed
    top-64 window; Laplace log-probs rounded to 6 dp so the profile
    table is engine-exact. Profiles are langs x 64 rows however large
    the corpus — the broadcastable-model contract."""
    from openoa_spark.session import spread_small_input

    docs = spread_small_input(_t(spark, sf_dir, "documents"))
    marker = None
    for k, v in sorted(_LID_DECOR.items()):
        cond = F.when(F.col("lang") == k, F.lit(v))
        marker = cond if marker is None else marker.when(
            F.col("lang") == k, F.lit(v)
        )
    decorated = docs.select(
        "doc_id", "lang",
        F.concat(F.col("text"), marker).alias("text2"),
    )
    prof, _stats = text.train_char_ngram_lid(
        decorated.where(F.col("doc_id") % 2 == 0), "text2", "lang"
    )
    return prof


@register(
    "lid_trained_heldout_accuracy",
    _LID_SQL_PREFIX + f""",
    floors AS (
      SELECT lang, ROUND(ln(1.0 / (total + {_LID_V})), 6) AS fl
      FROM totals
    ),
    ag AS (SELECT doc_id, gram FROM g WHERE doc_id % 2 = 1),
    ngr AS (SELECT doc_id, COUNT(*) AS n FROM ag GROUP BY 1),
    pres AS (
      SELECT a.doc_id, p.lang,
             SUM(CAST(p.logp AS DECIMAL(20,6))) AS sp,
             COUNT(*) AS np
      FROM ag a JOIN prof p USING (gram) GROUP BY 1, 2
    ),
    sc AS (
      SELECT q.doc_id, q.lang,
             COALESCE(pres.sp, CAST(0 AS DECIMAL(20,6)))
             + (q.n - COALESCE(pres.np, 0)) * CAST(q.fl AS DECIMAL(20,6))
               AS score
      FROM (SELECT ngr.doc_id, ngr.n, floors.lang, floors.fl
            FROM ngr CROSS JOIN floors) q
      LEFT JOIN pres ON pres.doc_id = q.doc_id AND pres.lang = q.lang
    ),
    pred AS (
      SELECT doc_id, lang AS pred_lang FROM (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, lang) AS rk
        FROM sc
      ) WHERE rk = 1
    )
    SELECT d.lang AS meta_lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN pred.pred_lang = d.lang THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct
    FROM d LEFT JOIN pred USING (doc_id)
    WHERE d.doc_id % 2 = 1
    GROUP BY 1
    """,
)
def lid_trained_heldout_accuracy(spark, sf_dir):
    """APPLY step + evaluation of the trained LID: profiles fit on the
    even half predict the ODD half, scored per (doc, lang) as exact
    decimals (6-dp log-probs summed in decimal space, out-of-profile
    grams paying the per-language floor) so the argmax — ties to the
    lexicographically-first language — is engine-exact; output is the
    per-language held-out confusion diagonal (n_docs, n_correct). The
    planted markers give the classifier real signal, so this measures
    genuine recovery, not chance. Scale shape: train aggregate at
    vocabulary grain; scoring = one explode + a broadcast-profile
    equi-join + a (doc, lang) aggregate; the docs x langs pair frame
    is a broadcast NLJ over the BOUNDED language table (allowlisted)."""
    from openoa_spark.session import spread_small_input

    docs = spread_small_input(_t(spark, sf_dir, "documents"))
    marker = None
    for k, v in sorted(_LID_DECOR.items()):
        cond = F.when(F.col("lang") == k, F.lit(v))
        marker = cond if marker is None else marker.when(
            F.col("lang") == k, F.lit(v)
        )
    decorated = docs.select(
        "doc_id", "lang",
        F.concat(F.col("text"), marker).alias("text2"),
    ).localCheckpoint(eager=False)
    prof, stats = text.train_char_ngram_lid(
        decorated.where(F.col("doc_id") % 2 == 0), "text2", "lang"
    )
    heldout = decorated.where(F.col("doc_id") % 2 == 1).select(
        "doc_id", F.col("lang").alias("meta_lang"), "text2"
    )
    # meta_lang rides through the apply chain (carry_cols), so the
    # evaluation needs no join back to the held-out frame — part of
    # the r10 verdict item-7 shuffle diet (12 -> ~6 chain shuffles).
    pred = text.apply_char_ngram_lid(
        heldout, "text2", "doc_id", prof, stats, carry_cols=["meta_lang"]
    )
    return (
        pred.groupBy("meta_lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            # coalesce BEFORE the sum: a NULL pred (gram-less doc)
            # contributes 0 exactly like the oracle's CASE WHEN, so a
            # meta_lang group that is ALL gram-less sums to 0, not NULL
            F.sum(
                F.coalesce(
                    (F.col("pred_lang") == F.col("meta_lang")).cast(
                        "bigint"
                    ),
                    F.lit(0),
                )
            ).alias("n_correct"),
        )
    )


# ================================================================
# 18. Streaming-operator batch seams (round 9, r8 verdict item 7):
#     the deterministic streaming transformations — stream_resample
#     (windowed agg) and stream_sessionize (session_window) — are
#     run HERE in batch execution mode (withWatermark is a no-op on
#     batch frames; window()/session_window() are mode-agnostic), so
#     the EXACT streaming expression tree gets a DuckDB oracle. The
#     incremental-execution half of the claim is pinned by
#     tests/test_streaming.py::test_stream_resample_matches_batch /
#     test_stream_sessionize_matches_batch (micro-batch == batch) and
#     the crash-replay idempotence tests; together the streaming
#     semantics inherit oracle coverage transitively. stream_dedup
#     has no batch mode (dropDuplicatesWithinWatermark is
#     streaming-only) — its first-arrival-wins parity against
#     datapipe.dedup.exact_dedup (oracle-covered: exact_dedup_docs)
#     is pinned by test_stream_dedup_first_wins.
# ================================================================

@register(
    "stream_resample_hourly_batch",
    """
    SELECT date_trunc('hour', ts) AS ts,
           event_type,
           ROUND(SUM(value), 6) AS sum_value,
           COUNT(*) AS n_events
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_resample_hourly_batch(spark, sf_dir):
    """The ACTUAL streaming windowed-aggregation operator
    (streaming/ingest.stream_resample: watermark + tumbling
    event-time window) executed in batch mode — window(3600s) aligns
    to epoch-hour boundaries, so the oracle is a date_trunc rollup.
    Micro-batch == batch is pinned by
    test_stream_resample_matches_batch; this row gives the same
    expression tree a value-level DuckDB check."""
    from openoa_spark.streaming import ingest

    ev = _t(spark, sf_dir, "events")
    out = ingest.stream_resample(
        ev, "ts", 3600,
        {"sum_value": F.round(F.sum("value"), 6),
         "n_events": F.count(F.lit(1))},
        keys=["event_type"],
    )
    return out.select("ts", "event_type", "sum_value", "n_events")


@register(
    "stream_sessionize_events_batch",
    """
    WITH d AS (
      SELECT user_id, ts,
             epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts))
               AS delta_us
      FROM events
    ),
    s AS (
      SELECT user_id, ts,
             CAST(SUM(CASE WHEN delta_us IS NULL OR delta_us >= 1800000000
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS session_id
      FROM d
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 1800 SECOND AS session_end,
           COUNT(*) AS n_events
    FROM s GROUP BY user_id, session_id
    """,
)
def stream_sessionize_events_batch(spark, sf_dir):
    """The ACTUAL streaming session operator
    (streaming/ingest.stream_sessionize: watermark + native
    session_window) executed in batch mode. session_window merges
    events while the inter-event delta < gap and OPENS a session at
    delta >= gap (the boundary the operator's docstring documents as
    differing from the batch sessionize's delta > gap), and a
    session's end is last_event + gap — the oracle replays exactly
    those semantics with a lag/cumsum session id. Micro-batch ==
    batch is pinned by test_stream_sessionize_matches_batch."""
    from openoa_spark.streaming import ingest

    ev = _t(spark, sf_dir, "events")
    out = ingest.stream_sessionize(
        ev, "ts", ["user_id"], gap_seconds=1800.0,
        aggs={"n_events": F.count(F.lit(1))},
    )
    return out.select("user_id", "session_start", "session_end", "n_events")


_PRIORITY = [
    # ---- ROUND 11 window (policy: plan-changed this round, then
    # longest-unchecked fill) ----
    # (1) Plan changed this round (r10 verdict item 7, the LID plan
    # diet): apply_char_ngram_lid dropped the (docs x langs)
    # pair-join and the ids.distinct() join-back for a union-argmax
    # shape, and train_char_ngram_lid lazily checkpoints its model
    # tables so the broadcast consumers stop re-executing the train
    # aggregates — 12 chain shuffles down to ~6, oracle re-proven at
    # sf0.001/sf0.01/sf0.1.
    "lid_trained_profiles", "lid_trained_heldout_accuracy",
    # (2) Longest-unchecked fill: the COMPLETE r6 cohort (the 34
    # queries whose latest green driver row is round 6 — after this
    # window every registry query's latest driver row is <= 4 rounds
    # old), then the oldest 14 of the r7 cohort alphabetically.
    "embedding_int8_quantization", "embedding_norms",
    "encoding_damage_docs", "exact_dedup_docs", "find_hour_gaps",
    "gross_energy_frac", "ivf_pq_topk", "leakage_safe_split_docs",
    "multimodal_audio_metadata", "multimodal_audio_stats",
    "multimodal_corrupt_media", "multimodal_image_metadata",
    "multimodal_pixel_stats", "nation_share_of_region", "pq_adc_topk",
    "pq_codes_embeddings", "pq_recall_measured",
    "pq_reconstruction_error", "q10_returned_revenue",
    "q14_promo_revenue_pct", "q16_supplier_variety",
    "q17_small_quantity_revenue", "q18_large_volume_customers",
    "q19_bracketed_revenue", "q20_heavy_suppliers",
    "q2_min_price_part_supplier", "q3_top_revenue_orders",
    "q5_nation_revenue", "q7_volume_shipping", "q8_market_share",
    "q9_profit_by_nation_year", "sliding_chunks_docs",
    "wake_plant_reference_conditions", "yaw_vane_bin_cells",
    # (3) oldest 14 of the r7 cohort, alphabetical (lag_delta_per_user
    # and language_id displaced by the two plan-changed LID queries;
    # they lead the r12 fill):
    "benchmark_overlap_docs", "centroid_distances",
    "cube_returnflag_status", "electrical_losses_proxy",
    "embedding_cosine_near_dups", "exact_quantiles_by_type",
    "except_lapsed_customers", "freestream_iec_membership",
    "freestream_membership", "gap_fill_daily", "iec_power_curve",
    "infer_frequency", "interval_join_daily_activity",
    "json_props_stats",
]

_PRIORITY_R10 = [
    # ---- ROUND 10 window (policy: plan-changed this round, then
    # longest-unchecked fill) ----
    # (1) Plan changed this round: customer_rfm_segments dropped its
    # three keyless ntile windows (keyed_row_number + closed-form
    # ntile_from_rank — r9 verdict item 3); token_budget_selection
    # rides keyed_row_number too (its keys-nonempty path is unchanged,
    # re-proven as insurance).
    "customer_rfm_segments", "token_budget_selection",
    # (2) Longest-unchecked fill: the COMPLETE r5 cohort (the
    # remaining 34 queries whose latest driver row is round 5 — after
    # this window every registry query's latest driver row is <= 4
    # rounds old), then the oldest 14 of the r6 cohort alphabetically.
    "embedding_near_dedup_vecs", "embedding_norm_outliers",
    "extrapolated_windspeed", "feet_to_meter_part", "hampel_outliers",
    "hash_sample_docs", "interarrival_histogram",
    "intersect_both_halves_users", "kmeans_cluster_profile",
    "kmeans_embedding_clusters", "ks_value_drift",
    "lang_metadata_mismatch", "lang_sampling_weights",
    "logistic5_capped_power_values", "lsh_knn_topk",
    "median_price_by_flag", "median_value_by_user",
    "minhash_star_near_dups", "near_dup_cluster_sizes",
    "ngram_novelty_by_slice", "p90_price_by_flag", "pii_redaction_docs",
    "price_histogram", "quality_score_docs", "repetition_ratio_docs",
    "semantic_dedup_vecs", "simhash_near_dups",
    "top3_docs_per_source", "train_val_test_split_docs",
    "uv_components", "veer_values", "vocab_coverage_90",
    "weighted_sample_docs",
    "aep_monthly_meter_prep", "air_density", "asof_hourly_value",
    "asset_direction_pairs", "asset_distance_pairs", "avg_word_lengths",
    "calendar_hour_profile", "circular_mean_by_type", "cohort_retention",
    "cosine_topk", "cumulative_sum_per_user", "doc_fingerprints",
    "duplicate_minutes", "elosses_daily_coverage_energy",
    # brand-new this round (displaces the last r6 fill name per the
    # rotation policy): fact-grain NTILE via the keyless-ntile-free
    # machinery, n_tiles=10
    "doc_token_deciles",
]

_PRIORITY_R9 = [
    # ---- ROUND 9 window (policy: plan-changed this round, then
    # brand-new, then longest-unchecked fill) ----
    # (1) Plan changed this round: char n-gram extraction went
    # linear (text.char_array + zip_with — lm scorer, perplexity
    # buckets, trained LID), chunk_dedup dropped its chunk-table
    # checkpoint, and the ungrouped impute fit gained the grouped
    # path's relative zero-variance cutoff.
    "lm_score_docs", "ccnet_perplexity_buckets", "chunk_dedup_docs",
    "lid_trained_profiles", "lid_trained_heldout_accuracy",
    "impute_best_neighbor",
    # (2) Brand-new: the streaming-operator batch seams (the ACTUAL
    # stream_resample / stream_sessionize expression trees run in
    # batch mode — r8 verdict item 7).
    "stream_resample_hourly_batch", "stream_sessionize_events_batch",
    # (3) Longest-unchecked fill: the COMPLETE r4 cohort (27 queries
    # whose latest driver row is round 4 — after this window every
    # registry query's latest driver row is <= 5 rounds old), then
    # the oldest 15 of the r5 cohort alphabetically.
    "grouping_sets_revenue", "hourly_active_users",
    "interpolate_user_values", "latest_event_per_user",
    "lineitem_corr_matrix", "mad_by_type", "modal_event_type_per_user",
    "monthly_revenue_growth", "near_dup_edit_verified",
    "ohlc_daily_user", "pack_blocks_docs", "percent_rank_daily_user_value",
    "profile_events", "q12_priority_counts", "quantity_weighted_avg_price",
    "rabin_karp_fingerprints", "redact_docs", "seasonal_residual_outliers",
    "state_islands", "stratified_sample_lang", "tokenized_user_activity",
    "top_ngram_repetition_docs", "top_session_paths", "user_value_trend",
    "value_drift_psi", "value_moments_by_type", "winsorized_quantity_stats",
    "ann_recall_lsh", "asof_tolerance_hourly_value", "benford_first_digit",
    "bin_filter_lineitem", "bloom_decontaminate_docs",
    "boilerplate_segment_removal_docs", "bpe_merges_docs",
    "bpe_token_counts", "bpe_token_counts_learned",
    "cluster_balanced_sample_vecs", "cluster_lang_profile",
    "common_ngram_docs", "corpus_version_diff",
    "describe_quantity_by_flag", "dow_hour_heatmap",
]

_PRIORITY_R8 = [
    # ---- ROUND 8 window (policy: brand-new, then plan-changed this
    # round, then longest-unchecked fill) ----
    # (1) Brand-new: the deterministic-Lloyd Mahalanobis cluster
    # filter (the last §2.5 operator without a driver oracle row) and
    # the CCNet perplexity head/middle/tail bucketing (discrete
    # order-statistic boundaries).
    "mahalanobis_cluster_flag", "ccnet_perplexity_buckets",
    # (2) Plan changed this round: the TIE chain was rewritten
    # sim-keyed (tie.py batched passes feed the same
    # daily-corrected-energy prep the oracle replays), and
    # impute_data / impute_all_assets_by_correlation grew the
    # group_cols seam the batching rides on — their single-sim plans
    # re-prove under the driver. mahalanobis_flag_lineitem's KMeans
    # was replaced by the integer-grid Lloyd (also in the r3-stale
    # cohort below).
    "tie_daily_corrected_energy", "impute_linear_synthetic",
    "impute_quadratic_synthetic", "impute_best_neighbor",
    # (also plan-changed: apply_char_ngram_lid now left-joins back to
    # the full id set so gram-less docs emit pred_lang NULL — r7
    # ADVICE)
    "lid_trained_heldout_accuracy",
    # (3) Longest-unchecked fill: the complete r3 cohort (23 queries
    # whose last driver row is round 3), then the two datapipe ops
    # joining the paired bench this round (minhash_near_dups is
    # already in the r3 cohort; lm_score_docs and chunk_dedup_docs
    # are r4-stale), then the oldest 20 of the r4 cohort
    # alphabetically.
    "label_centroids", "logistic5_power_values",
    "mahalanobis_flag_lineitem", "minhash_near_dups",
    "near_dedup_docs", "near_dedup_keep_best_docs",
    "ngram_jaccard_pairs", "ntile_value_quartiles",
    "pivot_daily_by_type", "q11_important_stock",
    "q13_order_count_distribution", "q15_top_suppliers",
    "q21_waiting_suppliers", "q22_idle_customers",
    "q4_late_shipment_priority", "qa_offset_dst",
    "rolling_1h_sum_per_user", "rolling_zscore_outliers",
    "source_overlap_matrix", "tfidf_top_terms",
    "unpivot_lineitem_measures", "upsample_ffill_hourly",
    "zipf_slope",
    "lm_score_docs", "chunk_dedup_docs",
    "active_users_grouping_sets", "asof_forward_hourly_value",
    "behavior_cohorts", "bigram_pmi_top", "char_entropy_docs",
    "customer_rfm_segments", "doc_chunks", "doc_shards",
    "dq_checks_events", "dup_span_removal_docs", "event_funnel",
    "event_gini_by_type", "event_sessions",
    "event_type_cooccurrence", "event_type_transitions",
    "first_touch_attribution", "full_outer_daily_activity",
    "gopher_quality_docs",
]

_PRIORITY_R7 = [
    # ---- ROUND 7 window (policy: plan-changed this round, then
    # brand-new, then longest-unchecked fill) ----
    # (1) Plan changed this round: the forced F.broadcast of the bench
    # band table was dropped from minhash_decontaminate (the registry
    # caller's bench side is SF-scaled — r6 ADVICE) and AQE now picks
    # the join strategy.
    "minhash_decontaminate_docs",
    # (2) Brand-new this round: the JPEG segment-walk decoder (also
    # pinned on foreign fixtures vs Java ImageIO) with built-in
    # corrupt-detection rows, the plant-catalog SQL surface proof
    # (PlantData.create_views -> raw spark.sql), and the TRAINED
    # char-trigram LID (train/apply/held-out-eval; planted marker
    # recovery 250/250).
    "multimodal_jpeg_metadata", "plant_sql_daily_turbine_energy",
    "lid_trained_profiles", "lid_trained_heldout_accuracy",
    # (3) Longest-unchecked fill: first the complete r2 cohort (last
    # all-green driver row was round 2 — 31 queries), then the oldest
    # 16 of the r3 cohort alphabetically. This keeps every registry
    # query's latest driver row within 5 rounds.
    "iec_power_curve", "impute_linear_synthetic", "infer_frequency",
    "lag_delta_per_user", "language_id", "lsh_bucket_counts",
    "nearest_neighbor", "order_priority_stats",
    "orders_without_lineitems", "percent_null_synthetic",
    "power_to_energy", "pressure_extrapolation", "q1_pricing_summary",
    "q6_forecast_revenue", "range_flag_events", "resample_day_sum",
    "resample_hour_mean_by_type", "rolling_sum3_per_user",
    "rollup_lineitem_counts", "shear_alpha", "simhash_docs",
    "span_days_hours", "std_range_flag_events", "token_counts",
    "top2_orders_per_customer", "turbulence_intensity_by_user",
    "unresponsive_flag_runs", "user_daily_correlation_pairs",
    "wind_direction_from_uv", "window_range_flag_lineitem",
    "wrap180_values",
    "benchmark_overlap_docs", "centroid_distances",
    "cube_returnflag_status", "electrical_losses_proxy",
    "embedding_cosine_near_dups", "exact_quantiles_by_type",
    "except_lapsed_customers", "freestream_iec_membership",
    "freestream_membership", "gap_fill_daily", "impute_best_neighbor",
    "impute_quadratic_synthetic", "interval_join_daily_activity",
    "json_props_stats",
    # (label_centroids and logistic5_power_values roll to the r8 fill:
    # the two late-round trained-LID queries took their slots)
]

_PRIORITY_R6 = [
    # ---- ROUND 6 window (policy: never-driver-verified first, then
    # brand-new, then plan-changed, then longest-unchecked fill) ----
    # (1) The 7 queries with no all-green driver row yet: the r5 PQ
    # family + sliding chunks landed after the 50 slots filled, and
    # embedding_int8_quantization was RED in r5 (array-typed output;
    # now flattened to a comma-joined scalar in both engines, as is
    # pq_codes_embeddings which would have hit the same canonicalizer
    # bug on arrival).
    "embedding_int8_quantization", "pq_codes_embeddings",
    "pq_adc_topk", "ivf_pq_topk", "pq_recall_measured",
    "pq_reconstruction_error", "sliding_chunks_docs",
    # (2) Brand-new this round: the multimodal real-decode family
    # (valid PNG/WAV synth -> byte-level header parse, oracle =
    # closed-form arithmetic) and the analysis-pipeline prep stages
    # (ElectricalLosses coverage filter via the real pipeline
    # function, AEP monthly meter aggregate, TIE corrected daily
    # energy).
    "multimodal_image_metadata", "multimodal_audio_metadata",
    "multimodal_corrupt_media", "elosses_daily_coverage_energy",
    "aep_monthly_meter_prep", "tie_daily_corrected_energy",
    # (3) Plan-changed this round: forced F.broadcast hints on
    # SF-scaled tables (customer/part/per-key aggregates) were
    # dropped (r5 VERDICT item 4) — AQE re-plans these joins, so they
    # re-prove under the driver.
    "q3_top_revenue_orders", "q5_nation_revenue", "q10_returned_revenue",
    "q14_promo_revenue_pct", "q16_supplier_variety",
    "q18_large_volume_customers", "q19_bracketed_revenue",
    "q7_volume_shipping", "q8_market_share",
    "q17_small_quantity_revenue", "q20_heavy_suppliers",
    "q9_profit_by_nation_year", "q2_min_price_part_supplier",
    "cohort_retention", "nation_share_of_region",
    # (4) Longest-unchecked fill: last all-green driver row was
    # round 2 for all of these (alphabetical prefix of that cohort).
    "air_density", "asof_hourly_value", "asset_direction_pairs",
    "asset_distance_pairs", "avg_word_lengths",
    "calendar_hour_profile", "circular_mean_by_type", "cosine_topk",
    "cumulative_sum_per_user", "doc_fingerprints",
    "duplicate_minutes", "embedding_norms", "exact_dedup_docs",
    "find_hour_gaps", "gross_energy_frac",
    # (5) Brand-new late-round-6 structural queries (displacing the
    # last seven longest-unchecked fills — iec_power_curve /
    # impute_linear_synthetic / infer_frequency / lag_delta_per_user /
    # language_id / lsh_bucket_counts / nearest_neighbor roll to the
    # r7 fill): fuzzy LSH benchmark decontamination, near-dup-aware
    # leakage-safe splits, encoding-damage detection, the full-decode
    # stats pair (pixel means, PCM amplitude), and the wake/yaw prep
    # oracles completing driver coverage of all six pipelines' prep
    # stages.
    "minhash_decontaminate_docs", "leakage_safe_split_docs",
    "encoding_damage_docs", "multimodal_pixel_stats",
    "multimodal_audio_stats", "wake_plant_reference_conditions",
    "yaw_vane_bin_cells",
]

_PRIORITY_R5 = [
    # Round 5: the complete never-driver-checked set (29 queries) —
    # after rounds 1-4, these are the ONLY registry entries without an
    # all-green row in a round's correctness receipt (git show
    # 9378dbf:CORRECTNESS_r04.json and the rounds before it). With all
    # 29 in the 50-name gate window, every one of the 176 registry
    # queries will have been driver-verified at least once.
    "asof_tolerance_hourly_value", "extrapolated_windspeed",
    "uv_components", "veer_values", "feet_to_meter_part",
    "logistic5_capped_power_values", "describe_quantity_by_flag",
    "quality_score_docs", "bpe_token_counts", "repetition_ratio_docs",
    "common_ngram_docs", "lsh_knn_topk", "intersect_both_halves_users",
    "hash_sample_docs", "lang_sampling_weights", "dow_hour_heatmap",
    "interarrival_histogram", "price_histogram", "weighted_sample_docs",
    "train_val_test_split_docs", "ks_value_drift",
    "near_dup_cluster_sizes", "simhash_near_dups",
    "embedding_near_dedup_vecs", "ann_recall_lsh",
    "benford_first_digit", "hampel_outliers", "vocab_coverage_90",
    "corpus_version_diff",
    # Round-5 structural additions: the bounded-memory exact grouped
    # median (both group-size regimes), the star-capped LSH path, and
    # bin_filter_lineitem (its median plan changed this round).
    "median_price_by_flag", "median_value_by_user",
    "minhash_star_near_dups", "bin_filter_lineitem",
    "p90_price_by_flag", "top3_docs_per_source",
    # plan changed round 5 (sub-bucketed rank window) — back in the
    # hard window; vocab_coverage_90 (also re-planned) is already in
    "token_budget_selection",
    "ngram_novelty_by_slice", "embedding_norm_outliers",
    "lang_metadata_mismatch",
    # Brand-new this round: deterministic integer-grid Lloyd k-means
    # and the SemDeDup pass riding it, plus the cluster-profile and
    # cluster-balanced-sample riders.
    "kmeans_embedding_clusters", "semantic_dedup_vecs",
    "kmeans_cluster_profile", "cluster_balanced_sample_vecs",
    # BPE merge learning + learned-vocab token counts (the oracle
    # replays the LEARNING loop, not just its application).
    "bpe_merges_docs", "bpe_token_counts_learned",
    # cluster-composition audit (k-means x document metadata join)
    "cluster_lang_profile",
    # CCNet-style corpus-frequency boilerplate removal (bounded
    # boilerplate set -> map-only clean; text never shuffles)
    "boilerplate_segment_removal_docs",
    # Dolma-style PII count+redact (map-only regex chain; PII built
    # deterministically from doc_id so the oracle exercises matching)
    "pii_redaction_docs",
    # bloom-prefiltered exact decontamination (fixed-size bitmap
    # scalar broadcast; corpus pass map-only, oracle = exact join)
    "bloom_decontaminate_docs",
    # int8 scalar quantization (dim-grain agg -> bounded collect ->
    # map-only quantize; fills the 50-slot window exactly)
    "embedding_int8_quantization",
]
# Round-6 rotation note: after round 5 EVERY registry query has at
# least one all-green driver CORRECTNESS row (the 29 never-checked
# were cleared in r5) EXCEPT sliding_chunks_docs, pq_codes_embeddings,
# pq_adc_topk, ivf_pq_topk, pq_recall_measured and
# pq_reconstruction_error, which landed after the 50 slots filled
# (sweep-verified at 3 SFs + pytest this round) — they go FIRST into
# the r6 window. From r6 on the window policy is:
# (1) any query whose PLAN changed this round, (2) any brand-new
# query, (3) fill remaining slots with the longest-unchecked queries
# (check the correctness receipts for staleness: git show
# 9378dbf:CORRECTNESS_r12.json and the rounds before it).

def _reorder() -> None:
    assert not (set(_PRIORITY) - set(_REGISTRY)), sorted(
        set(_PRIORITY) - set(_REGISTRY)
    )
    rest = [k for k in _REGISTRY if k not in set(_PRIORITY)]
    ordered = {k: _REGISTRY[k] for k in (*_PRIORITY, *rest)}
    _REGISTRY.clear()
    _REGISTRY.update(ordered)

_reorder()
