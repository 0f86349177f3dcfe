"""Time-series operators: calendar resampling, frequency inference,
gap/duplicate detection, gap filling, forward-fill upsampling (as-of
alignment), NaN accounting.

Parity targets (behavior only): openoa/utils/timeseries.py:17-275 and
the resample idioms used throughout openoa/analysis (e.g. aep.py:450,
electrical_losses.py:233, wake_losses.py:1047-1052).

Scale notes (100 TB):
- Resampling is a single hash-aggregate on (bucket[, keys]) with
  map-side partial aggregation — one shuffle, no window.
- Gap detection aggregates the data down to its bucket grain FIRST and
  anti-joins the (tiny) calendar spine against that — never the raw
  table against an exploded spine.
- Forward-fill uses a partitioned window (per asset), so state never
  exceeds one partition; at cluster scale partition by asset_id which
  is the natural key distribution of telemetry.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

# pandas-style offset aliases → seconds (fixed-width) or calendar rules.
# Reference behavior: openoa/utils/timeseries.py:17-32 (offset_to_seconds).
_FIXED_SECONDS = {
    "s": 1.0,
    "min": 60.0,
    "t": 60.0,
    "5min": 300.0,
    "10min": 600.0,
    "15min": 900.0,
    "30min": 1800.0,
    "h": 3600.0,
    "d": 86400.0,
    "w": 604800.0,
}
_CALENDAR_TRUNC = {"MS": "month", "ME": "month", "M": "month", "D": "day", "h": "hour",
                   "min": "minute", "YS": "year", "AS": "year", "Y": "year", "W": "week"}


def offset_to_seconds(freq: str) -> float:
    """Offset alias → seconds (fixed-width approximations for month
    (30d)/year (365d), matching timeseries.py:17-32)."""
    f = freq.lower()
    if f in _FIXED_SECONDS:
        return _FIXED_SECONDS[f]
    if f in ("ms", "m", "me"):
        return 30 * 86400.0
    if f in ("ys", "y", "as"):
        return 365 * 86400.0
    import re

    m = re.fullmatch(r"(\d+)\s*(s|min|t|h|d|w)", f)
    if m:
        return int(m.group(1)) * _FIXED_SECONDS[m.group(2)]
    raise ValueError(f"unsupported frequency alias: {freq}")


def time_bucket(time_col: Column | str, freq: str) -> Column:
    """Truncate a timestamp to its resample bucket start.

    Calendar frequencies (MS/D/h/W/YS) use ``date_trunc`` — calendar
    months/years are NOT fixed-width, so a fixed `window()` would be
    wrong (pandas-resample parity). Fixed-width frequencies (10min, 5s)
    use epoch arithmetic, which Catalyst folds into a single projection.
    """
    t = F.col(time_col) if isinstance(time_col, str) else time_col
    if freq in _CALENDAR_TRUNC:
        return F.date_trunc(_CALENDAR_TRUNC[freq], t)
    secs = int(offset_to_seconds(freq))
    epoch = F.unix_timestamp(t)
    return F.timestamp_seconds((epoch - (epoch % secs)).cast("long"))


def resample(
    df: DataFrame,
    time_col: str,
    freq: str,
    aggs: dict[str, Column],
    keys: list[str] | None = None,
    bucket_col: str | None = None,
) -> DataFrame:
    """Downsample to calendar/fixed buckets: the engine's equivalent of
    pandas ``df.resample(freq).agg(...)`` (idiom at aep.py:450-481,
    electrical_losses.py:233).

    ``aggs`` maps output name → aggregate Column. One hash-aggregate;
    partial aggregation happens map-side before the shuffle.
    """
    bucket_col = bucket_col or time_col
    bucket = time_bucket(time_col, freq).alias(bucket_col)
    group = [bucket] + [F.col(k) for k in (keys or [])]
    return df.groupBy(*group).agg(*[c.alias(n) for n, c in aggs.items()])


def consecutive_deltas_us(
    df: DataFrame, time_col: str, bucket_seconds: int = 86400
) -> DataFrame:
    """Microsecond deltas between consecutive DISTINCT timestamps,
    with no global single-task sort.

    A plain ``Window.orderBy(ts)`` puts every distinct timestamp in ONE
    task — a scale-killer on an unbounded fact table. Instead: sort
    within coarse time buckets (parallel; each bucket holds at most
    ``bucket_seconds`` of data), then recover the bucket-boundary
    deltas from a per-bucket min/max table, which has one row per
    non-empty bucket and IS small enough for a global window.

    Returns a 1-column DataFrame ``_delta_us``. Exactly the same
    multiset of deltas a global sort would produce.

    One full-size exchange total (r11): both the intra-bucket window
    and the per-bucket min/max aggregate consume a single explicit
    ``repartition(_b)`` — the window sorts on it directly and the
    aggregate's ClusteredDistribution(_b) is already satisfied, so the
    planner adds no second exchange (ReusedExchange for the branch).
    Duplicate timestamps need no pre-``distinct`` (its r10 shape spent
    two full shuffles + a second scan on it): equal neighbors within a
    bucket yield ``_delta_us = 0`` and are dropped by the ``> 0``
    filter, equal values never straddle buckets (same value ⇒ same
    bucket), and min/max are duplicate-blind.
    """
    b = df.select(F.unix_micros(F.col(time_col)).alias("_u")).withColumn(
        "_b", F.expr(f"_u DIV {bucket_seconds * 1_000_000}")
    ).repartition("_b")
    w_in = Window.partitionBy("_b").orderBy("_u")
    intra = (
        b.withColumn("_delta_us", F.col("_u") - F.lag("_u").over(w_in))
        .where(F.col("_delta_us") > 0)
        .select("_delta_us")
    )
    agg = b.groupBy("_b").agg(F.min("_u").alias("_mn"), F.max("_u").alias("_mx"))
    w_b = Window.orderBy("_b")  # one row per non-empty bucket — tiny
    cross = (
        agg.withColumn("_delta_us", F.col("_mn") - F.lag("_mx").over(w_b))
        .where(F.col("_delta_us").isNotNull())
        .select("_delta_us")
    )
    return intra.unionByName(cross)


def infer_frequency_seconds(df: DataFrame, time_col: str, keys: list[str] | None = None) -> float:
    """Most-common delta between consecutive distinct timestamps.

    Semantics: timeseries.py:35-52 (mode of np.diff of unique sorted
    timestamps). With ``keys`` the lag window partitions by asset; the
    keyless path uses :func:`consecutive_deltas_us` (bucketed, no
    global sort). The delta histogram is tiny and collapses to the
    driver.
    """
    t = F.col(time_col)
    if keys:
        w = Window.partitionBy(*keys).orderBy(t)
        diffs = df.select(*keys, t).withColumn(
            "_delta", F.unix_timestamp(t) - F.unix_timestamp(F.lag(t).over(w))
        ).where(F.col("_delta").isNotNull())
    else:
        diffs = consecutive_deltas_us(df, time_col).select(
            F.expr("_delta_us DIV 1000000").alias("_delta")
        )
    top = (
        diffs.groupBy("_delta").count().orderBy(F.desc("count"), F.asc("_delta")).first()
    )
    if top is None:
        raise ValueError("cannot infer frequency from < 2 timestamps")
    return float(top["_delta"])


def find_duplicate_times(df: DataFrame, time_col: str, keys: list[str] | None = None) -> DataFrame:
    """Rows whose (time[, keys]) repeats, EXCLUDING the first occurrence
    — i.e. what you would drop. Semantics: timeseries.py:173-190
    (pandas .duplicated(keep='first') on the index).

    Deterministic tiebreak: "first" = lowest natural ordering of the
    remaining columns (pandas keeps positional-first; a distributed
    engine needs an explicit order).
    """
    group = [time_col] + (keys or [])
    # tiebreak on the remaining columns; when the frame is ONLY the
    # group columns every duplicate row is identical, so any ordering
    # works — order by the time column itself to satisfy row_number
    order = [c for c in df.columns if c not in group] or [time_col]
    w = Window.partitionBy(*group).orderBy(*[F.col(c).asc_nulls_last() for c in order])
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") > 1)
        .drop("_rn")
    )


def duplicate_time_counts(df: DataFrame, time_col: str, keys: list[str] | None = None) -> DataFrame:
    """Per-(time[,keys]) multiplicities > 1 (QA view; qa.py:178-213)."""
    group = [time_col] + (keys or [])
    return df.groupBy(*group).count().where(F.col("count") > 1)


def calendar_spine(
    df: DataFrame, time_col: str, freq: str, keys: list[str] | None = None
) -> DataFrame:
    """The expected regular timestamp grid spanning [min, max] of the
    data (per key group when ``keys`` given), as a DataFrame with
    column ``time_col``.

    Built from one min/max aggregate + ``sequence`` + ``explode`` — the
    spine has #buckets rows (tiny relative to data), never a crossJoin
    of the raw table.
    """
    secs = int(offset_to_seconds(freq))
    interval = F.expr(f"interval {secs} seconds")
    gcols = keys or []
    bounds = df.groupBy(*[F.col(k) for k in gcols]).agg(
        F.min(time_col).alias("_lo"), F.max(time_col).alias("_hi")
    )
    return bounds.select(
        *gcols,
        F.explode(F.sequence(F.col("_lo"), F.col("_hi"), interval)).alias(time_col),
    )


def find_time_gaps(
    df: DataFrame, time_col: str, freq: str, keys: list[str] | None = None
) -> DataFrame:
    """Timestamps the regular grid expects but the data lacks.

    Semantics: timeseries.py:144-170 (expected spine MINUS actual).
    Implemented spine LEFT ANTI JOIN distinct-actual: both sides are
    bucket-grain (small), so this stays cheap at any data scale —
    aggregate first, then anti-join.
    """
    spine = calendar_spine(df, time_col, freq, keys)
    actual = df.select(*(keys or []), time_col).distinct()
    return spine.join(actual, on=[*(keys or []), time_col], how="left_anti")


def gap_fill(
    df: DataFrame, time_col: str, freq: str, keys: list[str] | None = None
) -> DataFrame:
    """Insert missing grid timestamps as all-NULL rows.

    Semantics: timeseries.py:193-224 (gap_fill_data_frame).
    """
    spine = calendar_spine(df, time_col, freq, keys)
    return spine.join(df, on=[*(keys or []), time_col], how="left")


def percent_nan(col: Column | str) -> Column:
    """Aggregate fraction of NULL/NaN values (1.0 for empty input).

    Semantics: timeseries.py:227-241. Usable inside any groupBy-agg
    (e.g. per resample bucket, aep.py:466).
    """
    c = F.col(col) if isinstance(col, str) else col
    bad = F.when(c.isNull() | F.isnan(c), 1.0).otherwise(0.0)
    return F.coalesce(F.avg(bad), F.lit(1.0))


def num_days(df: DataFrame, time_col: str) -> int:
    """Count of calendar days in the closed span [min, max] — the
    reference counts the full resampled spine, not distinct observed
    days (timeseries.py:244-259)."""
    row = df.agg(
        F.datediff(F.date_trunc("day", F.max(time_col)),
                   F.date_trunc("day", F.min(time_col))).alias("d")
    ).first()
    return int(row["d"]) + 1


def num_hours(df: DataFrame, time_col: str) -> int:
    """Count of hours in the closed span (timeseries.py:262-275)."""
    row = df.agg(
        (
            (F.unix_timestamp(F.date_trunc("hour", F.max(time_col)))
             - F.unix_timestamp(F.date_trunc("hour", F.min(time_col)))) / 3600
        ).alias("h")
    ).first()
    return int(row["h"]) + 1


def _ordered_window(keys: list[str] | None, allow_unkeyed: bool, op: str):
    """Partitioned window spec, guarding the degenerate global case.

    An empty ``keys`` collapses the window to Window.partitionBy(lit(1))
    — every row flows through ONE task, which silently serializes at
    scale. Callers must either pass keys or explicitly declare the
    input driver-small with ``allow_unkeyed=True``.
    """
    if not keys:
        if not allow_unkeyed:
            raise ValueError(
                f"{op}: no partition keys given — this would funnel all rows "
                "through a single task. Pass keys=[...], or allow_unkeyed=True "
                "if the input is known to be small (e.g. an aggregate table)."
            )
        return Window.partitionBy(F.lit(1))
    return Window.partitionBy(*keys)


def ffill(
    df: DataFrame,
    cols: list[str],
    time_col: str,
    keys: list[str] | None = None,
    allow_unkeyed: bool = False,
) -> DataFrame:
    """Forward-fill NULLs in ``cols`` ordered by time (per key group).

    ``last(ignorenulls=True)`` over an unbounded-preceding window —
    the Spark-native equivalent of pandas ``ffill`` (wake_losses.py:
    1047-1052 upsampling idiom).
    """
    w = (
        _ordered_window(keys, allow_unkeyed, "ffill")
        .orderBy(time_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = df
    for c in cols:
        out = out.withColumn(c, F.last(c, ignorenulls=True).over(w))
    return out


def upsample_ffill(
    low_freq_df: DataFrame,
    time_col: str,
    target_freq: str,
    value_cols: list[str],
    keys: list[str] | None = None,
    allow_unkeyed: bool = False,
) -> DataFrame:
    """Upsample a coarser series onto a finer regular grid by
    forward-fill — e.g. hourly reanalysis → 10-min SCADA grid
    (wake_losses.py:1047-1052). Spine left-join + windowed ffill;
    equivalent to an as-of (backward) join against the grid.
    """
    filled = gap_fill(low_freq_df, time_col, target_freq, keys)
    return ffill(filled, value_cols, time_col, keys, allow_unkeyed=allow_unkeyed)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    time_col: str,
    value_cols: list[str],
    keys: list[str] | None = None,
    right_time_col: str | None = None,
    allow_unkeyed: bool = False,
    tolerance_seconds: float | None = None,
    right_order_cols: list[str] | None = None,
) -> DataFrame:
    """As-of (backward) join: for each left row, latest right values at
    or before its timestamp, matched per key group.

    Implemented as union + partitioned ordered window ffill — one
    shuffle on (keys), no range-join explosion; the standard scalable
    formulation (left rows tagged, right values forward-filled onto
    them).

    ``tolerance_seconds`` (pandas merge_asof semantics): a match
    further back than the tolerance yields NULL values instead. The
    matched right timestamp forward-fills alongside the values in the
    SAME window pass, so the tolerance adds zero shuffles.

    ``right_order_cols``: extra ascending tiebreak columns ordering
    right rows that share (keys, time) — the last row in that order
    wins. Passing the raw series with a sequence column here replaces
    a separate pre-dedup aggregate (one full-table shuffle fewer); the
    columns must not collide with left columns and are dropped from
    the output.

    NULL semantics of the tiebreak dedup (r12, pinned in
    tests/test_timeseries.py): the fill is ``last(value,
    ignorenulls=True)`` over the tiebreak order, i.e. per value
    column the last NON-NULL value at-or-before the row wins. When
    the tiebreak-max right row carries a NULL in a value column, that
    NULL is skipped and an earlier same-timestamp row (or the
    previous timestamp) supplies the value — ffill-style semantics,
    NOT a strict max_by(tiebreak) row dedup, which would carry the
    winner's NULL forward. Pre-dedup the right side (or coalesce its
    NULLs) before calling if strict row-wins semantics are required.
    """
    rt = right_time_col or time_col
    keys = keys or []
    roc = list(right_order_cols or [])
    r = right.select(
        *keys, F.col(rt).alias(time_col), *[F.col(c) for c in value_cols],
        *[F.col(c) for c in roc],
        F.lit(0).alias("_src"),
    )
    l = left.select(
        *left.columns, F.lit(1).alias("_src")
    )
    for c in value_cols:
        if c not in left.columns:
            l = l.withColumn(c, F.lit(None).cast(r.schema[c].dataType))
    for c in roc:
        l = l.withColumn(c, F.lit(None).cast(r.schema[c].dataType))
    if tolerance_seconds is not None:
        r = r.withColumn("_rt", F.col(time_col))
        l = l.withColumn("_rt", F.lit(None).cast("timestamp"))
    unioned = l.unionByName(r, allowMissingColumns=True)
    w = (
        _ordered_window(keys, allow_unkeyed, "asof_join")
        .orderBy(
            F.col(time_col).asc(),
            F.col("_src").asc(),
            *[F.col(c).asc() for c in roc],
        )
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = unioned
    fill_cols = list(value_cols) + (
        ["_rt"] if tolerance_seconds is not None else []
    )
    for c in fill_cols:
        out = out.withColumn(c, F.last(c, ignorenulls=True).over(w))
    out = out.where(F.col("_src") == 1).drop("_src", *roc)
    if tolerance_seconds is not None:
        stale = (
            F.unix_micros(F.col(time_col)) - F.unix_micros(F.col("_rt"))
        ) > int(tolerance_seconds * 1_000_000)
        for c in value_cols:
            out = out.withColumn(
                c, F.when(stale, F.lit(None)).otherwise(F.col(c))
            )
        out = out.drop("_rt")
    return out


def sessionize(
    df: DataFrame,
    time_col: str,
    keys: list[str],
    gap_seconds: float = 1800.0,
) -> DataFrame:
    """Assign gap-based session ids per key: a new session starts when
    the delta to the previous event exceeds ``gap_seconds``.

    One window over (keys, time) — session_id is the running count of
    gap-breaks (the standard scalable sessionization; no iteration).
    Adds ``session_id`` (1-based per key).
    """
    w = Window.partitionBy(*keys).orderBy(F.col(time_col))
    # microsecond arithmetic: unix_timestamp floors to whole seconds,
    # which shifts gap comparisons for sub-second data
    delta_us = F.unix_micros(F.col(time_col)) - F.unix_micros(
        F.lag(time_col).over(w)
    )
    is_break = F.when(
        delta_us.isNull() | (delta_us > int(gap_seconds * 1_000_000)), F.lit(1)
    ).otherwise(F.lit(0))
    return df.withColumn(
        "session_id",
        F.sum(is_break).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )


def bfill(
    df: DataFrame,
    cols: list[str],
    time_col: str,
    keys: list[str] | None = None,
    allow_unkeyed: bool = False,
) -> DataFrame:
    """Backward-fill NULLs in ``cols`` (next non-null value in time
    order, per key group) — ffill's mirror; ``first(ignorenulls)``
    over an unbounded-FOLLOWING window. Same one-shuffle shape and
    the same keyless guard as :func:`ffill`."""
    w = (
        _ordered_window(keys, allow_unkeyed, "bfill")
        .orderBy(time_col)
        .rowsBetween(0, Window.unboundedFollowing)
    )
    out = df
    for c in cols:
        out = out.withColumn(c, F.first(c, ignorenulls=True).over(w))
    return out


def asof_join_forward(
    left: DataFrame,
    right: DataFrame,
    time_col: str,
    value_cols: list[str],
    keys: list[str] | None = None,
    right_time_col: str | None = None,
    allow_unkeyed: bool = False,
) -> DataFrame:
    """Forward as-of join: for each left row, the EARLIEST right
    values at or after its timestamp ("next reading"), matched per
    key group — the mirror of :func:`asof_join`, same union + keyed
    window shape (backward-filled over a FOLLOWING frame), one
    shuffle, no range-join explosion. At equal timestamps the left
    row orders FIRST (``_src`` desc) so an exactly-simultaneous right
    reading is inside the left row's following frame and matches."""
    rt = right_time_col or time_col
    keys = keys or []
    r = right.select(
        *keys, F.col(rt).alias(time_col), *[F.col(c) for c in value_cols],
        F.lit(0).alias("_src"),
    )
    l = left.select(*left.columns, F.lit(1).alias("_src"))
    for c in value_cols:
        if c not in left.columns:
            l = l.withColumn(c, F.lit(None).cast(r.schema[c].dataType))
    unioned = l.unionByName(r, allowMissingColumns=True)
    w = (
        _ordered_window(keys, allow_unkeyed, "asof_join_forward")
        .orderBy(F.col(time_col).asc(), F.col("_src").desc())
        .rowsBetween(0, Window.unboundedFollowing)
    )
    out = unioned
    for c in value_cols:
        out = out.withColumn(c, F.first(c, ignorenulls=True).over(w))
    return out.where(F.col("_src") == 1).drop("_src")


def interpolate_linear(
    df: DataFrame,
    value_col: str,
    time_col: str,
    keys: list[str] | None = None,
    allow_unkeyed: bool = False,
    round_digits: int | None = None,
) -> DataFrame:
    """Time-weighted linear interpolation of INTERIOR NULL runs (the
    pandas ``interpolate(method="time", limit_area="inside")``
    semantics): each null between two readings takes
    prev + (next - prev) * (t - t_prev) / (t_next - t_prev); leading
    and trailing nulls stay null (use ffill/bfill for edge policy).

    Two windows per key group (last-non-null before, first-non-null
    after — value and its timestamp each), one shuffle total; same
    keyless guard as the other ordered ops.
    """
    v = F.col(value_col)
    t_us = F.unix_micros(F.col(time_col)).cast("double")
    marked = F.when(v.isNotNull(), t_us)
    w_b = (
        _ordered_window(keys, allow_unkeyed, "interpolate_linear")
        .orderBy(time_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_f = (
        _ordered_window(keys, allow_unkeyed, "interpolate_linear")
        .orderBy(time_col)
        .rowsBetween(0, Window.unboundedFollowing)
    )
    prev_v = F.last(v, ignorenulls=True).over(w_b)
    prev_t = F.last(marked, ignorenulls=True).over(w_b)
    next_v = F.first(v, ignorenulls=True).over(w_f)
    next_t = F.first(marked, ignorenulls=True).over(w_f)
    interp = prev_v + (next_v - prev_v) * (t_us - prev_t) / (next_t - prev_t)
    if round_digits is not None:
        interp = F.round(interp, round_digits)
    return df.withColumn(
        value_col,
        F.when(v.isNotNull(), v).when(
            prev_v.isNotNull() & next_v.isNotNull(), interp
        ),
    )


def refresh_time_rollup(
    raw: DataFrame,
    changed: DataFrame,
    time_col: str,
    rollup_path: str,
    freq: str,
    aggs: dict[str, Column],
    keys: list[str] | None = None,
) -> DataFrame:
    """Continuous-aggregate maintenance (the TimescaleDB/Druid
    "hypertable rollup with invalidation" pattern): keep a persistent
    time-bucketed rollup of ``raw`` at ``rollup_path``, refreshed by
    RECOMPUTING exactly the buckets that ``changed`` touches and
    dynamically overwriting only those partitions.

    Recompute-from-raw makes the refresh idempotent by construction —
    replaying the same delta (crash, at-least-once upstream) lands
    byte-identical partitions, with none of the double-count hazards
    of merging partial aggregates into state. Cost tracks the DELTA'S
    bucket span, not table history: the invalidated-bucket set (tiny
    — distinct truncated timestamps of the delta) filters raw, so the
    recompute scan reads only the affected buckets.

    ``aggs``: output-column -> aggregate Column over the raw rows.
    The rollup parquet is partitioned by ``_bucket_day`` (one
    directory per day) so a late-arriving hour re-lands one day.
    Returns the recomputed slice that was written.

    Invalidation is tracked at DAY grain, not bucket grain: dynamic
    partition overwrite replaces whole ``_bucket_day`` directories,
    so every bucket of a touched day must be recomputed — semi-joining
    raw on sub-day buckets alone would silently drop the day's
    untouched buckets from the rollup (e.g. an hour-06 delta deleting
    hours 00-05). Day-grain invalidation costs one extra bucket-worth
    of recompute per touched day and keeps the refresh aligned with
    the partition layout.
    """
    import datetime as _dt

    from openoa_spark.sources.sinks import overwrite_partitions

    keys = keys or []
    bucket = F.date_trunc(freq, F.col(time_col))
    # The invalidated-day set is tiny by design (distinct truncated
    # days of the DELTA), so collect it and invalidate with a literal
    # isin — the broadcast semi-join this replaces (r11, guide §3/§6)
    # forced a FULL raw scan every refresh: the derived _bucket_day
    # never reaches parquet row-group stats, and a join build adds an
    # exchange + job of its own. With the days in hand we also bound
    # the scan with a plain range predicate on the raw time column,
    # which DOES push down: a row lands in bucket-day d iff its bucket
    # start ∈ [d, d+1) and time ∈ [start, start + bucket_len), so
    # [lo_day, hi_day + 1 day + bucket_len) is a superset of every
    # invalidated row — the isin still decides exact membership, the
    # output is identical, and the scan skips files whose time stats
    # fall outside the delta's span (history is never rescanned for a
    # recent-days delta). Unknown freq strings skip the range filter
    # (conservative: no prune); a pathological delta spanning >10k
    # distinct days falls back to the broadcast semi-join.
    _slack_days = {
        "microsecond": 1, "millisecond": 1, "second": 1, "minute": 1,
        "hour": 1, "day": 1, "dd": 1, "week": 7, "month": 31,
        "mon": 31, "mm": 31, "quarter": 92, "year": 366, "yyyy": 366,
        "yy": 366,
    }
    day_rows = (
        changed.select(F.to_date(bucket).alias("_bucket_day"))
        .distinct().limit(10_001).collect()
    )
    days = sorted(
        r["_bucket_day"] for r in day_rows if r["_bucket_day"] is not None
    )
    if len(day_rows) <= 10_000:
        if not days:
            raw = raw.where(F.lit(False))
        else:
            slack = _slack_days.get(freq.lower())
            if slack is not None:
                raw = raw.where(
                    (F.col(time_col)
                     >= F.lit(days[0]).cast("timestamp"))
                    & (F.col(time_col)
                       < F.lit(
                           days[-1] + _dt.timedelta(days=1 + slack)
                       ).cast("timestamp"))
                )
            raw = raw.where(F.to_date(bucket).isin(days))
        inner = raw.withColumn("_bucket", bucket).withColumn(
            "_bucket_day", F.to_date("_bucket")
        )
    else:
        invalid_days = (
            changed.select(F.to_date(bucket).alias("_bucket_day"))
            .distinct().localCheckpoint(eager=False)
        )
        inner = (
            raw.withColumn("_bucket", bucket)
            .withColumn("_bucket_day", F.to_date("_bucket"))
            .join(F.broadcast(invalid_days), "_bucket_day", "left_semi")
        )
    slice_df = (
        inner
        .groupBy("_bucket", "_bucket_day", *keys)
        .agg(*[c.alias(n) for n, c in aggs.items()])
        .select("_bucket", *keys, *aggs.keys(), "_bucket_day")
    )
    overwrite_partitions(slice_df, rollup_path, ["_bucket_day"])
    return slice_df
