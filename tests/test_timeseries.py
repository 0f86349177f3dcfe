"""Unit tests for time-series operators — small hand-computed fixtures
(mirroring the reference's test strategy, SURVEY §5.1)."""

import datetime as dt

from pyspark.sql import functions as F

from openoa_spark.functions.stats import dsum
from openoa_spark.operators import timeseries as ts


def _ts(*args):
    return dt.datetime(*args)


def test_offset_to_seconds():
    assert ts.offset_to_seconds("10min") == 600
    assert ts.offset_to_seconds("h") == 3600
    assert ts.offset_to_seconds("D") == 86400
    assert ts.offset_to_seconds("MS") == 30 * 86400


def test_resample_calendar_month(spark):
    df = spark.createDataFrame(
        [
            (_ts(2020, 1, 5), 1.0),
            (_ts(2020, 1, 20), 2.0),
            (_ts(2020, 2, 1), 10.0),
            (_ts(2020, 3, 31, 23, 59), 5.0),
        ],
        ["time", "v"],
    )
    out = ts.resample(df, "time", "MS", {"s": dsum("v")}).orderBy("time").collect()
    assert [(r["time"].month, r["s"]) for r in out] == [(1, 3.0), (2, 10.0), (3, 5.0)]


def test_find_time_gaps_and_gap_fill(spark):
    rows = [(_ts(2020, 1, 1, h), float(h)) for h in (0, 1, 3, 4, 7)]
    df = spark.createDataFrame(rows, ["time", "v"])
    gaps = sorted(r["time"].hour for r in ts.find_time_gaps(df, "time", "h").collect())
    assert gaps == [2, 5, 6]
    filled = ts.gap_fill(df, "time", "h")
    assert filled.count() == 8
    assert filled.where(F.col("v").isNull()).count() == 3


def test_find_duplicate_times(spark):
    df = spark.createDataFrame(
        [(_ts(2020, 1, 1), "a", 1.0), (_ts(2020, 1, 1), "a", 2.0), (_ts(2020, 1, 2), "a", 3.0)],
        ["time", "asset", "v"],
    )
    dups = ts.find_duplicate_times(df, "time", ["asset"]).collect()
    assert len(dups) == 1 and dups[0]["v"] == 2.0  # keeps lowest-ordered first


def test_infer_frequency_seconds(spark):
    base = _ts(2020, 1, 1)
    rows = [(base + dt.timedelta(minutes=10 * i),) for i in range(10)]
    rows.append((base + dt.timedelta(minutes=95),))  # one stray
    df = spark.createDataFrame(rows, ["time"])
    assert ts.infer_frequency_seconds(df, "time") == 600.0


def test_consecutive_deltas_dedup_and_buckets(spark):
    # pins the r11 one-exchange rewrite: duplicate timestamps collapse
    # via the _delta > 0 filter (no pre-distinct), incl. a duplicate of
    # a bucket's max right at the bucket boundary; cross-bucket deltas
    # come from the per-bucket min/max table
    base = _ts(2020, 1, 1)
    rows = (
        [(base,), (base,)]                                    # dup at bucket min
        + [(base + dt.timedelta(minutes=10),)] * 3            # triple dup mid-bucket
        + [(base + dt.timedelta(hours=23, minutes=50),)] * 2  # dup at bucket max
        + [(base + dt.timedelta(days=1, minutes=5),)]         # next bucket
    )
    df = spark.createDataFrame(rows, ["time"])
    got = sorted(
        r["_delta_us"] for r in ts.consecutive_deltas_us(df, "time").collect()
    )
    # unique sorted: 00:00, 00:10, 23:50, +1d 00:05 -> deltas 600s, 85200s, 900s
    assert got == [600 * 10**6, 900 * 10**6, 85200 * 10**6]


def test_percent_nan(spark):
    df = spark.createDataFrame([(1.0,), (None,), (float("nan"),), (4.0,)], ["v"])
    out = df.agg(ts.percent_nan("v").alias("p")).first()
    assert out["p"] == 0.5


def test_ffill_and_asof(spark):
    left = spark.createDataFrame(
        [("a", _ts(2020, 1, 1, 0)), ("a", _ts(2020, 1, 1, 1)), ("a", _ts(2020, 1, 1, 2))],
        ["k", "time"],
    )
    right = spark.createDataFrame(
        [("a", _ts(2020, 1, 1, 0, 30), 1.0), ("a", _ts(2020, 1, 1, 1, 30), 2.0)],
        ["k", "time", "v"],
    )
    out = {
        r["time"].hour: r["v"]
        for r in ts.asof_join(left, right, "time", ["v"], keys=["k"]).collect()
    }
    assert out == {0: None, 1: 1.0, 2: 2.0}


def test_num_days_full_span(spark):
    df = spark.createDataFrame([(_ts(2020, 1, 1, 5),), (_ts(2020, 1, 10, 3),)], ["time"])
    assert ts.num_days(df, "time") == 10  # full spine, reference semantics
    assert ts.num_hours(df, "time") == 9 * 24 - 2 + 1


def test_bfill_mirrors_ffill(spark):
    import datetime as dt

    from openoa_spark.operators import timeseries as ts

    rows = [
        ("a", dt.datetime(2020, 1, 1, h), v)
        for h, v in [(0, None), (1, 10.0), (2, None), (3, 30.0), (4, None)]
    ]
    df = spark.createDataFrame(rows, ["k", "t", "v"])
    out = {
        r["t"].hour: r["v"]
        for r in ts.bfill(df, ["v"], "t", keys=["k"]).collect()
    }
    assert out == {0: 10.0, 1: 10.0, 2: 30.0, 3: 30.0, 4: None}


def test_asof_join_forward_next_reading(spark):
    import datetime as dt

    from openoa_spark.operators import timeseries as ts

    left = spark.createDataFrame(
        [("a", dt.datetime(2020, 1, 1, 0, 30)),
         ("a", dt.datetime(2020, 1, 1, 2, 0)),
         ("a", dt.datetime(2020, 1, 1, 9, 0))],
        ["k", "t"],
    )
    right = spark.createDataFrame(
        [("a", dt.datetime(2020, 1, 1, 1, 0), 1.0),
         ("a", dt.datetime(2020, 1, 1, 2, 0), 2.0),
         ("a", dt.datetime(2020, 1, 1, 3, 0), 3.0)],
        ["k", "t", "x"],
    )
    out = {
        r["t"].hour * 60 + r["t"].minute: r["x"]
        for r in ts.asof_join_forward(left, right, "t", ["x"], keys=["k"]).collect()
    }
    # 00:30 -> next reading 01:00; 02:00 matches the simultaneous one;
    # 09:00 has nothing after it
    assert out == {30: 1.0, 120: 2.0, 540: None}


def test_interpolate_linear_interior_only(spark):
    import datetime as dt

    from openoa_spark.operators import timeseries as ts

    rows = [
        ("a", dt.datetime(2020, 1, 1, h), v)
        for h, v in [
            (0, None), (1, 10.0), (2, None), (4, None), (5, 40.0), (6, None),
        ]
    ]
    df = spark.createDataFrame(rows, ["k", "t", "v"])
    out = {
        r["t"].hour: r["v"]
        for r in ts.interpolate_linear(df, "v", "t", keys=["k"]).collect()
    }
    # hour 2: 10 + 30 * (1/4) = 17.5 ; hour 4: 10 + 30 * (3/4) = 32.5
    assert out[0] is None and out[6] is None  # edges untouched
    assert out[1] == 10.0 and out[5] == 40.0
    assert out[2] == 17.5 and out[4] == 32.5


def test_refresh_time_rollup_recomputes_only_touched_buckets(spark, tmp_path):
    """Hypertable-rollup maintenance: late data re-lands only its own
    day's partition, the refresh is idempotent under replay, and the
    maintained table always equals a full recompute."""
    import datetime as dt
    import glob
    import os

    from pyspark.sql import functions as F

    from openoa_spark.operators.timeseries import refresh_time_rollup

    path = str(tmp_path / "rollup")

    def rows(day, n, base):
        return [
            (dt.datetime(2024, 3, day, h % 24, 0), float(base + h))
            for h in range(n)
        ]

    raw1 = spark.createDataFrame(
        rows(1, 24, 0) + rows(2, 24, 100), "ts timestamp, v double"
    )
    aggs = {"sum_v": F.sum("v"), "n": F.count(F.lit(1))}
    refresh_time_rollup(raw1, raw1, "ts", path, "day", aggs)
    t1 = {
        r["_bucket_day"]: (r["sum_v"], r["n"])
        for r in spark.read.parquet(path).collect()
    }
    assert len(t1) == 2 and t1[dt.date(2024, 3, 1)][1] == 24

    day1_files = sorted(glob.glob(os.path.join(path, "_bucket_day=2024-03-01", "*.parquet")))
    mtimes = [os.path.getmtime(f) for f in day1_files]

    # late-arriving rows for day 2 only
    late = spark.createDataFrame(rows(2, 4, 1000), "ts timestamp, v double")
    raw2 = raw1.unionByName(late)
    refresh_time_rollup(raw2, late, "ts", path, "day", aggs)

    got = {
        r["_bucket_day"]: (r["sum_v"], r["n"])
        for r in spark.read.parquet(path).collect()
    }
    want = {
        r["d"]: (r["sum_v"], r["n"])
        for r in raw2.groupBy(F.to_date(F.date_trunc("day", "ts")).alias("d"))
        .agg(F.sum("v").alias("sum_v"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want
    # day-1 partition untouched by the day-2 refresh
    assert [os.path.getmtime(f) for f in sorted(
        glob.glob(os.path.join(path, "_bucket_day=2024-03-01", "*.parquet"))
    )] == mtimes

    # replaying the same delta is a no-op on values
    refresh_time_rollup(raw2, late, "ts", path, "day", aggs)
    again = {
        r["_bucket_day"]: (r["sum_v"], r["n"])
        for r in spark.read.parquet(path).collect()
    }
    assert again == got


def test_refresh_time_rollup_subday_freq_keeps_whole_day(spark, tmp_path):
    """Hour-grain rollup refreshed by a delta touching ONE hour of a
    day must keep the day's other hours: dynamic overwrite replaces
    the whole _bucket_day directory, so the recompute slice has to
    cover every bucket of each touched day (regression: an hour-06
    delta used to delete hours 00-05)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from openoa_spark.operators.timeseries import refresh_time_rollup

    path = str(tmp_path / "rollup_h")
    aggs = {"sum_v": F.sum("v"), "n": F.count(F.lit(1))}

    base = [
        (dt.datetime(2024, 3, 1, h, m), 1.0)
        for h in range(6)
        for m in (0, 30)
    ]
    raw1 = spark.createDataFrame(base, "ts timestamp, v double")
    refresh_time_rollup(raw1, raw1, "ts", path, "hour", aggs)
    assert spark.read.parquet(path).count() == 6

    # second micro-batch: a later hour of the SAME day
    late_rows = [(dt.datetime(2024, 3, 1, 6, 15), 5.0)]
    late = spark.createDataFrame(late_rows, "ts timestamp, v double")
    raw2 = raw1.unionByName(late)
    refresh_time_rollup(raw2, late, "ts", path, "hour", aggs)

    got = {
        r["_bucket"]: (r["sum_v"], r["n"])
        for r in spark.read.parquet(path).collect()
    }
    want = {
        r["b"]: (r["sum_v"], r["n"])
        for r in raw2.groupBy(F.date_trunc("hour", "ts").alias("b"))
        .agg(F.sum("v").alias("sum_v"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want  # hours 00-05 survive, hour 06 appears
    assert len(got) == 7


def test_asof_join_tolerance(spark):
    import datetime as dt

    from openoa_spark.operators import timeseries as ts

    t0 = dt.datetime(2022, 1, 1)
    left = spark.createDataFrame(
        [("A", t0 + dt.timedelta(minutes=m)) for m in (0, 10, 60)],
        ["k", "t"],
    )
    right = spark.createDataFrame(
        [("A", t0 + dt.timedelta(minutes=-1), 1.0),
         ("A", t0 + dt.timedelta(minutes=9), 2.0)],
        ["k", "t", "v"],
    )
    # no tolerance: every left row matches its backward neighbor
    base = {
        r["t"]: r["v"]
        for r in ts.asof_join(left, right, "t", ["v"], keys=["k"]).collect()
    }
    assert base == {
        t0: 1.0,
        t0 + dt.timedelta(minutes=10): 2.0,
        t0 + dt.timedelta(minutes=60): 2.0,
    }
    # 5-minute tolerance: the 60-minute row's match is 51 min stale
    tol = {
        r["t"]: r["v"]
        for r in ts.asof_join(
            left, right, "t", ["v"], keys=["k"], tolerance_seconds=300.0
        ).collect()
    }
    assert tol == {
        t0: 1.0,
        t0 + dt.timedelta(minutes=10): 2.0,
        t0 + dt.timedelta(minutes=60): None,
    }
    # boundary is inclusive (pandas merge_asof): exactly 300 s matches
    edge = spark.createDataFrame(
        [("A", t0 + dt.timedelta(minutes=4))], ["k", "t"]
    )
    got = ts.asof_join(
        edge, right, "t", ["v"], keys=["k"], tolerance_seconds=300.0
    ).first()
    assert got["v"] == 1.0


def test_asof_right_order_cols_null_valued_winner_is_skipped(spark):
    # r12 (ADVICE): pins the documented NULL semantics of the
    # right_order_cols tiebreak dedup. The fill is last(value,
    # ignorenulls=True) over the tiebreak order, so when the
    # tiebreak-max right row at a timestamp carries a NULL value the
    # NULL is SKIPPED: an earlier same-timestamp row (here seq=1's
    # 10.0) supplies the value — ffill semantics, not a strict
    # max_by(tiebreak) row dedup (which would carry the NULL and fall
    # back to the previous timestamp's 5.0).
    import datetime as dt

    from openoa_spark.operators import timeseries as ts

    left = spark.createDataFrame(
        [("a", dt.datetime(2020, 1, 1, 2, 0))], ["k", "t"]
    )
    right = spark.createDataFrame(
        [("a", dt.datetime(2020, 1, 1, 0, 0), 1, 5.0),
         ("a", dt.datetime(2020, 1, 1, 1, 0), 1, 10.0),
         ("a", dt.datetime(2020, 1, 1, 1, 0), 2, None)],
        ["k", "t", "seq", "x"],
    )
    out = ts.asof_join(
        left, right, "t", ["x"], keys=["k"], right_order_cols=["seq"]
    ).collect()
    assert len(out) == 1
    assert out[0]["x"] == 10.0
