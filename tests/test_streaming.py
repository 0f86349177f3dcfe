"""Structured Streaming operators: batch-parity of the windowed
resample, watermark-bounded dedup, and the applyInPandasWithState
running total (state must survive across micro-batches)."""

import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from openoa_spark.functions.stats import dsum
from openoa_spark.operators.timeseries import resample
from openoa_spark.streaming import ingest

SCHEMA = StructType(
    [
        StructField("time", TimestampType()),
        StructField("asset_id", StringType()),
        StructField("value", DoubleType()),
        StructField("seq", LongType()),
    ]
)


def _rows(spark, n, start_min=0):
    return spark.createDataFrame(
        [
            (
                __import__("datetime").datetime(2024, 1, 1, 0, start_min + i, 0),
                f"T{i % 2}",
                float(i),
                i,
            )
            for i in range(n)
        ],
        SCHEMA,
    )


def _run_available_now(df, name):
    q = ingest.write_stream_to_memory(df, name, mode="update")
    # availableNow isn't exposed through write_stream_to_memory; the
    # memory sink processes everything the file source has, then idles
    q.processAllAvailable()
    q.stop()
    return q


def test_stream_resample_matches_batch(spark, tmp_path):
    batch = _rows(spark, 40)
    src = str(tmp_path / "in")
    batch.write.parquet(src)
    stream = ingest.file_stream(spark, src, SCHEMA)
    agg = ingest.stream_resample(
        stream, "time", 600, {"v": dsum("value", scale=6)}, keys=["asset_id"]
    )
    name = f"t_{uuid.uuid4().hex[:8]}"
    q = agg.writeStream.format("memory").queryName(name).outputMode("complete").start()
    q.processAllAvailable()
    q.stop()
    got = {
        (r["time"], r["asset_id"]): r["v"]
        for r in spark.table(name).collect()
    }
    want = {
        (r["time"], r["asset_id"]): r["v"]
        for r in resample(
            batch, "time", "10min", {"v": dsum("value", scale=6)}, keys=["asset_id"]
        ).collect()
    }
    assert got == want


def test_stream_dedup_first_wins(spark, tmp_path):
    import datetime as dt

    rows = [
        (dt.datetime(2024, 1, 1, 0, 0), "A", "Hello  World", 1),
        (dt.datetime(2024, 1, 1, 0, 1), "B", "hello world", 2),  # dup of 1
        (dt.datetime(2024, 1, 1, 0, 2), "C", "fresh content", 3),
    ]
    schema = StructType(
        [
            StructField("time", TimestampType()),
            StructField("asset_id", StringType()),
            StructField("text", StringType()),
            StructField("seq", LongType()),
        ]
    )
    src = str(tmp_path / "in")
    spark.createDataFrame(rows, schema).write.parquet(src)
    stream = ingest.file_stream(spark, src, schema)
    deduped = ingest.stream_dedup(stream, "time", "text")
    name = f"t_{uuid.uuid4().hex[:8]}"
    q = deduped.writeStream.format("memory").queryName(name).outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    out = sorted(r["seq"] for r in spark.table(name).collect())
    assert out == [1, 3]


def test_stream_running_total_state_across_batches(spark, tmp_path):
    import shutil

    src = tmp_path / "in"
    src.mkdir()

    # two separate FILES (not nested dirs — the file source doesn't
    # recurse) + maxFilesPerTrigger=1 → two micro-batches; the running
    # total must carry state across them
    def land(df, name):
        staging = tmp_path / f"stage_{name}"
        df.coalesce(1).write.parquet(str(staging))
        part = next(staging.glob("part-*.parquet"))
        shutil.copy(part, src / name)

    land(_rows(spark, 10), "f1.parquet")
    land(
        _rows(spark, 10, start_min=20).withColumn("value", F.col("value") + 100.0),
        "f2.parquet",
    )
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    totals = ingest.stream_running_total(stream, "asset_id", "value")
    name = f"t_{uuid.uuid4().hex[:8]}"
    q = totals.writeStream.format("memory").queryName(name).outputMode("update").start()
    q.processAllAvailable()
    q.stop()
    pdf = spark.table(name).toPandas()
    # the LAST emission per asset is the lifetime sum of both files
    final = pdf.groupby("asset_id")["running_total"].max()
    # T0 gets even i in 0..9 and 20..29(+100): compute expected
    exp_t0 = sum(float(i) for i in range(0, 10, 2)) + sum(
        float(i) + 100.0 for i in range(0, 10, 2)
    )
    exp_t1 = sum(float(i) for i in range(1, 10, 2)) + sum(
        float(i) + 100.0 for i in range(1, 10, 2)
    )
    assert final["T0"] == pytest.approx(exp_t0)
    assert final["T1"] == pytest.approx(exp_t1)
    # state really crossed batches: at least one asset emitted twice
    assert (pdf.groupby("asset_id").size() >= 2).any()


def test_stream_sessionize_matches_batch(spark, tmp_path):
    import datetime as dt

    from openoa_spark.operators.timeseries import sessionize

    # two users, sessions split by a >5-min gap (deltas of 1 min inside
    # sessions, 11 min between them — off the gap boundary)
    rows = []
    for u in ("A", "B"):
        base = dt.datetime(2024, 1, 1, 0, 0 if u == "A" else 3)
        for s in range(3):
            start = base + dt.timedelta(minutes=s * 15)
            for i in range(s + 2):
                rows.append((start + dt.timedelta(minutes=i), u, 1.0, len(rows)))
    batch = spark.createDataFrame(rows, SCHEMA)
    src = str(tmp_path / "in")
    batch.write.parquet(src)

    stream = ingest.file_stream(spark, src, SCHEMA)
    sessions = ingest.stream_sessionize(
        stream, "time", ["asset_id"], gap_seconds=300.0
    )
    name = f"t_{uuid.uuid4().hex[:8]}"
    q = (
        sessions.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r["asset_id"], r["session_start"]): r["n_events"]
        for r in spark.table(name).collect()
    }

    b = sessionize(batch, "time", ["asset_id"], gap_seconds=300.0)
    want = {
        (r["asset_id"], r["session_start"]): r["n_events"]
        for r in b.groupBy("asset_id", "session_id")
        .agg(F.min("time").alias("session_start"), F.count("*").alias("n_events"))
        .collect()
    }
    assert got == want
    assert len(got) == 6  # 3 sessions x 2 users


def test_stream_sliding_window_counts(spark, tmp_path):
    batch = _rows(spark, 10)  # minutes 0..9, one event per minute
    src = str(tmp_path / "in")
    batch.write.parquet(src)
    stream = ingest.file_stream(spark, src, SCHEMA)
    agg = ingest.stream_resample(
        stream, "time", 240, {"n": F.count("*")}, slide_seconds=120
    )
    name = f"t_{uuid.uuid4().hex[:8]}"
    q = agg.writeStream.format("memory").queryName(name).outputMode("complete").start()
    q.processAllAvailable()
    q.stop()
    got = {r["time"].minute: r["n"] for r in spark.table(name).collect()}
    # 4-min windows sliding by 2: window starting at minute 0 holds
    # minutes 0-3 (4 events); the partial leading window [-2, 2) holds 2
    assert got[0] == 4 and got[2] == 4 and got[58] == 2
    # every event lands in exactly window/slide = 2 windows
    assert sum(got.values()) == 20


def test_stream_enrich_broadcast_join(spark, tmp_path):
    batch = _rows(spark, 6)
    src = str(tmp_path / "in")
    batch.write.parquet(src)
    dim = spark.createDataFrame(
        [("T0", "north"), ("T1", "south")], ["asset_id", "zone"]
    )
    stream = ingest.file_stream(spark, src, SCHEMA)
    enriched = ingest.stream_enrich(stream, dim, on="asset_id")
    name = f"t_{uuid.uuid4().hex[:8]}"
    q = enriched.writeStream.format("memory").queryName(name).outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    out = spark.table(name).collect()
    assert len(out) == 6
    assert all(
        r["zone"] == ("north" if r["asset_id"] == "T0" else "south") for r in out
    )


def test_stream_stream_join_matches_batch(spark, tmp_path):
    # left: one reading per minute; right: a status record 2 minutes
    # after every third reading. Interval join within 5 minutes.
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    left_rows = [(t0 + dt.timedelta(minutes=i), f"T{i % 2}", float(i)) for i in range(12)]
    right_rows = [
        (t0 + dt.timedelta(minutes=i + 2), f"T{i % 2}", f"S{i}")
        for i in range(0, 12, 3)
    ]
    lschema = StructType(
        [
            StructField("time", TimestampType()),
            StructField("asset_id", StringType()),
            StructField("value", DoubleType()),
        ]
    )
    rschema = StructType(
        [
            StructField("status_time", TimestampType()),
            StructField("asset_id", StringType()),
            StructField("status", StringType()),
        ]
    )
    lbatch = spark.createDataFrame(left_rows, lschema)
    rbatch = spark.createDataFrame(right_rows, rschema)
    lsrc, rsrc = str(tmp_path / "l"), str(tmp_path / "r")
    lbatch.write.parquet(lsrc)
    rbatch.write.parquet(rsrc)

    joined = ingest.stream_stream_join(
        ingest.file_stream(spark, lsrc, lschema),
        ingest.file_stream(spark, rsrc, rschema),
        key="asset_id",
        left_time="time",
        right_time="status_time",
        max_delay="5 minutes",
        watermark="10 minutes",
    )
    name = f"t_{uuid.uuid4().hex[:8]}"
    q = joined.writeStream.format("memory").queryName(name).outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    got = {
        (r["time"], r["asset_id"], r["status_time"], r["status"])
        for r in spark.table(name).collect()
    }
    want = {
        (r["time"], r["asset_id"], r["status_time"], r["status"])
        for r in lbatch.join(
            rbatch,
            (lbatch["asset_id"] == rbatch["asset_id"])
            & (rbatch["status_time"] >= lbatch["time"])
            & (rbatch["status_time"] <= lbatch["time"] + F.expr("INTERVAL 5 minutes")),
        ).drop(rbatch["asset_id"]).collect()
    }
    assert got == want and len(got) > 0


def test_stream_to_parquet_exactly_once_across_restart(spark, tmp_path):
    """Restarting the same checkpointed query must not re-emit rows
    already committed: batch 1's files are recorded in the checkpoint
    WAL, so the second run processes only batch 2."""
    import pyspark.sql.types as T
    from pyspark.sql import functions as F

    from openoa_spark.streaming import ingest

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = T.StructType([T.StructField("id", T.LongType())])

    spark.range(0, 5).write.mode("append").parquet(src)
    stream = ingest.file_stream(spark, src, schema)
    q = ingest.stream_to_parquet(stream, out, ckpt)
    q.awaitTermination(120)

    # land more data, restart the SAME checkpointed query
    spark.range(5, 8).write.mode("append").parquet(src)
    stream2 = ingest.file_stream(spark, src, schema)
    q2 = ingest.stream_to_parquet(stream2, out, ckpt)
    q2.awaitTermination(120)

    got = sorted(r["id"] for r in spark.read.parquet(out).collect())
    assert got == list(range(8))  # no duplicates, nothing lost


def test_streaming_curation_pipeline_end_to_end(spark, tmp_path):
    """Capstone: the batch text operators (quality score, language id,
    token count — pure Column expressions) compose UNCHANGED onto a
    stream, with watermark dedup and the exactly-once parquet sink.
    One code path for batch and streaming curation."""
    import datetime as dt

    import pyspark.sql.types as T
    from pyspark.sql import functions as F

    from openoa_spark.datapipe import text
    from openoa_spark.streaming import ingest

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    t0 = dt.datetime(2024, 1, 1, 12, 0)
    rows = [
        (1, t0, "the quick brown fox jumps over the lazy dog"),
        (2, t0, "the quick  brown fox jumps over the lazy dog"),  # dup (ws)
        (3, t0, "le chat et la maison des gens et le chien"),
        (4, t0, "!!! ??? !!!"),  # punctuation spam -> low quality
    ]
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("text", T.StringType()),
    ])
    spark.createDataFrame(rows, schema).write.parquet(src)

    stream = ingest.file_stream(spark, src, schema)
    deduped = ingest.stream_dedup(stream, "ts", "text")
    curated = deduped.select(
        "doc_id", "ts", "text",
        text.quality_score("text").alias("quality"),
        text.language_id("text").alias("lang"),
        text.token_count("text").alias("n_tokens"),
    ).where(F.col("quality") > 0.3)
    q = ingest.stream_to_parquet(curated, out, ckpt)
    q.awaitTermination(120)

    got = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    # docs 1 and 2 are content-equal: exactly ONE survives dedup (which
    # of the two wins within a micro-batch is unspecified); the
    # punctuation-spam doc 4 is filtered by quality.
    assert len(got) == 2 and 3 in got and 4 not in got
    winner = (set(got) - {3}).pop()
    assert winner in (1, 2)
    assert got[winner]["lang"] == "en" and got[3]["lang"] == "fr"
    assert got[winner]["n_tokens"] == 9


def test_stream_quality_gate_routes_and_reports(spark, tmp_path):
    """Rows pass/fail per-row rules per micro-batch: good rows to the
    curated sink, violators (tagged with broken rule names) to
    quarantine, and the one-pass rule report lands per batch."""
    import pyspark.sql.types as T
    from pyspark.sql import functions as F

    from openoa_spark.operators.checks import Rule
    from openoa_spark.streaming import ingest

    src = str(tmp_path / "src")
    good = str(tmp_path / "good")
    quar = str(tmp_path / "quarantine")
    ckpt = str(tmp_path / "ckpt")
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("cat", T.StringType()),
            T.StructField("val", T.DoubleType()),
        ]
    )
    spark.createDataFrame(
        [(1, "a", 5.0), (2, "b", -1.0), (3, None, 7.0), (4, "a", 2.0)],
        schema,
    ).write.mode("append").parquet(src)

    rules = [
        Rule("cat_not_null", "not_null", "cat"),
        Rule("val_nonneg", "in_range", "val", {"lo": 0, "hi": 100}),
        Rule("id_unique", "unique", "id"),  # table-level: report-only
        Rule("cat_known", "in_set", "cat", {"values": ["a", "c"]}),
        Rule("cat_word", "matches", "cat", {"pattern": "^[a-c]$"}),
        Rule("val_small", "custom", "val", {"predicate": F.col("val") < 6}),
    ]
    metrics_path = str(tmp_path / "metrics")
    q = ingest.stream_quality_gate(
        ingest.file_stream(spark, src, schema), rules, good, quar, ckpt,
        metrics_path=metrics_path,
    )
    q.awaitTermination(120)

    metrics = {
        r["rule"]: r["violations"]
        for r in spark.read.parquet(metrics_path).collect()
    }
    assert metrics == {
        "cat_not_null": 1, "val_nonneg": 1, "id_unique": 0,
        "cat_known": 2, "cat_word": 1, "val_small": 1,
    }

    good_ids = sorted(
        r["id"] for r in spark.read.parquet(good).collect()
    )
    assert good_ids == [1, 4]
    bad = {
        r["id"]: r["_broken_rules"]
        for r in spark.read.parquet(quar).collect()
    }
    assert bad == {
        2: "val_nonneg,cat_known",
        3: "cat_not_null,cat_known,cat_word,val_small",
    }
    # routing and report compile each rule through one predicate: per
    # row rule, quarantined rows naming it == its reported violations
    row_rules = [r.name for r in rules if r.kind != "unique"]
    assert {
        n: sum(n in b.split(",") for b in bad.values()) for n in row_rules
    } == {n: metrics[n] for n in row_rules}

    # a second micro-batch routes independently and idempotently
    spark.createDataFrame([(5, "c", 1.0), (6, None, -2.0)], schema) \
        .write.mode("append").parquet(src)
    q2 = ingest.stream_quality_gate(
        ingest.file_stream(spark, src, schema), rules, good, quar, ckpt
    )
    q2.awaitTermination(120)
    assert sorted(
        r["id"] for r in spark.read.parquet(good).collect()
    ) == [1, 4, 5]
    assert spark.read.parquet(quar).where(F.col("id") == 6).first()[
        "_broken_rules"
    ] == "cat_not_null,val_nonneg,cat_known,cat_word"

    # metrics sink idempotence: replaying batch 0 (fresh checkpoint,
    # same source — now 6 rows) OVERWRITES the batch-0 report instead
    # of appending a duplicate: one row per rule, full-source counts
    q3 = ingest.stream_quality_gate(
        ingest.file_stream(spark, src, schema), rules, good, quar,
        str(tmp_path / "ckpt2"), metrics_path=metrics_path,
    )
    q3.awaitTermination(120)
    replayed = spark.read.parquet(metrics_path).collect()
    assert len(replayed) == 6  # not 12: batch-0 partition overwritten
    assert {r["rule"]: r["violations"] for r in replayed} == {
        "cat_not_null": 2, "val_nonneg": 2, "id_unique": 0,
        "cat_known": 3, "cat_word": 2, "val_small": 1,
    }


@pytest.mark.parametrize(
    "case", ["unknown_kind", "duplicate_names", "empty"]
)
def test_stream_quality_gate_rejects_bad_rules_before_start(
    spark, tmp_path, case
):
    """A malformed rule list fails at the call, before the query
    starts: no micro-batch lands rows it cannot commit, and no
    checkpoint is left behind for a restart to replay into the same
    failure."""
    import os

    import pyspark.sql.types as T

    from openoa_spark.operators.checks import Rule

    src = str(tmp_path / "src")
    good = str(tmp_path / "good")
    quar = str(tmp_path / "quarantine")
    ckpt = str(tmp_path / "ckpt")
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("cat", T.StringType())]
    )
    spark.createDataFrame([(1, "a"), (2, None)], schema).write.parquet(src)
    rules = {
        "unknown_kind": [Rule("cat_ok", "not_a_kind", "cat")],
        "duplicate_names": [
            Rule("cat_ok", "not_null", "cat"),
            Rule("cat_ok", "in_set", "cat", {"values": ["a"]}),
        ],
        "empty": [],
    }[case]
    with pytest.raises(ValueError):
        ingest.stream_quality_gate(
            ingest.file_stream(spark, src, schema), rules, good, quar, ckpt,
            metrics_path=str(tmp_path / "metrics"),
        )
    assert not any(os.path.exists(p) for p in (good, quar, ckpt))


def test_stream_near_dedup_across_batches(spark, tmp_path):
    """Near-dup state persists ACROSS micro-batch boundaries: a
    template re-ingested in a later batch is dropped against the
    accepted history, and a replayed batch lands zero new rows."""
    import pyspark.sql.types as T

    from openoa_spark.streaming import ingest

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    state = str(tmp_path / "state")
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    base = (
        "the quick brown fox jumps over the lazy dog and keeps on "
        "running through the quiet green field toward the distant hills"
    )
    spark.createDataFrame(
        [(1, base), (2, base + " tonight"),
         (3, "fully unrelated passage about query engines and shuffle "
             "planning in distributed columnar execution systems")],
        schema,
    ).write.mode("append").parquet(src)
    q = ingest.stream_near_dedup(
        ingest.file_stream(spark, src, schema), "text", "doc_id",
        out, state, str(tmp_path / "ckpt"), jaccard_threshold=0.5,
    )
    q.awaitTermination(120)
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(out).collect()
    ) == [1, 3]

    # second batch: near-dup of history + one new doc
    spark.createDataFrame(
        [(10, base + " again"),
         (11, "another novel text describing wind turbine wakes and "
              "long term yearly energy production estimates")],
        schema,
    ).write.mode("append").parquet(src)
    q2 = ingest.stream_near_dedup(
        ingest.file_stream(spark, src, schema), "text", "doc_id",
        out, state, str(tmp_path / "ckpt"), jaccard_threshold=0.5,
    )
    q2.awaitTermination(120)
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(out).collect()
    ) == [1, 3, 11]


def test_stream_time_rollup_maintains_continuous_aggregate(spark, tmp_path):
    """Raw + rollup stay consistent across micro-batches: after the
    stream drains, the rollup equals a full recompute of the raw
    table, and re-running the maintenance for the last batch (crash
    replay) changes nothing. Each micro-batch runs exactly five jobs:
    the raw landing write and the rollup refresh; re-reading raw
    without its schema would add a footer-inference job per batch."""
    src = str(tmp_path / "in")
    raw = str(tmp_path / "raw")
    roll = str(tmp_path / "roll")
    ck = str(tmp_path / "ck")

    _rows(spark, 40).repartition(4).write.parquet(src)
    stream = ingest.file_stream(spark, src, SCHEMA, max_files_per_trigger=2)
    aggs = {"sum_v": F.sum("value"), "n": F.count(F.lit(1))}
    q = ingest.stream_time_rollup(
        stream, raw, roll, "time", "hour", aggs, ck, keys=["asset_id"]
    )
    q.processAllAvailable()
    q.stop()
    batches = len(q.recentProgress)
    assert batches == 2
    # a streaming query's jobs run in the job group of its run id
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))
    assert len(jobs) == 5 * batches

    raw_df = spark.read.parquet(raw).drop("_batch_id")
    assert raw_df.count() == 40
    got = {
        (r["_bucket_day"], str(r["_bucket"]), r["asset_id"]): (r["sum_v"], r["n"])
        for r in spark.read.parquet(roll).collect()
    }
    want = {
        (r["_bucket_day"], str(r["_bucket"]), r["asset_id"]): (r["sum_v"], r["n"])
        for r in raw_df.withColumn("_bucket", F.date_trunc("hour", "time"))
        .groupBy("_bucket", "asset_id")
        .agg(F.sum("value").alias("sum_v"), F.count(F.lit(1)).alias("n"))
        .withColumn("_bucket_day", F.to_date("_bucket"))
        .collect()
    }
    assert got == want

    # crash replay of the whole maintenance for the same data: re-run
    # refresh for every bucket; rollup unchanged
    from openoa_spark.operators.timeseries import refresh_time_rollup

    refresh_time_rollup(raw_df, raw_df, "time", roll, "hour", aggs, ["asset_id"])
    again = {
        (r["_bucket_day"], str(r["_bucket"]), r["asset_id"]): (r["sum_v"], r["n"])
        for r in spark.read.parquet(roll).collect()
    }
    assert again == got


def test_stream_chunk_dedup_across_batches(spark, tmp_path):
    """Chunk-fingerprint state persists across micro-batches: a chunk
    re-ingested in a later batch is dropped against corpus history,
    the containing document reassembles from only its novel chunks,
    and the final streamed output equals the serial batch replay of
    incremental_chunk_dedup over the same batch sequence."""
    import pyspark.sql.types as T

    from openoa_spark.datapipe.dedup import incremental_chunk_dedup
    from openoa_spark.streaming import ingest

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    state = str(tmp_path / "state")
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    c1 = "alpha beta gamma delta"
    c2 = "epsilon zeta eta theta"
    c3 = "iota kappa lambda mu"
    batch1 = [(1, f"{c1} {c2}"), (2, f"{c2} {c3}")]
    batch2 = [(10, f"{c3} {c1}"),            # all chunks old -> vanishes
              (11, f"{c1} nu xi omicron pi")]  # c1 old, tail novel
    spark.createDataFrame(batch1, schema).write.mode("append").parquet(src)
    q = ingest.stream_chunk_dedup(
        ingest.file_stream(spark, src, schema), "text", "doc_id",
        out, state, str(tmp_path / "ckpt"), chunk_tokens=4,
    )
    q.awaitTermination(120)
    got1 = {
        r["doc_id"]: r["clean_text"]
        for r in spark.read.parquet(out).collect()
    }
    assert got1 == {1: f"{c1} {c2}", 2: c3}

    spark.createDataFrame(batch2, schema).write.mode("append").parquet(src)
    q2 = ingest.stream_chunk_dedup(
        ingest.file_stream(spark, src, schema), "text", "doc_id",
        out, state, str(tmp_path / "ckpt"), chunk_tokens=4,
    )
    q2.awaitTermination(120)
    got = {
        r["doc_id"]: r["clean_text"]
        for r in spark.read.parquet(out).collect()
    }
    assert 10 not in got  # no novel content anywhere in doc 10
    assert got[11] == "nu xi omicron pi"

    # serial replay twin: same batches through the batch operator
    state2 = str(tmp_path / "state2")
    serial = {}
    for rows in (batch1, batch2):
        acc = incremental_chunk_dedup(
            spark, spark.createDataFrame(rows, schema), "text",
            "doc_id", state2, chunk_tokens=4,
        )
        serial.update(
            {r["doc_id"]: r["clean_text"] for r in acc.collect()}
        )
    assert got == serial


def test_stream_drift_monitor_matches_batch_psi(spark, tmp_path):
    """Per-batch PSI against the frozen reference edges equals the
    batch operator run on the same (reference, batch) pair, and a
    replayed batch overwrites its own metrics row (no duplicates)."""
    import pyspark.sql.types as T

    from openoa_spark.operators.qa import population_stability_index

    src = str(tmp_path / "src")
    metrics = str(tmp_path / "metrics")
    schema = T.StructType([T.StructField("v", T.DoubleType())])

    ref = spark.createDataFrame(
        [(float(i % 100),) for i in range(1000)], schema
    )
    shifted = [(float(i % 100) + 40.0,) for i in range(500)]
    spark.createDataFrame(shifted, schema).write.mode("append").parquet(src)

    q = ingest.stream_drift_monitor(
        ingest.file_stream(spark, src, schema), "v", ref, metrics,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    rows = spark.read.parquet(metrics).collect()
    assert len(rows) == 1
    got = rows[0]
    want = population_stability_index(
        ref, spark.createDataFrame(shifted, schema), "v"
    ).first()
    assert got["psi"] == want["psi"]
    assert got["psi"] > 0.25  # a 40-unit shift is a drift alarm
    assert got["n_current"] == 500 and got["n_reference"] == 1000

    # stable second batch: near-zero PSI, new metrics row appears
    spark.createDataFrame(
        [(float((i * 7) % 100),) for i in range(800)], schema
    ).write.mode("append").parquet(src)
    q2 = ingest.stream_drift_monitor(
        ingest.file_stream(spark, src, schema), "v", ref, metrics,
        str(tmp_path / "ckpt"),
    )
    q2.awaitTermination(120)
    out = {r["batch_id"]: r for r in spark.read.parquet(metrics).collect()}
    assert set(out) == {0, 1}
    assert out[1]["psi"] < 0.1


def test_stream_distinct_rollup_merges_across_batches(spark, tmp_path):
    """Per-batch HLL sketches land idempotently; the merged estimate
    over the state equals the exact distinct count (HLL is exact at
    these cardinalities), at the global grain and per asset, and a
    replayed batch leaves the union unchanged."""
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ck = str(tmp_path / "ck")

    _rows(spark, 30).write.mode("append").parquet(src)
    q = ingest.stream_distinct_rollup(
        ingest.file_stream(spark, src, SCHEMA), "seq", ["asset_id"],
        state, ck,
    )
    q.awaitTermination(120)
    _rows(spark, 25, start_min=30).write.mode("append").parquet(src)  # seq 0..24 overlap
    q2 = ingest.stream_distinct_rollup(
        ingest.file_stream(spark, src, SCHEMA), "seq", ["asset_id"],
        state, ck,
    )
    q2.awaitTermination(120)

    total = ingest.read_distinct_rollup(spark, state).first()
    assert total["distinct_estimate"] == 30  # union of 0..29 and 0..24
    assert total["n_rows"] == 55

    per_asset = {
        r["asset_id"]: r["distinct_estimate"]
        for r in ingest.read_distinct_rollup(
            spark, state, ["asset_id"]
        ).collect()
    }
    assert per_asset == {"T0": 15, "T1": 15}  # evens / odds of 0..29


def test_stream_ewma_anomaly_matches_serial_replay(spark, tmp_path):
    """Cross-batch EWMA state: z-scores over two micro-batches equal a
    serial Python replay of the same recursion, and a planted spike
    after warmup flags while the warmup region never does."""
    import datetime as dt
    import math

    src = str(tmp_path / "src")
    t0 = dt.datetime(2024, 1, 1)
    vals1 = [10.0 + 0.1 * (i % 5) for i in range(15)]
    vals2 = [10.2, 10.1, 55.0, 10.3, 10.0]  # spike at index 2
    rows1 = [(t0 + dt.timedelta(minutes=i), "A", v, i)
             for i, v in enumerate(vals1)]
    rows2 = [(t0 + dt.timedelta(minutes=15 + i), "A", v, 15 + i)
             for i, v in enumerate(vals2)]

    def run_stream():
        stream = ingest.file_stream(spark, src, SCHEMA)
        q = (
            ingest.stream_ewma_anomaly(stream, "asset_id", "time", "value")
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    spark.createDataFrame(rows1, SCHEMA).write.mode("append").parquet(src)
    run_stream()
    spark.createDataFrame(rows2, SCHEMA).write.mode("append").parquet(src)
    run_stream()

    got = {
        r["time"]: (r["zscore"], r["is_anomaly"])
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }

    # serial replay of the same recursion
    mean, var, n = 0.0, 0.0, 0
    want = {}
    for i, v in enumerate(vals1 + vals2):
        if n == 0:
            z, mean, var = 0.0, v, 0.0
        else:
            sd = math.sqrt(var)
            z = (v - mean) / sd if sd > 0 else 0.0
            d = v - mean
            mean += 0.1 * d
            var = 0.9 * (var + 0.1 * d * d)
        n += 1
        want[t0 + dt.timedelta(minutes=i)] = (z, n > 10 and abs(z) >= 3.0)

    assert set(got) == set(want)
    for t in want:
        assert abs(got[t][0] - want[t][0]) < 1e-9, t
        assert got[t][1] == want[t][1], t
    # the spike is the only flagged row
    flagged = [t for t, (_, a) in got.items() if a]
    assert flagged == [t0 + dt.timedelta(minutes=17)]


def test_stream_cdc_apply_maintains_table(spark, tmp_path):
    """Streamed change batches maintain the parquet table: upserts
    land, a delete removes its row, and the final table equals a
    serial batch replay through apply_cdc."""
    import pyspark.sql.types as T

    from openoa_spark.sources import sinks

    src = str(tmp_path / "changes")
    table = str(tmp_path / "table")
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("day", T.StringType()),
            T.StructField("v", T.DoubleType()),
            T.StructField("_op", T.StringType()),
        ]
    )
    b1 = [(1, "d1", 10.0, "upsert"), (2, "d1", 20.0, "upsert"),
          (3, "d2", 30.0, "upsert")]
    b2 = [(2, "d1", 21.0, "upsert"), (3, "d2", 0.0, "delete"),
          (4, "d3", 40.0, "upsert")]

    spark.createDataFrame(b1, schema).write.mode("append").parquet(src)
    q = ingest.stream_cdc_apply(
        ingest.file_stream(spark, src, schema), table, ["id"], "day",
        str(tmp_path / "ck"),
    )
    q.awaitTermination(120)
    spark.createDataFrame(b2, schema).write.mode("append").parquet(src)
    q2 = ingest.stream_cdc_apply(
        ingest.file_stream(spark, src, schema), table, ["id"], "day",
        str(tmp_path / "ck"),
    )
    q2.awaitTermination(120)

    got = {r["id"]: (r["day"], r["v"])
           for r in spark.read.parquet(table).collect()}
    assert got == {1: ("d1", 10.0), 2: ("d1", 21.0), 4: ("d3", 40.0)}

    # serial replay twin
    table2 = str(tmp_path / "table2")
    for rows in (b1, b2):
        sinks.apply_cdc(
            spark, table2, spark.createDataFrame(rows, schema),
            ["id"], "day",
        )
    want = {r["id"]: (r["day"], r["v"])
            for r in spark.read.parquet(table2).collect()}
    assert got == want


def _land_files(spark, tmp_path, batches, schema):
    """Write each batch as ONE parquet file into a common source dir
    (file order = micro-batch order with maxFilesPerTrigger=1)."""
    import shutil

    import os
    import time as _time

    src = tmp_path / "late_src"
    src.mkdir()
    now = _time.time()
    for i, rows in enumerate(batches):
        staging = tmp_path / f"late_stage_{i}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(staging)
        )
        part = next(staging.glob("part-*.parquet"))
        dst = src / f"b{i:03d}.parquet"
        shutil.copy(part, dst)
        # the file source orders micro-batches by modification time —
        # make the intended order unambiguous
        os.utime(dst, (now + i * 10, now + i * 10))
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )


def _drain(df, mode):
    name = f"t_{uuid.uuid4().hex[:8]}"
    q = df.writeStream.format("memory").queryName(name).outputMode(mode).start()
    q.processAllAvailable()
    q.stop()
    return name


def test_late_arrival_matrix_sessionize(spark, tmp_path):
    """Watermark semantics pinned per stateful operator (1/3):
    session_window + 10-min watermark, as OBSERVED on Spark 4 (the
    subtle bit this test exists to pin): the effective watermark lags
    one micro-batch behind the event-time maximum, and a late row is
    still MERGED into its session while that session's state is live —
    only after the session is finalized (evicted one batch after the
    watermark passes its close) is an older-than-watermark event
    dropped, and the emitted session never reopens or re-emits."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)

    def ts(minute):
        return t0 + dt.timedelta(minutes=minute)

    schema = StructType([
        StructField("time", TimestampType()),
        StructField("asset_id", StringType()),
        StructField("value", DoubleType()),
        StructField("seq", LongType()),
    ])
    batches = [
        [(ts(0), "A", 1.0, 1), (ts(5), "A", 1.0, 2)],   # session A
        [(ts(60), "B", 1.0, 3)],          # wm(effective next) -> 00:50
        [(ts(65), "Y", 1.0, 4)],          # A evicted+emitted this batch
        # late INSIDE watermark (00:56 >= 00:55): absorbed as its own
        # session; late OUTSIDE + session finalized (00:02): dropped
        [(ts(56), "C", 1.0, 5), (ts(2), "A", 1.0, 6)],
        [(ts(300), "Z", 1.0, 7)],         # close everything
    ]
    stream = _land_files(spark, tmp_path, batches, schema)
    sess = ingest.stream_sessionize(
        stream, "time", ["asset_id"], gap_seconds=600.0,
        late_threshold="10 minutes",
    )
    name = _drain(sess, "append")
    rows = [r for r in spark.table(name).collect()
            if r["asset_id"] in ("A", "B", "C")]
    got = {}
    for r in rows:
        got.setdefault(r["asset_id"], []).append(
            (r["session_start"], r["n_events"])
        )
    assert got["A"] == [(ts(0), 2)]   # exactly once; seq=6 dropped
    assert got["B"] == [(ts(60), 1)]
    assert got["C"] == [(ts(56), 1)]  # inside-watermark late: absorbed


def test_late_arrival_matrix_dedup(spark, tmp_path):
    """Watermark semantics pinned (2/3): dropDuplicatesWithinWatermark.
    A duplicate INSIDE the watermark horizon is suppressed; once the
    watermark passes first-seen + threshold the key's state expires,
    so a duplicate arriving beyond it is EMITTED AGAIN (the dedup
    guarantee is explicitly watermark-bounded); an event below the
    watermark is dropped as late."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)

    def ts(minute):
        return t0 + dt.timedelta(minutes=minute)

    schema = StructType([
        StructField("time", TimestampType()),
        StructField("asset_id", StringType()),
        StructField("text", StringType()),
        StructField("seq", LongType()),
    ])
    batches = [
        [(ts(0), "A", "the payload X", 1)],           # first X: emitted
        [(ts(5), "B", "watermark mover", 2),
         (ts(4), "C", "the payload X", 3)],           # in-horizon dup: dropped
        [(ts(60), "D", "watermark mover 2", 4)],      # max event -> 01:00
        # effective watermark lags one batch: X's state (expires once
        # wm > 00:10) is evicted at the END of this batch (wm 00:50)
        [(ts(70), "D2", "watermark mover 3", 5)],
        [(ts(48), "E", "the payload X", 6),           # below wm: dropped late
         (ts(75), "F", "the payload X", 7)],          # state gone: re-emitted
    ]
    stream = _land_files(spark, tmp_path, batches, schema)
    deduped = ingest.stream_dedup(
        stream, "time", "text", late_threshold="10 minutes"
    )
    name = _drain(deduped, "append")
    out = sorted(r["seq"] for r in spark.table(name).collect())
    assert out == [1, 2, 4, 5, 7]


def test_late_arrival_matrix_ewma(spark, tmp_path):
    """Watermark semantics pinned (3/3): the EWMA detector keeps NO
    watermark (state is O(keys), recursion absorbs everything), so an
    out-of-order event arriving in a later micro-batch is still
    absorbed into state and emitted — absorb-always, by design."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)

    def ts(minute):
        return t0 + dt.timedelta(minutes=minute)

    schema = StructType([
        StructField("time", TimestampType()),
        StructField("asset_id", StringType()),
        StructField("value", DoubleType()),
        StructField("seq", LongType()),
    ])
    batches = [
        [(ts(i), "A", 10.0 + 0.1 * (i % 3), i) for i in range(12)],
        [(ts(3) + dt.timedelta(seconds=30), "A", 10.05, 99)],  # out-of-order
    ]
    stream = _land_files(spark, tmp_path, batches, schema)
    flagged = ingest.stream_ewma_anomaly(
        stream, "asset_id", "time", "value", warmup=5
    )
    name = _drain(flagged, "append")
    rows = spark.table(name).collect()
    assert len(rows) == 13                      # late row absorbed, emitted
    late = [r for r in rows if r["value"] == 10.05]
    assert len(late) == 1
    assert late[0]["zscore"] is not None        # scored against live state
    assert late[0]["is_anomaly"] is not None


def test_stream_media_metadata_decode_and_quarantine(spark, tmp_path):
    """Streaming multimodal decode: each micro-batch header-parses its
    binary payloads once, valid scalars land at the metadata path
    (equal to the batch decoder's output), corrupt rows route WHOLE to
    quarantine, and a crash-replayed epoch overwrites its own batch
    partition instead of appending a duplicate."""
    import pyspark.sql.types as T

    from openoa_spark.datapipe import multimodal
    from openoa_spark.streaming import ingest

    src = str(tmp_path / "src")
    meta_p = str(tmp_path / "meta")
    quar = str(tmp_path / "quarantine")
    ckpt = str(tmp_path / "ckpt")
    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]
    )
    png = multimodal.synthesize_png
    rows = [
        (1, png(20, 10, 1)),
        (2, png(8, 8, 2)[:15]),       # truncated -> quarantine
        (3, png(31, 7, 3)),
        (4, b"not a png"),            # corrupt -> quarantine
    ]
    batch_df = spark.createDataFrame(rows, schema)
    batch_df.write.mode("append").parquet(src)

    q = ingest.stream_media_metadata(
        ingest.file_stream(spark, src, schema), meta_p, ckpt,
        kind="image", quarantine_path=quar,
    )
    q.awaitTermination(120)

    got = {
        r["media_id"]: (r["width"], r["height"], r["n_bytes"])
        for r in spark.read.parquet(meta_p).collect()
    }
    want = {
        r["media_id"]: (r["width"], r["height"], r["n_bytes"])
        for r in multimodal.image_metadata(batch_df).collect()
        if r["width"] is not None
    }
    assert got == want and set(got) == {1, 3}

    bad = {r["media_id"] for r in spark.read.parquet(quar).collect()}
    assert bad == {2, 4}
    # quarantined rows carry the original payload for re-inspection
    quar_content = {
        r["media_id"]: bytes(r["content"])
        for r in spark.read.parquet(quar).collect()
    }
    assert quar_content[4] == b"not a png"

    # crash-replay: a second run from a FRESH checkpoint re-processes
    # batch 0 and must overwrite its own partition, not duplicate it
    q2 = ingest.stream_media_metadata(
        ingest.file_stream(spark, src, schema), meta_p,
        str(tmp_path / "ckpt2"), kind="image", quarantine_path=quar,
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(meta_p).count() == 2
    assert spark.read.parquet(quar).count() == 2

    # quarantine_path=None must NOT silently drop rejects: the
    # NULL-metadata rows (which still carry id + n_bytes) stay in the
    # metadata table so corrupt payloads remain observable
    meta_noq = str(tmp_path / "meta_noq")
    q3 = ingest.stream_media_metadata(
        ingest.file_stream(spark, src, schema), meta_noq,
        str(tmp_path / "ckpt3"), kind="image", quarantine_path=None,
    )
    q3.awaitTermination(120)
    noq = {
        r["media_id"]: r["width"]
        for r in spark.read.parquet(meta_noq).collect()
    }
    assert set(noq) == {1, 2, 3, 4}
    assert noq[2] is None and noq[4] is None
    assert noq[1] is not None and noq[3] is not None


def _kill_mid_batch(ckpt: str, epoch: int) -> None:
    """Put a completed checkpoint into the exact crash-mid-batch state
    for `epoch`: the offsets WAL entry survives (the planner chose the
    batch's files) but the commit-log entry is gone (the sink never
    acknowledged), so a restart MUST re-execute that epoch with the
    same batch_id through foreachBatch — the state Structured
    Streaming's recovery contract is written for."""
    import os

    commit = os.path.join(ckpt, "commits", str(epoch))
    assert os.path.exists(commit), f"no commit log for epoch {epoch}"
    os.remove(commit)
    # the local checksummed FileSystem writes a .N.crc sidecar next to
    # each commit entry; a crashed process would have written neither.
    # Under the FileContext checkpoint manager (ChecksumFs) an orphaned
    # sidecar made the replayed epoch's commit rename fail ("Rename
    # destination .N.crc already exists" -> STREAM_FAILED)
    crc = os.path.join(ckpt, "commits", f".{epoch}.crc")
    if os.path.exists(crc):
        os.remove(crc)


def test_stream_media_metadata_kill_mid_batch_replay(spark, tmp_path):
    """Crash-mid-batch replay for the multimodal decode stage (the r10
    verdict's crash-matrix gap): epoch 1's commit log is deleted after
    a clean run, the restarted query re-executes epoch 1 with the SAME
    batch_id, and dynamic partition overwrite must leave the metadata
    and quarantine tables byte-identical — no duplicate rows, no lost
    rows, on both output paths."""
    import pyspark.sql.types as T

    from openoa_spark.datapipe import multimodal
    from openoa_spark.streaming import ingest

    src = str(tmp_path / "src")
    meta_p = str(tmp_path / "meta")
    quar = str(tmp_path / "quarantine")
    ckpt = str(tmp_path / "ckpt")
    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]
    )
    png = multimodal.synthesize_png
    rows_a = [
        (1, png(20, 10, 1)),
        (2, png(8, 8, 2)[:15]),   # truncated -> quarantine
        (3, png(31, 7, 3)),
    ]
    rows_b = [
        (4, b"not a png"),        # corrupt -> quarantine
        (5, png(5, 5, 5)),
        (6, png(64, 2, 6)),
    ]
    spark.createDataFrame(rows_a, schema).write.mode("append").parquet(src)
    q = ingest.stream_media_metadata(
        ingest.file_stream(spark, src, schema), meta_p, ckpt,
        kind="image", quarantine_path=quar,
    )
    assert q.awaitTermination(600)

    spark.createDataFrame(rows_b, schema).write.mode("append").parquet(src)
    q2 = ingest.stream_media_metadata(
        ingest.file_stream(spark, src, schema), meta_p, ckpt,
        kind="image", quarantine_path=quar,
    )
    assert q2.awaitTermination(600)

    def snapshot():
        meta = sorted(
            (r["media_id"], r["width"], r["height"], r["n_bytes"])
            for r in spark.read.parquet(meta_p).collect()
        )
        bad = sorted(
            (r["media_id"], bytes(r["content"]))
            for r in spark.read.parquet(quar).collect()
        )
        return meta, bad

    before = snapshot()
    assert [m[0] for m in before[0]] == [1, 3, 5, 6]
    assert [b[0] for b in before[1]] == [2, 4]

    # crash between epoch 1's sink write and its commit: replay must
    # overwrite epoch 1's partitions in place
    _kill_mid_batch(ckpt, 1)
    q3 = ingest.stream_media_metadata(
        ingest.file_stream(spark, src, schema), meta_p, ckpt,
        kind="image", quarantine_path=quar,
    )
    assert q3.awaitTermination(600)
    assert snapshot() == before


def test_stream_cluster_assign_kill_mid_batch_replay(spark, tmp_path):
    """Crash-mid-batch replay for streaming clustering (the other r10
    crash-matrix gap): epoch 1 appends its suffstats and writes its
    assignment partition, then the commit log entry is deleted. The
    restarted query re-executes epoch 1 with the same batch_id;
    incremental_kmeans's exclude-fold must assign against the
    PRE-append state (bit-identical clusters) and skip the duplicate
    suffstats append, and the assignment partition must be overwritten
    not doubled."""
    import numpy as np
    import pyspark.sql.types as T

    from openoa_spark.streaming import ingest

    rng = np.random.RandomState(47)
    v1, v2 = rng.randn(18, 3), rng.randn(9, 3)
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(v1)], schema
    ).write.mode("append").parquet(src)
    q = ingest.stream_cluster_assign(
        ingest.file_stream(spark, src, schema), "embedding", "vec_id",
        out, state, ckpt, k=3, iters_first=2,
    )
    assert q.awaitTermination(600)

    spark.createDataFrame(
        [(100 + i, [float(x) for x in v]) for i, v in enumerate(v2)], schema
    ).write.mode("append").parquet(src)
    q2 = ingest.stream_cluster_assign(
        ingest.file_stream(spark, src, schema), "embedding", "vec_id",
        out, state, ckpt, k=3, iters_first=2,
    )
    assert q2.awaitTermination(600)

    def snapshot():
        asg = sorted(
            (r["vec_id"], r["cluster"])
            for r in spark.read.parquet(out).collect()
        )
        ss = sorted(
            (r["batch_id"], r["cluster"], r["n"], tuple(r["sum_mic"]))
            for r in spark.read.parquet(f"{state}/suffstats").collect()
        )
        return asg, ss

    before = snapshot()
    assert len(before[0]) == 27  # every vector assigned exactly once
    assert {b for b, *_ in before[1]} == {0, 1}

    _kill_mid_batch(ckpt, 1)
    q3 = ingest.stream_cluster_assign(
        ingest.file_stream(spark, src, schema), "embedding", "vec_id",
        out, state, ckpt, k=3, iters_first=2,
    )
    assert q3.awaitTermination(600)
    # bit-identical assignments, zero duplicate suffstats rows
    assert snapshot() == before


@pytest.mark.parametrize("writer", ["quality_gate", "time_rollup"])
def test_batch_id_sinks_kill_mid_batch_replay(spark, tmp_path, writer):
    """Crash-mid-batch replay for the quality gate and the time
    rollup: after two clean batches, epoch 1's commit is deleted and
    the restarted query re-executes it with the same batch id. Every
    table it lands (good, quarantine and metrics for the gate; raw and
    rollup for the time rollup) must be unchanged row for row."""
    from openoa_spark.operators.checks import Rule

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    metrics = str(tmp_path / "metrics")
    rules = [
        Rule("val_small", "in_range", "value", {"lo": 0, "hi": 15}),
        Rule("seq_unique", "unique", "seq"),
    ]
    aggs = {"sum_v": F.sum("value"), "n": F.count(F.lit(1))}

    def run():
        stream = ingest.file_stream(spark, src, SCHEMA)
        if writer == "quality_gate":
            q = ingest.stream_quality_gate(
                stream, rules, a, b, ckpt, metrics_path=metrics
            )
        else:
            q = ingest.stream_time_rollup(
                stream, a, b, "time", "hour", aggs, ckpt, keys=["asset_id"]
            )
        assert q.awaitTermination(600)

    def snapshot():
        paths = [a, b] + ([metrics] if writer == "quality_gate" else [])
        return [
            sorted((tuple(r) for r in spark.read.parquet(p).collect()), key=str)
            for p in paths
        ]

    # both batches share the 00:00 hour, so epoch 1's rollup refresh
    # recomputes a bucket epoch 0 already wrote
    _rows(spark, 40).write.mode("append").parquet(src)
    run()
    _rows(spark, 20, start_min=40).write.mode("append").parquet(src)
    run()
    before = snapshot()
    assert all(before)

    _kill_mid_batch(ckpt, 1)
    run()
    assert snapshot() == before
