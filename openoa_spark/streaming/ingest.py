"""Structured Streaming operators.

The reference is batch-only (SURVEY §2.12); this module is the scale
extension: continuous telemetry ingestion with the same resample
semantics as the batch operator, expressed as event-time windowed
aggregation with watermarks (late data bounded by ``late_threshold``).

A stream resampled at "10min" with a 30-min watermark produces exactly
the batch ``resample`` result once all late data has arrived — the
unifying contract batch/streaming share.

Every writer here (``stream_to_parquet`` and the ``foreachBatch``
family) shares one contract: the query runs with the availableNow
trigger — it processes everything the source holds, then stops; call
``awaitTermination()`` on the returned handle — and keeps its offsets
and commits in ``checkpoint``. Each table a ``foreachBatch`` writer
lands goes through ``_land``: partitioned by the micro-batch id
(``_batch_id``; ``batch_id`` for the metrics reports) with dynamic
partition overwrite, so a batch replayed after a crash overwrites its
own partition instead of appending twice — exactly-once composed with
the checkpoint. The per-operator docstrings say only what differs,
such as how a writer orders its output against state appends.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from openoa_spark.sources.sinks import overwrite_partitions


def stream_resample(
    stream: DataFrame,
    time_col: str,
    freq_seconds: int,
    aggs: dict[str, Column],
    keys: list[str] | None = None,
    late_threshold: str = "30 minutes",
    slide_seconds: int | None = None,
) -> DataFrame:
    """Windowed streaming aggregation mirroring the batch resample.

    Tumbling event-time window of ``freq_seconds`` (or SLIDING when
    ``slide_seconds`` is given — each event lands in
    freq/slide overlapping windows, the standard moving-aggregate);
    watermark bounds state. Output unnests window.start as the bucket
    timestamp so the schema matches the batch operator's.
    """
    if slide_seconds is not None:
        win = F.window(
            F.col(time_col), f"{freq_seconds} seconds", f"{slide_seconds} seconds"
        )
    else:
        win = F.window(F.col(time_col), f"{freq_seconds} seconds")
    grouped = (
        stream.withWatermark(time_col, late_threshold)
        .groupBy(win, *[F.col(k) for k in (keys or [])])
        .agg(*[c.alias(n) for n, c in aggs.items()])
    )
    return grouped.select(
        F.col("window.start").alias(time_col),
        *[F.col(k) for k in (keys or [])],
        *[F.col(n) for n in aggs],
    )


def file_stream(
    spark,
    path: str,
    schema,
    fmt: str = "parquet",
    max_files_per_trigger: int = 16,
) -> DataFrame:
    """File-source stream over a growing directory (the standard
    bronze-layer ingestion for telemetry landed as parquet)."""
    return (
        spark.readStream.format(fmt)
        .schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(path)
    )


def write_stream_to_memory(df: DataFrame, name: str, mode: str = "append"):
    """Test/debug sink: materialize a streaming query into an
    in-memory table; returns the StreamingQuery handle."""
    return (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .start()
    )


def stream_sessionize(
    stream: DataFrame,
    time_col: str,
    keys: list[str],
    gap_seconds: float = 1800.0,
    aggs: dict[str, Column] | None = None,
    late_threshold: str = "30 minutes",
) -> DataFrame:
    """Gap-based session aggregation on a stream — the streaming twin
    of the batch ``timeseries.sessionize`` + groupBy(session) idiom
    (registry ``event_sessions``), expressed with Spark's native
    ``session_window`` so session state merges incrementally and is
    dropped once the watermark passes a session's close.

    Boundary note: ``session_window`` starts a NEW session when the
    inter-event delta >= gap, while the batch operator's cumulative
    gap-break flag starts one when delta > gap; deltas exactly equal
    to the gap land differently. Telemetry with jittered timestamps
    never hits the boundary; exact-grid data should pick a gap off the
    grid.

    Output: (keys..., session_start, session_end, aggs...).
    """
    if gap_seconds <= 0:
        raise ValueError(f"gap_seconds must be positive, got {gap_seconds}")
    aggs = aggs or {"n_events": F.count("*")}
    # millisecond resolution so fractional gaps aren't silently
    # truncated away from the batch twin's float semantics
    win = F.session_window(
        F.col(time_col), f"{int(round(gap_seconds * 1000))} milliseconds"
    )
    grouped = (
        stream.withWatermark(time_col, late_threshold)
        .groupBy(win, *[F.col(k) for k in keys])
        .agg(*[c.alias(n) for n, c in aggs.items()])
    )
    return grouped.select(
        *[F.col(k) for k in keys],
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        *[F.col(n) for n in aggs],
    )


def stream_enrich(
    stream: DataFrame,
    dim: DataFrame,
    on: list[str] | str,
    how: str = "left",
) -> DataFrame:
    """Stream-static dimension enrichment: broadcast hash join of each
    micro-batch against a static dim table (asset metadata, plant
    config). No state, no watermark — the static side is re-resolved
    per batch, so an updated dim parquet is picked up on the next
    trigger. The standard silver-layer pattern; stream-STREAM joins
    need watermarks on both sides and are out of this helper's scope.
    """
    return stream.join(F.broadcast(dim), on=on, how=how)


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_time: str,
    right_time: str,
    max_delay: str = "1 hour",
    watermark: str = "30 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-STREAM equi-join with an event-time interval bound:
    right rows match left rows with the same key whose timestamp lies
    in [left_time, left_time + max_delay].

    Both sides carry a watermark and the join condition bounds the
    time range in BOTH directions, so Spark can compute exactly how
    long to buffer each side and evict state — without the range
    bound, stream-stream join state grows forever. This is the
    telemetry-vs-status-log correlation shape (SCADA event joined to
    the status record that follows it) and the impressions-vs-clicks
    shape in an event pipeline. Columns must be disjoint apart from
    ``key``; the right side's time column must differ from the left's.
    """
    if left_time == right_time:
        raise ValueError("left_time and right_time must be distinct column names")
    lw = left.withWatermark(left_time, watermark)
    rw = right.withWatermark(right_time, watermark)
    cond = (
        (lw[key] == rw[key])
        & (rw[right_time] >= lw[left_time])
        & (rw[right_time] <= lw[left_time] + F.expr(f"INTERVAL {max_delay}"))
    )
    return lw.join(rw, cond, how).drop(rw[key])


def stream_dedup(
    stream: DataFrame,
    time_col: str,
    text_col: str,
    late_threshold: str = "30 minutes",
    normalized: bool = True,
) -> DataFrame:
    """Streaming exact dedup: first arrival per content hash wins.

    ``dropDuplicatesWithinWatermark`` keeps the dedup state only for
    the watermark horizon — bounded state at any throughput, the
    streaming twin of datapipe.dedup.exact_dedup (which, batch-side,
    can dedup the full corpus).
    """
    from openoa_spark.datapipe.dedup import normalize_text

    c = normalize_text(text_col) if normalized else F.col(text_col)
    keyed = stream.withColumn("_key", F.xxhash64(c))
    return (
        keyed.withWatermark(time_col, late_threshold)
        .dropDuplicatesWithinWatermark(["_key"])
        .drop("_key")
    )


def stream_running_total(
    stream: DataFrame,
    key_col: str,
    value_col: str,
    total_col: str = "running_total",
):
    """Custom stateful operator via ``applyInPandasWithState``: a
    per-key running sum maintained across micro-batches (the pattern
    for any custom sessionization/accumulation Spark's built-in
    windowed aggs can't express). Emits one row per key per
    micro-batch with the updated lifetime total."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    key_field = stream.schema[key_col]
    out_schema = StructType(
        [
            StructField(key_col, key_field.dataType),
            StructField(total_col, DoubleType()),
            StructField("batch_rows", LongType()),
        ]
    )
    state_schema = StructType([StructField("total", DoubleType())])

    def update(key, pdfs, state: GroupState):
        total = state.get[0] if state.exists else 0.0
        n = 0
        for pdf in pdfs:
            total += float(pdf[value_col].fillna(0.0).sum())
            n += len(pdf)
        state.update((total,))
        yield pd.DataFrame(
            {key_col: [key[0]], total_col: [total], "batch_rows": [n]}
        )

    return stream.groupBy(key_col).applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def _land(
    df: DataFrame, path: str, batch_id: int, col: str = "_batch_id"
) -> None:
    """Land one micro-batch's rows under their own ``col=batch_id``
    partition with dynamic overwrite: a batch replayed after a crash
    replaces exactly the partition it wrote before."""
    overwrite_partitions(df.withColumn(col, F.lit(batch_id)), path, [col])


def _each_batch(stream: DataFrame, process, checkpoint: str):
    """Start ``process(batch, batch_id)`` on every micro-batch of
    ``stream``: availableNow trigger, offsets and commits in
    ``checkpoint``. Returns the StreamingQuery handle."""
    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_to_parquet(df: DataFrame, path: str, checkpoint: str):
    """Exactly-once parquet sink: append mode + a checkpoint directory
    holding the WAL/offset log, so a crashed or restarted query
    resumes from the last committed batch without duplicating output
    (the file sink records committed files in ``_spark_metadata``;
    readers that go through Spark see exactly-once results).
    """
    return (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_quality_gate(
    df: DataFrame,
    rules,
    good_path: str,
    quarantine_path: str,
    checkpoint: str,
    metrics_path: str | None = None,
):
    """Per-micro-batch data-quality gate: rows satisfying EVERY
    row-level rule land at ``good_path``, violators (tagged with the
    names of the rules they broke) at ``quarantine_path``, and the
    per-batch rule report (operators/checks.run_checks — one
    aggregation pass per batch) optionally lands at a parquet
    ``metrics_path`` under a ``batch_id`` partition. (A path, not a
    managed table: no metastore dependency, and re-registering after
    a restart cannot collide with a leftover warehouse location.)

    foreachBatch is the right primitive here: a batch can fan out to
    two sinks and a metrics collector per micro-batch while keeping
    the stream's checkpointed exactly-once offsets. Table-level rules
    (``unique``) are reported in metrics but do NOT route rows —
    cross-batch uniqueness is the job of stream_dedup/watermarks, not
    a per-batch gate. An empty rule list, duplicate rule names or an
    unknown kind raise ValueError here, before the query starts.
    """
    from openoa_spark.operators.checks import run_checks, violation

    rules = list(rules)
    # validates the rule list; lazy, so no job runs on the stream
    run_checks(df, rules)
    broken = F.array_compact(
        F.array(
            *[
                F.when(violation(r), F.lit(r.name))
                for r in rules
                if r.kind != "unique"
            ]
        )
    )

    def _process(batch: DataFrame, batch_id: int) -> None:
        # the batch feeds three consumers (good sink, quarantine sink,
        # metrics aggregate) — persist once so expensive upstream
        # transforms run a single time per micro-batch
        tagged = batch.withColumn("_broken_rules", broken).persist()
        try:
            good = tagged.where(F.size("_broken_rules") == 0).drop(
                "_broken_rules"
            )
            bad = tagged.where(F.size("_broken_rules") > 0).withColumn(
                "_broken_rules", F.array_join("_broken_rules", ",")
            )
            _land(good, good_path, batch_id)
            _land(bad, quarantine_path, batch_id)
            if metrics_path is not None:
                report = run_checks(tagged.drop("_broken_rules"), rules)
                _land(report, metrics_path, batch_id, "batch_id")
        finally:
            tagged.unpersist()

    return _each_batch(df, _process, checkpoint)


def stream_near_dedup(
    stream: DataFrame,
    text_col: str,
    id_col: str,
    out_path: str,
    state_path: str,
    checkpoint: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
    hash_fn: str = "xxhash64",
    max_band_bucket: int | None = None,
):
    """Streaming NEAR-duplicate removal: each micro-batch runs
    datapipe.dedup.incremental_near_dedup against the persistent LSH
    state at ``state_path`` (history wins; within-batch components
    collapse to their min-id representative) and accepted rows land at
    ``out_path``.

    Crash-safety ordering: the output write runs as the dedup's
    ``sink`` — BEFORE any state append — so whichever side a crash
    lands on, replay is safe: crash after the sink replays against
    unchanged state and overwrites the same output partition; crash
    after the state appends replays to zero rows against an output
    that already landed. (Output-after-state would let appended state
    suppress rows that never landed anywhere.)

    Unlike stream_dedup (exact, watermark-bounded state), near-dup
    state cannot be watermark-evicted — a template duplicated a month
    later is still a duplicate — so state lives in the append-only
    parquet tables, sized ~8·num_hashes bytes per accepted doc, not in
    the streaming state store.
    """
    from openoa_spark.datapipe.dedup import incremental_near_dedup

    def _process(batch: DataFrame, batch_id: int) -> None:
        incremental_near_dedup(
            batch.sparkSession, batch, text_col, id_col, state_path,
            num_hashes, bands, shingle_n, jaccard_threshold, hash_fn,
            sink=lambda accepted: _land(accepted, out_path, batch_id),
            max_band_bucket=max_band_bucket,
        )

    return _each_batch(stream, _process, checkpoint)


def stream_time_rollup(
    stream: DataFrame,
    raw_path: str,
    rollup_path: str,
    time_col: str,
    freq: str,
    aggs: dict[str, Column],
    checkpoint: str,
    keys: list[str] | None = None,
):
    """Streaming lakehouse pattern: land each micro-batch in the raw
    table AND keep a time-bucketed continuous aggregate fresh — the
    foreachBatch composition of the two idempotent writers.

    Per batch: (1) raw rows land under the batch's own partition;
    (2) operators.timeseries.refresh_time_rollup recomputes exactly
    the buckets this batch touches FROM the raw table (which now
    includes the batch) and dynamically overwrites those rollup
    partitions. Both steps are idempotent, so any crash point replays
    to the same raw + rollup state — the rollup is always a pure
    function of raw, never a merge of partials.
    """
    from openoa_spark.operators.timeseries import refresh_time_rollup

    def _process(batch: DataFrame, batch_id: int) -> None:
        batch.persist()
        try:
            _land(batch, raw_path, batch_id)
            spark = batch.sparkSession
            # the batch's schema spares a footer-inference job per batch;
            # _batch_id still comes back as the partition column
            raw = (
                spark.read.schema(batch.schema).parquet(raw_path)
                .drop("_batch_id")
            )
            refresh_time_rollup(
                raw, batch, time_col, rollup_path, freq, aggs, keys
            )
        finally:
            batch.unpersist()

    return _each_batch(stream, _process, checkpoint)


def stream_chunk_dedup(
    stream: DataFrame,
    text_col: str,
    id_col: str,
    out_path: str,
    state_path: str,
    checkpoint: str,
    chunk_tokens: int = 10,
):
    """Streaming CHUNK-level dedup (the C4/RefinedWeb "line dedup"
    maintained continuously): each micro-batch runs
    datapipe.dedup.incremental_chunk_dedup against the persistent
    128-bit fingerprint table at ``state_path`` — a chunk survives
    only on its first corpus-lifetime occurrence, documents reassemble
    from surviving chunks — and the cleaned rows land at ``out_path``.

    Crash-safety ordering is inherited from the batch operator: the
    output write runs as the dedup's ``sink`` BEFORE the fingerprint
    append, so a crash on either side replays idempotently (same
    partition overwritten, or zero rows against output that already
    landed). Like near-dup state, chunk fingerprints cannot be
    watermark-evicted — a boilerplate paragraph repeated a month later
    is still a duplicate — so state is the append-only 16-byte-per-
    chunk parquet table, never the streaming state store.
    """
    from openoa_spark.datapipe.dedup import incremental_chunk_dedup

    def _process(batch: DataFrame, batch_id: int) -> None:
        incremental_chunk_dedup(
            batch.sparkSession, batch, text_col, id_col, state_path,
            chunk_tokens=chunk_tokens,
            sink=lambda accepted: _land(accepted, out_path, batch_id),
        )

    return _each_batch(stream, _process, checkpoint)


def stream_embedding_dedup(
    stream: DataFrame,
    vec_col: str,
    id_col: str,
    out_path: str,
    state_path: str,
    checkpoint: str,
    planes: list,
    threshold: float,
    round_digits: int | None = 6,
):
    """Streaming embedding (semantic) near-duplicate removal: each
    micro-batch runs datapipe.similarity.incremental_embedding_dedup
    against the persistent (id, bucket, vec) state — history wins,
    within-batch components collapse to their min-id representative —
    and accepted rows land at ``out_path``. Output-before-state-append
    crash ordering and the bucket-equi-join scale shape are the batch
    operator's; like every near-dup state, vectors cannot be
    watermark-evicted (a paraphrase embedded a month later is still a
    duplicate), so state is the append-only parquet table, not the
    streaming state store.
    """
    from openoa_spark.datapipe.similarity import incremental_embedding_dedup

    def _process(batch: DataFrame, batch_id: int) -> None:
        incremental_embedding_dedup(
            batch.sparkSession, batch, vec_col, id_col, state_path,
            planes, threshold, round_digits=round_digits,
            sink=lambda accepted: _land(accepted, out_path, batch_id),
        )

    return _each_batch(stream, _process, checkpoint)


def stream_drift_monitor(
    stream: DataFrame,
    value_col: str,
    reference: DataFrame,
    metrics_path: str,
    checkpoint: str,
    n_buckets: int = 10,
    round_digits: int = 6,
):
    """Continuous distribution-drift monitoring: the REFERENCE
    snapshot's exact decile edges and bucket proportions are computed
    ONCE before the stream starts (the reference is a fixed training
    snapshot — recompute by restarting the monitor), then every
    micro-batch reduces to ONE conditional-count aggregate over the
    frozen edges and a driver-side PSI fold (same regularization as
    operators/qa.population_stability_index). One (psi, n_current,
    n_reference) row lands per batch at ``metrics_path`` under a
    ``batch_id`` partition.

    This is the PSI gate of qa.population_stability_index made
    incremental: per-batch cost is a single map-side-combined
    aggregate (no join, no sort, no state store — the only state is
    the broadcast-sized edge list captured in the closure).
    """
    import math

    qs = [i / n_buckets for i in range(1, n_buckets)]
    ref_nn = reference.where(F.col(value_col).isNotNull())
    edges = ref_nn.agg(
        F.percentile(F.col(value_col), qs).alias("e")
    ).first()["e"]
    if edges is None:
        raise ValueError("reference has no non-null values")

    def bucket_expr():
        v = F.col(value_col)
        b = F.lit(0)
        for e in edges:
            b = b + (v > F.lit(float(e))).cast("int")
        return b

    def _bucket_counts(df: DataFrame) -> tuple[int, dict[int, int]]:
        # ONE evaluation of the edge-comparison chain per row (grouping
        # key), instead of fanning bucket_expr into n_buckets parallel
        # conditional sums — the optimizer re-inlines the shared
        # subtree into every branch, so the fanned shape costs
        # n_buckets× the per-row compare work (guide §4 one-fold
        # discipline; same counts, bucket ids are exact integers).
        rows = (
            df.groupBy(bucket_expr().alias("_b"))
            .agg(F.count(F.lit(1)).alias("_n"))
            .collect()
        )
        counts = {r["_b"]: r["_n"] for r in rows}
        return sum(counts.values()), counts

    n_ref, ref_counts = _bucket_counts(ref_nn)
    floor = 1e-6
    p_ref = [
        max((ref_counts.get(i, 0) / n_ref) if n_ref else 0.0, floor)
        for i in range(n_buckets)
    ]

    def _process(batch: DataFrame, batch_id: int) -> None:
        n_cur, cur_counts = _bucket_counts(
            batch.where(F.col(value_col).isNotNull())
        )
        psi = 0.0
        for i in range(n_buckets):
            p_cur = max(
                (cur_counts.get(i, 0) / n_cur) if n_cur else 0.0, floor
            )
            psi += (p_cur - p_ref[i]) * math.log(p_cur / p_ref[i])
        row = batch.sparkSession.createDataFrame(
            [(round(psi, round_digits), n_cur, n_ref)],
            "psi double, n_current bigint, n_reference bigint",
        )
        _land(row, metrics_path, batch_id, "batch_id")

    return _each_batch(stream, _process, checkpoint)


def stream_distinct_rollup(
    stream: DataFrame,
    value_col: str,
    grain_cols: list,
    state_path: str,
    checkpoint: str,
    lg_config_k: int = 12,
):
    """Streaming distinct-count maintenance via MERGEABLE sketches:
    each micro-batch reduces to one Datasketches-HLL row per grain
    group (datapipe.sketches.hll_rollup) and lands under its batch
    partition, so the persisted state is (batch, grain, sketch),
    bounded by batches × groups, never raw values. The current
    estimate at ANY grain is a sketch union over the state
    (read_distinct_rollup), so answering "distinct users this month"
    never rescans the stream's history; a replayed batch overwrites
    its own partition and the union is unchanged.
    """
    from openoa_spark.datapipe.sketches import hll_rollup

    def _process(batch: DataFrame, batch_id: int) -> None:
        _land(
            hll_rollup(batch, value_col, grain_cols, lg_config_k),
            state_path, batch_id,
        )

    return _each_batch(stream, _process, checkpoint)


def read_distinct_rollup(
    spark,
    state_path: str,
    group_cols: list | None = None,
):
    """Merge the per-batch sketch state up to the requested grain
    (empty → one global row) — datapipe.sketches.hll_merge over the
    state table; the fact stream is never rescanned."""
    from openoa_spark.datapipe.sketches import hll_merge

    state = spark.read.parquet(state_path).drop("_batch_id")
    return hll_merge(state, group_cols or [])


def stream_ewma_anomaly(
    stream: DataFrame,
    key_col: str,
    time_col: str,
    value_col: str,
    alpha: float = 0.1,
    z_threshold: float = 3.0,
    warmup: int = 10,
):
    """Custom stateful operator: per-key EWMA mean/variance maintained
    across micro-batches via ``applyInPandasWithState``, emitting each
    row with its z-score against the state BEFORE it was absorbed and
    an anomaly flag once ``warmup`` observations have been seen — the
    streaming sensor-stuck/spike detector built-in windowed aggs can't
    express (the statistic is recursive, not windowed).

    State per key is THREE floats + a count — O(keys) total, no
    timeout needed. Rows within a batch are processed in ``time_col``
    order so replaying a batch from the same prior state is
    deterministic. EW variance uses the standard recursion
    var ← (1-α)·(var + α·diff²).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        BooleanType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    key_field = stream.schema[key_col]
    time_field = stream.schema[time_col]
    out_schema = StructType(
        [
            StructField(key_col, key_field.dataType),
            StructField(time_col, time_field.dataType),
            StructField(value_col, DoubleType()),
            StructField("zscore", DoubleType()),
            StructField("is_anomaly", BooleanType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("mean", DoubleType()),
            StructField("var", DoubleType()),
            StructField("n", LongType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        import math

        mean, var, n = state.get if state.exists else (0.0, 0.0, 0)
        rows = pd.concat(list(pdfs)).sort_values(time_col)
        out_t, out_v, out_z, out_a = [], [], [], []
        # plain-list zip instead of iterrows(): identical values in the
        # identical order (tolist() yields the same Python floats /
        # Timestamps row-wise access does), without materializing a
        # Series per row — the recursion itself is inherently serial,
        # so the per-row overhead IS the operator's cost (guide §4)
        for t, v in zip(
            rows[time_col].tolist(), rows[value_col].tolist()
        ):
            if v is None or (isinstance(v, float) and math.isnan(v)):
                continue
            v = float(v)
            if n == 0:
                z = 0.0
                mean, var = v, 0.0
            else:
                sd = math.sqrt(var)
                z = (v - mean) / sd if sd > 0 else 0.0
                diff = v - mean
                mean = mean + alpha * diff
                var = (1.0 - alpha) * (var + alpha * diff * diff)
            n += 1
            out_t.append(t)
            out_v.append(v)
            out_z.append(z)
            out_a.append(n > warmup and abs(z) >= z_threshold)
        state.update((mean, var, n))
        yield pd.DataFrame(
            {
                key_col: [key[0]] * len(out_v),
                time_col: out_t,
                value_col: out_v,
                "zscore": out_z,
                "is_anomaly": out_a,
            }
        )

    # emitted rows are final (never revised), so "append" op mode is
    # correct AND composes with append-only file sinks — "update" mode
    # would reject a parquet sink outright
    return stream.groupBy(key_col).applyInPandasWithState(
        update, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def stream_cdc_apply(
    stream: DataFrame,
    table_path: str,
    keys: list,
    partition_col: str,
    checkpoint: str,
    op_col: str = "_op",
    order_col: str | None = None,
):
    """Streaming CDC maintenance: each micro-batch of change rows
    (upserts + deletes) applies to the parquet table via the
    partition-scoped merge (sources.sinks.apply_cdc) — only the
    partitions the batch touches are read and rewritten, and a batch
    replayed after a crash re-merges those partitions to the identical
    state (the merge is idempotent given the same prior table, and the
    stream checkpoint guarantees batches re-deliver in order)."""
    from openoa_spark.sources.sinks import apply_cdc

    def _process(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        apply_cdc(
            batch.sparkSession, table_path, batch, keys, partition_col,
            op_col=op_col, order_col=order_col,
        )

    return _each_batch(stream, _process, checkpoint)


def stream_media_metadata(
    stream: DataFrame,
    metadata_path: str,
    checkpoint: str,
    kind: str = "image",
    quarantine_path: str | None = None,
    id_col: str = "media_id",
):
    """Streaming decode stage for multimodal ingestion — the streaming
    member of the multimodal family (every other datapipe family has
    one): each micro-batch of ``(id, content)`` binary rows is
    header-decoded ONCE, at ingestion (datapipe.multimodal's real
    PNG/RIFF parsers via one Arrow pass), the scalar metadata lands at
    ``metadata_path``, and rows the decoder REJECTS are routed whole —
    payload included — to ``quarantine_path`` for re-fetch/inspection.

    Scale shape: payloads never reach a shuffle or the metadata table
    (decode once, persist scalars, drop bytes — the only tractable
    pattern for a 100 TB media corpus); the quarantine reroute is a
    batch-local semi-join on the id.

    Behavior change (round 7): with NO quarantine configured, rows the
    decoder rejects are KEPT in the metadata table as NULL-metadata
    rows (id + n_bytes populated, decode fields NULL) instead of being
    dropped — rejects stay observable. Consumers that assume an
    all-valid metadata table must filter on the validity column
    (``width`` for images/JPEG, ``channels`` for audio); configuring a
    quarantine restores the all-valid metadata table.
    """
    from openoa_spark.datapipe import multimodal

    if kind == "image":
        extract, valid_col = multimodal.image_metadata, "width"
    elif kind == "jpeg":
        extract, valid_col = multimodal.jpeg_metadata, "width"
    elif kind == "audio":
        extract, valid_col = multimodal.audio_metadata, "channels"
    else:
        raise ValueError(
            f"kind must be 'image', 'jpeg' or 'audio', got {kind!r}"
        )

    def _process(batch: DataFrame, batch_id: int) -> None:
        meta = extract(batch, id_col=id_col).persist()
        try:
            # With a quarantine configured, rejects go there whole and
            # the metadata table stays all-valid. WITHOUT one, keep the
            # NULL-metadata rows in the metadata table (they still
            # carry the id + n_bytes) — silently vanishing corrupt
            # payloads would make rejects unobservable.
            good = (
                meta.where(F.col(valid_col).isNotNull())
                if quarantine_path is not None
                else meta
            )
            _land(good, metadata_path, batch_id)
            if quarantine_path is not None:
                bad_ids = meta.where(F.col(valid_col).isNull()).select(
                    F.col("media_id").alias(id_col)
                )
                bad = batch.join(bad_ids, id_col, "left_semi")
                _land(bad, quarantine_path, batch_id)
        finally:
            meta.unpersist()

    return _each_batch(stream, _process, checkpoint)


def stream_cluster_assign(
    stream: DataFrame,
    vec_col: str,
    id_col: str,
    out_path: str,
    state_path: str,
    checkpoint: str,
    k: int = 8,
    iters_first: int = 3,
):
    """Streaming corpus clustering: each micro-batch runs
    datapipe.similarity.incremental_kmeans — the first batch fits the
    deterministic integer-grid Lloyd and seeds the sufficient-stats
    state, every later batch assigns map-only against the current
    centroids and folds its per-cluster component sums in. The
    foreachBatch epoch id is the suffstats batch key, so a replayed
    epoch assigns against the pre-append state (bit-identical output)
    and skips the duplicate append — the same crash discipline as the
    streaming dedup twins. Assignments land at ``out_path``. State is
    k rows per epoch (never vector-grain), so it cannot be the
    bottleneck at any corpus size.
    """
    from openoa_spark.datapipe.similarity import incremental_kmeans

    def _process(batch: DataFrame, batch_id: int) -> None:
        incremental_kmeans(
            batch.sparkSession, batch, vec_col, id_col, state_path,
            k=k, iters_first=iters_first, batch_id=batch_id,
            sink=lambda asg: _land(asg, out_path, batch_id),
        )

    return _each_batch(stream, _process, checkpoint)
