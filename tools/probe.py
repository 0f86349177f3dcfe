"""Layer counters for registry queries and pipelines at a base size
and at ×N; the linearity verdict rests on executor CPU-seconds and
shuffle bytes, never on wall time.

    python tools/probe.py <sf_dir> [--factor N] [name ...]

Names are registry queries or ``PIPELINES`` entries (default
``PROBE_QUERIES``); ``--factor N`` > 1 adds a run on an N× copy of the
tables. Per name and size: one warm run, then one in the job group
``name@size`` (``perfbench.harness.Recorder.span``) into a noop sink, plans
built inside ``stats.fast_sums()`` as in ``bench.py``. The JVM then stops
and ``perfbench.eventlog.fold`` reads the event log. Per name, one JSON
line: per size ``build_ms`` (a pipeline does its Spark work in the build),
``catalyst_ms`` (``executedPlan()``), ``wall_s``, ``proc_cpu_s``, ``jobs``,
``tasks``, ``cpu_s``, ``shuffle_bytes``, ``result_bytes``; then ``cpu_ratio``,
``shuffle_ratio``, ``linear_ok``. ``cpu_s`` is executor task CPU from the
event log; ``proc_cpu_s`` is ``perfbench.harness.cpu_s()`` around the
measured run: this process, every JVM thread (JIT and GC too), Python
workers and reaped children such as forked shell commands. The
linearity verdict stays on ``cpu_s``. A last line has the run-wide ``gc_s``,
``spill_bytes``, ``peak_exec_mem_bytes`` and ``skew_max``, warm runs
included. Exit status 1 on a failed or superlinear name. Scratch files
live in ``spark-warehouse/probe/`` until the fold.
"""

from __future__ import annotations

import argparse
import functools
import glob
import json
import os
import shutil
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import DataFrame, functions as F  # noqa: E402

from openoa_spark import registry  # noqa: E402
from openoa_spark.analysis.aep import MonteCarloAEP  # noqa: E402
from openoa_spark.analysis.tie import TurbineLongTermGrossEnergy  # noqa: E402
from openoa_spark.analysis.wake_losses import WakeLosses  # noqa: E402
from openoa_spark.analysis.yaw import StaticYawMisalignment  # noqa: E402
from openoa_spark.datapipe.pipeline import CurationConfig, curate_corpus  # noqa: E402
from openoa_spark.datapipe.similarity import semantic_dedup  # noqa: E402
from openoa_spark.functions import stats  # noqa: E402
from openoa_spark.plant import PlantData  # noqa: E402
from perfbench import eventlog  # noqa: E402
from perfbench.harness import Recorder, cpu_s, spark_session, stop_jvm  # noqa: E402

CORES = 4
WORK = os.path.join(ROOT, "spark-warehouse", "probe")

# each expected to grow ~linearly under build_probe_dir's copies
PROBE_QUERIES = [
    # per-key ordered windows, day-grain self-join, hash aggregates
    "asof_hourly_value", "user_daily_correlation_pairs", "event_sessions",
    "cumulative_sum_per_user", "resample_hour_mean_by_type", "state_islands",
    "rolling_zscore_outliers", "asof_tolerance_hourly_value", "hampel_outliers",
    "benford_first_digit", "extrapolated_windspeed", "median_value_by_user",
    # TPC-H join family: each lineitem copy joins its own orders copy
    "q1_pricing_summary", "q9_profit_by_nation_year", "q18_large_volume_customers",
    "q21_waiting_suppliers", "customer_rfm_segments", "median_price_by_flag",
    "p90_price_by_flag",
    # documents: dedup, scoring, n-gram and vocabulary statistics
    "exact_dedup_docs", "char_entropy_docs", "pack_blocks_docs", "minhash_near_dups",
    "zipf_slope", "chunk_dedup_docs", "lm_score_docs", "token_budget_selection",
    "gopher_quality_docs", "top_ngram_repetition_docs", "dup_span_removal_docs",
    "corpus_version_diff", "vocab_coverage_90", "tfidf_top_terms", "bigram_pmi_top",
    "source_overlap_matrix", "ngram_jaccard_pairs", "lang_sampling_weights",
    "minhash_star_near_dups", "top3_docs_per_source", "ngram_novelty_by_slice",
    "lang_metadata_mismatch", "bpe_merges_docs", "bpe_token_counts_learned",
    "boilerplate_segment_removal_docs", "pii_redaction_docs", "bloom_decontaminate_docs",
    "sliding_chunks_docs", "minhash_decontaminate_docs", "leakage_safe_split_docs",
    "encoding_damage_docs", "lid_trained_heldout_accuracy",
    # embeddings: k-means, SemDeDup at its scale contract, the PQ family
    "embedding_norm_outliers", "kmeans_embedding_clusters", "semantic_dedup_scaled_k",
    "kmeans_cluster_profile", "cluster_balanced_sample_vecs", "embedding_int8_quantization",
    "pq_codes_embeddings", "pq_adc_topk", "ivf_pq_topk", "pq_recall_measured",
    "pq_reconstruction_error",
    # multimodal: synthesis and decode in one map stage, no shuffle
    "multimodal_image_metadata", "multimodal_audio_metadata", "multimodal_corrupt_media",
    "multimodal_jpeg_metadata", "multimodal_pixel_stats", "multimodal_audio_stats",
    # analysis prep stages and whole pipelines
    "elosses_daily_coverage_energy", "tie_daily_corrected_energy", "aep_monthly_meter_prep",
    "wake_plant_reference_conditions", "yaw_vane_bin_cells",
    "plant_sql_daily_turbine_energy", "aep_prepare_pipeline", "aep_run_pipeline",
    "wake_prepare_pipeline", "wake_run_pipeline", "yaw_run_pipeline", "tie_run_pipeline",
    "curate_corpus_pipeline",
]

LINEAR_SLACK = 1.8
# The wall-clock rule took a 0.4 s job floor off both sizes: job
# start-up and scheduling, which no task's CPU clock sees. What executor
# CPU keeps is a per-task set-up cost (deserialisation, generated
# classes, parquet footers), so a base within CPU_SMALL_S of the floor
# has no measurable data cost; there the scaled run must stay cheap.
CPU_FLOOR_S = 0.05
CPU_SMALL_S = 0.1
# Shuffle bytes have no floor; below 1 MiB a base is map-side partials
# of a few groups, whose count follows the map task count, not the rows.
SHUFFLE_SMALL_BYTES = 1 << 20

TURBINES = ["T0", "T1", "T2", "T3"]
# the daily AEP check wants every calendar day in the period of
# record; testdata events span 30 days, stretched 13× that is 390
POR_STRETCH = 13
# sims per Monte-Carlo run entry: no run copies sims onto rows (wake
# and yaw carry them as an array axis or in cells, TIE's day-grain
# chain keys by sim), so 10 shows the same plan shape as 100
RUN_SIMS = 10


def linear(base: float, scaled: float, factor: int, floor: float, small: float):
    """``(ratio, ok)``: above ``floor + small`` the growth net of the
    floor must stay within ``LINEAR_SLACK × factor``; below, there is no
    ratio and the scaled value must stay within that growth of ``small``."""
    if base - floor < small:
        return None, scaled <= floor + factor * small * LINEAR_SLACK
    ratio = (scaled - floor) / (base - floor)
    return ratio, ratio <= factor * LINEAR_SLACK


def build_probe_dir(spark, base_dir: str, factor: int, probe_dir: str) -> None:
    """``factor`` copies of ``base_dir``'s fact tables, ids offset per
    copy so they stay unique, into ``probe_dir``; dimensions symlinked."""
    shutil.rmtree(probe_dir, ignore_errors=True)
    os.makedirs(probe_dir)
    for t in "region nation customer supplier part".split():
        src = os.path.join(base_dir, f"{t}.parquet")
        if os.path.exists(src):
            os.symlink(src, os.path.join(probe_dir, f"{t}.parquet"))

    def write(t, df, copy):
        stacked = functools.reduce(DataFrame.unionByName, (copy(df, i) for i in range(factor)))
        stacked.write.mode("overwrite").parquet(os.path.join(probe_dir, f"{t}.parquet"))

    def read(t):
        return spark.read.parquet(os.path.join(base_dir, f"{t}.parquet"))

    def offset(col):
        return lambda df, i: df.withColumn(col, F.col(col) + F.lit(i * 1_000_000_000))

    # events: each copy time-shifted past the end of the one before
    # (keys fixed, rows per key ×N: a long-running plant or log), ts
    # written back in the driver's layout, int64 nanoseconds
    ev = registry._t(spark, base_dir, "events")
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    span_us = int((hi - lo).total_seconds() * 1_000_000) + 3_600_000_000
    write("events", ev, lambda df, i: offset("event_id")(df, i).withColumn(
        "ts", (F.unix_micros("ts") + i * span_us) * 1000))
    # documents: a copy tag token per copy, so copies are not exact
    # duplicates and dedup outputs stay ~×N
    write("documents", read("documents"), lambda df, i: offset("doc_id")(df, i).withColumn(
        "text", F.concat(F.col("text"), F.lit(f" copytag{i}"))))
    # embeddings: the component list rotated per copy (norm-preserving,
    # but copies land in different LSH buckets and clusters)
    emb = read("embeddings")
    dim = len(emb.select("embedding").first()["embedding"])

    def rotate(df, i):
        s = i % (dim - 1) + 1
        turned = F.concat(F.slice("embedding", s + 1, dim - s), F.slice("embedding", 1, s))
        return offset("vec_id")(df, i).withColumn(
            "embedding", turned if i else F.col("embedding"))

    write("embeddings", emb, rotate)
    # lineitem + orders: the same order-key offset on both sides, so
    # the join graph replicates ×N while the dimensions stay fixed
    write("lineitem", read("lineitem"), offset("l_orderkey"))
    write("orders", read("orders"), offset("o_orderkey"))


def _hourly(ev):
    v = F.avg(F.abs("value"))
    return ev.groupBy(F.date_trunc("hour", "ts").alias("time")).agg(
        (v % 10 + 5.5).alias("WMETR_HorWdSpd"),
        (v * 37 % 360).alias("WMETR_HorWdDir"),
        (F.lit(1.2) + F.avg("value") % F.lit(0.1)).alias("WMETR_AirDen"),
    )


def _events_plant(spark, d, scada_cols: dict, analysis: str):
    """4-turbine plant: every event fans out to each turbine with
    ``scada_cols`` (over ``value``) as SCADA; reanalysis ``_hourly``."""
    ev = registry._t(spark, d, "events").where(F.col("value").isNotNull())
    scada = (
        ev.select("ts", "value", F.explode(F.array(*map(F.lit, TURBINES))).alias("asset_id"))
        .select(F.col("ts").alias("time"), "asset_id",
                *[c.alias(n) for n, c in scada_cols.items()])
        .dropDuplicates(["time", "asset_id"])
    )
    asset = spark.createDataFrame(
        [(t, 47.9, lon, 2000.0, 80.0, 100.0, 400.0, "turbine")
         for t, lon in zip(TURBINES, [5.10, 5.1067, 5.1134, 5.1201])],
        "asset_id string, latitude double, longitude double, rated_power double, "
        "hub_height double, rotor_diameter double, elevation double, type string",
    )
    return PlantData(
        spark,
        {"latitude": 47.9, "longitude": 5.11, "capacity": 8.0,
         "scada": {"frequency": "h"}, "reanalysis": {"era5": {"frequency": "h"}}},
        analysis_type=[analysis], scada=scada, asset=asset,
        reanalysis={"era5": _hourly(ev)},
    )


def aep_prepare_pipeline(spark, d, size, num_sim=0):
    """Daily MonteCarloAEP.prepare() and ``num_sim`` distributed sims on
    the events stretched ``POR_STRETCH``× in time, after a fixed 400-day
    hourly reanalysis backfill for the long-term correction."""
    ev = registry._t(spark, d, "events").where(F.col("value").isNotNull())
    t0 = int(ev.agg(F.min("ts")).first()[0].timestamp() * 1e6)
    ev = ev.withColumn("ts", F.timestamp_micros(
        F.lit(t0) + (F.unix_micros("ts") - F.lit(t0)) * POR_STRETCH))
    v = F.abs("value")
    backfill = spark.range(24 * 400).select(
        F.timestamp_micros(F.lit(t0) - (F.col("id") + 1) * 3_600_000_000).alias("time"),
        (5.0 + F.col("id") % 7).cast("double").alias("WMETR_HorWdSpd"),
        F.lit(0.0).alias("WMETR_HorWdDir"),
        F.lit(1.2).alias("WMETR_AirDen"),
    )
    plant = PlantData(
        spark,
        {"latitude": 47.9, "longitude": 5.12, "capacity": 10.0,
         "meter": {"frequency": "h"}, "curtail": {"frequency": "h"},
         "reanalysis": {"era5": {"frequency": "h"}}},
        analysis_type=["MonteCarloAEP"],
        meter=ev.select(F.col("ts").alias("time"), (v * 100).alias("MMTR_SupWh")),
        curtail=ev.select(F.col("ts").alias("time"), (v % 7).alias("IAVL_DnWh"),
                          (v % 3).alias("IAVL_ExtPwrDnWh")),
        reanalysis={"era5": backfill.unionByName(_hourly(ev))},
    )
    mc = MonteCarloAEP(plant, time_resolution="D", uncertainty_windiness=(1, 1))
    mc.prepare()
    if num_sim:
        mc.run(num_sim=num_sim, distributed=True)
    return spark.range(1)


def aep_run_pipeline(spark, d, size):
    return aep_prepare_pipeline(spark, d, size, num_sim=RUN_SIMS)


def wake_prepare_pipeline(spark, d, size, num_sim=0):
    """WakeLosses.prepare()'s base ⨝ reference table or, with ``num_sim``,
    a UQ run; its caches are dropped so no run reuses another's."""
    v = F.abs("value")
    cols = {"WMET_HorWdSpd": v % 15, "WTUR_W": v * 10, "WMET_HorWdDir": v * 37 % 360}
    plant = _events_plant(spark, d, cols, "WakeLosses-scada")
    if num_sim:
        wl = WakeLosses(plant, UQ=True, num_years_LT=(1, 1))
        wl.run(num_sim=num_sim)
        out = spark.range(1)
    else:
        wl = WakeLosses(plant, UQ=False, num_years_LT=1)
        wl.prepare()
        out = wl._base.join(wl._ref, "time").localCheckpoint(eager=False)
    wl._base.unpersist()
    wl._ref.unpersist()
    return out


def wake_run_pipeline(spark, d, size):
    return wake_prepare_pipeline(spark, d, size, num_sim=RUN_SIMS)


def yaw_run_pipeline(spark, d, size):
    v = F.abs("value")
    ws, vane = v % 4 + 4.5, v * 13 % 60 - 30.0
    power = F.pow(ws, 3) * 2.0 * F.pow(F.cos(F.radians(vane)), 2)
    cols = {"WMET_HorWdSpd": ws, "WTUR_W": power, "WMET_HorWdDirRel": vane,
            "WROT_BlPthAngVal": F.lit(0.0)}
    StaticYawMisalignment(
        _events_plant(spark, d, cols, "StaticYawMisalignment"),
        UQ=True, num_sim=RUN_SIMS, min_vane_bin_count=20,
        max_power_filter=(0.92, 0.98), power_bin_mad_thresh=(4, 10),
    ).run()
    return spark.range(1)


def tie_run_pipeline(spark, d, size):
    ws = F.abs("value") % 10 + 5.5
    power = F.pow(ws, 3) * 0.55
    cols = {"WMET_HorWdSpd": ws, "WTUR_W": power, "WTUR_SupWh": power / 6.0}
    plant = _events_plant(spark, d, cols, "TurbineLongTermGrossEnergy")
    TurbineLongTermGrossEnergy(plant, UQ=True, num_sim=RUN_SIMS).run()
    return spark.range(1)


def semantic_dedup_scaled_k(spark, d, size):
    """SemDeDup at its scale contract: k grows with n (the registry
    query pins k=8 for the oracle), so the pair join stays linear."""
    emb = registry._t(spark, d, "embeddings")
    return semantic_dedup(
        emb, "embedding", "vec_id", k=8 * size, iters=3, threshold=0.25
    ).select("vec_id", "label")


def curate_corpus_pipeline(spark, d, size):
    """Curation with the gopher rules off (they empty the synthetic corpus)."""
    docs = spark.read.parquet(os.path.join(d, "documents.parquet"))
    return curate_corpus(docs, CurationConfig(gopher_rules=False), report=False)[0]


PIPELINES = {f.__name__: f for f in (
    aep_prepare_pipeline, aep_run_pipeline, wake_prepare_pipeline, wake_run_pipeline,
    yaw_run_pipeline, tie_run_pipeline, semantic_dedup_scaled_k, curate_corpus_pipeline)}


def measure(spark, rec: Recorder, span: str, fn, d: str, size: int) -> dict:
    """One warm run, then one measured run in the job group ``span``."""
    fn(spark, d, size).write.format("noop").mode("overwrite").save()
    c0 = cpu_s()
    with rec.span(span):
        t0 = time.perf_counter()
        df = fn(spark, d, size)
        t1 = time.perf_counter()
        df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
    return {"build_ms": round((t1 - t0) * 1e3, 1), "catalyst_ms": round((t2 - t1) * 1e3, 1),
            "wall_s": round(rec.span_wall[span], 3), "proc_cpu_s": round(cpu_s() - c0, 3)}


def report(name: str, runs: dict, fold, factor: int) -> dict:
    sizes = {}
    for size, run in runs.items():
        c = fold.span(f"{name}@{size}")
        sizes[size] = {**run, "jobs": c["jobs"], "tasks": c["tasks"],
                       "cpu_s": round(c["cpu_s"], 3), "shuffle_bytes": c["shuffle_bytes"],
                       "result_bytes": c["result_bytes"]}
    out = dict(name=name, factor=factor, sizes=sizes, cpu_ratio=None, shuffle_ratio=None,
               linear_ok=None)
    if factor > 1:
        b, s = sizes[1], sizes[factor]
        cpu_ratio, cpu_ok = linear(b["cpu_s"], s["cpu_s"], factor, CPU_FLOOR_S, CPU_SMALL_S)
        sh_ratio, sh_ok = linear(b["shuffle_bytes"], s["shuffle_bytes"], factor,
                                 0, SHUFFLE_SMALL_BYTES)
        out.update(cpu_ratio=cpu_ratio and round(cpu_ratio, 2),
                   shuffle_ratio=sh_ratio and round(sh_ratio, 2), linear_ok=cpu_ok and sh_ok)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("sf_dir")
    ap.add_argument("--factor", type=int, default=1)
    ap.add_argument("names", nargs="*")
    args = ap.parse_intermixed_args(argv)
    queries = registry.queries()
    names = args.names or PROBE_QUERIES
    if unknown := [n for n in names if n not in queries and n not in PIPELINES]:
        ap.error(f"unknown names: {unknown}")

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    log_dir = os.path.join(WORK, "eventlog")
    dirs = {1: os.path.abspath(args.sf_dir)}
    runs, errors = {}, {}
    spark = spark_session(WORK, CORES, event_log_dir=log_dir)
    try:
        if args.factor > 1:
            dirs[args.factor] = os.path.join(WORK, "data")
            build_probe_dir(spark, dirs[1], args.factor, dirs[args.factor])
        rec = Recorder(spark, trace=True)
        with stats.fast_sums():
            for name in names:
                fn = PIPELINES.get(name) or (lambda s, d, size, q=queries[name]: q(s, d))
                try:
                    runs[name] = {size: measure(spark, rec, f"{name}@{size}", fn, d, size)
                                  for size, d in dirs.items()}
                except Exception as e:  # noqa: BLE001 - reported, the rest still run
                    traceback.print_exc()
                    errors[name] = f"{type(e).__name__}: {e}"[:300]
                print(f"# {name}: {runs.get(name) or errors[name]}",
                      file=sys.stderr, flush=True)
    finally:
        spark.stop()
        stop_jvm()
    (log,) = glob.glob(os.path.join(log_dir, "*"))
    fold = eventlog.fold(eventlog.read_events(log))
    shutil.rmtree(WORK)  # the log of a pipeline entry runs to gigabytes

    failed = False
    for name in names:
        line = ({"name": name, "error": errors[name]} if name in errors
                else report(name, runs[name], fold, args.factor))
        failed |= name in errors or line.get("linear_ok") is False
        print(json.dumps(line))
    print(json.dumps({"run": "all", "gc_s": round(fold.gc_s, 3),
                      "spill_bytes": fold.spill_bytes,
                      "peak_exec_mem_bytes": fold.peak_exec_mem_bytes,
                      "skew_max": round(fold.skew_max, 2)}))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
