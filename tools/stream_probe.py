"""Streaming-layer throughput probe (round 10): the one layer with
correctness pinning (micro-batch == batch parity, crash-replay tests)
but no scale measurement until now (r9 verdict item 6).

Inflates the events table x``factor`` (time-shifted copies — the long-
running-plant growth pattern of tools/probe.py), lands it as a
range-partitioned multi-file parquet source so availableNow splits it
into real micro-batches in event-time order, then drives each
streaming operator end-to-end and records PER MICRO-BATCH: input
rows, trigger wall, rows/s, and state-store size (rows + bytes) from
StreamingQueryProgress — the numbers that show whether state grows
with throughput (bad) or stays watermark/bucket-bounded (the design
claim).

Probed ops (the streaming curation chain + the two heaviest stateful
representatives):
  - passthrough      file_stream -> stream_to_parquet (the sink floor)
  - quality_gate     per-batch rule routing (good/quarantine/metrics)
  - dedup            dropDuplicatesWithinWatermark + parquet sink
  - time_rollup      raw landing + bucket-exact continuous aggregate
  - near_dedup       incremental banded-LSH vs persistent state
                     (documents x factor/4 — text-grain, the heavy op)

Usage: python tools/stream_probe.py [factor]   # JSONL on stdout
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from openoa_spark import registry  # noqa: E402
from openoa_spark.operators.checks import Rule  # noqa: E402
from openoa_spark.session import get_session  # noqa: E402
from openoa_spark.streaming import ingest  # noqa: E402

BASE = "/root/testdata/sf0.1"
WORK = os.path.join("spark-warehouse", "stream_probe")


def build_events_source(spark, factor: int) -> tuple[str, int]:
    """x``factor`` events as a 64-file range-partitioned parquet dir:
    part files ascend in event time, so availableNow's file batches
    arrive roughly time-ordered and the watermark advances the way a
    live telemetry stream's would (a shuffled layout would mark most
    of every later batch 'late' and measure the drop path instead)."""
    src = os.path.join(WORK, "events_src")
    ev = registry._t(spark, BASE, "events")
    bounds = ev.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).first()
    span_us = int(
        (bounds["hi"] - bounds["lo"]).total_seconds() * 1_000_000
    ) + 3_600_000_000
    out = None
    for i in range(factor):
        c = ev.withColumn(
            "ts", F.timestamp_micros(F.unix_micros("ts") + F.lit(i * span_us))
        ).withColumn("event_id", F.col("event_id") + F.lit(i * 1_000_000_000))
        out = c if out is None else out.unionByName(c)
    n = out.count()
    (
        out.repartitionByRange(64, "ts")
        .sortWithinPartitions("ts")
        .write.mode("overwrite")
        .parquet(src)
    )
    return src, n


def build_docs_source(spark, factor: int) -> tuple[str, int]:
    src = os.path.join(WORK, "docs_src")
    docs = spark.read.parquet(os.path.join(BASE, "documents.parquet"))
    out = None
    for i in range(factor):
        c = docs.withColumn(
            "doc_id", F.col("doc_id") + F.lit(i * 1_000_000_000)
        ).withColumn("text", F.concat("text", F.lit(f" copytag{i}")))
        out = c if out is None else out.unionByName(c)
    n = out.count()
    out.repartition(32).write.mode("overwrite").parquet(src)
    return src, n


def drain(op: str, q, n_rows: int, timeout: int = 900) -> dict:
    """Block until the availableNow query finishes, then emit one
    JSONL row per micro-batch plus a summary row."""
    q.awaitTermination(timeout)
    batches = []
    for p in q.recentProgress:
        if isinstance(p, str):
            p = json.loads(p)
        trig = p.get("durationMs", {}).get("triggerExecution", 0)
        rows = p.get("numInputRows", 0)
        state = p.get("stateOperators") or []
        srows = sum(s.get("numRowsTotal", 0) for s in state)
        sbytes = sum(s.get("memoryUsedBytes", 0) for s in state)
        rec = {
            "op": op, "batch_id": p.get("batchId"), "rows": rows,
            "trigger_ms": trig,
            "rows_per_s": round(rows / (trig / 1000.0), 1) if trig else None,
            "state_rows": srows, "state_bytes": sbytes,
        }
        batches.append(rec)
        print(json.dumps(rec), flush=True)
    tot_rows = sum(b["rows"] for b in batches)
    tot_ms = sum(b["trigger_ms"] for b in batches)
    summary = {
        "op": op, "summary": True, "source_rows": n_rows,
        "input_rows": tot_rows, "n_batches": len(batches),
        "wall_s": round(tot_ms / 1000.0, 2),
        "rows_per_s": round(tot_rows / (tot_ms / 1000.0), 1)
        if tot_ms else None,
        "max_state_rows": max((b["state_rows"] for b in batches), default=0),
        "max_state_mib": round(
            max((b["state_bytes"] for b in batches), default=0) / (1 << 20), 2
        ),
    }
    print(json.dumps(summary), flush=True)
    return summary


def fresh(*names: str) -> list[str]:
    out = []
    for n in names:
        p = os.path.join(WORK, n)
        if os.path.exists(p):
            shutil.rmtree(p)
        out.append(p)
    return out


def main():
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 16
    spark = get_session("stream-probe")
    if os.path.exists(WORK):
        shutil.rmtree(WORK)
    t0 = time.perf_counter()
    ev_src, n_ev = build_events_source(spark, factor)
    print(json.dumps({"build": "events", "rows": n_ev,
                      "s": round(time.perf_counter() - t0, 1)}), flush=True)
    schema = spark.read.parquet(ev_src).schema
    trigger_files = 8  # 64 files -> 8 micro-batches

    def src_stream():
        return ingest.file_stream(
            spark, ev_src, schema, max_files_per_trigger=trigger_files
        )

    # 1. passthrough sink floor
    out, ckpt = fresh("pt_out", "pt_ckpt")
    drain("passthrough",
          ingest.stream_to_parquet(src_stream(), out, ckpt), n_ev)

    # 2. quality gate (rules chosen so both routes carry real traffic)
    good, quar, ckpt, metrics = fresh("qg_good", "qg_quar", "qg_ckpt",
                                      "qg_metrics")
    rules = [
        Rule("user_not_null", "not_null", "user_id"),
        Rule("value_in_range", "in_range", "value",
             {"lo": -1e6, "hi": 1e6}),
        Rule("type_known", "matches", "event_type", {"pattern": "^[a-z_]+$"}),
    ]
    drain("quality_gate",
          ingest.stream_quality_gate(src_stream(), rules, good, quar, ckpt,
                                     metrics_path=metrics), n_ev)

    # 3. watermarked exact dedup -> parquet
    out, ckpt = fresh("dd_out", "dd_ckpt")
    deduped = ingest.stream_dedup(src_stream(), "ts", "props")
    drain("dedup", ingest.stream_to_parquet(deduped, out, ckpt), n_ev)

    # 4. raw landing + hourly continuous aggregate
    raw, roll, ckpt = fresh("tr_raw", "tr_rollup", "tr_ckpt")
    drain("time_rollup",
          ingest.stream_time_rollup(
              src_stream(), raw, roll, "ts", "hour",
              {"n": F.count(F.lit(1)), "avg_value": F.avg("value")},
              ckpt, keys=["event_type"]), n_ev)

    # 5. incremental near-dedup over documents (text-grain heavy op)
    doc_factor = max(factor // 4, 1)
    doc_src, n_docs = build_docs_source(spark, doc_factor)
    print(json.dumps({"build": "documents", "rows": n_docs,
                      "factor": doc_factor}), flush=True)
    dschema = spark.read.parquet(doc_src).schema
    out, state, ckpt = fresh("nd_out", "nd_state", "nd_ckpt")
    drain("near_dedup",
          ingest.stream_near_dedup(
              ingest.file_stream(spark, doc_src, dschema,
                                 max_files_per_trigger=4),
              "text", "doc_id", out, state, ckpt), n_docs)


if __name__ == "__main__":
    main()
