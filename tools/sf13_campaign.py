"""Full-registry above-gate-scale correctness campaign (round 11).

The r10 campaign ran 23 heavy queries at 13× sf0.1 and caught a real
cross-engine decimal→double divergence invisible at sf0.1 (VERDICT r10
— the class of bug only at-scale verification finds). This runner
extends it to EVERY registry query: build the 13×-inflated probe
layout once (tools/probe.build_probe_dir — key-offset copies,
time-shifted events, rotation-varied embeddings), then drive
tools/check_correctness.py over the whole registry in small fresh-
process batches so one pathological DuckDB twin cannot poison the
page cache / allocator state for the rest (the r10 lesson), appending
to one resumable artifact.

Resumable: names already PASS/ROWS in the artifact are skipped, so a
re-run after a fix only re-checks failures and unvisited names.

Usage: python tools/sf13_campaign.py [factor] [artifact, default spark-warehouse/sf13_campaign.txt]
"""

from __future__ import annotations

import os
import re
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = "/root/testdata/sf0.1"
PROBE = os.path.abspath("spark-warehouse/sf13_campaign")

# Twins/engines measured slow at 13× (r10 campaign + sf1 paired bench): run
# solo with a long budget so a straggler can't time out a whole batch.
SLOW_SOLO = {
    # quadratic-within-cluster twin (r10 DNF at 600 s batch budget)
    "semantic_dedup_vecs": 5400,
    "near_dedup_docs": 1800,
    "near_dedup_keep_best_docs": 1800,
    "near_dup_cluster_sizes": 1800,
    "minhash_near_dups": 1800,
    "minhash_star_near_dups": 1800,
    "minhash_decontaminate_docs": 1800,
    "rolling_1h_sum_per_user": 1800,
    "user_daily_correlation_pairs": 1800,
    "asof_hourly_value": 1800,
    "asof_tolerance_hourly_value": 1800,
    "asof_forward_hourly_value": 1800,
    "lid_trained_heldout_accuracy": 1800,
    # 283M-row pair listing at 13x (near-identical copies form
    # cliques): compared via the engine-side checksum path, but both
    # engines still materialize the full pair set
    "simhash_near_dups": 1800,
    "embedding_near_dedup_vecs": 1800,
    "event_sessions": 1200,
    "state_islands": 1200,
    "customer_rfm_segments": 1200,
    "doc_token_deciles": 1200,
}
BATCH_SIZE = 5
BATCH_TIMEOUT = 1500  # seconds, whole batch incl. Spark startup


def build_probe(factor: int) -> None:
    if os.path.exists(os.path.join(PROBE, "_DONE")):
        print(f"probe dir {PROBE} exists, reusing")
        return
    from openoa_spark.session import get_session
    from tools.probe import build_probe_dir

    spark = get_session("sf13-campaign-build")
    t0 = time.time()
    build_probe_dir(spark, BASE, factor, PROBE)
    open(os.path.join(PROBE, "_DONE"), "w").write(str(factor))
    print(f"probe built in {time.time() - t0:.0f}s")
    spark.stop()


def already_done(artifact: str) -> set[str]:
    done = set()
    if os.path.exists(artifact):
        for line in open(artifact):
            m = re.match(r"(PASS|ROWS)\s+(\w+):", line)
            if m:
                done.add(m.group(2))
    return done


def run_batch(names: list[str], timeout: int, artifact: str) -> list[str]:
    """Run one fresh-process check over `names`; append result lines.
    Returns names that produced no PASS/ROWS/FAIL line (timeout/crash)."""
    cmd = [sys.executable, "tools/check_correctness.py", PROBE, *names]
    t0 = time.time()
    try:
        p = subprocess.run(
            cmd, capture_output=True, text=True, timeout=timeout,
            env={
                **os.environ,
                "SPARK_GRAFT_PROGRESS": "0",
                # engine-side checksum compare for >50M-row integral
                # results (driver collect cannot hold them at 13x)
                "SPARK_GRAFT_CHECKSUM_ROWS": "50000000",
            },
        )
        out = p.stdout + "\n" + p.stderr
    except subprocess.TimeoutExpired as e:
        out = ((e.stdout or b"").decode() if isinstance(e.stdout, bytes)
               else (e.stdout or ""))
        out += "\n[BATCH TIMEOUT]"
    lines = [
        ln for ln in out.splitlines()
        if re.match(r"(PASS|FAIL|ROWS)\s+\w+:", ln) or "TIMEOUT" in ln
    ]
    seen = {
        m.group(2)
        for ln in lines
        if (m := re.match(r"(PASS|FAIL|ROWS)\s+(\w+):", ln))
    }
    with open(artifact, "a") as f:
        f.write(f"== batch ({time.time()-t0:.0f}s): {' '.join(names)}\n")
        for ln in lines:
            f.write(ln.rstrip() + "\n")
    for ln in lines:
        print(ln.rstrip())
    return [n for n in names if n not in seen]


def main() -> None:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 13
    artifact = sys.argv[2] if len(sys.argv) > 2 else PROBE + ".txt"
    build_probe(factor)

    from openoa_spark import registry

    names = list(registry.queries())
    done = already_done(artifact)
    todo = [n for n in names if n not in done]
    print(f"{len(done)} already green, {len(todo)} to run")

    solo = [n for n in todo if n in SLOW_SOLO]
    rest = [n for n in todo if n not in SLOW_SOLO]
    pending: list[str] = []
    for i in range(0, len(rest), BATCH_SIZE):
        pending += run_batch(rest[i:i + BATCH_SIZE], BATCH_TIMEOUT, artifact)
    for n in solo:
        pending += run_batch([n], SLOW_SOLO[n], artifact)
    # anything that fell out of a timed-out batch gets one solo retry
    retried = []
    for n in pending:
        retried += run_batch([n], 1800, artifact)
    with open(artifact, "a") as f:
        f.write(f"== campaign done; unresolved: {retried}\n")
    print("UNRESOLVED:", retried)
    done = already_done(artifact)
    fails = [
        m.group(1)
        for ln in open(artifact)
        if (m := re.match(r"FAIL\s+(\w+):", ln)) and m.group(1) not in done
    ]
    print(f"final: {len(done)}/{len(names)} green; persistent fails: {sorted(set(fails))}")


if __name__ == "__main__":
    main()
