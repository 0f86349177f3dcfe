"""Physical-plan regression guards over the whole registry.

Builds (does not execute) every registry query's plan at sf0.001 and
asserts the scale invariants the round verdicts grade on:

- no CartesianProduct outside the explicitly allowed small-dim or
  labeled O(n²)-baseline queries
- no row-at-a-time Python UDF (BatchEvalPython) anywhere — Python
  must enter only Arrow-batched (ArrowEvalPython / FlatMapGroupsInPandas)
- parquet scans carry pushed filters whenever the query filters on a
  scanned column (spot-checked on the queries where it matters)

Analysis-only, so the whole sweep stays fast.
"""

import pytest

from openoa_spark import registry

# Queries whose plan legitimately contains a cartesian/nested-loop
# product: one-row scalar broadcasts, O(10²) dim self-pairing, or the
# labeled brute-force baseline.
ALLOWED_CARTESIAN = {
    "asset_distance_pairs",     # O(10²) dim self-pairing
    "asset_direction_pairs",
    "nearest_neighbor",
    "freestream_membership",
    "freestream_iec_membership",
    "q15_top_suppliers",        # one-row scalar max broadcast
    "q22_idle_customers",       # one-row scalar avg broadcast
    "q11_important_stock",      # one-row global-total broadcast
    "lang_sampling_weights",    # one-row total + normalizer broadcasts
    "bigram_pmi_top",           # one-row unigram/bigram-total broadcasts
    "impute_linear_synthetic",  # one-row fit-coefficient broadcast
    "impute_quadratic_synthetic",
    "impute_best_neighbor",
    "electrical_losses_proxy",  # scalar ratio of two aggregates
    "user_daily_correlation_pairs",  # broadcast pair expansion (vector corr)
    "std_range_flag_events",    # global mean/std scalar broadcast
    "embedding_norm_outliers",  # one-row global-median broadcast
    "describe_quantity_by_flag",
    "ccnet_perplexity_buckets",  # one-row quantile-boundary broadcast
    "span_days_hours",
    "infer_frequency",
    "iec_power_curve",
    "logistic5_power_values",   # driver-fit curve applied as expr
    "benford_first_digit",      # one-row grand-total broadcast over 9 digits
    "turbulence_intensity_by_user",
    "percent_null_synthetic",
    "q6_forecast_revenue",      # single-row aggregate output
    "q14_promo_revenue_pct",
    "q12_priority_counts",
    "q17_small_quantity_revenue",
    "mahalanobis_flag_lineitem",  # k=1 path: scalar stats broadcast
    "gap_fill_daily",           # spine sequence cross alignment
    "upsample_ffill_hourly",
    "find_hour_gaps",
    "calendar_hour_profile",
    "tfidf_top_terms",          # one-row corpus-size (N) broadcast
    "lm_score_docs",            # one-row bigram-total broadcast
    "intersect_both_halves_users",  # one-row midpoint scalar broadcast
    # exact-kNN ground truth = query-panel x corpus with the PANEL
    # broadcast: recall measurement runs over a bounded sample of
    # queries (hundreds), so the NLJ build side is small by contract —
    # the measured (LSH) side stays a bucketed equi-join
    "ann_recall_lsh",
    # one-row dense bloom-bitmap scalar broadcast (rows share ONE
    # cached array; a plan literal would rebuild it per probe)
    "bloom_decontaminate_docs",
    # one-row per-dimension scales array scalar broadcast
    "embedding_int8_quantization",
    # one-row flattened ADC lookup-table scalar broadcast
    "pq_adc_topk",
    "ivf_pq_topk",
    "pq_recall_measured",
    # docs x langs pair frame: broadcast NLJ over the BOUNDED language
    # table (5 rows) so out-of-profile floor scores exist for every
    # (doc, lang) — the dimension-broadcast pattern, not a fact join
    "lid_trained_heldout_accuracy",
    # one-row total-count scalar broadcast (ntile_from_rank's n) plus
    # keyed_row_number's ≤64-row triangular bucket-offset self-join
    "customer_rfm_segments",
    "doc_token_deciles",
}

# Queries whose plan legitimately contains a KEYLESS window (the one
# shape AQE can never split): each runs over a provably bounded-grain
# frame, never a fact-rooted one — the same justification discipline
# as ALLOWED_CARTESIAN (r9 verdict item 7).
ALLOWED_KEYLESS_WINDOW = {
    # lag over the per-month aggregate — O(months) rows by construction
    "monthly_revenue_growth",
    # cumsum over the delta-histogram bucket table (≤ |distinct
    # rounded deltas|, bounded by the sampling-frequency alphabet)
    "infer_frequency",
    # offset prefix over the (count, 2-char-prefix) group table —
    # orders of magnitude below vocabulary grain (see its docstring)
    "zipf_slope",
    # rank decomposition: the keyless cumsum runs over the DISTINCT
    # n_tokens value table (bounded by max document token count)
    "token_budget_selection",
    # cumsum over the distinct-frequency-count table (~√total under
    # Zipf — the documented tiny-table keyless window)
    "vocab_coverage_90",
}


@pytest.fixture(scope="module")
def plans(spark):
    sf = "/root/testdata/sf0.001"
    out = {}
    for name, fn in registry.queries().items():
        df = fn(spark, sf)
        out[name] = df._jdf.queryExecution().executedPlan().toString()
    return out


def test_no_unexpected_cartesian_products(plans):
    offenders = []
    for name, plan in plans.items():
        if name in ALLOWED_CARTESIAN:
            continue
        if "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan:
            offenders.append(name)
    assert not offenders, f"unexpected cartesian/NLJ in: {offenders}"


def test_no_unpartitioned_windows_outside_allowlist(plans):
    """A window partition is the unit AQE cannot split, so a keyless
    window serializes its whole input onto one task — fatal on any
    frame that grows with the corpus (the customer_rfm_segments class,
    r9 verdict item 2/7). Every keyless window in every registry plan
    must be on the bounded-grain allowlist above."""
    import re

    offenders = []
    for name, plan in plans.items():
        for m in re.finditer(r"windowspecdefinition\(", plan):
            head = plan[m.end():m.end() + 400].split(
                "specifiedwindowframe"
            )[0]
            first = head.split(",")[0].strip()
            # partitioned: first arg is a bare partition column;
            # keyless: the ORDER BY spec (col ASC/DESC NULLS …) leads
            if re.search(r"(ASC|DESC) NULLS (FIRST|LAST)$", first):
                if name not in ALLOWED_KEYLESS_WINDOW:
                    offenders.append(f"{name}: {first}")
                break
    assert not offenders, (
        "keyless window outside the bounded-grain allowlist "
        f"(single-task sort at scale): {offenders}"
    )


def test_no_row_at_a_time_python_udfs(plans):
    offenders = [n for n, p in plans.items() if "BatchEvalPython" in p]
    assert not offenders, f"row-at-a-time Python UDF in: {offenders}"


def test_filter_pushdown_reaches_scans(plans):
    # Every lineitem date-filtered query must push the shipdate bound
    # into the parquet scan.
    for name in (
        "q1_pricing_summary",
        "q6_forecast_revenue",
        "q15_top_suppliers",
        "q20_heavy_suppliers",
    ):
        assert "PushedFilters: [" in plans[name], name
        # plan lines may be truncated before the closing bracket —
        # treat end-of-line as the segment bound then
        pushed = []
        for seg in plans[name].split("PushedFilters: [")[1:]:
            end = seg.find("]")
            head = (seg if end < 0 else seg[:end]).splitlines()[0].strip()
            if head:
                pushed.append(head)
        assert pushed, f"{name}: no non-empty pushed filter on any scan"


def test_no_forced_broadcast_of_sf_scaled_tables():
    """Round-5 verdict item: ``F.broadcast`` hints on SF-scaled inputs
    (customer/part/orders/lineitem/events/documents/embeddings, or
    per-key aggregates over them like per-partkey / per-user tables)
    are executor-OOM bombs at 100 TB — AQE already picks broadcast at
    small SF without the hint. nation/region/supplier and bounded
    dim-/bin-/vocab-grain frames may keep hints.

    Source-level AST lint over registry.py: flag any F.broadcast(name)
    where ``name`` was bound from ``_t(spark, sf_dir, <fact table>)``
    (through row-preserving .where/.select/.withColumn/.filter/.alias
    chains — those keep SF-linearity; groupBy/agg/join break taint and
    are judged case-by-case)."""
    import ast
    import inspect

    FACTS = {"customer", "part", "orders", "lineitem", "events",
             "documents", "embeddings"}
    ROW_PRESERVING = {"where", "filter", "select", "withColumn",
                      "withColumnRenamed", "alias", "drop", "selectExpr"}

    def _root_table(node):
        # walk a method chain to its root call; return the _t table
        # name if the root is _t(..., "<fact>") and every hop is
        # row-preserving
        while isinstance(node, ast.Call):
            f = node.func
            if isinstance(f, ast.Name):
                if f.id == "_t" and node.args:
                    last = node.args[-1]
                    if (isinstance(last, ast.Constant)
                            and last.value in FACTS):
                        return last.value
                return None
            if isinstance(f, ast.Attribute):
                if f.attr == "_t" or f.attr in ROW_PRESERVING:
                    node = f.value
                    continue
                return None
            return None
        return None

    src = inspect.getsource(registry)
    tree = ast.parse(src)
    offenders = []
    for fn in ast.walk(tree):
        if not isinstance(fn, ast.FunctionDef):
            continue
        tainted = {}
        for node in ast.walk(fn):
            if isinstance(node, ast.Assign) and len(node.targets) == 1 \
                    and isinstance(node.targets[0], ast.Name):
                t = _root_table(node.value)
                if t is not None:
                    tainted[node.targets[0].id] = t
        for node in ast.walk(fn):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "broadcast"
                    and node.args
                    and isinstance(node.args[0], ast.Name)
                    and node.args[0].id in tainted):
                offenders.append(
                    f"{fn.name}: F.broadcast({node.args[0].id}) "
                    f"[SF-scaled: {tainted[node.args[0].id]}]"
                )
    assert not offenders, (
        "forced broadcast of SF-scaled tables (drop the hint — AQE "
        f"broadcasts at small SF on its own): {offenders}"
    )


def test_column_pruning_reaches_scans(plans):
    # q6 touches only 4 lineitem columns; the scan must not read the
    # full 11-column schema.
    plan = plans["q6_forecast_revenue"]
    schema_seg = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "l_returnflag" not in schema_seg and "l_tax" not in schema_seg, schema_seg
    assert "l_quantity" in schema_seg and "l_discount" in schema_seg


def test_quantize_fold_single_scan(spark):
    """quantize_surviving_embeddings materializes the surviving
    embeddings ONCE: the quantized output's plan must read the
    checkpointed blocks (RDD scan), never re-scan the source parquet
    or re-run the curation chain — the int8 double-scan fold
    (r7 VERDICT item 7). Also pins value equality against the
    unfused quantizer on the same frame."""
    from openoa_spark.datapipe import pipeline as pl
    from openoa_spark.datapipe.similarity import scalar_quantize_embeddings

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    survivors, _ = pl.curate_corpus(
        docs,
        pl.CurationConfig(near_dedup=False, benchmark_texts=[]),
        report=False,
    )
    from pyspark.sql import functions as F

    ids = survivors.select(F.col("doc_id").alias("vec_id"))
    q = pl.quantize_surviving_embeddings(
        ids, emb, id_col="vec_id", vec_col="embedding"
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "parquet" not in plan.lower(), plan  # no re-scan of any source
    assert "ExistingRDD" in plan or "LocalTableScan" in plan, plan

    # value parity vs the unfused two-pass quantizer on the same frame
    joined = emb.join(ids.distinct(), "vec_id", "left_semi")
    expect = {
        r["vec_id"]: (tuple(r["q"]), r["max_abs_err"])
        for r in scalar_quantize_embeddings(
            joined, "embedding", "vec_id"
        ).collect()
    }
    got = {
        r["vec_id"]: (tuple(r["q"]), r["max_abs_err"])
        for r in q.collect()
    }
    assert got == expect


def test_generated_methods_fit_the_jit_limit(spark):
    """HotSpot compiles no method above 8,000 bytes of bytecode (the
    default -XX:+DontCompileHugeMethods), so a whole-stage subtree
    whose largest generated method is bigger runs in the bytecode
    interpreter on every row. Every registry query's subtrees,
    compiled at sf0.001 with AQE off so that each one is planned up
    front, must stay within that limit."""
    import re

    sf = "/root/testdata/sf0.001"
    key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        sizes = {}
        for name, fn in registry.queries().items():
            qe = fn(spark, sf)._jdf.queryExecution()
            text = spark._jvm.PythonSQLUtils.explainString(qe, "codegen")
            sizes[name] = [
                int(b) for b in re.findall(r"maxMethodCodeSize:(\d+)", text)
            ]
    finally:
        spark.conf.set(key, prev)
    assert sizes["q1_pricing_summary"], "no maxMethodCodeSize parsed"
    offenders = {n: max(s) for n, s in sizes.items() if s and max(s) > 8000}
    assert not offenders, (
        f"generated methods above the 8,000-byte JIT limit: {offenders}"
    )
