"""StaticYawMisalignment (known injected offsets) + EYAGapAnalysis
(hand-computed waterfall) tests."""

from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from openoa_spark.analysis.eya import EYAEstimate, EYAGapAnalysis, OAResults
from openoa_spark.analysis.yaw import StaticYawMisalignment
from openoa_spark.functions.stats import poisson1_weight, poisson1_weights
from openoa_spark.plant import PlantData
from tests.windfixtures import make_asset, power_curve

META = {
    "latitude": 47.9, "longitude": 5.12, "capacity": 8.0,
    "scada": {"frequency": "10min"},
}
TRUE_OFFSETS = {"T01": 0.0, "T02": 4.0, "T03": -6.0, "T04": 10.0}


def make_yaw_scada(n_per_turbine: int = 15000, seed: int = 5) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    times = pd.date_range("2019-01-01", periods=n_per_turbine, freq="10min")
    frames = []
    for t, offset in TRUE_OFFSETS.items():
        ws = rng.uniform(4.5, 8.5, n_per_turbine)
        # wide vane coverage so the cos² curve has real curvature in
        # the surviving (count > min_vane_bin_count) bins
        vane = np.clip(rng.normal(0.0, 13.0, n_per_turbine), -30.0, 30.0)
        power = (
            power_curve(ws)
            * np.cos(np.deg2rad(vane - offset)) ** 2
            * (1.0 + rng.normal(0, 0.005, n_per_turbine))
        )
        frames.append(pd.DataFrame({
            "time": times, "asset_id": t, "WTUR_W": power,
            "WMET_HorWdSpd": ws, "WMET_HorWdDirRel": vane,
            "WROT_BlPthAngVal": np.zeros(n_per_turbine),
        }))
    return pd.concat(frames, ignore_index=True)


@pytest.fixture(scope="module")
def plant(spark):
    return PlantData(
        spark, META, analysis_type=["StaticYawMisalignment"],
        scada=spark.createDataFrame(make_yaw_scada()),
        asset=spark.createDataFrame(make_asset()),
    )


def test_recovers_injected_offsets(plant):
    # high MAD threshold: the fixture's cos² signal across a wide vane
    # range correlates power bins with wind speed, so an aggressive
    # outlier filter would bias the curve peak toward zero
    yaw = StaticYawMisalignment(plant, min_vane_bin_count=20,
                                power_bin_mad_thresh=13.0)
    res = yaw.run()
    est = dict(zip(res.turbine_ids, res.yaw_misalignment[0]))
    for t, true_offset in TRUE_OFFSETS.items():
        assert est[t] == pytest.approx(true_offset, abs=0.75), t
    # per-ws-bin estimates also close for a mid bin
    k = res.ws_bins.index(7.0)
    i = res.turbine_ids.index("T04")
    assert res.yaw_misalignment_ws[0, i, k] == pytest.approx(10.0, abs=1.5)
    # cosine exponent recovered near the injected 2.0
    exps = res.curve_fit_params_ws[0, :, :, 2]
    assert np.nanmedian(exps) == pytest.approx(2.0, abs=0.5)


def test_uq_mode(plant):
    yaw = StaticYawMisalignment(
        plant, UQ=True, num_sim=3, min_vane_bin_count=20,
        max_power_filter=(0.92, 0.98), power_bin_mad_thresh=(4, 10),
    )
    res = yaw.run()
    assert res.yaw_misalignment.shape == (3, 4)
    est_avg = dict(zip(res.turbine_ids, res.avg))
    assert est_avg["T04"] == pytest.approx(10.0, abs=1.5)
    assert res.std.max() < 1.0


def test_batched_equals_per_sim(plant):
    """The all-sims stage (sims as an array axis, deterministic Poisson
    bootstrap weights, cell sums in time order) is BIT-IDENTICAL to
    running each simulation as its own batch-of-one Spark job —
    execution layout cannot change the result."""
    yaw = StaticYawMisalignment(
        plant, UQ=True, num_sim=3, min_vane_bin_count=20,
        max_power_filter=(0.92, 0.98), power_bin_mad_thresh=(4, 10),
    )
    specs = [
        {"sim": 0, "mpf": 0.95, "mad": 7.0, "bseed": 12345},
        {"sim": 1, "mpf": 0.93, "mad": 5.0, "bseed": 777},
        {"sim": 2, "mpf": 0.95, "mad": 7.0, "bseed": None},
    ]
    batched = yaw._cells(specs)
    key = ["sim", "asset_id", "ws_bin", "vane_bin"]
    singles = pd.concat([yaw._cells([s]) for s in specs])
    b = batched.sort_values(key).reset_index(drop=True)
    s = singles.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(b, s, check_exact=True)
    # and the bootstrap actually perturbs: sims 0 and 2 share the
    # filter combo but differ in weighting
    c0 = b[b["sim"] == 0].set_index(["asset_id", "ws_bin", "vane_bin"])
    c2 = b[b["sim"] == 2].set_index(["asset_id", "ws_bin", "vane_bin"])
    joined = c0.join(c2, lsuffix="_0", rsuffix="_2", how="inner")
    assert (joined["n_0"] != joined["n_2"]).any()


def test_bootstrap_seed_stays_int(plant):
    """The bootstrap weight hashes the sim's seed with xxhash64, which
    hashes an int differently from a bigint. The cell stage finishes
    Spark's per-row key hash in NumPy as an INT seed's round, so its
    weights equal ``poisson1_weight`` with an int seed (the weights of
    every bootstrapped cell), and not the bigint one's."""
    seeds = [12345, 777]
    rows = plant.scada.select(
        F.xxhash64("time", "asset_id").alias("h"),
        *[poisson1_weight(F.lit(s), "time", "asset_id").alias(f"int{s}") for s in seeds],
        *[poisson1_weight(F.lit(s).cast("bigint"), "time", "asset_id").alias(f"big{s}")
          for s in seeds],
    ).toPandas()
    w = poisson1_weights(rows["h"].to_numpy(), np.array(seeds))
    for i, s in enumerate(seeds):
        np.testing.assert_array_equal(w[i], rows[f"int{s}"].to_numpy())
        assert (w[i] != rows[f"big{s}"].to_numpy()).mean() > 0.5


def _spark_round_half_up(x: float) -> float:
    """Spark's ``round`` of a double: the decimal string, half up."""
    return float(Decimal(repr(x)).quantize(Decimal(1), ROUND_HALF_UP))


def _oracle_cells(rows: pd.DataFrame, spec: dict, yaw) -> pd.DataFrame:
    """One sim's cell table by a plain pandas loop over turbines
    (yaw_misalignment.py:352-420, 506-528): each power bin's median and
    MAD of wind speed, the MAD filter, the wind-speed and vane bins and
    the bootstrap weights (``rows["w<seed>"]``, Spark's
    ``poisson1_weight``), then weighted cell means."""
    half = yaw.ws_bin_width / 2.0
    out = []
    for t, g in rows.groupby("asset_id"):
        cap = g["rated_power"].iat[0]
        bw = (spec["mpf"] - yaw.min_power_filter) / yaw.num_power_bins
        p_norm = (g["WTUR_W"] - yaw.min_power_filter * cap) / (bw * cap)
        pbin = np.floor(p_norm).where((p_norm >= 0) & (p_norm < yaw.num_power_bins))
        ws = g["WMET_HorWdSpd"]
        dev = (ws - ws.groupby(pbin).transform("median")).abs()
        g = g[~(dev > spec["mad"] * dev.groupby(pbin).transform("median"))].copy()
        g["ws_bin"] = [
            next((b for b in yaw.ws_bins if b - half <= x < b + half), np.nan)
            for x in g["WMET_HorWdSpd"]
        ]
        g["vane_bin"] = [
            _spark_round_half_up(v / yaw.vane_bin_width) * yaw.vane_bin_width + 0.0
            for v in g["WMET_HorWdDirRel"]
        ]
        g["w"] = 1 if spec["bseed"] is None else g[f"w{spec['bseed']}"]
        g = g[g["ws_bin"].notna() & (g["w"] > 0)]
        g = g.assign(wp=g["w"] * g["WTUR_W"], wv=g["w"] * g["WMET_HorWdDirRel"])
        c = g.groupby(["ws_bin", "vane_bin"], as_index=False).agg(
            n=("w", "sum"), wp=("wp", "sum"), vane_sum=("wv", "sum")
        )
        out.append(c.assign(sim=spec["sim"], asset_id=t, pow_ratio=c["wp"] / c["n"]))
    return pd.concat(out).drop(columns="wp")


@pytest.fixture(scope="module")
def edge_plant(spark):
    """Three turbines: T01 plain, T02 with every row above the pitch
    limit (no rows survive), T03 with a quarter of its wind speeds on
    the wind-speed bins' edges (4.5, 5.5, ..., 8.5). Each has stopped
    rows (zero power) outside every power bin."""
    rng = np.random.default_rng(11)
    n = 3000
    times = pd.date_range("2019-01-01", periods=n, freq="10min")
    frames = []
    for i, t in enumerate(("T01", "T02", "T03")):
        ws = rng.uniform(3.0, 10.0, n)
        if t == "T03":
            on_edge = rng.random(n) < 0.25
            ws[on_edge] = rng.choice([4.5, 5.5, 6.5, 7.5, 8.5], on_edge.sum())
        vane = np.round(rng.normal(0.0, 8.0, n), 1)  # many x.5 vane ratios
        power = power_curve(ws) * np.cos(np.deg2rad(vane)) ** 2 * (1 + rng.normal(0, 0.05, n))
        # stopped rows, below every power bin: a tight cluster near cut-in
        # and a few inside the wind-speed bins, which the filter keeps
        stopped = rng.random(n)
        ws[stopped < 0.15] = rng.uniform(3.0, 3.2, (stopped < 0.15).sum())
        ws[stopped > 0.98] = rng.uniform(4.5, 8.5, (stopped > 0.98).sum())
        power[(stopped < 0.15) | (stopped > 0.98)] = 0.0
        frames.append(pd.DataFrame({
            "time": times, "asset_id": t, "WTUR_W": power, "WMET_HorWdSpd": ws,
            "WMET_HorWdDirRel": vane,
            "WROT_BlPthAngVal": np.full(n, 10.0 if t == "T02" else 0.0),
        }))
    return PlantData(
        spark, META, analysis_type=["StaticYawMisalignment"],
        scada=spark.createDataFrame(pd.concat(frames, ignore_index=True)),
        asset=spark.createDataFrame(make_asset()),
    )


def test_cells_match_per_sim_oracle(edge_plant):
    """The grouped NumPy stage equals a plain pandas per-sim loop, with
    the UQ=False spec and three bootstrapped UQ sims, on a plant with a
    turbine that keeps no rows and wind speeds on the bin edges."""
    yaw = StaticYawMisalignment(edge_plant, turbine_ids=["T01", "T02", "T03"])
    specs = [
        {"sim": 0, "mpf": 0.95, "mad": 7.0, "bseed": None},
        {"sim": 1, "mpf": 0.92, "mad": 4.0, "bseed": 12345},
        {"sim": 2, "mpf": 0.98, "mad": 10.0, "bseed": 777},
        {"sim": 3, "mpf": 0.95, "mad": 5.0, "bseed": 2**31 - 1},
    ]
    seeds = [s["bseed"] for s in specs if s["bseed"] is not None]
    asset = edge_plant.asset.select("asset_id", "rated_power")
    rows = (
        edge_plant.scada.where(F.col("WROT_BlPthAngVal") <= yaw.pitch_thresh)
        .join(asset, "asset_id")
        .select("asset_id", "WTUR_W", "WMET_HorWdSpd", "WMET_HorWdDirRel", "rated_power",
                *[poisson1_weight(F.lit(s), "time", "asset_id").alias(f"w{s}")
                  for s in seeds])
        .toPandas()
    )
    key = ["sim", "asset_id", "ws_bin", "vane_bin"]
    got = yaw._cells(specs).sort_values(key).reset_index(drop=True)
    want = (
        pd.concat([_oracle_cells(rows, s, yaw) for s in specs])
        .sort_values(key).reset_index(drop=True)
    )
    assert set(got["asset_id"]) == {"T01", "T03"}
    assert set(got["sim"]) == {0, 1, 2, 3}
    # the edges: 4.5 opens bin 5, 5.5 opens bin 6, 8.5 is in no bin
    t03 = rows[rows["asset_id"] == "T03"]["WMET_HorWdSpd"]
    assert (t03 == 4.5).sum() > 100 and (t03 == 8.5).sum() > 100
    pd.testing.assert_frame_equal(got[key], want[key], check_dtype=False)
    np.testing.assert_array_equal(got["n"], want["n"])
    for c in ("pow_ratio", "vane_sum"):
        np.testing.assert_allclose(got[c], want[c], rtol=1e-9, atol=1e-9)


def test_jobs_do_not_grow_with_sims(spark, plant):
    """The sims are an array axis, not Spark work per sim: 10 UQ sims
    start as many Spark jobs as one."""
    sc = spark.sparkContext
    jobs = {}
    for n in (1, 10):
        sc.setJobGroup(f"yaw_sims_{n}", f"yaw_sims_{n}")
        try:
            StaticYawMisalignment(
                plant, UQ=True, num_sim=n, max_power_filter=(0.92, 0.98),
                power_bin_mad_thresh=(4, 10),
            ).run()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs[n] = len(sc.statusTracker().getJobIdsForGroup(f"yaw_sims_{n}"))
    assert jobs[10] == jobs[1], jobs


@pytest.mark.parametrize(
    "kw, name",
    [
        ({}, "max_power_filter"),
        ({"max_power_filter": (0.92, 0.98)}, "power_bin_mad_thresh"),
    ],
)
def test_uq_needs_ranges(kw, name):
    """UQ draws each filter parameter from a (low, high) range; a scalar
    is rejected up front, naming the parameter."""
    with pytest.raises(ValueError, match=rf"{name} as a \(low, high\) range"):
        StaticYawMisalignment(None, turbine_ids=["T01"], UQ=True, **kw)
    # the scalar defaults stay valid without UQ
    StaticYawMisalignment(None, turbine_ids=["T01"], **kw)


def test_eya_gap_waterfall():
    eya = EYAEstimate(
        aep=30.0, gross_energy=38.0, availability_losses=0.03,
        electrical_losses=0.02, turbine_losses=0.04,
        blade_degradation_losses=0.01, wake_losses=0.05,
    )
    oa = OAResults(aep=28.5, availability_losses=0.04,
                   electrical_losses=0.018, turbine_ideal_energy=33.0)
    g = EYAGapAnalysis(eya, oa)
    data = g.run()
    eya_tie = 38.0 * 0.96 * 0.95 * 0.99
    assert data[0] == 30.0
    assert data[1] == pytest.approx(33.0 - eya_tie)
    assert data[2] == pytest.approx((0.03 - 0.04) * eya_tie)
    assert data[3] == pytest.approx((0.02 - 0.018) * eya_tie)
    # waterfall closes exactly on the OA AEP
    assert sum(data) == pytest.approx(28.5)
    assert g.waterfall[-1] == 28.5


def test_eya_validation():
    with pytest.raises(ValueError, match="availability_losses"):
        EYAEstimate(30, 38, 1.2, 0.02, 0.04, 0.01, 0.05)
