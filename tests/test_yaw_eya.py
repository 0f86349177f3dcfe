"""StaticYawMisalignment (known injected offsets) + EYAGapAnalysis
(hand-computed waterfall) tests."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql.types import IntegerType

from openoa_spark.analysis.eya import EYAEstimate, EYAGapAnalysis, OAResults
from openoa_spark.analysis.yaw import StaticYawMisalignment
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
    """Round-7 pin: the single-job all-sims MC (sim-explode +
    deterministic Poisson bootstrap weights + order-independent
    decimal cell sums) is BIT-IDENTICAL to running each simulation as
    its own batch-of-one Spark job — execution layout cannot change
    the result."""
    yaw = StaticYawMisalignment(
        plant, UQ=True, num_sim=3, min_vane_bin_count=20,
        max_power_filter=(0.92, 0.98), power_bin_mad_thresh=(4, 10),
    )
    batched = yaw._binned_tables_batch([
        {"sim": 0, "mpf": 0.95, "mad": 7.0, "bseed": 12345},
        {"sim": 1, "mpf": 0.93, "mad": 5.0, "bseed": 777},
        {"sim": 2, "mpf": 0.95, "mad": 7.0, "bseed": None},
    ])
    key = ["sim", "asset_id", "ws_bin", "vane_bin"]
    singles = pd.concat([
        yaw._binned_tables_batch([{"sim": 0, "mpf": 0.95, "mad": 7.0,
                                   "bseed": 12345}]),
        yaw._binned_tables_batch([{"sim": 1, "mpf": 0.93, "mad": 5.0,
                                   "bseed": 777}]),
        yaw._binned_tables_batch([{"sim": 2, "mpf": 0.95, "mad": 7.0,
                                   "bseed": None}]),
    ])
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
    hashes an int differently from a bigint; the sim fan-out keeps the
    seed int so the weights (and every bootstrapped cell) stay the
    same."""
    kept = StaticYawMisalignment(plant)._kept(
        [{"sim": 0, "mpf": 0.95, "mad": 7.0, "bseed": 12345}]
    )
    assert kept.schema["bseed"].dataType == IntegerType()
    assert kept.schema["sim"].dataType == IntegerType()


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
