"""TurbineLongTermGrossEnergy tests against the synthetic plant whose
generating process is known."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from openoa_spark.analysis.tie import TurbineLongTermGrossEnergy
from openoa_spark.plant import PlantData
from tests.windfixtures import plant_tables

META = {
    "latitude": 47.9, "longitude": 5.12, "capacity": 8.0,
    "scada": {"frequency": "10min"},
    "reanalysis": {"era5": {"frequency": "h"}},
}


@pytest.fixture(scope="module")
def plant(spark):
    # a FULL-YEAR POR (r7): TIE's GAM predicts over the whole
    # long-term reanalysis span, so the training window must cover the
    # annual (ws, rho) cycle — the reference documents 1+year PORs and
    # its own regression data spans ~2 years. A 60-day winter POR
    # forces the model to extrapolate over ~66% of prediction days'
    # air densities, which no penalized-spline fit supports (see
    # PSplineGAM docstring).
    tables = plant_tables(days=365)
    return PlantData(
        spark, META, analysis_type=["TurbineLongTermGrossEnergy"],
        scada=spark.createDataFrame(tables["scada"]),
        asset=spark.createDataFrame(tables["asset"]),
        reanalysis={"era5": spark.createDataFrame(tables["reanalysis"])},
    )


@pytest.fixture(scope="module")
def tie(plant):
    return TurbineLongTermGrossEnergy(plant, UQ=False)


def test_filter_flags(tie):
    filtered = tie.filter_turbine_data(wind_bin_thresh=2.0, max_power_filter=0.85)
    total = filtered.count()
    flagged = filtered.where(F.col("_flag_final")).count()
    assert total > 0
    # clean synthetic data: only a small fraction should be flagged
    assert flagged / total < 0.25


def test_daily_energy_and_imputation(tie):
    filtered = tie.filter_turbine_data(2.0, 0.85)
    daily = tie.daily_valid_energy(filtered, correction_threshold=0.9)
    pdf = daily.toPandas()
    assert set(pdf["asset_id"]) == {"T01", "T02", "T03", "T04"}
    # ~365 days per turbine
    assert 320 <= pdf.groupby("asset_id").size().min() <= 366
    # daily turbine energy plausible: 2 MW turbine → <= 48,000 kWh/day
    assert pdf["energy_imputed"].between(0, 48000).all()


def test_daily_reanalysis(tie):
    rean = tie.daily_reanalysis("era5")
    assert {"u", "v", "ws", "rho", "wd"} <= set(rean.columns)
    assert len(rean) > 1000  # ~3 years daily
    assert rean["wd"].between(0, 360).all()


def test_lt_gross_plausible(plant, tie):
    res = tie.run()
    assert len(res.plant_gross_gwh) == 1
    gross = res.plant_gross_gwh[0]
    # cross-check against the scada POR itself: mean daily plant energy
    # × 365.25, in GWh
    por_daily = (
        plant.scada.groupBy(F.date_trunc("day", "time").alias("d"))
        .agg(F.sum("WTUR_SupWh").alias("e"))
        .agg(F.avg("e")).first()[0]
    )
    por_annual_gwh = por_daily * 365.25 / 1e6
    # season-balanced POR + P-spline GAM: measured r7 agreement 2.5%
    assert gross == pytest.approx(por_annual_gwh, rel=0.10)
    # long-term per-day predictions cover the full reanalysis span
    assert res.turbine_lt_gross["day"].nunique() > 1000


def test_uq_mode(plant):
    tie_uq = TurbineLongTermGrossEnergy(plant, UQ=True, num_sim=4)
    res = tie_uq.run()
    assert len(res.plant_gross_gwh) == 4
    assert np.isfinite(res.plant_gross_gwh).all()
    # spread across sims is driven by the sampled wind-bin threshold
    # (1.0–3.0) — wide by design; bound it loosely
    assert (res.plant_gross_gwh > 10).all() and (res.plant_gross_gwh < 120).all()


def test_each_sim_equals_its_one_sim_run(plant):
    """Every UQ sim's gross energy equals, bit for bit, a one-sim run
    of the per-stage methods with that sim's drawn inputs: sharing the
    power-bin statistics and ranking rows across sims cannot leak into
    any one sim's numbers."""
    res = TurbineLongTermGrossEnergy(plant, UQ=True, num_sim=3, seed=7).run()
    one = TurbineLongTermGrossEnergy(plant, UQ=True, num_sim=3, seed=7)
    for i, r in res.inputs.iterrows():
        filtered = one.filter_turbine_data(r["wind_bin_thresh"], r["max_power_filter"])
        daily = one.daily_valid_energy(filtered, r["correction_threshold"])
        preds = one.fit_and_apply(
            daily, r["reanalysis_product"], r["scada_data_fraction"]
        )
        assert one.plant_gross_from_predictions(preds) == res.plant_gross_gwh[i], i


@pytest.mark.parametrize(
    "name", ["wind_bin_threshold", "max_power_filter", "correction_threshold"]
)
def test_uq_needs_ranges(plant, name):
    """UQ draws each filter parameter from a (low, high) range; a scalar
    is rejected up front, naming the parameter."""
    with pytest.raises(ValueError, match=rf"{name} as a \(low, high\) range"):
        TurbineLongTermGrossEnergy(plant, UQ=True, **{name: 2.0})
    # a scalar stays valid without UQ
    TurbineLongTermGrossEnergy(plant, **{name: 2.0})


def test_extrapolation_choice_pinned(spark):
    """r7 ADVICE: the GAM edge-extrapolation choice is exposed on
    TurbineLongTermGrossEnergy (default "clip"; "linear" = pygam's
    edge-tangent behavior) and the size of the out-of-range deviation
    stays pinned. On a 60-day winter POR the long-term reanalysis span
    falls far outside the trained (ws, rho) range for most prediction
    days: measured r8 — clip 47.2 GWh (2.2x the POR-annualized energy,
    dominated by genuine season imbalance), linear 173.7 GWh (3.7x
    clip — the noise-scale edge tangent compounds over 3 years of
    out-of-range days). If either side drifts, the extrapolation
    semantics changed."""
    t = plant_tables(days=60)
    plant60 = PlantData(
        spark, META, analysis_type=["TurbineLongTermGrossEnergy"],
        scada=spark.createDataFrame(t["scada"]),
        asset=spark.createDataFrame(t["asset"]),
        reanalysis={"era5": spark.createDataFrame(t["reanalysis"])},
    )
    kw = dict(UQ=False, wind_bin_threshold=2.0, max_power_filter=0.85,
              correction_threshold=0.9)
    g_clip = TurbineLongTermGrossEnergy(plant60, **kw).run().plant_gross_gwh[0]
    g_lin = TurbineLongTermGrossEnergy(
        plant60, extrapolation="linear", **kw
    ).run().plant_gross_gwh[0]
    assert g_clip == pytest.approx(47.2, rel=0.15)
    assert g_lin / g_clip == pytest.approx(3.7, rel=0.25)
