"""MonteCarloAEP tests: Spark-built aggregate vs a pandas mini-oracle,
plus statistical plausibility of the MC distribution (the reference's
own tolerance discipline — test/regression/long_term_monte_carlo_aep.py
asserts MC means at decimal≈1-3, not exact values)."""

import numpy as np
import pandas as pd
import pytest

from openoa_spark.analysis.aep import NUM_DAYS_LT, MonteCarloAEP
from openoa_spark.functions import regression as reg
from openoa_spark.plant import PlantData
from tests.windfixtures import ELEC_LOSS, make_aep_tables

META = {
    "latitude": 47.9, "longitude": 5.12, "capacity": 8.0,
    "meter": {"frequency": "h"}, "curtail": {"frequency": "h"},
    "reanalysis": {"era5": {"frequency": "h"}},
}


@pytest.fixture(scope="module")
def tables():
    return make_aep_tables()


@pytest.fixture(scope="module")
def analysis(spark, tables):
    plant = PlantData(
        spark, META, analysis_type=["MonteCarloAEP"],
        meter=spark.createDataFrame(tables["meter"]),
        curtail=spark.createDataFrame(tables["curtail"]),
        reanalysis={"era5": spark.createDataFrame(tables["reanalysis"])},
    )
    mc = MonteCarloAEP(plant, uncertainty_windiness=(1, 2))
    mc.prepare()
    return mc


def test_aggregate_matches_pandas_oracle(analysis, tables):
    agg = analysis.aggregate
    # pandas mini-oracle: monthly sums of the same input arrays
    meter = tables["meter"].set_index("time")
    expected = meter["MMTR_SupWh"].resample("MS").sum() / 1e6
    # trim first/last partial months the same way the pipeline does
    common = agg.index.intersection(expected.index)
    assert len(common) >= 13
    np.testing.assert_allclose(
        agg.loc[common, "energy_gwh"].to_numpy(),
        expected.loc[common].to_numpy(), rtol=1e-9,
    )
    # gross = net + avail + curt
    np.testing.assert_allclose(
        agg["gross_energy_gwh"].to_numpy(),
        (agg["energy_gwh"] + agg["availability_gwh"] + agg["curtailment_gwh"]).to_numpy(),
        rtol=1e-12,
    )
    # partial month 2020-03 (data stops on the 15th) must be trimmed
    assert pd.Timestamp("2020-03-01") not in agg.index


def test_aggregate_trim_and_reanalysis(analysis):
    agg = analysis.aggregate
    assert "era5" in agg.columns
    assert agg["era5"].notna().all()
    # density-corrected monthly ws in a physical range
    assert agg["era5"].between(4, 13).all()


def test_long_term_losses(analysis):
    avail, curt = analysis.long_term_losses
    assert len(avail) == 12 and len(curt) == 12
    # fixture availability ≈ 1% of gross, curtailment ≈ 0.5%
    assert avail.mean() == pytest.approx(0.01, abs=0.003)
    assert curt.mean() == pytest.approx(0.005, abs=0.002)


def test_mc_distribution(analysis, tables):
    res = analysis.run(num_sim=100)
    assert len(res.results) == 100
    # truth: long-term annual gross energy from the generating process
    gross = tables["gross_kwh"]
    annual_gross_gwh = gross.mean() * 8766.0 / 1e6
    net_truth = annual_gross_gwh * (1 - 0.01)  # gross minus availability
    assert res.aep_mean == pytest.approx(net_truth, rel=0.10)
    # UQ spread present but small relative to the mean
    assert 0 < res.aep_std < 0.2 * res.aep_mean
    # r2 of the monthly regression should be high: energy derives from ws
    assert res.results["r2"].median() > 0.5
    assert res.results["avail_pct"].mean() == pytest.approx(0.01, abs=0.004)


def test_outlier_detection_path(analysis):
    analysis_od = MonteCarloAEP(
        analysis.plant, uncertainty_windiness=(1, 2), outlier_detection=True
    )
    res = analysis_od.run(num_sim=20)
    assert np.isfinite(res.results["aep_GWh"]).all()


def test_daily_resolution(spark, tables):
    plant = PlantData(
        spark, META, analysis_type=["MonteCarloAEP"],
        meter=spark.createDataFrame(tables["meter"]),
        curtail=spark.createDataFrame(tables["curtail"]),
        reanalysis={"era5": spark.createDataFrame(tables["reanalysis"])},
    )
    mc = MonteCarloAEP(plant, time_resolution="D", uncertainty_windiness=(1, 2))
    agg = mc.prepare()
    assert len(agg) > 360  # ~440 POR days
    res = mc.run(num_sim=10)
    assert np.isfinite(res.results["aep_GWh"]).all()


def test_ml_regression_models(spark, tables):
    # daily grain preserves the power curve's nonlinearity that monthly
    # averaging washes out — the regime where the reference's
    # reg_model etr/gbm/gam beats the linear fit (aep.py:897-959)
    plant = PlantData(
        spark, META, analysis_type=["MonteCarloAEP"],
        meter=spark.createDataFrame(tables["meter"]),
        curtail=spark.createDataFrame(tables["curtail"]),
        reanalysis={"era5": spark.createDataFrame(tables["reanalysis"])},
    )

    def run(model):
        mc = MonteCarloAEP(
            plant, time_resolution="D", reg_model=model,
            uncertainty_windiness=(1, 2),
        )
        return mc.run(num_sim=6)

    res_lin = run("lin")
    r2 = {"lin": float(res_lin.results["r2"].median())}
    for model in ("etr", "gbm", "gam"):
        res = run(model)
        assert np.isfinite(res.results["aep_GWh"]).all(), model
        r2[model] = float(res.results["r2"].median())
        # nonlinear daily relationship: every ML model must beat lin
        assert r2[model] > r2["lin"], r2
        # and the AEP distribution must stay in the same physical range
        assert res.results["aep_GWh"].mean() == pytest.approx(
            res_lin.results["aep_GWh"].mean(), rel=0.15
        ), model


def test_reg_model_validation(spark, tables):
    plant = PlantData(
        spark, META, analysis_type=["MonteCarloAEP"],
        meter=spark.createDataFrame(tables["meter"]),
        curtail=spark.createDataFrame(tables["curtail"]),
        reanalysis={"era5": spark.createDataFrame(tables["reanalysis"])},
    )
    with pytest.raises(ValueError, match="reg_model"):
        MonteCarloAEP(plant, reg_model="nope")


def test_distributed_run_matches_serial_exactly(analysis):
    """The distributed Monte-Carlo path must be bit-identical to the
    serial one: draws are made up-front, bootstraps are per-sim
    seeded, so batching across executors cannot change results."""
    serial = analysis.run(num_sim=12)
    for partitions in (1, 3, None):
        dist = analysis.run(num_sim=12, distributed=True, partitions=partitions)
        pd.testing.assert_frame_equal(serial.results, dist.results)


def test_distributed_run_matches_serial_nonlinear(analysis):
    mc = MonteCarloAEP(
        analysis.plant, reg_model="etr", uncertainty_windiness=(1, 2)
    )
    mc.prepare()
    serial = mc.run(num_sim=4)
    dist = mc.run(num_sim=4, distributed=True)
    pd.testing.assert_frame_equal(serial.results, dist.results)


# ------------------------------------------------- per-sim pandas oracle


def _pandas_sim(mc, draws, n):
    """One linear-regression sim in pandas: Series, calendar groupbys
    and index alignment, the shape of the reference's per-sim body.
    The oracle ``_simulate_batch`` must match."""
    monthly = mc.time_resolution == "MS"

    def calendar_mean(s):
        ix = s.index
        if monthly:
            return s.groupby(ix.month).mean()
        if mc.time_resolution == "D":
            return s.groupby([ix.month, ix.day]).mean()
        return s.groupby([ix.month, ix.day, ix.hour]).mean()

    product = str(draws["products"][n])
    loss_frac = draws["loss_frac"][n]
    years = int(draws["wind_years"][n])
    valid = mc._filter_outliers(product, draws["loss_thresh"][n], draws["out_thresh"][n])
    mc_gross = (
        valid["energy_gwh"].to_numpy() * draws["meter_frac"][n]
        + (valid["availability_gwh"].to_numpy()
           + valid["curtailment_gwh"].to_numpy()) * loss_frac
    )
    y = mc_gross * 30.0 / valid["num_days_expected"].to_numpy() if monthly else mc_gross
    X = mc._features(valid, product)
    idx = np.random.default_rng((mc.seed, 100_000 + int(n))).integers(0, len(X), len(X))

    ra = mc._reanalysis_aggregate.dropna(subset=[product])
    freq = ra.index.freq or pd.tseries.frequencies.to_offset(mc._freq)
    lt = ra.loc[ra.index >= ra.index[-1] + freq - pd.offsets.DateOffset(years=years)]
    por = mc.reanalysis_por

    coef, intercept = reg.ols_fit(X[idx], y[idx])
    yhat = reg.ols_predict(X[idx], coef, intercept)
    gross_lt = reg.ols_predict(mc._features(lt, product), coef, intercept)
    gross_por = pd.Series(
        reg.ols_predict(mc._features(por, product), coef, intercept), index=por.index
    )
    gross_por_cal = calendar_mean(gross_por)
    if monthly:
        roll = np.roll(NUM_DAYS_LT, 12 - mc._reanalysis_aggregate.index[-1].month)
        gross_lt = gross_lt * np.tile(roll, years) / 30.0
        gross_por_cal = gross_por_cal.to_numpy() * NUM_DAYS_LT / 30.0

    s = pd.Series(gross_lt, index=lt.index)
    ix = s.index
    if monthly:
        bucket = ((ix.year - ix[0].year) * 12 + (ix.month - ix[0].month)) // 12
    else:
        bucket = (ix - ix[0]).days // 365
    annual = s.groupby(bucket).sum().to_numpy()
    avail_loss, curt_loss = mc.long_term_losses
    # align on the calendar key alone: the losses' levels carry the
    # aggregate's index name, and pandas refuses to join unequal
    # MultiIndexes with no level name in common
    gross_cal = calendar_mean(s).rename_axis(avail_loss.index.names)
    avail_lt = float((gross_cal * (avail_loss * loss_frac)).sum() / gross_cal.sum())
    curt_lt = float((gross_cal * (curt_loss * loss_frac)).sum() / gross_cal.sum())
    lt_mean = gross_lt.sum() / years
    return {
        "aep_GWh": lt_mean * (1.0 - avail_lt),
        "avail_pct": avail_lt,
        "curt_pct": curt_lt,
        "lt_por_ratio": lt_mean / np.sum(gross_por_cal),
        "r2": reg.r2_score(y[idx], yhat),
        "mse": reg.mse_score(y[idx], yhat),
        "n_points": len(X),
        "iav": annual.std(ddof=1) / annual.mean() if len(annual) > 1 else 0.0,
    }


def _draws(mc, num=12, seed=3):
    rng = np.random.default_rng(seed)
    return {
        "products": np.array(mc.reanalysis_products * num)[:num],
        "meter_frac": rng.normal(1.0, 0.005, num),
        "loss_frac": rng.normal(1.0, 0.05, num),
        "wind_years": rng.integers(1, 3, num),
        "loss_thresh": rng.integers(10, 21, num) / 100.0,
        "out_thresh": (
            rng.integers(10, 31, num) / 10.0 if mc.outlier_detection else np.ones(num)
        ),
    }


def _assert_matches_pandas_oracle(mc):
    draws = _draws(mc)
    sims = np.array([0, 1, 7, 11])
    got = mc._simulate_batch(draws, sims)
    for j, n in enumerate(sims):
        want = _pandas_sim(mc, draws, n)
        for k, v in want.items():
            np.testing.assert_allclose(got[k][j], v, rtol=1e-12, err_msg=f"sim {n} {k}")


def test_sims_match_pandas_oracle_monthly(analysis):
    _assert_matches_pandas_oracle(analysis)


def test_sims_match_pandas_oracle_outlier_detection(analysis):
    mc = MonteCarloAEP(
        analysis.plant, uncertainty_windiness=(1, 2), outlier_detection=True
    )
    mc.prepare()
    _assert_matches_pandas_oracle(mc)


def test_sims_match_pandas_oracle_daily_feb29(spark):
    # a non-leap POR year, so the long-term losses have no 29 February,
    # while every 1-2 year window back from 2020-03-31 has one
    tables = make_aep_tables(por_start="2018-03-01", por_end="2019-03-15")
    plant = PlantData(
        spark, META, analysis_type=["MonteCarloAEP"],
        meter=spark.createDataFrame(tables["meter"]),
        curtail=spark.createDataFrame(tables["curtail"]),
        reanalysis={"era5": spark.createDataFrame(tables["reanalysis"])},
    )
    mc = MonteCarloAEP(plant, time_resolution="D", uncertainty_windiness=(1, 2))
    mc.prepare()
    avail_loss = mc.long_term_losses[0]
    assert len(avail_loss) == 365 and (2, 29) not in avail_loss.index
    _assert_matches_pandas_oracle(mc)
