"""WakeLosses tests against a fixture whose true wake loss is known
from the generating process."""

import numpy as np
import pytest

from openoa_spark.analysis.wake_losses import WakeLosses
from openoa_spark.plant import PlantData
from tests.windfixtures import make_wake_tables

META = {
    "latitude": 47.9, "longitude": 5.12, "capacity": 8.0,
    "scada": {"frequency": "10min"},
    "reanalysis": {"era5": {"frequency": "h"}},
}


@pytest.fixture(scope="module")
def tables():
    return make_wake_tables(days=30)


@pytest.fixture(scope="module")
def plant(spark, tables):
    return PlantData(
        spark, META, analysis_type=["WakeLosses-scada"],
        scada=spark.createDataFrame(tables["scada"]),
        asset=spark.createDataFrame(tables["asset"]),
        reanalysis={"era5": spark.createDataFrame(tables["reanalysis"])},
    )


@pytest.fixture(scope="module")
def result(plant):
    wl = WakeLosses(plant, UQ=False, num_years_LT=2)
    return wl.run()


def test_por_loss_matches_truth(result, tables):
    # the estimator reconstructs exactly the fixture's generating
    # process (T01 freestream for westerly winds), so POR loss should
    # land very close to truth
    assert result.wake_losses_por[0] == pytest.approx(
        tables["truth_por_loss"], abs=0.02
    )


def test_turbine_losses(result):
    losses = dict(zip(result.turbine_ids, result.turbine_wake_losses_por[0]))
    # T01 is always freestream → ~zero loss; others waked
    assert abs(losses["T01"]) < 0.02
    for t in ("T02", "T03", "T04"):
        assert losses[t] > 0.1


def test_lt_close_to_por(result, tables):
    # reanalysis shares the POR's (ws, wd) distribution → the LT
    # correction should roughly reproduce the POR loss
    assert result.wake_losses_lt[0] == pytest.approx(
        tables["truth_por_loss"], abs=0.05
    )


def test_wd_binned_losses(result):
    wd_bins = np.arange(0.0, 360.0, 5.0)
    eff = result.wake_losses_por_wd[0]
    # westerly bins must show efficiency < 1 (wake losses present)
    west = (wd_bins >= 250) & (wd_bins <= 290)
    assert np.nanmean(eff[west]) < 0.95
    # bins with no data are NaN
    assert np.isnan(eff[(wd_bins >= 0) & (wd_bins <= 180)]).all()


def test_uq_mode(plant):
    wl = WakeLosses(plant, UQ=True, num_sim=3, num_years_LT=(1, 2))
    res = wl.run()
    assert res.wake_losses_por.shape == (3,)
    assert np.isfinite(res.wake_losses_por).all()
    assert res.wake_losses_por.std() < 0.05


ATTRS = ("wake_losses_por", "turbine_wake_losses_por", "wake_losses_lt",
         "turbine_wake_losses_lt", "wake_losses_por_wd", "wake_losses_lt_wd",
         "wake_losses_por_ws", "wake_losses_lt_ws")


def test_each_sim_equals_its_one_sim_run(plant):
    """Every UQ sim equals a one-sim run of the same stages with that
    sim's drawn inputs (its scalar draws, bootstrap seed and resampled
    freestream sets): the sim axis of the grouped stages cannot leak
    one sim's numbers into another's."""
    res = WakeLosses(plant, UQ=True, num_sim=3, num_years_LT=(1, 2), seed=7).run()
    one = WakeLosses(plant, UQ=True, num_years_LT=(1, 2), seed=7)
    for i in range(3):
        r = one._simulate(res.inputs.iloc[[i]])
        for attr in ATTRS:
            np.testing.assert_allclose(
                getattr(r, attr)[0], getattr(res, attr)[i], rtol=1e-12,
                equal_nan=True, err_msg=f"sim {i} {attr}",
            )


def test_num_years_lt_draws_both_endpoints(plant):
    """UQ draws num_years_LT from the inclusive integer range, as
    MonteCarloAEP draws its windiness years."""
    inputs = WakeLosses(plant, UQ=True, num_years_LT=(1, 2))._draw(40)
    assert set(inputs["num_years_LT"]) == {1, 2}


def test_jobs_do_not_grow_with_sims(spark, plant):
    """The sims are an array axis, not Spark work per sim: 6 sims start
    at most 2 more jobs than 2 sims (the slack covers AQE's
    asynchronous broadcast jobs)."""
    sc = spark.sparkContext
    jobs = {}
    for n in (2, 6):
        sc.setJobGroup(f"wake_sims_{n}", f"wake_sims_{n}")
        try:
            WakeLosses(plant, UQ=True, num_sim=n, num_years_LT=(1, 2)).run()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs[n] = len(sc.statusTracker().getJobIdsForGroup(f"wake_sims_{n}"))
    assert jobs[6] <= jobs[2] + 2, jobs
