"""ENGIE-shaped end-to-end regression: ONE coherent synthetic plant
(4 turbines, 2-year 10-min SCADA, 4-year hourly reanalysis, all tables
derived from a single weather process) with every loss planted at a
known value, run through ALL SIX §2.11 pipelines, asserting each
recovers its truth within the reference's own tolerance discipline
(decimal≈2-3, cf. /root/reference/test/regression/
electrical_losses.py:58-66, long_term_monte_carlo_aep.py).

Pipelines + truths:
- ElectricalLosses        -> 2.0% meter-vs-scada loss (exact)
- MonteCarloAEP (distributed=True) -> long-term net AEP from the
                             generating arrays; avail_pct ~= 1%
- TurbineLongTermGrossEnergy -> annual gross from the same arrays
- WakeLosses              -> planted 12% westerly-sector deficit
- StaticYawMisalignment   -> planted per-turbine vane offsets
- EYAGapAnalysis          -> waterfall closes exactly on the OA AEP,
                             fed by the OTHER pipelines' outputs

The six-pipeline test builds ~420k SCADA rows and runs six pipelines
in about 40 s on 4 cores; the yaw and TIE power-bin filter pins reuse
the same plant.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from openoa_spark.analysis.aep import MonteCarloAEP
from openoa_spark.analysis.electrical_losses import electrical_losses
from openoa_spark.analysis.eya import EYAEstimate, EYAGapAnalysis, OAResults
from openoa_spark.analysis.tie import TurbineLongTermGrossEnergy
from openoa_spark.analysis.wake_losses import WakeLosses
from openoa_spark.analysis.yaw import StaticYawMisalignment, _mad_keep, _power_bins
from openoa_spark.operators import filters
from openoa_spark.plant import PlantData
from tests.windfixtures import make_end_to_end_plant

META = {
    "latitude": 47.9, "longitude": 5.12, "capacity": 8.0,
    "scada": {"frequency": "10min"},
    "meter": {"frequency": "10min"},
    "curtail": {"frequency": "10min"},
    "reanalysis": {"era5": {"frequency": "h"}},
}


@pytest.fixture(scope="module")
def tables():
    return make_end_to_end_plant(por_days=730)


@pytest.fixture(scope="module")
def plant(spark, tables, tmp_path_factory):
    # The 2-year SCADA frame is ~420k rows: as a createDataFrame
    # LocalRelation it would be embedded IN the logical plan (every
    # optimizer pass copies it; the test JVM OOMs). Stage through
    # parquet so the plant reads real file scans — the production
    # shape.
    d = tmp_path_factory.mktemp("e2e_plant")
    paths = {}
    for name in ("scada", "meter", "curtail", "asset", "reanalysis"):
        p = str(d / f"{name}.parquet")
        # through Spark (not pandas.to_parquet) so timestamps land as
        # standard micros, the layout every other table reader sees
        spark.createDataFrame(tables[name]).write.mode("overwrite").parquet(p)
        paths[name] = p
    rd = lambda n: spark.read.parquet(paths[n])  # noqa: E731
    return PlantData(
        spark,
        META,
        analysis_type=[
            "MonteCarloAEP", "TurbineLongTermGrossEnergy",
            "WakeLosses-scada", "StaticYawMisalignment",
        ],
        scada=rd("scada"),
        meter=rd("meter"),
        curtail=rd("curtail"),
        asset=rd("asset"),
        reanalysis={"era5": rd("reanalysis")},
    )


def test_end_to_end_six_pipelines(spark, plant, tables):
    # 1. ElectricalLosses: the meter is scada x (1 - 0.02) by
    #    construction -> exact to the reference's decimal-3 and beyond
    el = electrical_losses(
        plant.scada.selectExpr("time", "asset_id", "WTUR_SupWh as energy_kwh"),
        plant.meter.selectExpr("time", "MMTR_SupWh as energy_kwh"),
    )
    assert el.loss == pytest.approx(tables["truth_elec_loss"], abs=1e-6)

    # 2. MonteCarloAEP, the cluster-fanned path the driver deploys
    mc = MonteCarloAEP(plant, uncertainty_windiness=(1, 2))
    mc.prepare()
    res_aep = mc.run(num_sim=20, distributed=True)
    assert res_aep.aep_mean == pytest.approx(
        tables["truth_net_annual_gwh"], rel=0.10
    )
    assert res_aep.results["r2"].median() > 0.5
    assert res_aep.results["avail_pct"].mean() == pytest.approx(
        tables["truth_avail"], abs=0.004
    )

    # 3. TurbineLongTermGrossEnergy: long-term annual gross vs the
    #    generating arrays' annualized potential
    tie = TurbineLongTermGrossEnergy(plant, UQ=False)
    res_tie = tie.run()
    gross_gwh = res_tie.plant_gross_gwh[0]
    assert gross_gwh == pytest.approx(
        tables["truth_gross_annual_gwh"], rel=0.15
    )

    # 4. WakeLosses: planted westerly 12% deficit on T02-T04
    wl = WakeLosses(plant, UQ=False, num_years_LT=2)
    res_wake = wl.run()
    assert res_wake.wake_losses_por[0] == pytest.approx(
        tables["truth_wake_por"], abs=0.02
    )
    per_turbine = dict(
        zip(res_wake.turbine_ids, res_wake.turbine_wake_losses_por[0])
    )
    assert abs(per_turbine["T01"]) < 0.02  # freestream turbine
    for t in ("T02", "T03", "T04"):
        assert per_turbine[t] > 0.05, t

    # 5. StaticYawMisalignment: planted static vane offsets
    yaw = StaticYawMisalignment(
        plant, min_vane_bin_count=20, power_bin_mad_thresh=13.0
    )
    res_yaw = yaw.run()
    est = dict(zip(res_yaw.turbine_ids, res_yaw.yaw_misalignment[0]))
    for t, true_offset in tables["yaw_offsets"].items():
        assert est[t] == pytest.approx(true_offset, abs=1.0), t

    # 6. EYAGapAnalysis fed by the OTHER pipelines' recovered values:
    #    the waterfall must close exactly on the OA AEP
    eya = EYAEstimate(
        aep=tables["truth_net_annual_gwh"] * 1.05,  # optimistic EYA
        gross_energy=tables["truth_gross_annual_gwh"] * 1.05,
        availability_losses=0.02,
        electrical_losses=0.025,
        turbine_losses=0.03,
        blade_degradation_losses=0.01,
        wake_losses=0.05,
    )
    oa = OAResults(
        aep=res_aep.aep_mean,
        availability_losses=float(res_aep.results["avail_pct"].mean()),
        electrical_losses=el.loss,
        turbine_ideal_energy=gross_gwh,
    )
    gap = EYAGapAnalysis(eya, oa)
    data = gap.run()
    assert data[0] == pytest.approx(eya.aep)
    assert sum(data) == pytest.approx(oa.aep)
    assert gap.waterfall[-1] == pytest.approx(oa.aep)


def test_yaw_power_bin_filter_matches_bin_filter(plant):
    """The yaw filter's NumPy median/MAD keeps exactly the rows that the
    general bounded-memory ``filters.bin_filter`` keeps, on groups
    larger than the bracket median's whole-group cap (5000 rows), for
    two (max_power_filter, mad) draws batched as two sims."""
    yaw = StaticYawMisalignment(plant)
    pairs = [(0.95, 7.0), (0.92, 4.0)]
    p = yaw._params([
        {"sim": i, "mpf": m, "mad": d, "bseed": None}
        for i, (m, d) in enumerate(pairs)
    ])
    base = yaw._rows()
    rows = base.toPandas()
    biggest, kept = 0, []
    for _, g in rows.groupby("asset_id"):
        ws, pw = g["WMET_HorWdSpd"].to_numpy(), g["WTUR_W"].to_numpy()
        cap = float(g["rated_power"].iat[0])
        for bins in _power_bins(pw, cap, p):
            biggest = max(biggest, np.bincount(bins[bins >= 0]).max())
        keep = _mad_keep(ws, pw, cap, p)
        kept.append(pd.DataFrame({
            "sim": np.repeat(p["sim"], len(g)),
            "asset_id": np.tile(g["asset_id"].to_numpy(), len(p["sim"])),
            "_t": np.tile(g["_t"].to_numpy(), len(p["sim"])),
        })[keep.ravel()])
    kept = pd.concat(kept)
    assert biggest > 5000
    cap = F.col("rated_power")
    for i, (mpf, mad) in enumerate(pairs):
        bin_width_frac = (mpf - yaw.min_power_filter) / yaw.num_power_bins
        old = filters.bin_filter(
            base.withColumn(
                "_p_norm",
                (F.col("WTUR_W") - F.lit(yaw.min_power_filter) * cap)
                / (F.lit(bin_width_frac) * cap),
            ),
            bin_col="_p_norm", value_col="WMET_HorWdSpd", bin_width=1.0,
            threshold=mad, center_type="median", threshold_type="mad",
            direction="all", keys=["asset_id"],
            bin_min_col=F.lit(0.0), bin_max_col=F.lit(float(yaw.num_power_bins)),
            flag_col="_flag",
        ).where(~F.col("_flag")).select("asset_id", "_t").toPandas()
        new = kept[kept["sim"] == i][["asset_id", "_t"]]
        assert 0 < len(old) < len(rows), (mpf, mad)
        key = ["asset_id", "_t"]
        pd.testing.assert_frame_equal(
            new.sort_values(key, ignore_index=True),
            old.sort_values(key, ignore_index=True),
        )


def test_tie_power_bin_filter_matches_bin_filter(plant):
    """TIE's ranked power-bin filter keeps exactly the rows that
    ``filters.bin_filter`` keeps, for two (wind_bin_thresh,
    max_power_filter) draws ranked together, whose domain edges cut
    different power bins: the cut bin's statistics cover only its rows
    below the edge."""
    tie = TurbineLongTermGrossEnergy(plant)
    pairs = [(1.5, 0.82), (2.5, 0.89)]
    thresholds = sorted({w for w, _ in pairs})
    mpfs = sorted({m for _, m in pairs})
    base = tie._base_flags()
    ranked = tie._ranked(base, thresholds, mpfs)
    n_base = base.count()
    cap = F.col("rated_power")
    cut_bins = set()
    for wbt, mpf in pairs:
        hi = (F.round(F.lit(mpf) * cap) - F.round(0.01 * cap)) / (0.06 * cap)
        cut_bins |= {r[0] for r in base.select(F.floor(hi)).distinct().collect()}
        old = filters.bin_filter(
            base, bin_col="_p_norm", value_col="WMET_HorWdSpd", bin_width=1.0,
            threshold=wbt, center_type="median", threshold_type="std",
            direction="all", keys=["asset_id"],
            bin_min_col=F.lit(0.0), bin_max_col=hi, flag_col="_flag",
        ).where(~F.col("_flag")).select("asset_id", "time").toPandas()
        new = ranked.where(
            F.col("_ranks")[mpfs.index(mpf)] <= thresholds.index(wbt)
        ).select("asset_id", "time").toPandas()
        assert 0 < len(old) < n_base, (wbt, mpf)
        key = ["asset_id", "time"]
        pd.testing.assert_frame_equal(
            new.sort_values(key, ignore_index=True),
            old.sort_values(key, ignore_index=True),
        )
    assert len(cut_bins) == 2
