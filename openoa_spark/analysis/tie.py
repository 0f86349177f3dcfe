"""Turbine long-term gross energy (TIE): filter SCADA per turbine,
daily energy with missing-data correction, cross-turbine correlation
imputation, per-turbine (ws, wd, rho) → energy model, applied to
long-term daily reanalysis.

Parity target (behavior only): openoa/analysis/
turbine_long_term_gross_energy.py:46-565.

Spark-first inversions:
- The reference loops turbines in pandas (scada_dict); here every
  per-turbine step is ONE grouped/windowed DataFrame operation over
  the long (time, asset_id) table — the same plan at 4 or 4,000
  turbines.
- The reference ALSO loops Monte-Carlo sims in an outer python loop
  (turbine_long_term_gross_energy.py:310-328, default num_sim=20,000
  sequential passes). Here the SCADA rows never fan out by sim: a
  sim's power-bin filter is only a comparison against
  statistics every sim shares: the per-(turbine, power bin) median
  and sample std of wind speed are computed ONCE, and again once per
  distinct max_power_filter only for the bin its upper edge cuts.
  Each row then carries, per max_power_filter, its rank: how many of
  the run's sorted distinct wind-bin thresholds flag it. Exact
  decimal partial sums per (turbine, day, max_power_filter, rank)
  give every sim's daily energy as the sum of the partials at or
  below its own threshold's rank. Only the day-grain chain after
  that (correction threshold, gap spine, correlation imputation,
  fit, totals) is keyed by sim. Every aggregate is order-independent
  (exact decimal sums; sequential array folds for the correlations;
  per-group NumPy fits over day-sorted rows), so each sim's result
  equals a one-sim run of the per-stage methods bit for bit (pinned
  by tests/test_tie.py::test_each_sim_equals_its_one_sim_run).
- Per-turbine model fitting uses groupBy(sim, asset_id).applyInPandas
  (Arrow-batched); the daily reanalysis table it predicts over is
  bucket-grain (~365×years rows), broadcast through the closure.
- The GAM is the engine's P-spline additive model on raw
  (ws, wd, rho) — the same model CLASS as the reference's pygam
  LinearGAM (Eilers-Marx penalized B-splines with pygam's defaults:
  20 cubic splines/feature, 2nd-order difference penalty, λ=0.6),
  reimplemented in NumPy since pygam is unavailable
  (functions/regression.py:PSplineGAM / gam_3param_fit; reference:
  functions.gam_3param at power_curve/functions.py:153-200).
  ``extrapolation`` ("clip" default; "linear" = pygam's edge-tangent
  behavior) is caller-configurable (r7 ADVICE) — see gam_3param_fit
  for why clip is the default.
- Stated model tolerance (pinned by tests/test_regression_gam.py::
  test_pspline_power_curve_deviation_envelope on the reference's own
  power-curve shapes): RMS ≤0.6% of rated, ≤0.5% pointwise away from
  slope discontinuities, ≤5% within ±1.5 m/s of a hard rated-power
  knee — any smooth penalized basis, pygam included, rounds the
  corner. Gross-energy numbers from this pipeline carry that envelope
  on top of statistical recovery.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from openoa_spark.functions import met
from openoa_spark.functions.regression import gam_3param_fit
from openoa_spark.functions.stats import davg, dsum, grouped_exact_median
from openoa_spark.operators import filters
from openoa_spark.operators.imputing import impute_all_assets_by_correlation
from openoa_spark.operators.timeseries import resample
from openoa_spark.plant import PlantData


@dataclass
class TIEResult:
    plant_gross_gwh: np.ndarray  # one entry per sim (or per product, no-UQ)
    inputs: pd.DataFrame         # per-sim sampled parameters
    turbine_lt_gross: pd.DataFrame | None = None  # last sim: (day × turbine) energy

    @property
    def plant_gross_mean(self) -> float:
        return float(np.mean(self.plant_gross_gwh))


@dataclass
class TurbineLongTermGrossEnergy:
    """Parameters mirror turbine_long_term_gross_energy.py:100-130;
    scalar values are used when UQ=False, (min, max) sampling ranges
    when UQ=True. ``extrapolation`` is the GAM edge behavior ("clip"
    default, "linear" = pygam's)."""

    plant: PlantData
    reanalysis_products: list[str] | None = None
    UQ: bool = False
    num_sim: int = 100
    uncertainty_scada: float = 0.005
    wind_bin_threshold: float | tuple[float, float] = (1.0, 3.0)
    max_power_filter: float | tuple[float, float] = (0.8, 0.9)
    correction_threshold: float | tuple[float, float] = (0.85, 0.95)
    extrapolation: str = "clip"
    seed: int = 42

    _daily_reanalysis_memo: dict = field(init=False, default_factory=dict)
    _por_memo: dict = field(init=False, default_factory=dict)

    def __post_init__(self):
        if self.UQ:
            for name in (
                "wind_bin_threshold", "max_power_filter", "correction_threshold"
            ):
                v = getattr(self, name)
                if np.isscalar(v) or len(v) != 2:
                    raise ValueError(
                        f"UQ=True needs {name} as a (low, high) range to "
                        f"draw from, got {v!r}"
                    )
        if self.reanalysis_products is None:
            self.reanalysis_products = sorted(self.plant.reanalysis)
        self._freq_s = self.plant.metadata.scada.frequency_seconds or 600.0
        self._expected_count = 86400.0 / self._freq_s

    # ------------------------------------------------------------ stages

    def _base_flags(self) -> DataFrame:
        """The sim-INDEPENDENT part of the filter cascade
        (turbine_long_term_gross_energy.py:330-388): range flag on ws,
        derate/curtailment window flag and frozen-sensor flag, OR-ed
        into ``_flag_base``, plus the normalized power-bin coordinate
        ``_p_norm``."""
        asset = self.plant.asset.where(F.col("type") == "turbine").select(
            "asset_id", "rated_power"
        )
        df = (
            self.plant.scada
            .dropna(subset=["WMET_HorWdSpd", "WTUR_SupWh"])
            .join(F.broadcast(asset), "asset_id", "inner")
        )
        cap = F.col("rated_power")
        df = df.withColumn(
            "_flag_range", filters.range_flag("WMET_HorWdSpd", 0.0, 40.0)
        ).withColumn(
            "_flag_window",
            F.col("WMET_HorWdSpd").between(5.0, 40.0)
            & ~F.col("WTUR_W").between(0.02 * cap, 1.2 * cap),
        )
        df = filters.unresponsive_flag(
            df, "WMET_HorWdSpd", threshold=3, time_col="time",
            keys=["asset_id"], flag_col="_flag_frozen",
        )
        # per-turbine power bins at 6% of rated power, domain
        # [round(1% cap), round(max_power_filter·cap)) — normalized so
        # one scalar-width grouped aggregate handles every turbine
        return df.withColumn(
            "_flag_base",
            F.col("_flag_range") | F.col("_flag_window") | F.col("_flag_frozen"),
        ).withColumn(
            "_p_norm",
            (F.col("WTUR_W") - F.round(0.01 * cap)) / (0.06 * cap),
        )

    @staticmethod
    def _power_bin_stats(binned: DataFrame) -> DataFrame:
        """(asset_id, _bin) → ``_st``, a map from statistics key ``_v``
        to the (``_center``, ``_dev``) of wind speed: -1 for the whole
        bin, v for the part of the bin below max_power_filter v's edge.
        The median is bin_filter's exact median; the sample std comes
        from exact decimal sums (n, Σx, Σx²), so neither depends on the
        row order. ``binned`` rows carry the keys they feed in ``_g``."""
        keys = ["asset_id", "_v", "_bin"]
        ws = F.col("WMET_HorWdSpd")
        rows = binned.select(
            "asset_id", "_bin", "WMET_HorWdSpd",
            F.explode(F.array_compact(F.array_distinct("_g"))).alias("_v"),
        )
        n, sx, sxx = F.col("_dn"), F.col("_dsx"), F.col("_dsxx")
        dev = rows.groupBy(*keys).agg(
            F.count(ws).cast("double").alias("_dn"),
            F.sum(ws.cast("decimal(38,12)")).cast("double").alias("_dsx"),
            F.sum((ws * ws).cast("decimal(38,12)")).cast("double").alias("_dsxx"),
        ).select(
            *keys,
            F.when(
                n >= 2.0,
                F.sqrt(F.greatest(F.lit(0.0), (n * sxx - sx * sx) / (n * (n - 1.0)))),
            ).alias("_dev"),
        )
        return (
            grouped_exact_median(rows, keys, "WMET_HorWdSpd", "_center")
            .join(dev, keys)
            .groupBy("asset_id", "_bin")
            .agg(F.map_from_entries(F.collect_list(
                F.struct("_v", F.struct("_center", "_dev"))
            )).alias("_st"))
        )

    def _ranked(
        self, base: DataFrame, thresholds: list[float], mpfs: list[float]
    ) -> DataFrame:
        """``base`` rows with ``_ranks``: for each of the ascending
        distinct max_power_filter draws ``mpfs``, how many of the
        ascending distinct wind-bin ``thresholds`` flag the row
        (turbine_long_term_gross_energy.py:368-378). A sim with
        thresholds (thresholds[j], mpfs[v]) drops the row iff
        ``_ranks[v] > j``.

        The filter is bin_filter's std test per turbine: bins [k, k+1)
        of ``_p_norm`` over [0, hi), flag |ws − median| > t·std, rows
        outside the domain never flagged. A draw moves only the edge
        hi, so every bin below the one hi cuts shares one statistic
        across draws; only the cut bin gets a per-draw statistic."""
        x, cap = F.col("_p_norm"), F.col("rated_power")
        groups = []
        for v, m in enumerate(mpfs):
            hi = (F.round(F.lit(float(m)) * cap) - F.round(0.01 * cap)) / (0.06 * cap)
            groups.append(F.when(
                (x >= 0.0) & (x < hi),
                F.when(F.floor(x) == F.floor(hi), F.lit(v)).otherwise(F.lit(-1)),
            ))
        binned = base.withColumn("_bin", F.floor(x)).withColumn("_g", F.array(*groups))
        t = F.array(*[F.lit(float(w)) for w in thresholds])
        steps = F.array(*[
            F.lit(1 << k) for k in reversed(range(len(thresholds).bit_length()))
        ])

        def rank(st: Column) -> Column:
            # flags are monotone in t, so binary-search the count; past
            # the end F.get is NULL and a NULL comparison flags nothing
            d = F.abs(F.col("WMET_HorWdSpd") - st["_center"])
            return F.aggregate(steps, F.lit(0), lambda lo, k: F.when(
                d > F.get(t, lo + k - 1) * st["_dev"], lo + k
            ).otherwise(lo))

        st = F.col("_st")
        return (
            binned.join(
                F.broadcast(self._power_bin_stats(binned)), ["asset_id", "_bin"], "left"
            )
            .withColumn("_r", rank(st[-1]))
            .withColumn("_ranks", F.array(*[
                F.when(F.col("_g")[v] == -1, F.col("_r"))
                .when(F.col("_g")[v] == v, rank(st[v]))
                .otherwise(F.lit(0))
                for v in range(len(mpfs))
            ]))
            .drop("_bin", "_g", "_st", "_r")
        )

    def filter_turbine_data(
        self, wind_bin_thresh: float, max_power_filter: float
    ) -> DataFrame:
        """One parameter set's flags ``_flag_final`` through the ranking
        ``run()`` uses."""
        ranked = self._ranked(
            self._base_flags(), [float(wind_bin_thresh)], [float(max_power_filter)]
        )
        return ranked.withColumn(
            "_flag_final", F.col("_flag_base") | (F.col("_ranks")[0] > 0)
        )

    def _scada_por(self):
        """(first day, last day) of the SCADA POR; memoized."""
        if "por" not in self._por_memo:
            self._por_memo["por"] = self.plant.scada.agg(
                F.date_trunc("day", F.min("time")).alias("lo"),
                F.date_trunc("day", F.max("time")).alias("hi"),
            ).first()
        return self._por_memo["por"]

    def _sims_frame(self, rows: list[tuple]) -> DataFrame:
        """(sim, _v, _j, _ct) rows: each sim's max_power_filter index,
        its wind-bin threshold's index and its correction threshold."""
        return self.plant.spark.createDataFrame(
            rows, "sim int, _v int, _j int, _ct double"
        )

    def _daily_valid_energy(self, ranked: DataFrame, sims: DataFrame) -> DataFrame:
        """Daily per-(sim, turbine) energy with missing-data correction;
        days below the sim's reported-data threshold dropped, then
        gap-spine + cross-turbine correlation imputation keyed by sim
        (turbine_long_term_gross_energy.py:419-495).

        Rows group into exact decimal partial sums per (turbine, day,
        ``_ranks``); a sim's day is the sum of the partials its filter
        keeps, cast to double once."""
        partials = resample(
            ranked.where(~F.col("_flag_base")),
            "time", "D",
            {
                "_e": F.sum(F.col("WTUR_SupWh").cast("decimal(32,9)")),
                "_n": F.count("WTUR_SupWh"),
            },
            keys=["asset_id", "_ranks"], bucket_col="day",
        ).select(
            "asset_id", "day", F.posexplode("_ranks").alias("_v", "_r"), "_e", "_n"
        )
        daily = (
            partials.join(F.broadcast(sims), "_v")
            .where(F.col("_r") <= F.col("_j"))
            .groupBy("sim", "asset_id", "day", "_ct")
            .agg(F.sum("_e").cast("double").alias("_e"), F.sum("_n").alias("_n"))
        )
        daily = daily.withColumn(
            "energy_corrected", F.col("_e") * F.lit(self._expected_count) / F.col("_n")
        ).where(F.col("_n") >= F.col("_ct") * F.lit(self._expected_count))
        # the imputation reads this table in several jobs: checkpoint it
        # so the ranking and the partial sums run once
        daily = daily.localCheckpoint(eager=False)
        # full (sim × day × turbine) spine so imputation sees the gaps
        por = self._scada_por()
        spine = (
            self.plant.spark.range(1).select(
                F.explode(
                    F.sequence(F.lit(por["lo"]), F.lit(por["hi"]),
                               F.expr("interval 1 day"))
                ).alias("day")
            ).crossJoin(
                self.plant.asset.where(F.col("type") == "turbine").select("asset_id")
            ).crossJoin(F.broadcast(sims.select("sim")))
        )
        gapped = spine.join(
            daily.select("sim", "day", "asset_id", "energy_corrected"),
            ["sim", "day", "asset_id"], "left",
        )
        imputed = impute_all_assets_by_correlation(
            gapped, "day", "asset_id", "energy_corrected", group_cols=["sim"]
        ).withColumnRenamed("energy_corrected", "energy_imputed")
        return imputed.dropna(subset=["energy_imputed"])

    def daily_valid_energy(self, filtered: DataFrame, correction_threshold: float) -> DataFrame:
        """One parameter set's daily energy from ``filter_turbine_data``
        rows, through the daily sum ``run()`` uses."""
        sims = self._sims_frame([(0, 0, 0, float(correction_threshold))])
        return self._daily_valid_energy(filtered, sims).drop("sim")

    def daily_reanalysis(self, product: str) -> pd.DataFrame:
        """Daily means of u/v/ws/rho with wd recomputed from the daily
        mean components (turbine_long_term_gross_energy.py:390-416);
        memoized per product. Collected: bucket grain."""
        if product in self._daily_reanalysis_memo:
            return self._daily_reanalysis_memo[product]
        df = self.plant.reanalysis[product]
        cols = set(df.columns)
        if not {"WMETR_HorWdSpdU", "WMETR_HorWdSpdV"} <= cols:
            u, v = met.compute_u_v_components("WMETR_HorWdSpd", "WMETR_HorWdDir")
            df = df.withColumn("WMETR_HorWdSpdU", u).withColumn("WMETR_HorWdSpdV", v)
        agg = resample(
            df, "time", "D",
            {
                "u": F.avg("WMETR_HorWdSpdU"), "v": F.avg("WMETR_HorWdSpdV"),
                "ws": F.avg("WMETR_HorWdSpd"), "rho": F.avg("WMETR_AirDen"),
            },
            bucket_col="day",
        ).withColumn("wd", met.compute_wind_direction("u", "v"))
        pdf = agg.toPandas().set_index("day").sort_index()
        self._daily_reanalysis_memo[product] = pdf
        return pdf

    def _fit_and_apply_keyed(
        self, scada_valid: DataFrame, sim_lookup: dict[int, tuple[str, float]]
    ) -> DataFrame:
        """Per-(sim, turbine) model fit + long-term prediction in one
        applyInPandas over groupBy(sim, asset_id)
        (turbine_long_term_gross_energy.py:497-565). ``sim_lookup``
        maps sim → (reanalysis product, scada_data_fraction); the
        bucket-grain daily reanalysis tables ship through the closure.
        Groups are day-SORTED before fitting so the NumPy solve sees a
        deterministic row order whatever the shuffle layout. Returns
        (sim, asset_id, day, gross) over the full reanalysis span."""
        from openoa_spark.session import ship_package

        ship_package(scada_valid.sparkSession)  # closure refs gam_3param_fit
        rean_by_product = {
            p: self.daily_reanalysis(p).reset_index()[["day", "ws", "wd", "rho"]]
            for p in sorted({prod for prod, _ in sim_lookup.values()})
        }
        extrap = self.extrapolation
        schema = StructType([
            StructField("sim", IntegerType()),
            StructField("asset_id", StringType()),
            StructField("day", TimestampType()),
            StructField("gross", DoubleType()),
        ])

        def fit_predict(key, pdf):
            sim, t = int(key[0]), key[1]
            product, fraction = sim_lookup[sim]
            rean_reset = rean_by_product[product]
            merged = (
                pdf.sort_values("day")
                .merge(rean_reset, on="day", how="inner")
                .dropna(subset=["energy_imputed", "ws", "wd", "rho"])
            )
            if len(merged) < 10:
                return pd.DataFrame(columns=["sim", "asset_id", "day", "gross"])
            y = merged["energy_imputed"].to_numpy() * fraction
            model = gam_3param_fit(
                merged["ws"].to_numpy(), merged["wd"].to_numpy(),
                merged["rho"].to_numpy(), y, extrapolation=extrap,
            )
            pred = np.maximum(
                model(rean_reset["ws"].to_numpy(), rean_reset["wd"].to_numpy(),
                      rean_reset["rho"].to_numpy()),
                0.0,
            )
            return pd.DataFrame({
                "sim": sim, "asset_id": t, "day": rean_reset["day"], "gross": pred,
            })

        return (
            scada_valid.select("sim", "asset_id", "day", "energy_imputed")
            .groupBy("sim", "asset_id")
            .applyInPandas(fit_predict, schema)
        )

    def fit_and_apply(
        self, scada_valid: DataFrame, product: str, scada_fraction: float
    ) -> DataFrame:
        """Single-parameter-set fit+predict (per-sim surface): one sim
        through the sim-keyed path."""
        keyed = (
            scada_valid if "sim" in scada_valid.columns
            else scada_valid.withColumn("sim", F.lit(0))
        )
        return self._fit_and_apply_keyed(
            keyed, {0: (product, float(scada_fraction))}
        ).drop("sim")

    def _plant_gross_by_sim(self, preds: DataFrame) -> DataFrame:
        """Monthly sums per (sim, turbine) → calendar-month mean →
        per-sim total (turbine_long_term_gross_energy.py:536-563), in
        GWh (input kWh). Exact decimal sums at every level so the
        totals are order-independent."""
        monthly = resample(
            preds, "day", "MS",
            {"e": dsum("gross", scale=9, precision=32)},
            keys=["sim", "asset_id"], bucket_col="month",
        )
        cal = monthly.groupBy(
            "sim", "asset_id", F.month("month").alias("cal_month")
        ).agg(davg("e", scale=9, precision=32).alias("e_avg"))
        return cal.groupBy("sim").agg(
            (dsum("e_avg", scale=9, precision=32) / F.lit(1e6)).alias("gross_gwh")
        )

    def plant_gross_from_predictions(self, preds: DataFrame) -> float:
        """Single-sim total (per-sim surface)."""
        keyed = (
            preds if "sim" in preds.columns
            else preds.withColumn("sim", F.lit(0))
        )
        rows = self._plant_gross_by_sim(keyed).collect()
        return float(rows[0]["gross_gwh"]) if rows else 0.0

    # ------------------------------------------------------------ run

    def run(self, num_sim: int | None = None) -> TIEResult:
        rng = np.random.default_rng(self.seed)
        if self.UQ:
            n = num_sim or self.num_sim
            inputs = pd.DataFrame({
                "reanalysis_product": rng.choice(self.reanalysis_products, n),
                "scada_data_fraction": rng.normal(1.0, self.uncertainty_scada, n),
                "wind_bin_thresh": rng.integers(
                    int(self.wind_bin_threshold[0] * 100),
                    int(self.wind_bin_threshold[1] * 100), n) / 100.0,
                "max_power_filter": rng.integers(
                    int(self.max_power_filter[0] * 100),
                    int(self.max_power_filter[1] * 100), n) / 100.0,
                "correction_threshold": rng.integers(
                    int(self.correction_threshold[0] * 100),
                    int(self.correction_threshold[1] * 100), n) / 100.0,
            })
        else:
            def _scalar(v, default):
                return float(v) if np.isscalar(v) else default
            inputs = pd.DataFrame({
                "reanalysis_product": self.reanalysis_products,
                "scada_data_fraction": 1.0,
                "wind_bin_thresh": _scalar(self.wind_bin_threshold, 2.0),
                "max_power_filter": _scalar(self.max_power_filter, 0.85),
                "correction_threshold": _scalar(self.correction_threshold, 0.90),
            })

        thresholds = sorted(set(inputs["wind_bin_thresh"].astype(float)))
        mpfs = sorted(set(inputs["max_power_filter"].astype(float)))
        sims = self._sims_frame([
            (int(i), mpfs.index(float(r["max_power_filter"])),
             thresholds.index(float(r["wind_bin_thresh"])),
             float(r["correction_threshold"]))
            for i, r in inputs.iterrows()
        ])
        lookup = {
            int(i): (str(r["reanalysis_product"]), float(r["scada_data_fraction"]))
            for i, r in inputs.iterrows()
        }
        base = self._base_flags().cache()
        try:
            valid = self._daily_valid_energy(
                self._ranked(base, thresholds, mpfs), sims
            )
            preds = self._fit_and_apply_keyed(valid, lookup).cache()
            totals = {
                int(r["sim"]): float(r["gross_gwh"])
                for r in self._plant_gross_by_sim(preds).collect()
            }
            gross = np.array([totals.get(int(i), 0.0) for i in inputs.index])
            lt = (
                preds.where(F.col("sim") == int(inputs.index[-1]))
                .drop("sim").toPandas()
            )
            preds.unpersist()
        finally:
            base.unpersist()
        return TIEResult(gross, inputs, lt)
