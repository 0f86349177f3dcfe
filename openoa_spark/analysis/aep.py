"""Monte-Carlo AEP: long-term annual energy production with
uncertainty quantification.

Parity target (behavior only): openoa/analysis/aep.py:64-1096.

Spark-first split (survey §3.2): the heavy dataflow — meter/curtail
calendar resampling, gross-energy computation, density-corrected
reanalysis means over the full-month long-term window, joins — runs
as ONE lazy Spark DAG producing a tiny aggregate table (≤240 rows
monthly, ≤7.3k daily). The Monte-Carlo loop then runs in NumPy over
the collected aggregate with the reference's memoization (per-product
outlier filtering and long-term window reuse,
aep.py:736-741/1110-1115): the filtered POR arrays and each long-term
window with its calendar codes are built once per run, and a sim is
one bootstrap regression plus ``bincount`` calendar sums, about
0.25 ms on the one-year benchmark plant whatever the raw data size.
The 100-TB path is the Spark prep. Distributing the sims pays only
for long runs: see ``MonteCarloAEP.run``.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import NamedTuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F

from openoa_spark.functions import met, regression as reg
from openoa_spark.operators.timeseries import percent_nan, resample
from openoa_spark.plant import PlantData

_RESAMPLE = {"MS": "MS", "ME": "MS", "D": "D", "h": "h"}
_CALENDAR_SAMPLES = {"MS": 12, "D": 365, "h": 365 * 24}
_CALENDAR_KEYS = {"MS": 1, "D": 2, "h": 3}
_RESAMPLE_HOURS = {"MS": 30 * 24, "D": 24, "h": 1}
# long-term mean days per calendar month (aep.py:185-188)
NUM_DAYS_LT = np.array([31, 28.25, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31])

_SIM_OUTPUTS = (
    "aep_GWh", "avail_pct", "curt_pct", "lt_por_ratio", "r2", "mse",
    "n_points", "iav",
)


@dataclass
class MonteCarloAEPResult:
    results: pd.DataFrame  # one row per sim: aep_GWh, avail_pct, curt_pct, lt_por_ratio, r2, mse, n_points, iav
    aggregate: pd.DataFrame
    long_term_losses: tuple[pd.Series, pd.Series]

    @property
    def aep_mean(self) -> float:
        return float(self.results["aep_GWh"].mean())

    @property
    def aep_std(self) -> float:
        return float(self.results["aep_GWh"].std())


@dataclass
class MonteCarloAEP:
    """Configure, prepare (Spark), and run (NumPy) the AEP analysis.

    Parameters mirror openoa/analysis/aep.py:75-218; ``time_resolution``
    supports "MS" (monthly, Huber outlier filtering) and "D" (daily,
    bin filtering). ``reg_model`` ∈ {lin, etr, gbm, gam}: the nonlinear
    models run the reference's once-per-product randomized hyper-opt
    (aep.py:936-951) then refit per simulation on the bootstrap.
    """

    plant: PlantData
    reanalysis_products: list[str] | None = None
    time_resolution: str = "MS"
    reg_model: str = "lin"
    reg_temperature: bool = False
    reg_wind_direction: bool = False
    uncertainty_meter: float = 0.005
    uncertainty_losses: float = 0.05
    uncertainty_windiness: tuple[int, int] = (10, 20)
    uncertainty_loss_max: tuple[int, int] = (10, 20)
    outlier_detection: bool = False
    uncertainty_outlier: tuple[float, float] = (1.0, 3.0)
    uncertainty_nan_energy: float = 0.01
    end_date_lt: str | pd.Timestamp | None = None
    seed: int = 42

    aggregate: pd.DataFrame = field(init=False, default=None)
    _reanalysis_aggregate: pd.DataFrame = field(init=False, default=None)
    reanalysis_por: pd.DataFrame = field(init=False, default=None)
    long_term_losses: tuple = field(init=False, default=None)

    def __post_init__(self):
        if self.reanalysis_products is None:
            self.reanalysis_products = sorted(self.plant.reanalysis)
        if self.time_resolution not in ("MS", "D", "h"):
            raise ValueError("time_resolution must be MS, D, or h")
        if self.reg_model not in ("lin", "etr", "gbm", "gam"):
            raise ValueError("reg_model must be lin, etr, gbm, or gam")
        self._freq = _RESAMPLE[self.time_resolution]
        self._monthly = self.time_resolution == "MS"
        self._capacity_mw = float(self.plant.metadata.capacity)

    def __getstate__(self):
        """Worker-side pickling for the distributed Monte-Carlo path:
        everything the per-sim math touches is plain pandas/NumPy/
        config; the PlantData handle (Spark session, DataFrames) is
        driver-only and must not ship."""
        state = self.__dict__.copy()
        state["plant"] = None
        return state

    # ------------------------------------------------------------ Spark prep

    def _meter_aggregate(self) -> DataFrame:
        """Meter → bucketed energy_gwh + nan% (+ month-day accounting).
        Semantics: aep.py:439-473."""
        meter = self.plant.meter
        aggs = {
            "energy_gwh": F.sum("MMTR_SupWh") / 1e6,
            "energy_nan_perc": percent_nan("MMTR_SupWh"),
        }
        if self._monthly:
            aggs["num_days_actual"] = F.countDistinct(F.date_trunc("day", F.col("time")))
        out = resample(meter, "time", self._freq, aggs, bucket_col="period")
        if self._monthly:
            out = out.withColumn("num_days_expected", F.dayofmonth(F.last_day("period")))
        return out

    def _curtail_aggregate(self) -> DataFrame:
        """Curtail → availability/curtailment GWh + nan% (aep.py:475-529)."""
        curtail = self.plant.curtail
        return resample(
            curtail, "time", self._freq,
            {
                "availability_gwh": F.sum("IAVL_DnWh") / 1e6,
                "curtailment_gwh": F.sum("IAVL_ExtPwrDnWh") / 1e6,
                "avail_nan_perc": percent_nan("IAVL_DnWh"),
                "curt_nan_perc": percent_nan("IAVL_ExtPwrDnWh"),
            },
            bucket_col="period",
        )

    def _reanalysis_window(self) -> tuple[pd.Timestamp, pd.Timestamp]:
        """Common full-period [start, end] across products
        (aep.py:543-585): start snaps forward to the next full
        month/day, end snaps back to the last full month/day."""
        mins, maxs = [], []
        for p in self.reanalysis_products:
            row = self.plant.reanalysis[p].agg(
                F.min("time").alias("lo"), F.max("time").alias("hi")
            ).first()
            mins.append(pd.Timestamp(row["lo"]))
            maxs.append(pd.Timestamp(row["hi"]))
        start = max(mins).replace(minute=0)
        end = min(maxs)
        if self._monthly:
            if start != start.normalize() or start.day != 1:
                start = (start.normalize().replace(day=1) + pd.DateOffset(months=1))
        elif self.time_resolution == "D" and start != start.normalize():
            start = start.normalize() + pd.DateOffset(days=1)
        if self.end_date_lt is not None:
            end_lt = pd.Timestamp(self.end_date_lt)
            if self._monthly and (end_lt + pd.DateOffset(hours=1)).month == end_lt.month:
                end_lt = (end_lt.normalize().replace(day=1) + pd.DateOffset(months=1)
                          - pd.DateOffset(hours=1))
            elif self.time_resolution == "D":
                end_lt = end_lt.replace(hour=23, minute=0)
            if end_lt > end:
                raise ValueError(
                    "Invalid end date for long-term correction. The end date cannot "
                    "exceed the last full time period in the provided reanalysis data."
                )
            end = end_lt
        elif self._monthly and (end + pd.DateOffset(hours=1)).month == end.month:
            end = end.normalize().replace(day=1) - pd.DateOffset(hours=1)
        return start, end

    def _reanalysis_aggregate_df(self) -> pd.DataFrame:
        """Per product: density-corrected ws (+ optional temp/u/v/wd)
        bucket means over the LT window, on a full calendar spine.
        Semantics: aep.py:531-641. Collected: ≤240 rows/product-column
        at monthly resolution even for 20 years."""
        start, end = self._reanalysis_window()
        spine = pd.date_range(start=start, end=end, freq=self._freq)
        out = pd.DataFrame(index=spine)
        # windiness coverage check (aep.py:592-604)
        required_start = (
            spine[-1] + spine.freq - pd.offsets.DateOffset(years=self.uncertainty_windiness[1])
        )
        if spine[0] > required_start:
            raise ValueError(
                "The date range of the provided reanalysis data is not long enough "
                "to perform the long-term correction."
                if self.end_date_lt is None else
                "Invalid end date argument for long-term correction. This end date does "
                "not provide enough reanalysis data for the long-term correction."
            )
        for p in self.reanalysis_products:
            df = self.plant.reanalysis[p].where(
                (F.col("time") >= F.lit(start.to_pydatetime()))
                & (F.col("time") <= F.lit(end.to_pydatetime()))
            )
            mean_dens = df.agg(F.avg("WMETR_AirDen")).first()[0]
            df = df.withColumn(
                "ws_dens_corr",
                met.air_density_adjusted_wind_speed(
                    "WMETR_HorWdSpd", "WMETR_AirDen", F.lit(mean_dens)
                ),
            )
            aggs = {"ws": F.avg("ws_dens_corr")}
            if self.reg_temperature:
                aggs["temp"] = F.avg("WMETR_EnvTmp")
            if self.reg_wind_direction:
                aggs["u"] = F.avg("WMETR_HorWdSpdU")
                aggs["v"] = F.avg("WMETR_HorWdSpdV")
            agg = resample(df, "time", self._freq, aggs, bucket_col="period")
            pdf = agg.toPandas().set_index("period").sort_index()
            out[p] = pdf["ws"]
            if self.reg_temperature:
                out[f"{p}_WMETR_EnvTmp"] = pdf["temp"]
            if self.reg_wind_direction:
                out[f"{p}_WMETR_HorWdSpdU"] = pdf["u"]
                out[f"{p}_WMETR_HorWdSpdV"] = pdf["v"]
                # wd from the bucket-mean wind components (aep.py:628-638)
                out[f"{p}_WMETR_HorWdDir"] = np.rad2deg(
                    np.pi - np.arctan2(-pdf["u"], pdf["v"])
                )
        return out

    def prepare(self) -> pd.DataFrame:
        """Build the aggregate table: Spark resamples + joins, then
        collect (aep.py:414-437). Returns the aggregate pandas frame."""
        meter = self._meter_aggregate()
        curtail = self._curtail_aggregate()
        joined = meter.join(curtail, "period", "inner")
        joined = (
            joined.withColumn(
                "gross_energy_gwh",
                F.col("energy_gwh") + F.col("availability_gwh") + F.col("curtailment_gwh"),
            )
            .withColumn("availability_pct", F.col("availability_gwh") / F.col("gross_energy_gwh"))
            .withColumn("curtailment_pct", F.col("curtailment_gwh") / F.col("gross_energy_gwh"))
            .withColumn(
                "nan_flag",
                (F.col("energy_nan_perc") > self.uncertainty_nan_energy)
                | (F.col("avail_nan_perc") > self.uncertainty_nan_energy)
                | (F.col("curt_nan_perc") > self.uncertainty_nan_energy),
            )
        )
        agg = joined.toPandas().set_index("period").sort_index()
        agg.index = pd.DatetimeIndex(agg.index)
        if self._monthly and len(agg):  # trim partial first/last months (aep.py:643-653)
            for p in [agg.index[0], agg.index[-1]]:
                if agg.loc[p, "num_days_expected"] != agg.loc[p, "num_days_actual"]:
                    agg = agg.drop(p)
        self._reanalysis_aggregate = self._reanalysis_aggregate_df()
        agg = agg.join(self._reanalysis_aggregate)
        agg = agg.dropna(subset=["gross_energy_gwh"] + list(self.reanalysis_products))
        self.aggregate = agg
        # POR reanalysis inputs (reanalysis rows aligned to the POR months)
        self.reanalysis_por = self._reanalysis_aggregate.loc[
            self._reanalysis_aggregate.index.isin(agg.index)
        ]
        self.long_term_losses = self._calculate_long_term_losses()
        return agg

    # ------------------------------------------------------------ LT losses

    def _groupby_time_res(self, obj):
        """Calendar grouping by month / (month, day) / (month, day,
        hour) (aep.py:394-412)."""
        parts = self._calendar_parts(obj.index)
        return obj.groupby(parts if len(parts) > 1 else parts[0]).mean()

    def _calculate_long_term_losses(self) -> tuple[pd.Series, pd.Series]:
        """Calendar-mean availability/curtailment pct (aep.py:655-682)."""
        df = self.aggregate
        avail = self._groupby_time_res(df["availability_pct"])
        curt = self._groupby_time_res(df["curtailment_pct"])
        n = _CALENDAR_SAMPLES[self.time_resolution]
        if avail.shape[0] < n:
            raise RuntimeError(
                "Not all calendar days/months represented in long-term availability calculation"
            )
        if curt.shape[0] < n:
            raise RuntimeError(
                "Not all calendar days/months represented in long-term curtailment calculation"
            )
        return avail, curt

    # ------------------------------------------------------------ MC loop

    def run(
        self,
        num_sim: int = 200,
        distributed: bool = False,
        partitions: int | None = None,
    ) -> MonteCarloAEPResult:
        """Run the Monte-Carlo simulations.

        ``distributed=True`` runs the sims in one Python task per core
        (``partitions`` sets another count). Each task ships the
        driver-collected aggregates (<1 MB) and returns 8 floats per
        sim. A sim costs about 0.25 ms, a Python task 0.2-0.3 s of
        worker CPU even when it does nothing, so distributing pays only
        for long runs. On the one-year benchmark plant with 4 cores
        (SCALING.md): serial wins at 500 sims (0.17 s against 0.45 s
        wall), the two tie near 2,000 (0.58 s against 0.52-0.69 s), and
        distributed wins at 20,000 (4.9 s against 2.0 s wall, for about
        1.4x the CPU). Results are bit-identical to the serial path:
        all random draws are made up-front on the driver, bootstrap
        indices come from a per-sim seeded generator, and nonlinear
        hyper-parameters are fixed per product before the loop.
        """
        if self.aggregate is None:
            self.prepare()
        rng = np.random.default_rng(self.seed)
        num = num_sim
        draws = {
            "products": rng.choice(self.reanalysis_products, num),
            "meter_frac": rng.normal(1.0, self.uncertainty_meter, num),
            "loss_frac": rng.normal(1.0, self.uncertainty_losses, num),
            "wind_years": rng.integers(
                self.uncertainty_windiness[0],
                self.uncertainty_windiness[1] + 1,
                num,
            ),
            "loss_thresh": rng.integers(
                self.uncertainty_loss_max[0],
                self.uncertainty_loss_max[1] + 1,
                num,
            ) / 100.0,
            "out_thresh": (
                rng.integers(
                    int(self.uncertainty_outlier[0] * 10),
                    int((self.uncertainty_outlier[1] + 0.1) * 10),
                    num,
                ) / 10.0
                if self.outlier_detection else np.ones(num)
            ),
        }
        # Nonlinear hyper-opt ONCE per product, BEFORE the sim loop, on
        # nominal (un-MC'd) data — execution-layout independent, so the
        # serial and distributed paths train identical models.
        self._ml_params = {}
        if self.reg_model != "lin":
            nominal_loss = float(np.mean(self.uncertainty_loss_max)) / 100.0
            nominal_out = (
                float(np.mean(self.uncertainty_outlier))
                if self.outlier_detection else 1.0
            )
            for product in sorted(set(str(p) for p in draws["products"])):
                valid = self._filter_outliers(product, nominal_loss, nominal_out)
                gross = (
                    valid["energy_gwh"].to_numpy()
                    + valid["availability_gwh"].to_numpy()
                    + valid["curtailment_gwh"].to_numpy()
                )
                if self._monthly:
                    gross = gross * 30.0 / valid["num_days_expected"].to_numpy()
                self._ml_params[product] = reg.hyper_optimize_np(
                    self.reg_model, self._features(valid, product), gross,
                    n_iter=8, k_folds=3, seed=self.seed,
                )

        if distributed:
            from openoa_spark.session import ship_package

            spark = self.plant.spark
            ship_package(spark)
            sc = spark.sparkContext
            n_parts = partitions or min(sc.defaultParallelism, num)
            chunks = [c.tolist() for c in np.array_split(np.arange(num), n_parts)]
            analysis = self  # __getstate__ drops the Spark-side plant
            parts = (
                sc.parallelize(chunks, len(chunks))
                .map(lambda idxs: (idxs, analysis._simulate_batch(
                    draws, np.asarray(idxs, dtype=int))))
                .collect()
            )
            n_out = {k: np.empty(num) for k in _SIM_OUTPUTS}
            for idxs, part in parts:
                for k in _SIM_OUTPUTS:
                    n_out[k][idxs] = part[k]
        else:
            n_out = self._simulate_batch(draws, np.arange(num))

        # apply mean IAV multiplier (aep.py:1075-1080)
        iav_mult = rng.normal(1.0, float(np.nanmean(n_out["iav"])), num)
        n_out["aep_GWh"] *= iav_mult
        n_out["lt_por_ratio"] *= iav_mult
        results = pd.DataFrame(n_out)
        return MonteCarloAEPResult(results, self.aggregate, self.long_term_losses)

    def _simulate_batch(
        self, draws: dict, indices: np.ndarray
    ) -> dict[str, np.ndarray]:
        """Per-sim math for a batch of simulation indices — plain NumPy
        over the prepared aggregates, no Spark handle, so the same code
        runs on the driver (serial) or inside executor tasks
        (distributed). What depends only on a draw's product,
        thresholds or window length is built once per batch; each sim
        is one bootstrap regression plus ``bincount`` calendar sums.
        Bootstrap rows come from a generator seeded per sim index,
        making results independent of how sims are batched."""
        valid_memo: dict = {}
        window_memo: dict = {}
        por_memo: dict = {}
        out = {k: np.empty(len(indices)) for k in _SIM_OUTPUTS}

        for j, n in enumerate(indices):
            product = str(draws["products"][n])
            loss_frac_n = draws["loss_frac"][n]
            wind_years_n = int(draws["wind_years"][n])
            energy, losses, days, X = _memoized(
                valid_memo,
                (product, draws["loss_thresh"][n], draws["out_thresh"][n]),
                self._valid_arrays,
            )
            lt = _memoized(window_memo, (product, wind_years_n), self._long_term_window)
            X_por, por_cal, por_count = _memoized(por_memo, (product,), self._por_inputs)
            # MC-sampled gross energy, 30-day normalized (aep.py:842-895)
            mc_gross = energy * draws["meter_frac"][n] + losses * loss_frac_n
            mc_norm = mc_gross * 30.0 / days if self._monthly else mc_gross
            # bootstrap rows (aep.py:914-916), per-sim seeded
            idx = np.random.default_rng((self.seed, 100_000 + int(n))).integers(
                0, len(X), len(X)
            )
            if self.reg_model == "lin":
                coef, intercept = reg.ols_fit(X[idx], mc_norm[idx])
                yhat = reg.ols_predict(X[idx], coef, intercept)
                gross_lt = reg.ols_predict(lt.X, coef, intercept)
                gross_por = reg.ols_predict(X_por, coef, intercept)
            else:
                # nonlinear path (reference aep.py:897-959): per-product
                # hyper-params fixed before the loop; per-sim refit on
                # the bootstrap
                model = reg.make_ml_model(
                    self.reg_model, self._ml_params[product],
                    seed=self.seed + int(n),
                )
                model.fit(X[idx], mc_norm[idx])
                yhat = model.predict(X[idx])
                gross_lt = model.predict(lt.X)
                gross_por = model.predict(X_por)
            out["r2"][j] = reg.r2_score(mc_norm[idx], yhat)
            out["mse"][j] = reg.mse_score(mc_norm[idx], yhat)
            out["n_points"][j] = len(X)
            gross_por_cal = np.bincount(por_cal, gross_por) / por_count
            if self._monthly:  # undo 30-day normalization (aep.py:1040-1049)
                gross_lt = gross_lt * lt.month_days / 30.0
                gross_por_cal = gross_por_cal * NUM_DAYS_LT / 30.0

            annual = np.bincount(lt.year, gross_lt)
            # gross-energy-weighted calendar losses (aep.py:1167-1193):
            # a calendar group the POR losses lack weighs in the
            # denominator only, as pandas' index alignment has it
            gross_cal = np.bincount(lt.cal, gross_lt) / lt.cal_count
            gross_cal_total = gross_cal.sum()
            gross_cal = gross_cal[lt.present]
            avail_lt = float((gross_cal * (lt.avail * loss_frac_n)).sum() / gross_cal_total)
            curt_lt = float((gross_cal * (lt.curt * loss_frac_n)).sum() / gross_cal_total)

            out["aep_GWh"][j] = gross_lt.sum() / wind_years_n * (1.0 - avail_lt)
            out["iav"][j] = annual.std(ddof=1) / annual.mean() if len(annual) > 1 else 0.0
            out["avail_pct"][j] = avail_lt
            out["curt_pct"][j] = curt_lt
            out["lt_por_ratio"][j] = (
                (gross_lt.sum() / wind_years_n) / np.sum(gross_por_cal)
            )
        return out

    # ------------------------------------------------------------ helpers

    def _features(self, df: pd.DataFrame, product: str) -> np.ndarray:
        cols = [df[product].to_numpy()]
        if self.reg_temperature:
            cols.append(df[f"{product}_WMETR_EnvTmp"].to_numpy())
        if self.reg_wind_direction:
            wd = np.deg2rad(df[f"{product}_WMETR_HorWdDir"].to_numpy())
            cols.extend([np.sin(wd), np.cos(wd)])
        return np.column_stack(cols)

    def _calendar_parts(self, ix: pd.DatetimeIndex) -> list:
        """Calendar group keys: month / (month, day) / (month, day,
        hour) (aep.py:394-412)."""
        return [ix.month, ix.day, ix.hour][: _CALENDAR_KEYS[self.time_resolution]]

    def _calendar_groups(self, ix: pd.DatetimeIndex):
        """Sorted calendar codes of ``ix``, each row's group number and
        the group sizes: ``np.bincount(group, v) / count`` is
        ``_groupby_time_res`` without pandas."""
        return np.unique(
            _calendar_codes(self._calendar_parts(ix)),
            return_inverse=True, return_counts=True,
        )

    def _filter_outliers(self, product, loss_threshold, outlier_threshold):
        """Range + window + (Huber | bin) outlier filtering
        (aep.py:718-840)."""
        df = self.aggregate
        sub = df[
            ((df["availability_pct"] + df["curtailment_pct"]) < loss_threshold)
            & (~df["nan_flag"])
        ].copy()
        plant_capac = self._capacity_mw / 1000.0 * _RESAMPLE_HOURS[self.time_resolution]
        flag = ~sub[product].between(0.0, 40.0)
        if self.reg_temperature:
            flag |= ~sub[f"{product}_WMETR_EnvTmp"].between(200.0, 320.0)
        flag |= (
            sub[product].between(5.0, 40.0)
            & ~sub["energy_gwh"].between(0.02 * plant_capac, 1.2 * plant_capac)
        )
        if self.outlier_detection and len(sub) > 3:
            if self._monthly:
                y = sub["gross_energy_gwh"] * 30.0 / sub["num_days_expected"]
                _, _, w = reg.huber_irls(
                    sub[product].to_numpy(), y.to_numpy(), t=outlier_threshold
                )
                flag |= pd.Series(w != 1.0, index=sub.index)
            else:
                flag |= pd.Series(
                    reg.bin_outlier_flag(
                        sub["gross_energy_gwh"].to_numpy(), sub[product].to_numpy(),
                        bin_width=0.06 * plant_capac, threshold=outlier_threshold,
                        bin_min=0.01 * plant_capac, bin_max=0.85 * plant_capac,
                    ),
                    index=sub.index,
                )
        return sub[~flag]

    def _valid_arrays(self, product, loss_threshold, outlier_threshold):
        """The filtered POR rows as the per-sim regression reads them:
        net energy, availability + curtailment energy, days per month
        (monthly only) and the feature matrix."""
        valid = self._filter_outliers(product, loss_threshold, outlier_threshold)
        return (
            valid["energy_gwh"].to_numpy(),
            valid["availability_gwh"].to_numpy() + valid["curtailment_gwh"].to_numpy(),
            valid["num_days_expected"].to_numpy() if self._monthly else None,
            self._features(valid, product),
        )

    def _long_term_window(self, product, years) -> _LongTermWindow:
        """The last ``years`` of the product's reanalysis, with its
        calendar groups matched against the long-term losses'."""
        ra = self._reanalysis_aggregate.dropna(subset=[product])
        freq = ra.index.freq or pd.tseries.frequencies.to_offset(self._freq)
        cutoff = ra.index[-1] + freq - pd.offsets.DateOffset(years=years)
        lt = ra.loc[ra.index >= cutoff]
        ix = lt.index
        codes, cal, cal_count = self._calendar_groups(ix)
        losses_ix = self.long_term_losses[0].index
        loss_codes = _calendar_codes(
            [losses_ix.get_level_values(i) for i in range(losses_ix.nlevels)]
        )
        pos = np.minimum(np.searchsorted(loss_codes, codes), len(loss_codes) - 1)
        present = loss_codes[pos] == codes
        pos = pos[present]
        # year-sums anchored at the window start (aep.py:40-59)
        if self._monthly:
            bucket = ((ix.year - ix[0].year) * 12 + (ix.month - ix[0].month)) // 12
            last_month = self._reanalysis_aggregate.index[-1].month
            month_days = np.tile(np.roll(NUM_DAYS_LT, 12 - last_month), years)
        else:
            bucket = (ix - ix[0]).days // 365
            month_days = None
        return _LongTermWindow(
            X=self._features(lt, product),
            cal=cal,
            cal_count=cal_count,
            present=present,
            avail=self.long_term_losses[0].to_numpy()[pos],
            curt=self.long_term_losses[1].to_numpy()[pos],
            year=np.unique(np.asarray(bucket), return_inverse=True)[1],
            month_days=month_days,
        )

    def _por_inputs(self, product):
        """POR reanalysis features, calendar group per row, group sizes."""
        _, cal, cal_count = self._calendar_groups(self.reanalysis_por.index)
        return self._features(self.reanalysis_por, product), cal, cal_count


class _LongTermWindow(NamedTuple):
    X: np.ndarray  # features, one row per reanalysis period
    cal: np.ndarray  # calendar group of each row
    cal_count: np.ndarray  # rows per calendar group
    present: np.ndarray  # calendar groups the long-term losses have
    avail: np.ndarray  # availability loss of each present group
    curt: np.ndarray  # curtailment loss of each present group
    year: np.ndarray  # year bucket of each row, anchored at the window start
    month_days: np.ndarray | None  # monthly: long-term days of each row's month


def _calendar_codes(parts) -> np.ndarray:
    """One sortable int per calendar key: month, month*100 + day, ..."""
    code = np.zeros(len(parts[0]), dtype=np.int64)
    for p in parts:
        code = code * 100 + np.asarray(p, dtype=np.int64)
    return code


def _memoized(memo: dict, key: tuple, build):
    if key not in memo:
        memo[key] = build(*key)
    return memo[key]
