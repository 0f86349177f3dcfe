"""Static yaw misalignment: per (turbine, wind-speed bin), bin power
performance by wind-vane angle, fit a cosine-exponent curve, and read
the misalignment as (cosine-peak offset − mean vane angle).

Parity target (behavior only): openoa/analysis/yaw_misalignment.py:
74-743.

Spark-first inversion: the reference loops turbine × ws-bin in pandas
AND Monte-Carlo sims in an outer python loop; here every simulation
runs through TWO Spark aggregations over one sim-keyed plan:

1. Power-bin filter statistics. Per (max_power_filter draw,
   turbine, power bin), ONE ``sort_array(collect_list(ws))`` yields
   both the median wind speed and its MAD (median of |ws − median|,
   read off the same group after a second in-memory sort), with the
   even-n mean of the two middle values — bit-identical to
   ``F.median``. Only the distinct max_power_filter draws fan the rows
   out here (the MC draws come from small integer grids).
2. Cells. The statistics are broadcast-joined back, a literal
   max_power_filter → [(sim, mad, bseed)] map fans each row out to the
   sims of its draw (map-side, no job of its own), each row is flagged
   against its sim's MAD threshold as a COLUMN, and one
   groupBy(sim, turbine, ws_bin, vane_bin) produces every cell of
   every sim. The bootstrap is a deterministic per-(row, sim)
   Poisson(1) weight.

Only the bin-grain table (sims × turbines × ws_bins × vane bins) is
collected for the tiny driver-side curve fits (pure-NumPy
Levenberg-Marquardt replaces scipy.optimize.curve_fit).

Memory: a statistics group holds one turbine's wind speeds in one power
bin, so its buffer is bounded by one asset's record (thousands of rows
per year of 10-min SCADA), not by the size of the plant or the number of
sims. ``filters.bin_filter``'s bounded-memory bracket median stays the
tool for groups that can grow with the plant (TIE, wake losses)."""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F

from openoa_spark.functions.regression import cos_curve_fit
from openoa_spark.functions.stats import poisson1_weight
from openoa_spark.plant import PlantData
from openoa_spark.session import spread_small_input


@dataclass
class YawMisalignmentResult:
    yaw_misalignment: np.ndarray      # (num_sim, n_turbines): mean over ws bins
    yaw_misalignment_ws: np.ndarray   # (num_sim, n_turbines, n_ws_bins)
    mean_vane_angle: np.ndarray       # (num_sim, n_turbines)
    curve_fit_params_ws: np.ndarray   # (num_sim, n_turbines, n_ws_bins, 3)
    turbine_ids: list
    ws_bins: list

    @property
    def avg(self) -> np.ndarray:
        return np.mean(self.yaw_misalignment, axis=0)

    @property
    def std(self) -> np.ndarray:
        return np.std(self.yaw_misalignment, axis=0)


def _sorted_median(arr: Column) -> Column:
    """Median of a non-empty ascending array: the even-n mean of the two
    middle values, the formula of ``F.median``."""
    n = F.size(arr)
    lo = F.element_at(arr, F.floor((n + 1) / 2).cast("int"))
    hi = F.element_at(arr, (F.floor(n / 2) + 1).cast("int"))
    return (lo + hi) / F.lit(2.0)


@dataclass
class StaticYawMisalignment:
    """Parameters mirror yaw_misalignment.py:120-188."""

    plant: PlantData
    turbine_ids: list[str] | None = None
    UQ: bool = False
    num_sim: int = 100
    ws_bins: tuple = (5.0, 6.0, 7.0, 8.0)
    ws_bin_width: float = 1.0
    vane_bin_width: float = 1.0
    min_vane_bin_count: int = 100
    max_abs_vane_angle: float = 25.0
    pitch_thresh: float = 0.5
    num_power_bins: int = 25
    min_power_filter: float = 0.01
    max_power_filter: float | tuple[float, float] = 0.95
    power_bin_mad_thresh: float | tuple[float, float] = 7.0
    use_power_coeff: bool = False
    seed: int = 42

    def __post_init__(self):
        if self.turbine_ids is None:
            self.turbine_ids = self.plant.turbine_ids
        if self.UQ:
            for name in ("max_power_filter", "power_bin_mad_thresh"):
                v = getattr(self, name)
                if np.isscalar(v) or len(v) != 2:
                    raise ValueError(
                        f"UQ=True needs {name} as a (low, high) range to "
                        f"draw from, got {v!r}"
                    )

    # ------------------------------------------------------------ stages

    def _base(self, spread: bool) -> DataFrame:
        """Rows every simulation starts from: the pitch-angle limit and
        complete readings (yaw_misalignment.py:495-505), each turbine's
        rated power, and the wind-speed bin (NULL outside every bin —
        such rows still count toward the power-bin statistics)."""
        asset = self.plant.asset.where(F.col("type") == "turbine").select(
            "asset_id", "rated_power"
        )
        df = (
            self.plant.scada
            .where(F.col("asset_id").isin(self.turbine_ids))
            .where(F.col("WROT_BlPthAngVal") <= self.pitch_thresh)
            .dropna(subset=["WMET_HorWdSpd", "WTUR_W", "WMET_HorWdDirRel"])
            .select("time", "asset_id", "WTUR_W", "WMET_HorWdSpd", "WMET_HorWdDirRel")
        )
        if spread:
            # a small SCADA file scans as fewer partitions than cores,
            # and every sim's fan-out would run on them
            df = spread_small_input(df)
        ws_bins_arr = F.array(*[F.lit(float(b)) for b in self.ws_bins])
        half = self.ws_bin_width / 2.0
        return df.join(F.broadcast(asset), "asset_id").withColumn(
            "ws_bin",
            # F.get, not [0]: a wind speed outside EVERY bin filters to
            # an empty array, and ANSI mode turns [0] on an empty array
            # into a runtime error; get() yields NULL
            F.get(
                F.filter(
                    ws_bins_arr,
                    lambda b: (F.col("WMET_HorWdSpd") >= b - half)
                    & (F.col("WMET_HorWdSpd") < b + half),
                ),
                0,
            ),
        )

    def _power_binned(self, base: DataFrame, mpfs: list[float]) -> DataFrame:
        """``base`` once per distinct max_power_filter draw ``_mpf``,
        with the row's power bin ``_pbin``: floor of power normalized to
        ``num_power_bins`` bins between min_power_filter and _mpf of
        rated power, NULL outside [0, num_power_bins)."""
        draws = F.array(*[
            F.struct(
                F.lit(float(m)).alias("_mpf"),
                # power-bin width as a fraction of rated power
                F.lit((float(m) - self.min_power_filter) / self.num_power_bins)
                .alias("_bwf"),
            )
            for m in mpfs
        ])
        cap = F.col("rated_power")
        p_norm = (F.col("WTUR_W") - F.lit(self.min_power_filter) * cap) / (
            F.col("_d._bwf") * cap
        )
        in_domain = (p_norm >= F.lit(0.0)) & (p_norm < F.lit(float(self.num_power_bins)))
        return (
            base.withColumn("_d", F.explode(draws))
            .withColumn("_mpf", F.col("_d._mpf"))
            .withColumn("_pbin", F.when(in_domain, F.floor(p_norm)))
            .drop("_d")
        )

    @staticmethod
    def _power_bin_stats(binned: DataFrame) -> DataFrame:
        """(_mpf, asset_id, _pbin) → median ``_center`` and MAD ``_dev``
        of wind speed, both from ONE sorted collect per group."""
        ws = F.sort_array(F.collect_list("WMET_HorWdSpd"))
        keys = ["_mpf", "asset_id", "_pbin"]
        return (
            binned.where(F.col("_pbin").isNotNull())
            .groupBy(*keys)
            .agg(ws.alias("_ws"))
            .withColumn("_center", _sorted_median(F.col("_ws")))
            .select(
                *keys,
                "_center",
                _sorted_median(
                    F.sort_array(
                        F.transform("_ws", lambda x: F.abs(x - F.col("_center")))
                    )
                ).alias("_dev"),
            )
        )

    def _kept(self, specs: list[dict]) -> DataFrame:
        """Every simulation's rows that survive the per-turbine MAD
        power-bin filter (yaw_misalignment.py:506-528), keyed by
        ``sim`` and carrying the sim's bootstrap seed ``bseed`` (-1 for
        none). A row is dropped when |ws − median| > mad · MAD in its
        (draw, turbine, power bin); rows outside the power-bin domain
        are kept.

        The sim table rides in the plan as a literal
        max_power_filter → [(sim, mad, bseed)] map, exploded map-side
        after the statistics join: a broadcast table would cost a Spark
        job of its own."""
        binned = self._power_binned(
            self._base(spread=len(specs) > 1), sorted({float(s["mpf"]) for s in specs})
        )
        stats = self._power_bin_stats(binned)
        by_mpf: dict[float, list[Column]] = {}
        for s in specs:
            by_mpf.setdefault(float(s["mpf"]), []).append(F.struct(
                F.lit(int(s["sim"])).alias("sim"),
                F.lit(float(s["mad"])).alias("_mad"),
                # an int literal: xxhash64 hashes an int differently
                # from a bigint, and the bootstrap weights hash bseed
                F.lit(-1 if s["bseed"] is None else int(s["bseed"])).alias("bseed"),
            ))
        sims = F.create_map(*[
            c for m, ss in by_mpf.items() for c in (F.lit(m), F.array(*ss))
        ])
        dev = F.abs(F.col("WMET_HorWdSpd") - F.col("_center"))
        flag = F.coalesce(dev > F.col("_s._mad") * F.col("_dev"), F.lit(False))
        return (
            binned.join(F.broadcast(stats), ["_mpf", "asset_id", "_pbin"], "left")
            .withColumn("_s", F.explode(sims[F.col("_mpf")]))
            .where(~flag)
            .withColumn("sim", F.col("_s.sim"))
            .withColumn("bseed", F.col("_s.bseed"))
            .drop("_s", "_mpf", "_pbin", "_center", "_dev")
        )

    def _binned_tables_batch(self, specs: list[dict]) -> pd.DataFrame:
        """EVERY simulation's (turbine, ws_bin, vane_bin) cell table from
        one sim-keyed plan: the filter statistics aggregation feeds a
        broadcast join, and one groupBy produces all cells.

        The bootstrap is a DETERMINISTIC per-(row, sim) Poisson(1)
        weight (inverse CDF over an xxhash64-derived uniform) —
        statistically the with-replacement resample of
        yaw_misalignment.py:380-381, but replayable and identical
        whatever the batching. Cell means use order-independent decimal
        sums, so one batched job and a per-sim loop produce
        BIT-IDENTICAL tables (pinned by
        tests/test_yaw_eya.py::test_batched_equals_per_sim).

        Returns the cell grain (sim, asset_id, ws_bin, vane_bin,
        pow_ratio, n, vane_sum): the (sim, turbine, ws_bin) mean vane
        angles are recovered exactly from vane_sum/n driver-side, so a
        second aggregation pass is unnecessary.
        """
        alldf = self._kept(specs).where(F.col("ws_bin").isNotNull())
        # Poisson(1) bootstrap count (functions.stats.poisson1_weight);
        # bseed < 0 marks a no-bootstrap sim (weight 1)
        w = poisson1_weight("bseed", "time", "asset_id")
        alldf = alldf.withColumn(
            "_w", F.when(F.col("bseed") < 0, F.lit(1)).otherwise(w)
        ).where(F.col("_w") > 0)
        pow_ref = (
            F.pow(F.col("WMET_HorWdSpd"), 3.0) if self.use_power_coeff else F.lit(1.0)
        )
        alldf = alldf.withColumn("pow_ratio", F.col("WTUR_W") / pow_ref).withColumn(
            "vane_bin",
            F.round(F.col("WMET_HorWdDirRel") / self.vane_bin_width) * self.vane_bin_width,
        )
        return (
            alldf.groupBy("sim", "asset_id", "ws_bin", "vane_bin")
            .agg(
                (
                    F.sum((F.col("_w") * F.col("pow_ratio")).cast("decimal(32,9)"))
                    / F.sum("_w")
                ).cast("double").alias("pow_ratio"),
                F.sum("_w").alias("n"),
                F.sum(
                    (F.col("_w") * F.col("WMET_HorWdDirRel")).cast("decimal(32,9)")
                ).cast("double").alias("vane_sum"),
            )
            .toPandas()
        )

    # ------------------------------------------------------------ run

    def run(self, num_sim: int | None = None) -> YawMisalignmentResult:
        rng = np.random.default_rng(self.seed)
        n_sims = (num_sim or self.num_sim) if self.UQ else 1
        nt, nw = len(self.turbine_ids), len(self.ws_bins)
        out = YawMisalignmentResult(
            np.full((n_sims, nt), np.nan),
            np.full((n_sims, nt, nw), np.nan),
            np.full((n_sims, nt), np.nan),
            np.full((n_sims, nt, nw, 3), np.nan),
            self.turbine_ids, list(self.ws_bins),
        )
        specs = []
        for n in range(n_sims):
            if self.UQ:
                mad = float(rng.integers(
                    int(self.power_bin_mad_thresh[0]), int(self.power_bin_mad_thresh[1]) + 1
                ))
                mpf = float(rng.integers(
                    int(self.max_power_filter[0] * 100),
                    int(self.max_power_filter[1] * 100) + 1,
                )) / 100.0
                boot_seed = int(rng.integers(2**31))
            else:
                mad = float(self.power_bin_mad_thresh) if np.isscalar(
                    self.power_bin_mad_thresh) else float(np.mean(self.power_bin_mad_thresh))
                mpf = float(self.max_power_filter) if np.isscalar(
                    self.max_power_filter) else float(np.mean(self.max_power_filter))
                boot_seed = None
            specs.append({"sim": n, "mpf": mpf, "mad": mad, "bseed": boot_seed})
        cells_all = self._binned_tables_batch(specs)
        # exact (sim, turbine, ws_bin) mean vane angles from the cell
        # sums, in a deterministic (sorted) fold order
        cells_all = cells_all.sort_values(
            ["sim", "asset_id", "ws_bin", "vane_bin"]
        )
        gkey = ["sim", "asset_id", "ws_bin"]
        vane_all = (
            cells_all.groupby(gkey, as_index=False)
            .agg(vane_sum=("vane_sum", "sum"), n=("n", "sum"))
        )
        vane_all["mean_vane"] = vane_all["vane_sum"] / vane_all["n"]
        mean_vane = vane_all.set_index(gkey)["mean_vane"]
        t_ix = {t: i for i, t in enumerate(self.turbine_ids)}
        w_ix = {float(b): k for k, b in enumerate(self.ws_bins)}
        fit_cells = cells_all[
            (cells_all["n"] > self.min_vane_bin_count)
            & (cells_all["vane_bin"].abs() <= self.max_abs_vane_angle)
        ]
        # one pass over the (sim, turbine, ws_bin) groups; each keeps
        # its rows in vane_bin order
        for (n, t, wsb), sub in fit_cells.groupby(gkey, sort=False):
            if len(sub) < 4:
                continue
            i, k = t_ix[t], w_ix[wsb]
            params = cos_curve_fit(
                sub["vane_bin"].to_numpy(), sub["pow_ratio"].to_numpy()
            )
            out.curve_fit_params_ws[n, i, k] = params
            out.yaw_misalignment_ws[n, i, k] = params[1] - float(mean_vane[(n, t, wsb)])
        for (n, t), g in vane_all.groupby(["sim", "asset_id"], sort=False):
            out.mean_vane_angle[n, t_ix[t]] = float(g["mean_vane"].mean())
        for n in range(n_sims):
            for i in range(nt):
                out.yaw_misalignment[n, i] = np.nanmean(out.yaw_misalignment_ws[n, i])
        return out
