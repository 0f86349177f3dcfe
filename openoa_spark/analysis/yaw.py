"""Static yaw misalignment: per (turbine, wind-speed bin), bin power
performance by wind-vane angle, fit a cosine-exponent curve, and read
the misalignment as (cosine-peak offset − mean vane angle).

Parity target (behavior only): openoa/analysis/yaw_misalignment.py:
74-743.

Spark-first inversion: the reference loops turbine × ws-bin in pandas
AND Monte-Carlo sims in an outer python loop. Here the sims are an
array axis inside ONE grouped stage, never extra Spark rows: each
turbine's rows go to one ``applyInPandas`` call (``_turbine_cells``)
that, in NumPy over the turbine's time-sorted rows, computes each
distinct max_power_filter's power-bin median and MAD of wind speed,
every sim's MAD filter and Poisson(1) bootstrap weight (Spark hashes
each row's keys once; the sim's seed finishes the hash in NumPy), the
wind-speed and vane bins, and every sim's cell sums with
``np.bincount``. A sim's cells depend only on its own draws, so the
batched stage equals a per-sim loop bit for bit.

Only the cell-grain table (sims × turbines × ws_bins × vane bins) is
collected for the tiny driver-side curve fits (pure-NumPy
Levenberg-Marquardt replaces scipy.optimize.curve_fit).

Memory: one turbine's record × sims in one Python worker (52k rows a
year of 10-min SCADA; the sim axis covers only the rows inside a
wind-speed bin). Cost on the one-year test plant is in SCALING.md
("Yaw")."""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F

from openoa_spark.functions.regression import cos_curve_fit
from openoa_spark.functions.stats import group_median, poisson1_weights, round_half_up
from openoa_spark.plant import PlantData
from openoa_spark.session import ship_package

_CELLS_SCHEMA = (
    "sim int, asset_id string, ws_bin double, vane_bin double, "
    "pow_ratio double, n long, vane_sum double"
)


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


def _power_bins(pw: np.ndarray, cap: float, p: dict) -> np.ndarray:
    """(distinct max_power_filters, rows) power bin of each row: floor of
    power normalized to ``n_pbins`` bins between min_power_filter and
    the filter's share of rated power ``cap``; -1 outside [0, n_pbins)."""
    p_norm = (pw - p["min_pf"] * cap) / (p["bwf"][:, None] * cap)
    in_bin = (p_norm >= 0.0) & (p_norm < p["n_pbins"])
    return np.where(in_bin, np.floor(p_norm), -1).astype(np.int32)


def _mad_keep(ws: np.ndarray, pw: np.ndarray, cap: float, p: dict) -> np.ndarray:
    """(sims, rows) keep mask of the power-bin MAD filter
    (yaw_misalignment.py:506-528) over one turbine's rows. Once per
    distinct max_power_filter, each power bin's median and MAD (median
    of |ws − median|) of wind speed, even counts taking the mean of the
    two middle values, as ``F.median``; each sim then drops a row when
    |ws − median| > mad · MAD in its power bin. Rows with no power bin
    stay."""
    bins = _power_bins(pw, cap, p)
    dev, mad = np.empty(bins.shape), np.empty(bins.shape)
    for m in range(len(bins)):
        dev[m] = np.abs(ws - group_median(bins[m], ws))
        mad[m] = group_median(bins[m], dev[m])
    mi = p["mpf_ix"]
    return ~((bins[mi] >= 0) & (dev[mi] > p["mad"][:, None] * mad[mi]))


def _turbine_cells(pdf: pd.DataFrame, p: dict) -> pd.DataFrame:
    """One turbine's (sim, ws_bin, vane_bin) cell sums for every sim of
    ``p`` (``StaticYawMisalignment._params``), in NumPy over the
    turbine's time-sorted rows.

    - Each sim's power-bin MAD filter (``_mad_keep``).
    - The wind-speed bin is the first of ``ws_bins`` whose
      [b − half, b + half) holds the row; the vane bin rounds
      vane / width half away from zero, as Spark's ``round``.
    - Each sim weights its rows by its Poisson(1) bootstrap count
      (1 without a seed) and ``np.bincount`` sums the cells in row
      order.
    Memory: the turbine's rows × sims."""
    # time order (ties by value) fixes the fold order of the cell sums
    pdf = pdf.iloc[np.lexsort([
        pdf[c].to_numpy() for c in ("WMET_HorWdDirRel", "WMET_HorWdSpd", "WTUR_W", "_t")
    ])]
    ws = pdf["WMET_HorWdSpd"].to_numpy(float)
    pw = pdf["WTUR_W"].to_numpy(float)
    keep = _mad_keep(ws, pw, float(pdf["rated_power"].iat[0]), p)

    ws_ix = np.full(len(ws), -1)
    for k, b in enumerate(p["ws_bins"]):
        ws_ix[(ws_ix < 0) & (ws >= b - p["half"]) & (ws < b + p["half"])] = k
    sel = np.flatnonzero(ws_ix >= 0)
    w = np.ones((len(keep), len(sel)), np.int64)
    boot = p["bseed"] >= 0
    if boot.any():
        w[boot] = poisson1_weights(pdf["_h"].to_numpy()[sel], p["bseed"][boot])
    w *= keep[:, sel]

    vane = pdf["WMET_HorWdDirRel"].to_numpy(float)[sel]
    ratio = pw[sel] / (ws[sel] ** 3.0 if p["pow_coeff"] else 1.0)
    vane_bins, v_ix = np.unique(round_half_up(vane / p["vane_w"]) * p["vane_w"],
                                return_inverse=True)
    n_cells = len(p["ws_bins"]) * len(vane_bins)
    code = (np.arange(len(w))[:, None] * n_cells + ws_ix[sel] * len(vane_bins) + v_ix).ravel()

    def cell_sum(x):
        return np.bincount(code, weights=(w * x).ravel(), minlength=len(w) * n_cells)

    n, pow_sum, vane_sum = cell_sum(1), cell_sum(ratio), cell_sum(vane)
    cell = np.flatnonzero(n > 0)
    rest = cell % n_cells
    return pd.DataFrame({
        "sim": p["sim"][cell // n_cells],
        "asset_id": pdf["asset_id"].iat[0],
        "ws_bin": p["ws_bins"][rest // len(vane_bins)],
        "vane_bin": vane_bins[rest % len(vane_bins)],
        "pow_ratio": pow_sum[cell] / n[cell],
        "n": n[cell].astype(np.int64),
        "vane_sum": vane_sum[cell],
    })


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

    def _rows(self) -> DataFrame:
        """The rows every sim starts from: the pitch-limited complete
        readings (yaw_misalignment.py:495-505) with each turbine's rated
        power, the time as ``_t`` and Spark's ``xxhash64(time,
        asset_id)`` as ``_h``."""
        asset = self.plant.asset.where(F.col("type") == "turbine").select(
            "asset_id", "rated_power"
        )
        return (
            self.plant.scada
            .where(F.col("asset_id").isin(self.turbine_ids))
            .where(F.col("WROT_BlPthAngVal") <= self.pitch_thresh)
            .dropna(subset=["WMET_HorWdSpd", "WTUR_W", "WMET_HorWdDirRel"])
            .join(F.broadcast(asset), "asset_id")
            .select(
                "asset_id",
                F.unix_micros("time").alias("_t"),
                F.xxhash64("time", "asset_id").alias("_h"),
                "WTUR_W", "WMET_HorWdSpd", "WMET_HorWdDirRel", "rated_power",
            )
        )

    def _params(self, specs: list[dict]) -> dict:
        """The sims of ``specs`` as arrays, plus the bin settings, for
        ``_turbine_cells``. ``specs`` holds one dict per sim: ``sim``,
        ``mpf`` (max_power_filter), ``mad`` (power_bin_mad_thresh) and
        ``bseed`` (an int32 bootstrap seed, None for no bootstrap)."""
        mpfs = sorted({float(s["mpf"]) for s in specs})
        return {
            "sim": np.array([s["sim"] for s in specs], np.int32),
            "mpf_ix": np.array([mpfs.index(float(s["mpf"])) for s in specs], np.int64),
            "mad": np.array([float(s["mad"]) for s in specs]),
            "bseed": np.array(
                [-1 if s["bseed"] is None else int(s["bseed"]) for s in specs], np.int64
            ),
            # power-bin width as a fraction of rated power, per distinct
            # max_power_filter
            "bwf": (np.array(mpfs) - self.min_power_filter) / self.num_power_bins,
            "min_pf": float(self.min_power_filter),
            "n_pbins": int(self.num_power_bins),
            "ws_bins": np.array(self.ws_bins, float),
            "half": self.ws_bin_width / 2.0,
            "vane_w": float(self.vane_bin_width),
            "pow_coeff": bool(self.use_power_coeff),
        }

    def _cells(self, specs: list[dict]) -> pd.DataFrame:
        """EVERY simulation's (turbine, ws_bin, vane_bin) cell table
        (``specs`` as in ``_params``) from one grouped stage: each
        turbine's ``_rows`` go to one ``applyInPandas`` call
        (``_turbine_cells``), which carries the sims as an array axis.

        The stage finishes each row's ``_h`` into each sim's
        ``poisson1_weight(bseed, time, asset_id)``: a deterministic
        Poisson(1) bootstrap weight, statistically the with-replacement
        resample of yaw_misalignment.py:380-381, but replayable. A sim's
        cells depend only on its own spec and the turbine's time-sorted
        rows, so one batched run and a per-sim loop give BIT-IDENTICAL
        tables (pinned by tests/test_yaw_eya.py::test_batched_equals_per_sim).

        Returns the cell grain (sim, asset_id, ws_bin, vane_bin,
        pow_ratio, n, vane_sum): the (sim, turbine, ws_bin) mean vane
        angles are recovered exactly from vane_sum/n driver-side.
        """
        p = self._params(specs)
        ship_package(self.plant.spark)
        return self._rows().groupBy("asset_id").applyInPandas(
            lambda pdf: _turbine_cells(pdf, p), _CELLS_SCHEMA
        ).toPandas()

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
        cells_all = self._cells(specs)
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
