"""Wake-loss estimation: actual vs potential (freestream-derived)
plant energy, long-term corrected by reanalysis (wd, ws) bin
frequencies.

Parity target (behavior only): openoa/analysis/wake_losses.py:53-1330.

Spark-first inversions:
- The reference pivots SCADA to a wide (time × [var, turbine]) frame;
  here data stays LONG (time, asset_id) in Spark, and each grouped
  stage widens only its own group in NumPy.
- Freestream-turbine sets per wind-direction bin are computed on the
  driver from the collected pair matrices (dimension-sized) and ride
  into the time-slice stage as (sim, wd bin, member) index arrays.
- Bootstrap (UQ) uses per-timestamp multiplicity weights (sample the
  time keys with replacement, count) — semantically the reference's
  row resampling without duplicating fact rows.

Monte-Carlo shape: the sims are an array axis inside two grouped
stages, never extra Spark rows, so no table holds SCADA rows × sims.
1. Per turbine (``applyInPandas`` by asset): every sim's derating
   power-bin median and MAD of wind speed over the turbine's full
   record; each SCADA row leaves with its per-sim derate flags packed
   into bits. Memory: one turbine's record × sims.
2. Per day (``cogroup`` of the flagged rows with the per-time
   reference table): every sim's freestream power and wind speed,
   Poisson bootstrap weight (``poisson1_weight`` in Spark, one array
   per timestamp) and hourly means, reduced to partial sums keyed by
   (sim, bin). Spark sums the partials; the driver fits each sim's OLS
   map and weights by the long-term frequencies. The stage runs twice
   over the cached flagged table: the LT-bin sums need the OLS maps
   that the first pass's sums give. Memory: one day's rows × sims.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F, types as T

from openoa_spark.functions import met, regression as reg
from openoa_spark.functions.stats import poisson1_weight
from openoa_spark.plant import PlantData
from openoa_spark.session import ship_package

# partial-sum kinds emitted by the time-slice stage
_POR, _TURB, _WD, _WS_INT, _GRID, _TGRID = range(6)


@dataclass
class WakeLossesResult:
    wake_losses_por: np.ndarray          # (num_sim,)
    turbine_wake_losses_por: np.ndarray  # (num_sim, n_turbines)
    wake_losses_lt: np.ndarray           # (num_sim,)
    turbine_wake_losses_lt: np.ndarray   # (num_sim, n_turbines)
    wake_losses_por_wd: np.ndarray       # (num_sim, n_wd_bins)
    wake_losses_lt_wd: np.ndarray        # (num_sim, n_wd_bins)
    wake_losses_por_ws: np.ndarray       # (num_sim, n_ws_bins)
    wake_losses_lt_ws: np.ndarray        # (num_sim, n_ws_bins)
    turbine_ids: list[str] = field(default_factory=list)
    inputs: pd.DataFrame = field(default_factory=pd.DataFrame)  # per-sim draws

    @property
    def wake_losses_por_mean(self) -> float:
        return float(np.nanmean(self.wake_losses_por))

    @property
    def wake_losses_lt_mean(self) -> float:
        return float(np.nanmean(self.wake_losses_lt))


def _round_half_up(x: np.ndarray) -> np.ndarray:
    """Spark's ``round`` of a double to an integer: halves away from 0."""
    a = np.abs(x)
    f = np.floor(a)
    return np.copysign(f + (a - f >= 0.5), x) + 0.0


def _group_median(g: np.ndarray, v: np.ndarray) -> np.ndarray:
    """Per row, the median of ``v`` over the rows sharing its small-int
    ``g`` (even counts: mean of the two middle values, as ``F.median``)."""
    order = np.argsort(v)
    order = order[np.argsort(g[order], kind="stable")]  # radix sort
    gs, vs = g[order], v[order]
    starts = np.flatnonzero(np.r_[True, gs[1:] != gs[:-1]])
    counts = np.diff(np.r_[starts, len(gs)])
    med = (vs[starts + (counts - 1) // 2] + vs[starts + counts // 2]) / 2.0
    out = np.empty(len(v))
    out[order] = np.repeat(med, counts)
    return out


def _derate_flags(pdf: pd.DataFrame, cap: float, dws: np.ndarray,
                  mpf: np.ndarray, mad: np.ndarray) -> np.ndarray:
    """(sims, rows) derate flags of one turbine's record
    (wake_losses.py:1057-1096): outside the normal power window above
    the start wind speed, or above its power bin's wind-speed median by
    more than ``mad`` MADs (``filters.bin_filter`` with a median center,
    ``threshold_type="mad"``, ``direction="above"``). Power is binned in
    25 bins of width 0.04·(mpf − 0.01)·cap from 0.01·cap."""
    ws = pdf["WMET_HorWdSpd"].to_numpy()
    pw = pdf["WTUR_W"].to_numpy()
    flags = (
        (ws >= dws[:, None]) & (ws <= 40.0)
        & ~((pw >= 0.01 * cap) & (pw <= 1.2 * cap))
    )
    p_norm = (pw - 0.01 * cap) / ((0.04 * (mpf[:, None] - 0.01)) * cap)
    in_bin = (p_norm >= 0.0) & (p_norm < 25.0)
    bins = np.where(in_bin, np.floor(p_norm), -1).astype(np.int16)
    for s in range(len(dws)):
        center = _group_median(bins[s], ws)
        dev = _group_median(bins[s], np.abs(ws - center))
        flags[s] |= in_bin[s] & (ws - center > mad[s] * dev)
    return flags


def _group_sums(kind: int, keys: dict[str, np.ndarray], mask: np.ndarray,
                vals: list[np.ndarray]) -> pd.DataFrame:
    """Partial-sum rows of one kind: ``vals`` summed over the entries
    under ``mask`` that share the keys (sim, turb, k1, k2)."""
    cols = ("sim", "turb", "k1", "k2")
    ks = [np.broadcast_to(keys.get(c, 0.0), mask.shape)[mask] + 0.0 for c in cols]
    code = np.zeros(len(ks[0]), np.int64)
    for k in ks:
        u, inv = np.unique(k, return_inverse=True)
        code = code * len(u) + inv
    _, first, inv = np.unique(code, return_index=True, return_inverse=True)
    out = pd.DataFrame({c: k[first] for c, k in zip(cols, ks)})
    out.insert(0, "kind", kind)
    for i, v in enumerate(vals):
        out[f"v{i}"] = np.bincount(
            inv, weights=np.broadcast_to(v, mask.shape)[mask], minlength=len(first)
        )
    return out


def _slice_partials(scada: pd.DataFrame, ref: pd.DataFrame, p: dict) -> pd.DataFrame:
    """One day of the per-time-slice stage for every sim at once. With
    ``p["slope"]`` unset, emits the POR, per-turbine, wind-direction and
    integer-ws reanalysis sums (wake_losses.py:628-649, 1098-1149);
    with the per-sim OLS maps set, the LT (wd, ws) bin sums of the
    plant and of each turbine (wake_losses.py:1151-1317)."""
    cols = ["kind", "sim", "turb", "k1", "k2", *(f"v{i}" for i in range(p["n_vals"]))]
    ref = ref.sort_values("_t", kind="stable")
    t = ref["_t"].to_numpy()
    n_t, n_turb, n_sim = len(t), p["n_turb"], p["n_sim"]
    ti = np.searchsorted(t, scada["_t"].to_numpy())
    ni = scada["asset_id"].map(p["turb_index"]).to_numpy()
    power = np.zeros((n_t, n_turb))
    power[ti, ni] = scada["WTUR_W"].to_numpy()
    speed = np.zeros((n_t, n_turb))
    speed[ti, ni] = scada["WMET_HorWdSpd"].to_numpy()
    der = np.zeros((n_sim, n_t, n_turb), bool)
    if p["derate"]:
        bits = np.frombuffer(b"".join(scada["_derate"]), np.uint8)
        der[:, ti, ni] = np.unpackbits(
            bits.reshape(len(scada), -1), axis=1, count=n_sim
        ).T.astype(bool)

    # freestream rows of each (sim, time): its wd bin's membership
    # rows (a turbine twice where two resampled sectors merged),
    # without the derated ones (wake_losses.py:628-649)
    wd = ref["_wd_bin"].to_numpy()
    b = np.minimum(np.searchsorted(p["wd_bins"], wd), len(p["wd_bins"]) - 1)
    ids = p["fs_ids"][:, b]
    mult = p["fs_mult"][:, b]
    idc = np.maximum(ids, 0)
    normal = (
        (ids >= 0) & (p["wd_bins"][b] == wd)[None, :, None]
        & ~np.take_along_axis(der, idc, axis=2)
    )
    w = (np.stack(ref["_w"].to_numpy()).T * normal.any(-1)).astype(float)
    ok = w > 0
    rows = np.arange(n_t)[None, :, None]

    def freestream(x: np.ndarray, method: str) -> np.ndarray:
        v = x[rows, idc]
        if method == "mean":
            m = np.where(normal, mult, 0.0)
            out = (v * m).sum(-1) / m.sum(-1)
        elif method == "median":  # over rows: multiplicity ignored
            v = np.sort(np.where(normal, v, np.inf), axis=-1)
            k = normal.sum(-1, keepdims=True)
            lo = np.take_along_axis(v, np.maximum(k - 1, 0) // 2, -1)
            hi = np.take_along_axis(v, np.minimum(k // 2, v.shape[-1] - 1), -1)
            out = ((lo + hi) / 2.0)[..., 0]
        else:
            out = np.where(normal, v, -np.inf).max(-1)
        return np.where(ok, out, 0.0)

    # hourly weighted means (wake_losses.py:1098-1126)
    hours, h_of_t = np.unique(ref["_hour"].to_numpy(), return_inverse=True)
    onehot = np.zeros((n_t, len(hours)))
    onehot[np.arange(n_t), h_of_t] = 1.0
    hw = w @ onehot
    present = hw > 0

    def hourly(x):
        return ((x * w) @ onehot) / hw

    with np.errstate(invalid="ignore", divide="ignore"):
        fs_power = freestream(power, p["power_method"])
        fs_ws = freestream(speed, p["ws_method"])
        actual = power.sum(1)
        potential = fs_power * (~der).sum(-1) + np.where(der, power, 0.0).sum(-1)
        turb_potential = np.where(der, power, fs_power[..., None])
        lt_wd = ref["_wd_lt"].to_numpy()
        fs_ws_h = hourly(fs_ws)
        sims = np.arange(n_sim)[:, None]
        if p.get("slope") is None:
            ws_int = _round_half_up(fs_ws_h)
            parts = [
                _group_sums(_POR, {"sim": np.arange(n_sim)}, np.ones(n_sim, bool),
                            [(actual * w).sum(1), (potential * w).sum(1)]),
                _group_sums(_TURB, {"sim": sims, "turb": np.arange(n_turb)},
                            np.ones((n_sim, n_turb), bool),
                            [(x * w[..., None]).sum(1) for x in (power, turb_potential)]),
                _group_sums(_WD, {"sim": sims, "k1": lt_wd}, ok,
                            [actual * w, potential * w]),
                _group_sums(_WS_INT, {"sim": sims, "k1": ws_int},
                            present & (ws_int >= p["min_ws"]),
                            [*(hourly(ref[c].to_numpy()) for c in p["rean_cols"]),
                             np.ones(hw.shape)]),
            ]
        else:
            slope, icpt = p["slope"][:, None], p["icpt"][:, None]
            wsb, wdb = p["wsb"], p["wdb"]

            def ws_bin(x):
                return _round_half_up((slope * x + icpt) / wsb) * wsb

            wd_h = np.fmod(_round_half_up(hourly(ref["wind_direction_ref"].to_numpy()) / wdb)
                           * wdb, 360.0)
            # each turbine's hour takes its bins from the hour's first
            # kept 10-min stamp
            first = np.where(
                ok[:, :, None] & (h_of_t[None, :, None] == np.arange(len(hours))),
                np.arange(n_t)[None, :, None], n_t - 1,
            ).min(1)
            t_hourly = np.stack([
                np.einsum("stn,th->snh", x * w[..., None], onehot) / hw[:, None, :]
                for x in (np.broadcast_to(power, der.shape), turb_potential)
            ])
            parts = [
                _group_sums(_GRID, {"sim": sims, "k1": wd_h, "k2": ws_bin(fs_ws_h)},
                            present,
                            [hourly(actual) * hw, hourly(potential) * hw, hw]),
                _group_sums(_TGRID, {
                    "sim": sims[:, None], "turb": np.arange(n_turb)[None, :, None],
                    "k1": lt_wd[first][:, None, :],
                    "k2": ws_bin(np.take_along_axis(fs_ws, first, 1))[:, None, :],
                }, np.broadcast_to(present[:, None, :], t_hourly.shape[1:]),
                    [t_hourly[0] * hw[:, None, :], t_hourly[1] * hw[:, None, :],
                     np.broadcast_to(hw[:, None, :], t_hourly.shape[1:])]),
            ]
    return pd.concat(parts, ignore_index=True).reindex(columns=cols).fillna(0.0)


@dataclass
class WakeLosses:
    """Parameters mirror wake_losses.py:220-312; scalars when UQ=False,
    (min, max) MC ranges when UQ=True."""

    plant: PlantData
    reanalysis_products: list[str] | None = None
    UQ: bool = False
    num_sim: int = 100
    wind_direction_asset_ids: list[str] | None = None
    wd_bin_width: float = 5.0
    freestream_sector_width: float | tuple[float, float] = 90.0
    freestream_power_method: str = "mean"
    freestream_wind_speed_method: str = "mean"
    correct_for_derating: bool = True
    derating_filter_wind_speed_start: float | tuple[float, float] = 4.5
    max_power_filter: float | tuple[float, float] = 0.95
    wind_bin_mad_thresh: float | tuple[float, float] = 7.0
    wd_bin_width_LT_corr: float = 5.0
    ws_bin_width_LT_corr: float = 1.0
    num_years_LT: int | tuple[int, int] = 20
    assume_no_wakes_high_ws_LT_corr: bool = True
    no_wakes_ws_thresh_LT_corr: float = 13.0
    min_ws_bin_lin_reg: float = 3.0
    bin_count_thresh_lin_reg: int = 50
    seed: int = 42

    def __post_init__(self):
        if self.reanalysis_products is None:
            self.reanalysis_products = sorted(self.plant.reanalysis)
        self.turbine_ids = self.plant.turbine_ids
        if self.wind_direction_asset_ids is None:
            self.wind_direction_asset_ids = self.turbine_ids
        self._rng = np.random.default_rng(self.seed)
        self._base: DataFrame | None = None
        self._ref: DataFrame | None = None

    # ------------------------------------------------------------ prep

    def prepare(self) -> None:
        """Build the long fact table and the per-time reference table
        (wake_losses.py:983-1054): complete timestamps only, plant
        circular-mean wind direction, hour-floored reanalysis joined on."""
        n_turb = len(self.turbine_ids)
        scada = self.plant.scada.select(
            "time", "asset_id", "WMET_HorWdSpd", "WTUR_W", "WMET_HorWdDir"
        ).where(F.col("asset_id").isin(self.turbine_ids))
        # complete timestamps: every turbine reporting every variable
        complete = (
            scada.where(
                F.col("WMET_HorWdSpd").isNotNull() & F.col("WTUR_W").isNotNull()
                & F.col("WMET_HorWdDir").isNotNull()
            )
            .groupBy("time").agg(F.count("*").alias("_n"))
            .where(F.col("_n") == n_turb)
            .select("time")
        )
        base = scada.join(complete, "time", "inner")
        # plant reference wind direction: circular mean over the
        # designated assets (met.circular_mean, wake_losses.py:1017-1034)
        ref = (
            base.where(F.col("asset_id").isin(self.wind_direction_asset_ids))
            .groupBy("time")
            .agg(met.circular_mean_agg("WMET_HorWdDir").alias("wind_direction_ref"))
        )
        # hour-floored reanalysis join == ffill of hourly onto sub-hourly
        # stamps (wake_losses.py:1036-1054)
        for p in self.reanalysis_products:
            rean = self.plant.reanalysis[p].select(
                F.date_trunc("hour", "time").alias("_hr"),
                F.col("WMETR_HorWdSpd").alias(f"ws_rean_{p}"),
                F.col("WMETR_HorWdDir").alias(f"wd_rean_{p}"),
            )
            ref = ref.withColumn("_hr", F.date_trunc("hour", "time")).join(
                rean, "_hr", "inner"
            ).drop("_hr")
        self._ref = ref.cache()
        self._base = base.join(ref.select("time"), "time", "inner").cache()

    def _freestream_rows(self, pairs: pd.DataFrame,
                         sector_width: float) -> tuple[np.ndarray, np.ndarray]:
        """Driver-side: freestream turbine set for each wd bin from the
        bearing pairs, merged into sectors of constant set
        (wake_losses.py:580-598); under UQ each sector's set is
        resampled with replacement (wake_losses.py:603-607). Returns
        the membership rows of each wd bin as (turbine index, -1 pad)
        and multiplicity arrays, (n_wd_bins, 2 · n_turbines)."""
        half = sector_width / 2.0
        wd_bins = np.arange(0.0, 360.0, self.wd_bin_width)
        sets: dict[float, tuple[str, ...]] = {}
        for wd in wd_bins:
            rel = (wd - pairs["bearing_deg"].to_numpy() + 540.0) % 360.0 - 180.0
            waked = set(pairs.loc[np.abs(rel) <= half, "asset_a"])
            sets[wd] = tuple(sorted(set(self.turbine_ids) - waked))
        # merge consecutive bins with identical sets into sectors
        sector_of_bin = {}
        sector_sets: dict[int, tuple[str, ...]] = {}
        sid = -1
        prev = None
        for wd in wd_bins:
            if sets[wd] != prev:
                sid += 1
                sector_sets[sid] = sets[wd]
                prev = sets[wd]
            sector_of_bin[wd] = sid
        # wrap-around: first and last sector share the set → merge
        # (both resamples then feed sector 0)
        wrap = sid > 0 and sector_sets[0] == sector_sets[sid]
        if wrap:
            for wd in wd_bins:
                if sector_of_bin[wd] == sid:
                    sector_of_bin[wd] = 0
        members: dict[int, list[tuple[int, float]]] = {}
        for s, ids in sector_sets.items():
            ids_eff = list(ids)
            if self.UQ and ids_eff:
                ids_eff = list(self._rng.choice(ids_eff, size=len(ids_eff), replace=True))
            members.setdefault(0 if (wrap and s == sid) else s, []).extend(
                (self.turbine_ids.index(t), float(ids_eff.count(t)))
                for t in sorted(set(ids_eff))
            )
        # a merged sector holds at most two rows per turbine
        ids = np.full((len(wd_bins), 2 * len(self.turbine_ids)), -1)
        mult = np.zeros(ids.shape)
        for b, wd in enumerate(wd_bins):
            for j, (t, m) in enumerate(members[sector_of_bin[wd]]):
                ids[b, j], mult[b, j] = t, m
        return ids, mult

    # ------------------------------------------------------------ draws

    def _draw(self, n_sims: int) -> pd.DataFrame:
        """Every sim's parameters, one row per sim, drawn in a fixed
        order: the scalar draws sim by sim, then each sim's freestream
        resample."""
        rng = self._rng

        def draw(v, integer=False):
            if self.UQ and isinstance(v, (tuple, list)):
                if integer:  # both ends, as MonteCarloAEP's windiness years
                    return int(rng.integers(v[0], v[1] + 1))
                return float(rng.uniform(v[0], v[1]))
            return float(v) if np.isscalar(v) else float(np.mean(v))

        inputs = pd.DataFrame([
            {
                "freestream_sector_width": draw(self.freestream_sector_width),
                "derating_filter_wind_speed_start": draw(self.derating_filter_wind_speed_start),
                "max_power_filter": draw(self.max_power_filter),
                "wind_bin_mad_thresh": draw(self.wind_bin_mad_thresh),
                "num_years_LT": int(draw(self.num_years_LT, integer=True)),
                "reanalysis_product": (
                    str(rng.choice(self.reanalysis_products)) if self.UQ
                    else self.reanalysis_products[n]
                ),
                # -1: no bootstrap, every timestamp weighs 1
                "bootstrap_seed": int(rng.integers(2**31)) if self.UQ else -1,
            }
            for n in range(n_sims)
        ])
        pairs = self.plant.asset_direction_pairs.toPandas()
        pairs = pairs[pairs["asset_a"].isin(self.turbine_ids)
                      & pairs["asset_b"].isin(self.turbine_ids)]
        rows = [self._freestream_rows(pairs, w) for w in inputs["freestream_sector_width"]]
        inputs["freestream_ids"] = [r[0] for r in rows]
        inputs["freestream_mult"] = [r[1] for r in rows]
        return inputs

    # ------------------------------------------------------------ stages

    def _flagged(self, inputs: pd.DataFrame, rated: dict[str, float]) -> DataFrame:
        """The base rows, keyed for the time-slice stage, each with its
        per-sim derate flags packed into bits (per-turbine stage)."""
        df = self._base.select(
            F.unix_micros("time").alias("_t"),
            F.unix_micros(F.date_trunc("day", "time")).alias("_day"),
            "asset_id", "WTUR_W", "WMET_HorWdSpd",
        )
        if not self.correct_for_derating:
            return df
        dws, mpf, mad = (
            inputs[c].to_numpy(float) for c in
            ("derating_filter_wind_speed_start", "max_power_filter", "wind_bin_mad_thresh")
        )

        def flag(pdf: pd.DataFrame) -> pd.DataFrame:
            flags = _derate_flags(pdf, rated[pdf["asset_id"].iat[0]], dws, mpf, mad)
            bits = np.ascontiguousarray(np.packbits(flags, axis=0).T)
            return pdf.assign(_derate=[r.tobytes() for r in bits])

        return df.groupBy("asset_id").applyInPandas(
            flag, T.StructType([*df.schema, T.StructField("_derate", T.BinaryType())])
        )

    def _weighted_ref(self, inputs: pd.DataFrame) -> DataFrame:
        """The per-time reference table keyed for the time-slice stage,
        with its wd bins and every sim's bootstrap weight: an array of
        ``poisson1_weight(bootstrap_seed, time)``, 1 without a seed."""
        seeds = F.array(*[F.lit(int(s)) for s in inputs["bootstrap_seed"]])
        weight = F.transform(
            seeds.cast("array<bigint>"),
            lambda s: F.when(s < 0, F.lit(1)).otherwise(poisson1_weight(s, "time")),
        )

        def wd_bin(width):
            return (F.round(F.col("wind_direction_ref") / width) * width) % 360.0

        return self._ref.select(
            F.unix_micros("time").alias("_t"),
            F.unix_micros(F.date_trunc("day", "time")).alias("_day"),
            F.unix_micros(F.date_trunc("hour", "time")).alias("_hour"),
            "wind_direction_ref",
            wd_bin(self.wd_bin_width).alias("_wd_bin"),
            wd_bin(self.wd_bin_width_LT_corr).alias("_wd_lt"),
            *[f"ws_rean_{p}" for p in self.reanalysis_products],
            weight.alias("_w"),
        )

    def _slice_sums(self, flagged: DataFrame, ref: DataFrame, inputs: pd.DataFrame,
                    slope: np.ndarray | None = None,
                    icpt: np.ndarray | None = None) -> pd.DataFrame:
        """Run the time-slice stage over every day and sum its partials
        in Spark: one row per (kind, sim, turb, k1, k2)."""
        rean_cols = [f"ws_rean_{p}" for p in self.reanalysis_products]
        n_vals = max(3, len(rean_cols) + 1)
        params = {
            "n_sim": len(inputs), "n_turb": len(self.turbine_ids),
            "turb_index": {t: i for i, t in enumerate(self.turbine_ids)},
            "derate": self.correct_for_derating,
            "wd_bins": np.arange(0.0, 360.0, self.wd_bin_width),
            "fs_ids": np.stack(inputs["freestream_ids"]),
            "fs_mult": np.stack(inputs["freestream_mult"]),
            "power_method": self.freestream_power_method,
            "ws_method": self.freestream_wind_speed_method,
            "rean_cols": rean_cols, "min_ws": self.min_ws_bin_lin_reg,
            "slope": slope, "icpt": icpt, "n_vals": n_vals,
            "wsb": self.ws_bin_width_LT_corr, "wdb": self.wd_bin_width_LT_corr,
        }
        vals = [f"v{i}" for i in range(n_vals)]
        schema = ("kind int, sim int, turb int, k1 double, k2 double, "
                  + ", ".join(f"{v} double" for v in vals))
        return (
            flagged.groupBy("_day").cogroup(ref.groupBy("_day"))
            .applyInPandas(lambda s, r: _slice_partials(s, r, params), schema)
            .groupBy("kind", "sim", "turb", "k1", "k2")
            .agg(*[F.sum(v).alias(v) for v in vals])
            .toPandas()
        )

    def _lt_frequencies(self, inputs: pd.DataFrame) -> dict[tuple, pd.DataFrame]:
        """LT (wd, ws) reanalysis frequencies per DISTINCT (product,
        num_years) among the sims (wake_losses.py:1151-1175): one counts
        query per product, a column per window length."""
        wsb, wdb = self.ws_bin_width_LT_corr, self.wd_bin_width_LT_corr
        out = {}
        for product, years in inputs.groupby("reanalysis_product")["num_years_LT"]:
            years = sorted(set(int(y) for y in years))
            rean = self.plant.reanalysis[product]
            end_lt = pd.Timestamp(rean.agg(F.max("time")).first()[0]).floor("h")
            counts = (
                rean.where(F.col("time") <= F.lit(end_lt.to_pydatetime()))
                .withColumn("ws_bin", F.round(F.col("WMETR_HorWdSpd") / wsb) * wsb)
                .withColumn("wd_bin",
                            (F.round(F.col("WMETR_HorWdDir") / wdb) * wdb) % 360.0)
                .groupBy("wd_bin", "ws_bin").agg(*[
                    F.count_if(F.col("time") > F.lit(
                        (end_lt - pd.offsets.DateOffset(years=y)).to_pydatetime()
                    )).alias(str(y))
                    for y in years
                ])
                .toPandas().set_index(["wd_bin", "ws_bin"]).sort_index()
            )
            for y in years:
                fr = counts.loc[counts[str(y)] > 0, [str(y)]].rename(columns={str(y): "cnt"})
                fr["freq"] = fr["cnt"] / fr["cnt"].sum()
                out[(product, y)] = fr
        return out

    # ------------------------------------------------------------ run

    def _simulate(self, inputs: pd.DataFrame) -> WakeLossesResult:
        """Every sim of ``inputs`` (``_draw``'s rows) through the two
        grouped stages, finished on the driver."""
        if self._base is None:
            self.prepare()
        ship_package(self.plant.spark)
        n_sims, nt = len(inputs), len(self.turbine_ids)
        n_rean = len(self.reanalysis_products)
        rated = {
            r["asset_id"]: float(r["rated_power"])
            for r in self.plant.asset.where(F.col("asset_id").isin(self.turbine_ids))
            .select("asset_id", "rated_power").collect()
            if r["rated_power"] is not None
        }
        flagged = self._flagged(inputs, rated).cache()
        ref = self._weighted_ref(inputs).cache()
        try:
            sums = self._slice_sums(flagged, ref, inputs)
            # SCADA freestream ws → reanalysis ws linear map from integer-
            # bin means of the hourly table (wake_losses.py:1127-1149)
            ws_int = sums[(sums["kind"] == _WS_INT)
                          & (sums[f"v{n_rean}"] >= self.bin_count_thresh_lin_reg)]
            by_sim = dict(tuple(ws_int.groupby("sim")))
            slope, icpt = np.ones(n_sims), np.zeros(n_sims)
            for n, product in enumerate(inputs["reanalysis_product"]):
                bs = by_sim.get(n, ws_int.iloc[:0])
                if len(bs) >= 2:  # else degenerate data: identity map
                    mean = bs[f"v{self.reanalysis_products.index(product)}"] / bs[f"v{n_rean}"]
                    coef, icpt[n] = reg.ols_fit(bs["k1"].to_numpy(), mean.to_numpy())
                    slope[n] = float(coef[0])
            lt_sums = self._slice_sums(flagged, ref, inputs, slope, icpt)
        finally:
            flagged.unpersist()
            ref.unpersist()
        freqs = self._lt_frequencies(inputs)

        kinds = dict(tuple(pd.concat([sums, lt_sums]).groupby("kind")))

        def part(kind):
            return kinds.get(kind, sums.iloc[:0])

        def scatter(rows, shape, *index, n_vals=2):
            """(v0, v1[, v2]) of ``rows`` at (sim, *index) of arrays of
            ``shape``, NaN where no row."""
            out = np.full((n_vals, *shape), np.nan)
            out[(slice(None), rows["sim"].to_numpy(), *index)] = (
                rows[[f"v{i}" for i in range(n_vals)]].to_numpy().T
            )
            return out

        ws_index = np.arange(0.0, 31.0, self.ws_bin_width_LT_corr)
        wd_index = np.arange(0.0, 360.0, self.wd_bin_width_LT_corr)
        with np.errstate(invalid="ignore", divide="ignore"):
            # POR sums (wake_losses.py:650-690)
            por = scatter(part(_POR), (n_sims,))
            turb = scatter(part(_TURB), (n_sims, nt), part(_TURB)["turb"].to_numpy())
            wd = part(_WD)
            wd = wd[wd["k1"].isin(wd_index)]
            wd = scatter(wd, (n_sims, len(wd_index)),
                         np.searchsorted(wd_index, wd["k1"].to_numpy()))

            # LT (wd, ws) bins that any sim's grid or frequencies name
            grid, tgrid = part(_GRID), part(_TGRID)
            bins = pd.MultiIndex.from_frame(
                pd.concat([
                    grid[["k1", "k2"]], tgrid[["k1", "k2"]],
                    *(fr.index.to_frame(index=False).set_axis(["k1", "k2"], axis=1)
                      for fr in freqs.values()),
                ]).drop_duplicates()
            )
            ws_of_bin = bins.get_level_values(1).to_numpy()
            n_bins = len(bins)
            g = scatter(grid, (n_sims, n_bins), bins.get_indexer(
                pd.MultiIndex.from_frame(grid[["k1", "k2"]])), n_vals=3)
            t_bin = bins.get_indexer(pd.MultiIndex.from_frame(tgrid[["k1", "k2"]]))
            freq = np.full((n_sims, n_bins), np.nan)
            for (product, years), fr in freqs.items():
                sims = np.flatnonzero((inputs["reanalysis_product"] == product).to_numpy()
                                      & (inputs["num_years_LT"] == years).to_numpy())
                freq[np.ix_(sims, bins.get_indexer(fr.index))] = fr["freq"].to_numpy()

            def by(level_index, level):
                """(bins, len(index)) 0/1 map of each bin's wd or ws."""
                return (bins.get_level_values(level).to_numpy()[:, None]
                        == level_index).astype(float)

            def binned_sum(x, onehot):
                """Per index value, the sum of the non-NaN ``x`` (NaN if none)."""
                n = (~np.isnan(x)).astype(float) @ onehot
                return np.where(n > 0, np.nan_to_num(x) @ onehot, np.nan)

            to_wd, to_ws = by(wd_index, 0), by(ws_index, 1)
            # frequency-weighted LT losses on the joined bin grid; with
            # no SCADA in a bin at or above the no-wake speed, actual =
            # potential = capacity (wake_losses.py:1151-1317)
            no_wakes = np.round(slope * self.no_wakes_ws_thresh_LT_corr + icpt)
            fill = (np.isnan(g[0]) & (ws_of_bin >= no_wakes[:, None])
                    & self.assume_no_wakes_high_ws_LT_corr)
            mean = np.where(fill, self.plant.metadata.capacity * 1e3, g[:2] / g[2])
            e = freq * mean
            # per turbine, one sim at a time: (turbines, bins) arrays
            rated_t = np.array([rated[t] for t in self.turbine_ids])[:, None]
            t_rows = {n: r.index for n, r in tgrid.reset_index(drop=True).groupby("sim")}
            t_vals = tgrid[["v0", "v1", "v2"]].to_numpy()
            t_turb = tgrid["turb"].to_numpy()
            turbine_lt = np.empty((n_sims, nt))
            for n in range(n_sims):
                rows = t_rows.get(n, [])
                tg = np.full((3, nt, n_bins), np.nan)
                tg[:, t_turb[rows], t_bin[rows]] = t_vals[rows].T
                t_fill = (np.isnan(tg[0]) & (ws_of_bin >= no_wakes[n])
                          & self.assume_no_wakes_high_ws_LT_corr)
                t_e = freq[n] * np.where(t_fill, rated_t, tg[:2] / tg[2])
                turbine_lt[n] = 1.0 - np.nansum(t_e[0], -1) / np.nansum(t_e[1], -1)

            return WakeLossesResult(
                wake_losses_por=1.0 - por[0] / por[1],
                turbine_wake_losses_por=1.0 - turb[0] / turb[1],
                wake_losses_lt=1.0 - np.nansum(e[0], -1) / np.nansum(e[1], -1),
                turbine_wake_losses_lt=turbine_lt,
                wake_losses_por_wd=wd[0] / wd[1],
                wake_losses_lt_wd=binned_sum(e[0], to_wd) / binned_sum(e[1], to_wd),
                wake_losses_por_ws=binned_sum(g[0], to_ws) / binned_sum(g[1], to_ws),
                wake_losses_lt_ws=binned_sum(e[0], to_ws) / binned_sum(e[1], to_ws),
                turbine_ids=self.turbine_ids, inputs=inputs,
            )

    def run(self, num_sim: int | None = None) -> WakeLossesResult:
        n_sims = (num_sim or self.num_sim) if self.UQ else len(self.reanalysis_products)
        return self._simulate(self._draw(n_sims))

