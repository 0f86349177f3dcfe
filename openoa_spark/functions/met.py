"""Meteorological scalar/aggregate functions as Catalyst Column
expressions.

Parity targets (reference, behavior only — implementation is pure
Spark SQL expressions): openoa/utils/met_data_processing.py:21-384.
Every function here stays inside whole-stage codegen; none require a
Python UDF, so they vectorize on the JVM and cost ~nothing at 100 TB.

All functions accept a Column or a column name and return a Column, so
they compose with ``df.select`` / ``withColumn`` / ``groupBy().agg``.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# IEC 61400-12 constants (public standard), matching the reference's
# compute_air_density (met_data_processing.py:126-175).
R_CONST = 287.058  # specific gas constant, dry air [J/kg/K]
RW_CONST = 461.5  # specific gas constant, water vapor [J/kg/K]
G_CONST = 9.80665  # standard gravity [m/s^2]


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def wrap_180(angle: Column | str) -> Column:
    """Map an angle in degrees to the interval (-180, 180].

    Semantics: met_data_processing.py:21-41 (wrap_180).
    """
    a = _c(angle)
    m = ((a % 360) + 360) % 360  # positive mod (numpy-style)
    return F.when(m > 180.0, m - 360.0).otherwise(m)


def circular_mean_agg(angle_deg: Column | str) -> Column:
    """Aggregate circular (vector) mean of angles in degrees → [0, 360).

    Use inside ``groupBy().agg``. Semantics:
    met_data_processing.py:44-70 (circular_mean over an axis);
    scipy.stats.circmean equivalent.
    """
    a = F.radians(_c(angle_deg))
    mean = F.degrees(F.atan2(F.avg(F.sin(a)), F.avg(F.cos(a))))
    return (mean + 360) % 360


def compute_wind_direction(u: Column | str, v: Column | str) -> Column:
    """Wind direction [deg, 0-360) from u (east) and v (north)
    components; 180 + atan2(u, v), with 360 mapped to 0.

    Semantics: met_data_processing.py:73-90.
    """
    wd = F.lit(180.0) + F.degrees(F.atan2(_c(u), _c(v)))
    return F.when(wd >= 360.0, wd - 360.0).otherwise(wd)


def compute_u_v_components(ws: Column | str, wd: Column | str) -> tuple[Column, Column]:
    """(u, v) components from wind speed and direction (deg).

    Semantics: met_data_processing.py:93-123. Negative wind speeds are
    invalid; callers should range-flag first (the reference raises).
    """
    w, d = _c(ws), F.radians(_c(wd))
    return (-w * F.sin(d), -w * F.cos(d))


def compute_air_density(
    temp_k: Column | str,
    pres_pa: Column | str,
    humidity: Column | str | None = None,
) -> Column:
    """Ideal-gas humidity-corrected air density [kg/m^3], IEC 61400-12.

    rho = (1/T) * (P/R - phi*Pw*(1/R - 1/Rw)),
    Pw = 0.0000205 * exp(0.0631846 * T); phi defaults to 0.5.
    Semantics: met_data_processing.py:126-175.
    """
    t, p = _c(temp_k), _c(pres_pa)
    phi = F.lit(0.5) if humidity is None else _c(humidity)
    pw = F.lit(0.0000205) * F.exp(F.lit(0.0631846) * t)
    return (F.lit(1.0) / t) * (
        p / F.lit(R_CONST) - phi * pw * (F.lit(1.0 / R_CONST) - F.lit(1.0 / RW_CONST))
    )


def pressure_vertical_extrapolation(
    p0: Column | str, temp_avg_k: Column | str, z0: Column | str, z1: Column | str
) -> Column:
    """Hydrostatic pressure at height z1 given pressure at z0 [Pa].

    p1 = p0 * exp(-g * (z1 - z0) / (R * T_avg)).
    Semantics: met_data_processing.py:178-213.
    """
    return _c(p0) * F.exp(
        -F.lit(G_CONST) * (_c(z1) - _c(z0)) / (F.lit(R_CONST) * _c(temp_avg_k))
    )


def air_density_adjusted_wind_speed(
    ws: Column | str, dens: Column | str, mean_dens: Column
) -> Column:
    """Density-corrected wind speed ws * (rho / rho_mean)^(1/3).

    ``mean_dens`` is the (scalar) long-run mean density — compute it
    with one aggregate and inject via a broadcast scalar / window, so
    the correction stays a pure row expression at scale.
    Semantics: met_data_processing.py:216-234.
    """
    return _c(ws) * F.pow(_c(dens) / mean_dens, F.lit(1.0 / 3.0))


def compute_turbulence_intensity(ws_std: Column | str, ws_mean: Column | str) -> Column:
    """TI = sigma / mean. Semantics: met_data_processing.py:237-257."""
    return _c(ws_std) / _c(ws_mean)


def compute_shear(ws_by_height: dict[str, float]) -> Column:
    """Row-wise power-law shear exponent alpha from wind speeds at >= 2
    heights: the closed-form OLS slope of log(ws) on log(z).

    alpha = (n*sum(xy) - sum(x)sum(y)) / (n*sum(x^2) - sum(x)^2),
    x = log(height), y = log(ws). Semantics (log-log OLS fit):
    met_data_processing.py:260-327. Pure expression — no UDF, no
    array shuffle; scales linearly.

    Args:
        ws_by_height: {column name -> measurement height in m}
    """
    import math

    cols = list(ws_by_height.items())
    n = float(len(cols))
    xs = [math.log(h) for _, h in cols]
    ys = [F.log(_c(c)) for c, _ in cols]
    sum_x = sum(xs)
    sum_x2 = sum(x * x for x in xs)
    sum_y = ys[0]
    for y in ys[1:]:
        sum_y = sum_y + y
    sum_xy = ys[0] * F.lit(xs[0])
    for y, x in zip(ys[1:], xs[1:]):
        sum_xy = sum_xy + y * F.lit(x)
    return (F.lit(n) * sum_xy - F.lit(sum_x) * sum_y) / F.lit(
        n * sum_x2 - sum_x * sum_x
    )


def extrapolate_windspeed(
    v1: Column | str, z1: float, z2: float, shear: Column | str
) -> Column:
    """Power-law vertical wind-speed extrapolation to hub height:
    v2 = v1 · (z2/z1)^alpha. Semantics:
    met_data_processing.py:331-349. Pure expression."""
    return _c(v1) * F.pow(F.lit(float(z2) / float(z1)), _c(shear))


def compute_veer(
    wd_lower: Column | str, h_lower: float, wd_upper: Column | str, h_upper: float
) -> Column:
    """Wind-direction veer [deg/m]: wrapped direction change per meter
    between two heights. Semantics: met_data_processing.py:330-384.
    """
    return wrap_180(_c(wd_upper) - _c(wd_lower)) / F.lit(h_upper - h_lower)
