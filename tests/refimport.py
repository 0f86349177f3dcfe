"""Load the reference's pure NumPy/pandas utils for head-to-head parity
tests, without importing the ``openoa`` package __init__ (which pulls
pyproj/attrs analysis machinery this container lacks).

The three modules under test — ``filters``, ``timeseries``,
``met_data_processing`` — are pandas/NumPy code. Their only unmet
imports are:

- ``scipy``: used for ``scipy.linalg.inv``, ``scipy.spatial.distance.
  mahalanobis`` (both trivially NumPy-expressible) and
  ``scipy.constants.g`` (standard gravity, 9.80665 — a published
  constant). Stubbed below with exact equivalents.
- ``sklearn.cluster.KMeans``: only reached by cluster_mahalanobis_2d.
  Stubbed for the deterministic n_clusters=1 case (labels all zero,
  centroid = column means) — parity tests pin that case; k>1 paths are
  covered by the engine's own MLlib tests.

The stubs are registered in ``sys.modules`` once and shared; they are
exact for everything the reference modules call.
"""

from __future__ import annotations

import importlib
import importlib.machinery
import os
import sys
import types

import numpy as np
import pytest

_REF_ROOT = "/root/reference/openoa"


def _mod(name: str) -> types.ModuleType:
    """Stub module with a valid __spec__ (pyspark probes optional deps
    via importlib.util.find_spec, which raises on spec-less modules)."""
    m = types.ModuleType(name)
    m.__spec__ = importlib.machinery.ModuleSpec(name, loader=None)
    return m


class _StubKMeans:
    """Deterministic stand-in for sklearn KMeans.

    n_clusters=1: labels all zero, centroid = column means (exact for
    the reference's single-cluster path).

    n_clusters>1 (round 8): a NumPy replay of the ENGINE's
    integer-grid Lloyd (datapipe/similarity.py:kmeans_fit — 1e-6
    micros, seeds = the k lexicographically-smallest vectors, argmin
    ties to lowest cid, half-away integer means, 3 passes). This is
    the declared KMeans-substitution seam: injecting the same
    deterministic fit on both sides lets the parity test pin
    everything AROUND the substitution (per-cluster covariance,
    Mahalanobis distance, threshold flags) while the fit itself is
    pinned engine-vs-DuckDB by the mahalanobis_cluster_flag oracle."""

    def __init__(self, n_clusters=8, **_kw):
        self.n_clusters = n_clusters

    def fit(self, data):
        x = np.asarray(data, dtype=float)
        if self.n_clusters == 1:
            self.labels_ = np.zeros(len(x), dtype=int)
            self.cluster_centers_ = x.mean(axis=0, keepdims=True)
            return self
        k, iters = self.n_clusters, 3
        a = np.abs(x) * 1e6
        mic = np.where(x >= 0, np.floor(a + 0.5), -np.floor(a + 0.5)).astype(
            np.int64
        )
        order = np.lexsort((x[:, 1], x[:, 0]))
        cent = mic[order[:k]].copy()
        lab = None
        for it in range(iters):
            d2 = ((mic[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            lab = d2.argmin(axis=1)  # first minimum == lowest cid
            if it < iters - 1:
                for c in range(k):
                    m = lab == c
                    if m.any():
                        sm, n_ = mic[m].sum(axis=0), int(m.sum())
                        cent[c] = [
                            (2 * s + n_) // (2 * n_)
                            if s >= 0
                            else -((2 * (-s) + n_) // (2 * n_))
                            for s in sm
                        ]
        self.labels_ = lab
        self.cluster_centers_ = cent.astype(float) / 1e6
        return self


def _mahalanobis(u, v, vi):
    d = np.asarray(u, dtype=float) - np.asarray(v, dtype=float)
    return float(np.sqrt(d @ np.asarray(vi, dtype=float) @ d))


def _install_stubs() -> None:
    if "scipy" in sys.modules and not getattr(
        sys.modules["scipy"], "_parity_stub", False
    ):
        return  # real scipy present; nothing to do
    scipy = _mod("scipy")
    scipy._parity_stub = True
    linalg = _mod("scipy.linalg")
    linalg.inv = np.linalg.inv
    spatial = _mod("scipy.spatial")
    distance = _mod("scipy.spatial.distance")
    distance.mahalanobis = _mahalanobis
    spatial.distance = distance
    constants = _mod("scipy.constants")
    constants.g = 9.80665  # CODATA standard gravity, == scipy.constants.g
    scipy.linalg, scipy.spatial, scipy.constants = linalg, spatial, constants
    sys.modules.update(
        {
            "scipy": scipy,
            "scipy.linalg": linalg,
            "scipy.spatial": spatial,
            "scipy.spatial.distance": distance,
            "scipy.constants": constants,
        }
    )

    if "sklearn" not in sys.modules:
        sklearn = _mod("sklearn")
        cluster = _mod("sklearn.cluster")
        cluster.KMeans = _StubKMeans
        sklearn.cluster = cluster
        sys.modules.update({"sklearn": sklearn, "sklearn.cluster": cluster})

    if "tqdm" not in sys.modules:
        # imputing.py imports tqdm for progress bars only — an
        # identity passthrough is behavior-exact
        tq = _mod("tqdm")
        tq.tqdm = lambda it=None, *a, **kw: it
        sys.modules["tqdm"] = tq


def load_reference_utils():
    """Return (filters, timeseries, met_data_processing) reference
    modules, loading them directly from the reference checkout at
    ``_REF_ROOT``. Skips the calling test (or, at import time, its
    whole module) when that checkout is absent."""
    if not os.path.isdir(_REF_ROOT):
        pytest.skip(
            f"reference OpenOA checkout not found at {_REF_ROOT}",
            allow_module_level=True,
        )
    _install_stubs()
    if "openoa" not in sys.modules:
        # package shells with __path__ so absolute imports inside the
        # modules (`from openoa.utils._converters import ...`) resolve
        # WITHOUT executing the package __init__
        pkg = _mod("openoa")
        pkg.__path__ = [_REF_ROOT]
        upkg = _mod("openoa.utils")
        upkg.__path__ = [f"{_REF_ROOT}/utils"]
        sys.modules["openoa"] = pkg
        sys.modules["openoa.utils"] = upkg
    filters = importlib.import_module("openoa.utils.filters")
    timeseries = importlib.import_module("openoa.utils.timeseries")
    met = importlib.import_module("openoa.utils.met_data_processing")
    return filters, timeseries, met


def load_reference_imputing():
    """Return the reference ``imputing`` module (pandas/NumPy +
    numpy.polynomial only; tqdm stubbed as identity)."""
    load_reference_utils()  # installs stubs + package shells
    return importlib.import_module("openoa.utils.imputing")


def load_reference_qa():
    """Return the reference ``qa`` module. Its QA functions are pure
    pandas/pytz/dateutil (both installed); matplotlib / pyproj /
    h5pyd / openoa.utils.plot are imported at module top only for the
    plotting and WTK helpers, so inert stubs suffice (the parity
    tests never call those)."""
    load_reference_utils()
    stubs = {}
    if "matplotlib" not in sys.modules:
        mpl = _mod("matplotlib")
        plt = _mod("matplotlib.pyplot")
        mpl.pyplot = plt
        stubs.update({"matplotlib": mpl, "matplotlib.pyplot": plt})
    if "pyproj" not in sys.modules:
        pyproj = _mod("pyproj")
        pyproj.Proj = object
        stubs["pyproj"] = pyproj
    if "h5pyd" not in sys.modules:
        h5 = _mod("h5pyd")
        h5.File = object
        stubs["h5pyd"] = h5
    if "openoa.utils.plot" not in sys.modules:
        plot = _mod("openoa.utils.plot")
        plot.set_styling = lambda *a, **kw: None
        stubs["openoa.utils.plot"] = plot
    sys.modules.update(stubs)
    return importlib.import_module("openoa.utils.qa")


def load_reference_parametric_forms():
    """Return the reference ``power_curve.parametric_forms`` module
    (pure NumPy/pandas). A shell package for
    ``openoa.utils.power_curve`` bypasses its __init__, which imports
    the pygam/scipy-backed fitting module this container lacks."""
    load_reference_utils()
    if "openoa.utils.power_curve" not in sys.modules:
        pkg = _mod("openoa.utils.power_curve")
        pkg.__path__ = [f"{_REF_ROOT}/utils/power_curve"]
        sys.modules["openoa.utils.power_curve"] = pkg
    return importlib.import_module(
        "openoa.utils.power_curve.parametric_forms"
    )


class _StubLinearRegression:
    """Exact stand-in for sklearn LinearRegression (OLS via lstsq —
    numerically the same normal-equation solution sklearn computes)."""

    def fit(self, X, y):
        X = np.asarray(X, dtype=float)
        if X.ndim == 1:
            X = X[:, None]
        y = np.asarray(y, dtype=float)
        A = np.hstack([np.ones((len(X), 1)), X])
        coef, *_ = np.linalg.lstsq(A, y, rcond=None)
        self.intercept_ = float(coef[0])
        self.coef_ = coef[1:]
        return self

    def predict(self, X):
        X = np.asarray(X, dtype=float)
        if X.ndim == 1:
            X = X[:, None]
        return self.intercept_ + X @ self.coef_


def _r2_score(y_true, y_pred):
    y_true = np.asarray(y_true, dtype=float)
    y_pred = np.asarray(y_pred, dtype=float)
    ss_res = float(np.sum((y_true - y_pred) ** 2))
    ss_tot = float(np.sum((y_true - y_true.mean()) ** 2))
    return 1.0 - ss_res / ss_tot


def _mean_squared_error(y_true, y_pred):
    y_true = np.asarray(y_true, dtype=float)
    y_pred = np.asarray(y_pred, dtype=float)
    return float(np.mean((y_true - y_pred) ** 2))


class _RaisingStub:
    """Placeholder for sklearn/pygam estimators the lin-path parity
    tests never reach — loud failure if they ever are."""

    def __init__(self, *a, **kw):
        raise NotImplementedError(
            "reference-parity stubs cover the 'lin' path only"
        )


def load_reference_analysis():
    """Return the reference ``analysis.electrical_losses`` and
    ``analysis.aep`` modules, with the full PlantData import graph
    satisfied by exact-or-inert stubs: matplotlib/plot/tabulate/
    IPython/shapely/pyproj/eia are display- or geo-only (never touched
    by the lin-path pipelines), statsmodels.RLM is only reached with
    outlier_detection=True, and the sklearn pieces the lin path DOES
    touch (LinearRegression, r2_score, mean_squared_error) are exact
    NumPy implementations."""
    load_reference_qa()  # utils + matplotlib/pyproj/h5pyd/plot stubs

    stubs = {}
    mpl = sys.modules["matplotlib"]
    if not hasattr(mpl, "markers"):
        markers = _mod("matplotlib.markers")
        markers.MarkerStyle = object
        mpl.markers = markers
        stubs["matplotlib.markers"] = markers
    if not hasattr(sys.modules["matplotlib.pyplot"], "subplots"):
        sys.modules["matplotlib.pyplot"].subplots = _RaisingStub

    pyproj = sys.modules["pyproj"]
    if not hasattr(pyproj, "Transformer"):
        class _EquirectTransformer:
            """Planar-meter stand-in for pyproj's WGS84→UTM transform.
            The EL/AEP parity pipelines never read the projected
            geometry (only wake/TIE distance logic would) — it just
            has to produce finite coordinates for PlantData's
            post-init bookkeeping."""

            @classmethod
            def from_crs(cls, *_a, **_kw):
                return cls()

            def transform(self, lats, lons):
                lat = np.asarray(lats, dtype=float)
                lon = np.asarray(lons, dtype=float)
                r = 6371000.0
                x = np.radians(lon) * r * np.cos(np.radians(lat.mean()))
                y = np.radians(lat) * r
                return x, y

        pyproj.Transformer = _EquirectTransformer

    if "tabulate" not in sys.modules:
        tab = _mod("tabulate")
        tab.tabulate = lambda *a, **kw: ""
        stubs["tabulate"] = tab
    if "IPython" not in sys.modules:
        ipy = _mod("IPython")
        disp = _mod("IPython.display")
        disp.Markdown = lambda *a, **kw: None
        disp.display = lambda *a, **kw: None
        ipy.display = disp
        stubs.update({"IPython": ipy, "IPython.display": disp})
    if "shapely" not in sys.modules:
        shp = _mod("shapely")
        geom = _mod("shapely.geometry")

        class _Point:
            def __init__(self, x, y):
                self.x, self.y = float(x), float(y)

            def distance(self, other):  # shapely planar euclidean
                return float(np.hypot(self.x - other.x, self.y - other.y))

        geom.Point = _Point
        shp.geometry = geom
        stubs.update({"shapely": shp, "shapely.geometry": geom})
    if "eia" not in sys.modules:
        stubs["eia"] = _mod("eia")  # metadata_fetch import-only
    if "statsmodels" not in sys.modules:
        smod = _mod("statsmodels")
        api = _mod("statsmodels.api")
        api.add_constant = _RaisingStub  # outlier_detection=False only
        api.RLM = _RaisingStub
        robust = _mod("statsmodels.api.robust")
        norms = _mod("statsmodels.api.robust.norms")
        norms.HuberT = _RaisingStub
        robust.norms = norms
        api.robust = robust
        smod.api = api
        stubs.update({"statsmodels": smod, "statsmodels.api": api})
    if "pygam" not in sys.modules:
        pg = _mod("pygam")
        pg.GAM = _RaisingStub
        stubs["pygam"] = pg

    sk = sys.modules["sklearn"]
    if not hasattr(sk, "metrics"):
        metrics = _mod("sklearn.metrics")
        metrics.r2_score = _r2_score
        metrics.mean_squared_error = _mean_squared_error
        metrics.make_scorer = lambda *a, **kw: None
        lm = _mod("sklearn.linear_model")
        lm.LinearRegression = _StubLinearRegression

        class _KFold:  # constructed as a class-default kwarg; lin path
            def __init__(self, *a, **kw):  # never calls split()
                pass

            def split(self, *a, **kw):
                raise NotImplementedError("parity stubs: lin path only")

        ms = _mod("sklearn.model_selection")
        ms.KFold = _KFold
        ms.RandomizedSearchCV = _RaisingStub
        ens = _mod("sklearn.ensemble")
        ens.ExtraTreesRegressor = _RaisingStub
        ens.GradientBoostingRegressor = _RaisingStub
        sk.metrics, sk.linear_model = metrics, lm
        sk.model_selection, sk.ensemble = ms, ens
        stubs.update({
            "sklearn.metrics": metrics,
            "sklearn.linear_model": lm,
            "sklearn.model_selection": ms,
            "sklearn.ensemble": ens,
        })
    sys.modules.update(stubs)
    sys.modules["openoa"].__version__ = "parity-shell"

    # shell package: openoa.analysis.__init__ imports ALL six pipelines
    # (yaw pulls scipy.optimize etc.) — bypass it and import only the
    # two under test
    if "openoa.analysis" not in sys.modules:
        apkg = _mod("openoa.analysis")
        apkg.__path__ = [f"{_REF_ROOT}/analysis"]
        sys.modules["openoa.analysis"] = apkg

    el = importlib.import_module("openoa.analysis.electrical_losses")
    aep = importlib.import_module("openoa.analysis.aep")
    return el, aep


def _lm_curve_fit(f, xdata, ydata, p0=None, maxfev=2000, **_kw):
    """Generic Levenberg–Marquardt ``scipy.optimize.curve_fit``
    stand-in (numerical Jacobian, damped normal equations). Any
    correct least-squares optimizer converges to the same optimum on
    the well-conditioned 3-parameter cosine fits the yaw pipeline
    runs — this is an independent implementation, NOT the engine's
    cos_curve_fit, so the parity test compares two separately-written
    optimizers as well as the pipelines around them. Returns
    (popt, pcov) with pcov = (JᵀJ)⁻¹·s² like scipy."""
    x = np.asarray(xdata, dtype=float)
    y = np.asarray(ydata, dtype=float)
    p = np.array(p0 if p0 is not None else np.ones(2), dtype=float)

    def resid(q):
        r = y - np.asarray(f(x, *q), dtype=float)
        return np.where(np.isfinite(r), r, 1e150)

    r = resid(p)
    cost = float(r @ r)
    lam = 1e-3
    for _ in range(200):
        J = np.empty((len(r), len(p)))
        for j in range(len(p)):
            h = 1e-7 * max(abs(p[j]), 1e-3)
            pj = p.copy()
            pj[j] += h
            J[:, j] = (resid(pj) - r) / h
        g = J.T @ r
        A = J.T @ J
        moved = False
        for _damp in range(40):
            try:
                step = np.linalg.solve(
                    A + lam * np.diag(np.diag(A) + 1e-12), -g
                )
            except np.linalg.LinAlgError:
                lam *= 10.0
                continue
            r_new = resid(p + step)
            cost_new = float(r_new @ r_new)
            if cost_new <= cost:
                converged = cost - cost_new < 1e-14 * (1.0 + cost)
                p, r, cost = p + step, r_new, cost_new
                lam = max(lam / 3.0, 1e-12)
                moved = True
                if converged:
                    moved = False  # stop the outer loop too
                break
            lam = min(lam * 10.0, 1e12)
        if not moved:
            break
    dof = max(len(y) - len(p), 1)
    try:
        pcov = np.linalg.inv(J.T @ J) * (cost / dof)
    except np.linalg.LinAlgError:
        pcov = np.full((len(p), len(p)), np.inf)
    return p, pcov


def _shared_gam_3param(
    windspeed_col=None, wind_direction_col=None, air_density_col=None,
    power_col=None, n_splines=20, data=None,
):
    """Model-seam injection for the reference's pygam-backed
    ``power_curve.functions.gam_3param`` (pygam absent in this
    container): BOTH sides of the TIE pipeline parity test fit the
    ENGINE's P-spline additive model on raw (ws, wd, rho)
    (openoa_spark/functions/regression.py:gam_3param_fit — the same
    model CLASS as pygam's LinearGAM, Eilers-Marx P-splines with
    pygam's defaults), so the test pins everything AROUND the model —
    filtering, daily energy correction, imputation, daily reanalysis
    means, calendar-month long-term assembly, the MC loop — while the
    model seam is held identical. No clamp here: the reference clamps
    negative predictions itself (turbine_long_term_gross_energy
    .py:552), mirroring the engine's np.maximum in fit_and_apply."""
    from openoa_spark.functions.regression import gam_3param_fit

    model = gam_3param_fit(
        data[windspeed_col].to_numpy(dtype=float),
        data[wind_direction_col].to_numpy(dtype=float),
        data[air_density_col].to_numpy(dtype=float),
        data[power_col].to_numpy(dtype=float),
    )

    def predict(ws, wd, rho):
        return model(
            np.asarray(ws, dtype=float),
            np.asarray(wd, dtype=float),
            np.asarray(rho, dtype=float),
        )

    return predict


def load_reference_analysis_extended():
    """Return the reference ``wake_losses``, ``yaw_misalignment`` and
    ``turbine_long_term_gross_energy`` modules (round-7: pipeline
    parity beyond EL/AEP). Extra seams on top of
    :func:`load_reference_analysis`:

    - ``scipy.optimize.curve_fit``: independent NumPy LM (yaw's
      cosine fits are well-conditioned; both optimizers reach the
      same least-squares optimum);
    - ``matplotlib.ticker.StrMethodFormatter``: display-only, inert;
    - ``openoa.utils.power_curve.functions.gam_3param``: pygam is
      absent, so both sides share the engine's P-spline additive
      model with clipped edge extrapolation (see
      :func:`_shared_gam_3param` / regression.gam_3param_fit) — the
      TIE test pins the pipeline around an identical model seam.
    """
    load_reference_analysis()

    scipy = sys.modules["scipy"]
    if not hasattr(scipy, "optimize"):
        opt = _mod("scipy.optimize")
        opt.curve_fit = _lm_curve_fit
        scipy.optimize = opt
        sys.modules["scipy.optimize"] = opt
    mpl = sys.modules["matplotlib"]
    if not hasattr(mpl, "ticker"):
        ticker = _mod("matplotlib.ticker")
        ticker.StrMethodFormatter = object
        mpl.ticker = ticker
        sys.modules["matplotlib.ticker"] = ticker
    if "openoa.utils.power_curve" not in sys.modules:
        pkg = _mod("openoa.utils.power_curve")
        pkg.__path__ = [f"{_REF_ROOT}/utils/power_curve"]
        sys.modules["openoa.utils.power_curve"] = pkg
    if "openoa.utils.power_curve.functions" not in sys.modules:
        fns = _mod("openoa.utils.power_curve.functions")
        fns.gam_3param = _shared_gam_3param
        sys.modules["openoa.utils.power_curve.functions"] = fns
        sys.modules["openoa.utils.power_curve"].functions = fns

    wake = importlib.import_module("openoa.analysis.wake_losses")
    yaw = importlib.import_module("openoa.analysis.yaw_misalignment")
    tie = importlib.import_module(
        "openoa.analysis.turbine_long_term_gross_energy"
    )
    return wake, yaw, tie
