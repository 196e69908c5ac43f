"""OLS modeling tail — distributed normal equations + confidence intervals.

Reference parity: ``run_model`` (src/tasks.py:561-580) — OLS of y on X
with NO intercept (``sm.OLS`` without ``add_constant``); the regressor
set is every column ≠ y whose name contains any X entry as a substring
(picks up one-hot dummy columns; quirk preserved) — and
``plot_confidence_intervals`` (src/tasks.py:585-608) — 95% CI per
coefficient, unpivoted to a long (regressor, interval, estimate) frame.

Spark-first design: a single aggregate pass computes the full Gram
matrix XᵀX, Xᵀy, and yᵀy as k(k+1)/2 + k + 1 sums (map-side partial
aggregation → one tiny collected row); the k×k solve happens on the
driver with numpy. Nothing data-sized ever reaches the driver, so the
same plan runs unchanged on 100 TB. (MLlib's LinearRegression with
solver='normal' does the same thing internally; doing it explicitly
keeps the dependency surface minimal and the math auditable.)
"""

from __future__ import annotations

import math
from collections.abc import Sequence
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simple_data_workflow_spark.functions.cols import qcol
from simple_data_workflow_spark.operators.categorical import CategoryRegistry
from simple_data_workflow_spark.operators.transforms import (
    _gelman_aggs,
    _gelman_apply,
    _gelman_columns,
    gelman_standardize_data,
)


@dataclass
class OLSResult:
    """Mirrors the slice of statsmodels RegressionResultsWrapper the
    reference consumes: params, bse (std errors), conf_int, df_resid."""

    regressors: list[str]
    params: np.ndarray
    bse: np.ndarray
    df_resid: int
    nobs: int

    def conf_int(self, alpha: float = 0.05) -> np.ndarray:
        t = _t_ppf(1.0 - alpha / 2.0, self.df_resid)
        lo = self.params - t * self.bse
        hi = self.params + t * self.bse
        return np.stack([lo, hi], axis=1)


def _t_ppf(p: float, dof: int) -> float:
    """Student-t quantile without scipy: bisection on the CDF via the
    regularized incomplete beta function (continued fraction)."""
    if dof <= 0:
        return float("nan")

    def betacf(a: float, b: float, x: float) -> float:
        qab, qap, qam = a + b, a + 1.0, a - 1.0
        c, d = 1.0, 1.0 - qab * x / qap
        if abs(d) < 1e-30:
            d = 1e-30
        d = 1.0 / d
        h = d
        for m in range(1, 200):
            m2 = 2 * m
            aa = m * (b - m) * x / ((qam + m2) * (a + m2))
            d = 1.0 + aa * d
            if abs(d) < 1e-30:
                d = 1e-30
            c = 1.0 + aa / c
            if abs(c) < 1e-30:
                c = 1e-30
            d = 1.0 / d
            h *= d * c
            aa = -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))
            d = 1.0 + aa * d
            if abs(d) < 1e-30:
                d = 1e-30
            c = 1.0 + aa / c
            if abs(c) < 1e-30:
                c = 1e-30
            d = 1.0 / d
            delta = d * c
            h *= delta
            if abs(delta - 1.0) < 3e-12:
                break
        return h

    def ibeta(a: float, b: float, x: float) -> float:
        if x <= 0.0:
            return 0.0
        if x >= 1.0:
            return 1.0
        ln_beta = math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
        front = math.exp(ln_beta + a * math.log(x) + b * math.log(1.0 - x))
        if x < (a + 1.0) / (a + b + 2.0):
            return front * betacf(a, b, x) / a
        return 1.0 - front * betacf(b, a, 1.0 - x) / b

    def t_cdf(x: float) -> float:
        ib = ibeta(dof / 2.0, 0.5, dof / (dof + x * x))
        return 1.0 - 0.5 * ib if x > 0 else 0.5 * ib

    lo, hi = -1000.0, 1000.0
    for _ in range(200):
        mid = 0.5 * (lo + hi)
        if t_cdf(mid) < p:
            lo = mid
        else:
            hi = mid
    return 0.5 * (lo + hi)


def select_regressors(columns: Sequence[str], y: str, X: Sequence[str]) -> list[str]:
    """Reference quirk (src/tasks.py:574-577): every column ≠ y whose name
    CONTAINS any X entry as a substring — how one-hot dummies of a base
    column get picked up automatically."""
    return [c for c in columns if c != y and any(x in c for x in X)]


def run_model(df: DataFrame, y: str, X: Sequence[str]) -> OLSResult:
    """Intercept-free OLS via one-pass distributed normal equations."""
    regs = select_regressors(df.columns, y, X)
    if not regs:
        raise ValueError(f"no regressors match {X!r}")
    work = df.select(
        F.col(y).cast("double").alias("__y"),
        *[F.col(c).cast("double").alias(f"__x{i}") for i, c in enumerate(regs)],
    ).na.drop()
    k = len(regs)
    aggs = [F.count(F.lit(1)).alias("__n"), F.sum(F.col("__y") * F.col("__y")).alias("__yy")]
    for i in range(k):
        aggs.append(F.sum(F.col(f"__x{i}") * F.col("__y")).alias(f"__xy{i}"))
        for j in range(i, k):
            aggs.append(F.sum(F.col(f"__x{i}") * F.col(f"__x{j}")).alias(f"__xx{i}_{j}"))
    row = work.agg(*aggs).first()

    xtx = np.zeros((k, k))
    xty = np.zeros(k)
    for i in range(k):
        xty[i] = row[f"__xy{i}"]
        for j in range(i, k):
            xtx[i, j] = xtx[j, i] = row[f"__xx{i}_{j}"]
    return _ols(regs, row["__n"], xtx, xty, row["__yy"])


def _ols(regs: list[str], n: int, xtx: np.ndarray, xty: np.ndarray, yy: float) -> OLSResult:
    """Solve the normal equations on the driver (k×k)."""
    k = len(regs)
    beta = np.linalg.solve(xtx, xty)
    rss = float(yy - xty @ beta)
    df_resid = n - k
    sigma2 = rss / df_resid if df_resid > 0 else float("nan")
    cov = sigma2 * np.linalg.inv(xtx)
    bse = np.sqrt(np.diag(cov))
    return OLSResult(regressors=regs, params=beta, bse=bse, df_resid=df_resid, nobs=n)


def standardize_and_fit(
    df: DataFrame, registry: CategoryRegistry | None, y: str, X: Sequence[str]
) -> tuple[DataFrame, OLSResult]:
    """``gelman_standardize_data(df, registry)`` and ``run_model`` on it,
    from ONE aggregate pass over ``df``.

    The Gelman transform is affine per column, z = (x − m) / d, so the
    standardized XᵀX, Xᵀy and yᵀy over the complete rows follow from the
    raw columns: Σ zᵢzⱼ = n·(covᵢⱼ + (cᵢ − mᵢ)(cⱼ − mⱼ)) / (dᵢdⱼ), with
    n, the means c and the population covariances cov taken over the
    rows where y and every regressor are non-NULL (``covar_pop`` updates
    stably, so no large raw cross-products cancel). The same aggregate
    yields the avg/stddev_samp literals the standardized frame uses, so
    that frame is identical to ``gelman_standardize_data``'s; the fit
    differs from ``run_model``'s by round-off only. A design the affine
    form does not cover — a regressor the transform leaves unchanged, a
    zero or non-finite scale, no complete row — falls back to
    ``run_model`` on the standardized frame, one more pass."""
    regs = select_regressors(df.columns, y, X)
    if not regs:
        raise ValueError(f"no regressors match {X!r}")
    numeric, boolean = _gelman_columns(df, registry)
    design = [y] + regs
    if not all(c in numeric or c in boolean for c in design):
        std = gelman_standardize_data(df, registry)
        return std, run_model(std, y, X)
    complete = F.lit(True)
    for c in design:
        complete = complete & qcol(c).isNotNull()
    xs = [F.when(complete, qcol(c).cast("double")) for c in design]
    k = len(design)
    aggs = _gelman_aggs(numeric, boolean) + [F.count(xs[0]).alias("__n")]
    aggs += [F.avg(x).alias(f"__c{i}") for i, x in enumerate(xs)]
    aggs += [
        F.covar_pop(xs[i], xs[j]).alias(f"__cov{i}_{j}") for i in range(k) for j in range(i, k)
    ]
    row = df.agg(*aggs).first()
    std = _gelman_apply(df, numeric, boolean, row)

    n = row["__n"]
    m = [row[f"__mu_{c}"] for c in design]
    sd = [row[f"__sd_{c}"] if c in numeric else 0.5 for c in design]  # booleans: d = 1
    if not (n and all(v is not None and math.isfinite(v) for v in m + sd) and min(sd) > 0):
        return std, run_model(std, y, X)
    d = [2.0 * v for v in sd]
    dev = [row[f"__c{i}"] - float(m[i]) for i in range(k)]
    g = np.zeros((k, k))
    for i in range(k):
        for j in range(i, k):
            g[i, j] = g[j, i] = n * (row[f"__cov{i}_{j}"] + dev[i] * dev[j]) / (d[i] * d[j])
    return std, _ols(regs, n, g[1:, 1:], g[1:, 0], g[0, 0])


def confidence_intervals(
    spark: SparkSession, res: OLSResult, alpha: float = 0.05
) -> DataFrame:
    """95% CI long frame (regressor, interval, estimate) — the reference's
    pre-chart unpivot (src/tasks.py:593-600); rendering is presentation
    (Altair) and intentionally out of engine scope."""
    ci = res.conf_int(alpha)
    rows = []
    for name, (lo, hi) in zip(res.regressors, ci):
        rows.append((name, "lower", float(lo)))
        rows.append((name, "upper", float(hi)))
    from simple_data_workflow_spark.smalldf import small_df

    return small_df(
        spark, rows, "regressor string, interval string, estimate double"
    )


def fit_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    y: str,
    x: str,
) -> DataFrame:
    """Per-group simple linear fit (slope/intercept/R²) via the grouped-
    map ``applyInPandas`` surface — one model per group, fitted with
    numpy inside an Arrow batch.

    This is the fourth and last Python-extension shape the engine
    exposes (scalar pandas UDF, GROUPED_AGG UDAF, UDTF, and this
    grouped map), and the one real per-group model fitting needs: the
    whole group arrives as ONE pandas frame, so any sklearn/scipy-style
    estimator drops in unchanged. Same scale caveat as the UDAF — a
    group must fit in executor memory; Spark shuffles on the group key
    and runs groups in parallel, so many small groups (the analytics
    shape) parallelize perfectly while one giant group does not. For
    global fits use ``run_model`` (distributed normal equations); this
    is its many-models sibling.
    """
    import pandas as pd

    gcols = list(group_cols)
    schema = ", ".join(
        [f"{c} {dict(df.dtypes)[c]}" for c in gcols]
        + ["slope double", "intercept double", "r2 double", "n_rows long"]
    )

    def fit(pdf: "pd.DataFrame") -> "pd.DataFrame":
        xs = pdf[x].to_numpy(dtype=float)
        ys = pdf[y].to_numpy(dtype=float)
        keys = {c: [pdf[c].iloc[0]] for c in gcols}
        n = len(xs)
        if n < 2 or np.ptp(xs) == 0.0:
            return pd.DataFrame(
                {**keys, "slope": [float("nan")], "intercept": [float("nan")],
                 "r2": [float("nan")], "n_rows": [n]}
            )
        A = np.vstack([xs, np.ones(n)]).T
        (slope, intercept), res, _, _ = np.linalg.lstsq(A, ys, rcond=None)
        ss_tot = float(((ys - ys.mean()) ** 2).sum())
        ss_res = float(res[0]) if len(res) else float(((A @ [slope, intercept] - ys) ** 2).sum())
        r2 = 1.0 - ss_res / ss_tot if ss_tot > 0 else float("nan")
        return pd.DataFrame(
            {**keys, "slope": [float(slope)], "intercept": [float(intercept)],
             "r2": [r2], "n_rows": [n]}
        )

    return df.select(*gcols, x, y).groupBy(*gcols).applyInPandas(fit, schema)
