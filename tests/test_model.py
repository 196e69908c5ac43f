"""OLS modeling tail — distributed normal equations vs numpy reference.

Mirrors reference test_tasks.py:644-670 (F4 fake_regression_data:
seeded DGP, intercept-free OLS)."""

import numpy as np
import pytest

from simple_data_workflow_spark.operators.model import (
    _t_ppf,
    confidence_intervals,
    run_model,
    select_regressors,
)


def _fake_regression(spark, n=500):
    rng = np.random.default_rng(42)
    x1 = rng.normal(0, 1, n)
    x3 = rng.exponential(10, n)
    x4 = rng.poisson(10, n).astype(float)
    y = x1 + x3 + x4 + rng.normal(0, 1, n)
    rows = [(float(a), float(b), float(c), float(d)) for a, b, c, d in zip(x1, x3, x4, y)]
    return spark.createDataFrame(rows, "x1 double, x3 double, x4 double, y double"), np.column_stack(
        [x1, x3, x4]
    ), y


def test_substring_regressor_selection():
    cols = ["y", "seg_A", "seg_B", "price", "other"]
    # reference quirk (src/tasks.py:574-577): substring containment picks
    # up one-hot dummies of a base column name
    assert select_regressors(cols, "y", ["seg", "price"]) == ["seg_A", "seg_B", "price"]


def test_ols_matches_numpy(spark):
    df, X, y = _fake_regression(spark)
    res = run_model(df, y="y", X=["x1", "x3", "x4"])
    beta_np, *_ = np.linalg.lstsq(X, y, rcond=None)
    assert res.params == pytest.approx(beta_np, rel=1e-8)
    # std errors: sigma^2 (X'X)^-1
    resid = y - X @ beta_np
    sigma2 = resid @ resid / (len(y) - 3)
    bse_np = np.sqrt(np.diag(sigma2 * np.linalg.inv(X.T @ X)))
    assert res.bse == pytest.approx(bse_np, rel=1e-8)


def test_t_ppf_known_values():
    # classic table values
    assert _t_ppf(0.975, 10) == pytest.approx(2.2281, abs=2e-4)
    assert _t_ppf(0.975, 100) == pytest.approx(1.9840, abs=2e-4)
    assert _t_ppf(0.95, 5) == pytest.approx(2.0150, abs=2e-4)


def test_confidence_intervals_frame(spark):
    df, X, y = _fake_regression(spark)
    res = run_model(df, y="y", X=["x1", "x3", "x4"])
    ci = confidence_intervals(spark, res)
    rows = ci.collect()
    assert {r["interval"] for r in rows} == {"lower", "upper"}
    assert len(rows) == 6  # 3 regressors × 2 bounds
    by_reg = {(r["regressor"], r["interval"]): r["estimate"] for r in rows}
    for i, reg in enumerate(res.regressors):
        assert by_reg[(reg, "lower")] < res.params[i] < by_reg[(reg, "upper")]


def test_fit_per_group_matches_numpy(spark):
    import numpy as np

    from simple_data_workflow_spark.operators.model import fit_per_group

    rows = []
    rng = np.random.default_rng(3)
    truths = {"a": (2.0, 1.0), "b": (-0.5, 4.0)}
    for g, (m, c) in truths.items():
        for i in range(50):
            x = float(i)
            rows.append((g, x, m * x + c + float(rng.normal(0, 0.01))))
    rows.append(("tiny", 1.0, 5.0))  # n<2 → NaN fit, not a crash
    df = spark.createDataFrame(rows, "g string, x double, y double")
    out = {r["g"]: r for r in fit_per_group(df, ["g"], y="y", x="x").collect()}
    for g, (m, c) in truths.items():
        assert abs(out[g]["slope"] - m) < 0.01
        assert abs(out[g]["intercept"] - c) < 0.05
        assert out[g]["r2"] > 0.99
        assert out[g]["n_rows"] == 50
    # NaN crosses the Arrow boundary as NULL
    assert out["tiny"]["slope"] is None and out["tiny"]["n_rows"] == 1


def _design_frame(spark, n=400):
    """NULLs in a regressor, a boolean regressor and a column whose mean
    is 1e6 times its spread (raw cross-products would cancel badly)."""
    rng = np.random.default_rng(11)
    big = 1e6 + rng.normal(0, 1, n)
    x = rng.normal(3, 2, n)
    flag = rng.random(n) < 0.3
    code = rng.integers(0, 3, n)
    y = 0.5 * x - 2.0 * (big - 1e6) + flag + rng.normal(0, 0.1, n)
    rows = [
        (None if i % 13 == 0 else float(x[i]), float(big[i]), bool(flag[i]), int(code[i]), float(y[i]))
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "x double, big double, flag boolean, code int, y double")


@pytest.mark.parametrize(
    "X, cat",
    [
        (["x", "big", "flag"], None),  # affine moments
        (["x", "code"], "code"),  # a regressor the transform leaves as is
    ],
)
def test_standardize_and_fit_matches_run_model(spark, X, cat):
    from simple_data_workflow_spark.operators.categorical import CategoryRegistry
    from simple_data_workflow_spark.operators.model import standardize_and_fit
    from simple_data_workflow_spark.operators.transforms import gelman_standardize_data

    df = _design_frame(spark)
    registry = CategoryRegistry()
    if cat:
        registry.add(cat, [0, 1, 2], ordered=True)
    std, res = standardize_and_fit(df, registry, "y", X)
    want_std = gelman_standardize_data(df, registry)
    want = run_model(want_std, "y", X)
    assert sorted(std.collect(), key=repr) == sorted(want_std.collect(), key=repr)
    assert res.regressors == want.regressors
    assert res.params == pytest.approx(want.params, rel=1e-9)
    assert res.bse == pytest.approx(want.bse, rel=1e-9)
    assert (res.nobs, res.df_resid) == (want.nobs, want.df_resid) == (369, 369 - len(X))


def test_standardize_and_fit_without_matching_regressor(spark):
    from simple_data_workflow_spark.operators.model import standardize_and_fit

    with pytest.raises(ValueError, match="no regressors match"):
        standardize_and_fit(_design_frame(spark), None, "y", ["nope"])
