"""End-to-end pipeline (reference src/flow.py e2e_pipeline parity)."""

import numpy as np
import pytest

from simple_data_workflow_spark.plans import e2e_pipeline


def test_e2e_pipeline_stages(spark):
    df = spark.createDataFrame(
        [
            (1.5, 0, "A", 1.0),
            (None, 1, "A", 2.0),
            (2.5, 1, "B", 3.0),
            (2.0, 0, None, 4.0),
        ],
        ["  cOL One ", "war", "seg", "y"],
    )
    res = e2e_pipeline(spark, df=df, na_strategy="fi", endog="y", exog=["col_one", "war"])
    assert set(res.stages) == {
        "retrieve",
        "clean",
        "encode",
        "wrangle_na",
        "transform",
        "standardize",
    }
    assert res.stages["clean"].columns == ["col_one", "war", "seg", "y"]
    assert "seg_A" in res.stages["encode"].columns
    assert res.stages["wrangle_na"].where("col_one IS NULL").count() == 0
    assert res.model is not None
    assert res.model.regressors == ["col_one", "war"]
    assert res.conf_int.count() == 4  # 2 regressors × lower/upper


def test_e2e_reference_flow_params_fakeTSD(spark, tmp_path):
    """The reference's own smoke test shape (src/tests/test_flow.py:4-16):
    the EXACT flow kwargs it passes — url, cat_cols=['year'], endog='y',
    exog=['x1','x2'] — against a local file:// CSV with the fakeTSD
    column layout (Rdatasets index column included, which retrieve_data
    must drop), asserting every per-stage result exists instead of the
    live-URL state.is_successful()."""
    import numpy as np

    rng = np.random.default_rng(42)
    lines = [",year,y,x1,x2"]
    for i in range(40):
        x1 = rng.normal()
        x2 = rng.normal()
        y = 1.5 * x1 - 0.7 * x2 + rng.normal() * 0.1
        lines.append(f"{i + 1},{1980 + i},{y:.6f},{x1:.6f},{x2:.6f}")
    p = tmp_path / "fakeTSD.csv"
    p.write_text("\n".join(lines) + "\n")

    res = e2e_pipeline(
        spark,
        url=f"file://{p}",
        cat_cols=["year"],
        endog="y",
        exog=["x1", "x2"],
    )
    # per-stage results exist (the reference fetches each from flow state)
    assert set(res.stages) == {
        "retrieve", "clean", "encode", "wrangle_na", "transform", "standardize",
    }
    # the Rdatasets unnamed index column is gone (reference src/tasks.py:96)
    assert all("unnamed" not in c.lower() for c in res.stages["clean"].columns)
    # cat_cols=['year'] one-hot expands in encode (get_dummies naming)
    assert "year_1980" in res.stages["encode"].columns
    # no NAs in fakeTSD → cc strategy passes rows through untouched
    assert res.stages["wrangle_na"].count() == 40
    # substring regressor pickup resolves to exactly x1, x2
    assert res.model is not None and res.model.regressors == ["x1", "x2"]
    # standardized fit: both slopes recovered with the right signs
    coefs = dict(zip(res.model.regressors, res.model.params))
    assert coefs["x1"] > 0 > coefs["x2"]
    assert res.conf_int.count() == 4  # 2 regressors × lower/upper


def test_e2e_requires_exactly_one_source(spark):
    with pytest.raises(ValueError):
        e2e_pipeline(spark)


def test_entry_contract(spark):
    import __spark_entry__ as em

    out = em.entry(spark)
    rows = out.collect()
    assert len(rows) > 0
    assert set(em.oracle_sql()) <= set(em.queries())


def _stats_flow(spark, df):
    return e2e_pipeline(
        spark,
        df=df,
        na_strategy="fi",
        cat_cols=["l_returnflag", "l_linestatus"],
        transform_cols=["l_extendedprice", "l_quantity"],
        transform_func="arcsinh",
        endog="l_extendedprice",
        exog=["l_quantity", "l_discount", "l_tax"],
    )


def test_e2e_fi_runs_at_most_six_jobs(spark, lineitem_6k, count_jobs):
    """clean (dummy test + levels), fill (NULL flags + means) and the
    standardize/OLS moments are one aggregate each: 3 x (map stage +
    result) jobs."""
    res, n_jobs = count_jobs(lambda: _stats_flow(spark, lineitem_6k.drop("l_rowid")))
    assert n_jobs <= 6
    assert res.model.regressors == ["l_quantity", "l_discount", "l_tax"]


def test_e2e_fused_fit_matches_two_pass(spark, lineitem_6k):
    from simple_data_workflow_spark.operators.model import run_model
    from simple_data_workflow_spark.operators.transforms import gelman_standardize_data

    res = _stats_flow(spark, lineitem_6k.drop("l_rowid"))
    std = gelman_standardize_data(res["transform"], res.registry)
    want = run_model(std, "l_extendedprice", ["l_quantity", "l_discount", "l_tax"])
    assert sorted(res["standardize"].collect()) == sorted(std.collect())
    assert res["standardize"].schema == std.schema
    np.testing.assert_allclose(res.model.params, want.params, rtol=1e-9)
    np.testing.assert_allclose(res.model.bse, want.bse, rtol=1e-9)
    assert (res.model.nobs, res.model.df_resid) == (want.nobs, want.df_resid)
