"""MICE chained-equation imputation (reference src/tasks.py:444-473)."""

import numpy as np
import pytest

from simple_data_workflow_spark.operators.na import wrangle_na


@pytest.fixture()
def na_frame(spark):
    rng = np.random.default_rng(0)
    n = 200
    x = rng.normal(10, 2, n)
    y = 2 * x + rng.normal(0, 1, n)
    rows = []
    for i in range(n):
        xi = None if i % 7 == 0 else float(x[i])
        yi = None if i % 11 == 0 else float(y[i])
        rows.append((i, xi, yi))
    return spark.createDataFrame(rows, "row_id long, x double, y double")


def test_mice_shape_and_completeness(na_frame):
    out = wrangle_na(
        na_frame,
        strategy="mice",
        cols=["x", "y"],
        n_burnin=2,
        n_imputations=3,
        n_spread=1,
        row_id="row_id",
    )
    assert set(out.columns) == {"iter", "row_id", "x", "y"}
    assert out.count() == 3 * 200  # n_imputations stacked copies
    assert out.where("x IS NULL OR y IS NULL").count() == 0
    assert [r["iter"] for r in out.select("iter").distinct().orderBy("iter").collect()] == [0, 1, 2]


def test_mice_preserves_observed_and_varies_imputed(na_frame):
    out = wrangle_na(
        na_frame,
        strategy="mice",
        cols=["x", "y"],
        n_burnin=2,
        n_imputations=2,
        n_spread=1,
        row_id="row_id",
    ).toPandas()
    # observed cells identical across imputations
    obs = out[out.row_id == 1].sort_values("iter")
    assert obs.x.nunique() == 1 and obs.y.nunique() == 1
    # imputed cells differ across imputations (stochastic draws)
    imp = out[out.row_id == 0].sort_values("iter")  # x was NA at row 0
    assert imp.x.nunique() == 2


def test_mice_distribution_reasonable(na_frame):
    """The reference's own acceptance criterion (its stub test): imputed
    marginals close to observed — check mean within a tolerance."""
    out = wrangle_na(
        na_frame,
        strategy="mice",
        cols=["x", "y"],
        n_burnin=3,
        n_imputations=2,
        n_spread=1,
        row_id="row_id",
    ).toPandas()
    pdf = na_frame.toPandas()
    observed_mean = pdf.x.dropna().mean()
    imputed_rows = out[out.row_id.isin(pdf[pdf.x.isna()].row_id)]
    assert abs(imputed_rows.x.mean() - observed_mean) < 2.0


@pytest.mark.parametrize("draw", ["normal", "pmm"])
def test_mice_kl_divergence_under_1(na_frame, draw):
    """The reference's stated (but stubbed) acceptance criterion
    (test_tasks.py:465-470): each imputed dataset from N draws has a
    KL divergence w.r.t. the original observed distribution below 1.

    Concretely: per column, 10 histogram bins spanning the observed
    range, Laplace (+1) smoothing on both sides, KL(imputed‖observed).
    Threshold 1.0 as the reference states; seed fixed at the operator
    default (42) so the draws are reproducible."""
    out = wrangle_na(
        na_frame,
        strategy="mice",
        cols=["x", "y"],
        n_burnin=3,
        n_imputations=3,
        n_spread=2,
        row_id="row_id",
        draw=draw,
    ).toPandas()
    pdf = na_frame.toPandas()
    for col in ("x", "y"):
        obs = pdf[col].dropna().to_numpy()
        bins = np.histogram_bin_edges(obs, bins=10)
        q_counts, _ = np.histogram(obs, bins=bins)
        q = (q_counts + 1) / (q_counts + 1).sum()
        for it in sorted(out["iter"].unique()):
            imp = out[out["iter"] == it][col].to_numpy()
            p_counts, _ = np.histogram(np.clip(imp, bins[0], bins[-1]), bins=bins)
            p = (p_counts + 1) / (p_counts + 1).sum()
            kl = float(np.sum(p * np.log(p / q)))
            assert 0.0 <= kl < 1.0, (draw, col, it, kl)


def test_mice_pmm_complete_even_in_donorless_buckets(na_frame):
    """A prediction-range bucket can hold only missing rows (no donors);
    those draws must fall back to a neighboring bucket's boundary donor
    rather than staying NULL. Small n_buckets vs rows makes donor-less
    buckets likely; assert total completeness on BOTH columns."""
    for nb in (4, 64, 512):
        out = wrangle_na(
            na_frame,
            strategy="mice",
            cols=["x", "y"],
            n_burnin=1,
            n_imputations=1,
            n_spread=1,
            row_id="row_id",
            draw="pmm",
            n_buckets=nb,
        )
        assert out.where("x IS NULL OR y IS NULL").count() == 0, nb


def test_mice_pmm_bucket_count_statistical_invariance(na_frame):
    """The bucket count is a parallelism knob, not a statistical one:
    across widely different n_buckets (same seed) every imputed cell is
    still an observed donor value and the imputed-column means agree to
    a tight tolerance. (Bitwise equality is NOT expected — a bucket edge
    moves which near donor a boundary row picks; PMM samples among near
    donors by design.)"""
    import numpy as np

    pdf = na_frame.toPandas()
    observed_x = set(pdf.x.dropna().round(9))
    means = []
    for nb in (8, 64, 256):
        out = wrangle_na(
            na_frame,
            strategy="mice",
            cols=["x", "y"],
            n_burnin=2,
            n_imputations=2,
            n_spread=1,
            row_id="row_id",
            draw="pmm",
            n_buckets=nb,
        ).toPandas()
        imputed = out[out.row_id.isin(pdf[pdf.x.isna()].row_id)]
        assert set(imputed.x.round(9)) <= observed_x, nb
        means.append(float(out.x.mean()))
    assert float(np.ptp(means)) < 0.25, means


def test_mice_pmm_draws_observed_values(na_frame):
    out = wrangle_na(
        na_frame,
        strategy="mice",
        cols=["x", "y"],
        n_burnin=2,
        n_imputations=2,
        n_spread=1,
        row_id="row_id",
        draw="pmm",
    ).toPandas()
    pdf = na_frame.toPandas()
    observed_x = set(pdf.x.dropna().round(9))
    imputed = out[out.row_id.isin(pdf[pdf.x.isna()].row_id)]
    # PMM property: every imputed cell is an actually-observed value
    assert set(imputed.x.round(9)) <= observed_x
    assert imputed.x.notna().all()


# Output fingerprints of mice_impute(n_burnin=2, n_imputations=2,
# n_spread=1, seed=7) on the seeded frame below, captured from the
# implementation with eager per-sweep checkpoints that mode-filled every
# non-numeric column: row count, per imputed column the sum of
# (row_id + 1)(iter + 1)·value, the same weights summed over rows where
# g == "b", the count of NULL g, and the (row_id + 1) sum where flag is
# set. Without a row_id the ids come from monotonically_increasing_id
# over the frame's 4 input partitions.
MICE_GOLDEN = {
    ("normal", "rid"): (480, 429546.3262880393, 645542.6836540058, -543.419220217957, 19122, 29040),
    ("normal", None): (
        480, 45949669279921.836, 68400899568366.72, -4253467293.900047, 2061584306802, 3092376460560,
    ),
    ("pmm", "rid"): (480, 428354.8862881301, 644144.0515268112, 2238.085503671868, 19122, 29040),
    ("pmm", None): (
        480, 45628783175742.62, 68543005251157.89, 59910283076.07048, 2061584306802, 3092376460560,
    ),
}


def _golden_frame(spark):
    rng = np.random.default_rng(2024)
    n = 240
    x = rng.normal(5, 2, n)
    z = rng.normal(0, 1, n)
    y = 1.5 * x - z + rng.normal(0, 0.5, n)
    rows = [
        (
            i,
            None if rng.random() < 0.15 else float(x[i]),
            None if rng.random() < 0.10 else float(y[i]),
            None if rng.random() < 0.20 else float(z[i]),
            None if i % 9 == 0 else ("a" if i % 3 else "b"),
            bool(i % 2),
        )
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "rid long, x double, y double, z double, g string, flag boolean"
    )


@pytest.mark.parametrize("draw, row_id", sorted(MICE_GOLDEN, key=str))
def test_mice_output_matches_golden(spark, draw, row_id):
    import math

    from simple_data_workflow_spark.operators.mice import mice_impute

    df = _golden_frame(spark)
    src = df if row_id else df.drop("rid")
    got = mice_impute(
        src, n_burnin=2, n_imputations=2, n_spread=1, row_id=row_id, draw=draw, seed=7
    ).collect()
    w = [(r["row_id"] + 1) * (r["iter"] + 1) for r in got]
    n, sx, sy, sz, g_b, flag = MICE_GOLDEN[(draw, row_id)]
    assert len(got) == n
    # float sums: tolerance for last-bit differences of JVM math across CPUs
    for col, want in (("x", sx), ("y", sy), ("z", sz)):
        assert math.fsum(wi * r[col] for wi, r in zip(w, got)) == pytest.approx(want, rel=1e-9)
    assert sum(wi for wi, r in zip(w, got) if r["g"] == "b") == g_b
    assert not [r for r in got if r["g"] is None]
    assert sum(r["row_id"] + 1 for r in got if r["flag"]) == flag


def test_mice_small_run_job_count(lineitem_6k, count_jobs):
    """2 numeric targets x 3 sweeps x one fit aggregate (map stage +
    result) plus the start aggregate; the lazy checkpoints add none."""
    from simple_data_workflow_spark.operators.mice import mice_impute

    src = lineitem_6k.select("l_rowid", "l_quantity", "l_discount")
    out, n_jobs = count_jobs(
        lambda: mice_impute(
            src, cols=["l_quantity", "l_discount"], n_burnin=2, n_imputations=2,
            n_spread=1, row_id="l_rowid",
        )
    )
    assert n_jobs <= 14
    assert out.count() == 2 * 6_000
