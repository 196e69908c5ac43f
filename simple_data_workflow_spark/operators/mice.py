"""MICE — multiple imputation by chained equations, Spark-first.

Reference parity: ``wrangle_na(..., strategy='mice')`` wraps statsmodels
``MICEData`` (reference src/tasks.py:444-473): burn-in ``n_burnin``
update sweeps, then ``n_imputations`` saved datasets drawn every
``n_spread`` sweeps, output = the saved datasets stacked with a
MultiIndex ``(iter, index)`` — here two ordinary columns
``(iter, row_id)`` (SURVEY.md §1.3: Spark has no row index).

Distributed design — nothing data-sized ever reaches the driver:

- each chained-equation fit is ONE aggregate pass building the Gram
  matrix XᵀX / Xᵀy over currently-complete values (the same one-pass
  normal-equations reduction as ``operators.model``), solved k×k on the
  driver and re-broadcast as literal coefficients;
- the stochastic draw is a per-row deterministic Box–Muller transform
  seeded from ``xxhash64(row_id, col, sweep)`` — fully JVM-side, no
  Python UDF, reproducible regardless of partitioning;
- statsmodels uses predictive-mean-matching draws; we use Bayesian
  normal draws (pred + N(0, σ̂)) — same first two moments, which is what
  the reference's own (stub) KL acceptance test checks
  (reference src/tests/test_tasks.py:465-470);
- each sweep ends in a lazy ``localCheckpoint`` (``eager=False``):
  lineage is truncated every sweep, so the Catalyst plan depth stays
  CONSTANT across any number of sweeps. The next fit's aggregate is the
  job that materializes the checkpoint, so a sweep costs no job of its
  own, and the saved draws reference checkpoint data — stacking the
  ``n_imputations`` outputs at the end reads the checkpoints instead of
  replaying up to ``n_burnin + n_imputations·n_spread`` sweeps of
  lineage per draw.
  Superseded sweeps drop out of scope and their executor-local blocks
  are released by Spark's ContextCleaner; peak storage is a handful of
  materialized copies (MEMORY_AND_DISK, spills rather than OOMs). On a
  cluster, executor loss invalidates local checkpoints — acceptable
  here because the draws are hash-seeded and a retried run reproduces
  them exactly.

Categorical/boolean columns that hold a NULL are mode-filled once up
front (the linear chained equations cover numeric columns, matching the
reference's numeric usage).
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType

from simple_data_workflow_spark.functions.cols import qcol


def _u01(seed_col: Column) -> Column:
    """Deterministic uniform(0,1) from a 64-bit hash (53 mantissa bits)."""
    return (F.pmod(seed_col, F.lit(2**53).cast("long")).cast("double")) / F.lit(float(2**53))


def _gauss(*seed_parts: Column) -> Column:
    """Box–Muller standard normal from two independent hash streams."""
    u1 = _u01(F.xxhash64(F.lit(1), *seed_parts))
    u2 = _u01(F.xxhash64(F.lit(2), *seed_parts))
    # clamp u1 away from 0 so log() stays finite
    u1 = F.greatest(u1, F.lit(1e-12))
    return F.sqrt(-2.0 * F.log(u1)) * F.cos(2.0 * float(np.pi) * u2)


def _fit_column(df: DataFrame, target: str, feats: list[str]) -> tuple[np.ndarray, float]:
    """One-pass OLS (with intercept) of target on feats over rows where the
    target was originally observed. Returns (coefs incl. intercept, sigma)."""
    work = df.where(~F.col(f"__na_{target}"))
    k = len(feats) + 1  # + intercept
    xs = [F.lit(1.0)] + [F.col(c).cast("double") for c in feats]
    aggs = [F.count(F.lit(1)).alias("n"), F.sum(F.col(target) * F.col(target)).alias("yy")]
    for i, xi in enumerate(xs):
        aggs.append(F.sum(xi * F.col(target)).alias(f"xy{i}"))
        for j in range(i, k):
            aggs.append(F.sum(xi * xs[j]).alias(f"xx{i}_{j}"))
    row = work.agg(*aggs).first()
    n = row["n"]
    xtx = np.zeros((k, k))
    xty = np.zeros(k)
    for i in range(k):
        xty[i] = row[f"xy{i}"] or 0.0
        for j in range(i, k):
            xtx[i, j] = xtx[j, i] = row[f"xx{i}_{j}"] or 0.0
    # ridge jitter keeps the solve stable when a feature is constant
    beta = np.linalg.solve(xtx + 1e-8 * np.eye(k), xty)
    rss = max(float((row["yy"] or 0.0) - xty @ beta), 0.0)
    dof = max(n - k, 1)
    sigma = float(np.sqrt(rss / dof))
    return beta, sigma


def _pmm_draw(
    work: DataFrame, target: str, pred, row_id: str, sweep: int, seed: int,
    n_buckets: int = 64,
) -> DataFrame:
    """Predictive-mean-matching draw (statsmodels' default): each missing
    cell takes the OBSERVED value of a row whose predicted mean is
    closest to its own prediction — imputed values are always real
    observed values (respects bounds/discreteness), unlike a normal draw.

    Distributed as an as-of-style carry along the prediction axis inside
    prediction-RANGE buckets (min/max from one tiny agg): donors
    (observed rows) carry their value forward/backward per bucket; each
    missing row picks the nearer neighbor, a hash bit breaking exact
    ties. The windows partition on the bucket — never a global sort — so
    the draw scales; a missing row at a bucket edge just falls back to
    its one-sided neighbor (PMM samples among near donors anyway).

    ``n_buckets`` bounds per-bucket sort size (the scale knob): callers
    derive it from the data's partition count so each bucket holds
    ~rows/n_buckets rows regardless of scale — a fixed count would cap
    parallelism and let per-bucket sorts grow with the data.

    A bucket may contain no donors at all (every row in it missing);
    such rows take a precomputed fallback donor — the boundary donor of
    the nearest donor-bearing bucket — via a literal map built from one
    tiny aggregate (≤ n_buckets rows to the driver, bounded by the knob,
    never by the data)."""
    from pyspark.sql.window import Window

    scored = work.withColumn("__pred", pred)
    lo, hi = scored.agg(F.min("__pred"), F.max("__pred")).first()
    width = ((hi - lo) / n_buckets) if hi is not None and hi > lo else 1.0
    scored = scored.withColumn(
        "__pbucket",
        F.least(
            F.floor((F.col("__pred") - F.lit(lo)) / F.lit(width)).cast("int"),
            F.lit(n_buckets - 1),
        ),
    )
    # boundary donors per bucket (donor-bearing buckets only): feeds the
    # donor-less-bucket fallback below
    donor_stats = {
        int(r["__pbucket"]): (r["lo_v"], r["hi_v"])
        for r in scored.where(~F.col(f"__na_{target}"))
        .groupBy("__pbucket")
        .agg(
            F.min_by(target, "__pred").alias("lo_v"),
            F.max_by(target, "__pred").alias("hi_v"),
        )
        .collect()
    }
    if not donor_stats:
        raise ValueError(f"pmm: column {target!r} has no observed values to draw from")
    fallback: dict[int, float] = {}
    for bkt in range(n_buckets):
        if bkt in donor_stats:
            continue
        below = max((d for d in donor_stats if d < bkt), default=None)
        above = min((d for d in donor_stats if d > bkt), default=None)
        if below is not None and (above is None or bkt - below <= above - bkt):
            fallback[bkt] = float(donor_stats[below][1])  # donor nearest the gap
        else:
            fallback[bkt] = float(donor_stats[above][0])
    w = (
        Window.partitionBy("__pbucket")
        .orderBy("__pred", F.col(row_id))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_rev = (
        Window.partitionBy("__pbucket")
        .orderBy(F.desc("__pred"), F.desc(row_id))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    donor_val = F.when(~F.col(f"__na_{target}"), F.col(target))
    donor_pred = F.when(~F.col(f"__na_{target}"), F.col("__pred"))
    carried = (
        scored.withColumn("__below_v", F.last(donor_val, ignorenulls=True).over(w))
        .withColumn("__below_p", F.last(donor_pred, ignorenulls=True).over(w))
        .withColumn("__above_v", F.last(donor_val, ignorenulls=True).over(w_rev))
        .withColumn("__above_p", F.last(donor_pred, ignorenulls=True).over(w_rev))
    )
    d_below = F.abs(F.col("__pred") - F.col("__below_p"))
    d_above = F.abs(F.col("__pred") - F.col("__above_p"))
    jitter = F.pmod(F.xxhash64(F.col(row_id), F.lit(target), F.lit(sweep), F.lit(seed)), F.lit(2))
    pick_below = (
        F.col("__above_v").isNull()
        | (F.col("__below_v").isNotNull() & ((d_below < d_above) | ((d_below == d_above) & (jitter == 0))))
    )
    drawn = F.when(pick_below, F.col("__below_v")).otherwise(F.col("__above_v"))
    if fallback:
        fb_map = F.create_map(
            *[
                c
                for bkt, v in sorted(fallback.items())
                for c in (F.lit(bkt), F.lit(v))
            ]
        )
        drawn = F.coalesce(drawn, fb_map[F.col("__pbucket")])
    out = carried.withColumn(
        target, F.when(F.col(f"__na_{target}"), drawn).otherwise(F.col(target))
    )
    return out.drop("__pred", "__pbucket", "__below_v", "__below_p", "__above_v", "__above_p")


def mice_impute(
    df: DataFrame,
    cols: Sequence[str] | None = None,
    n_burnin: int = 20,
    n_imputations: int = 10,
    n_spread: int = 20,
    row_id: str | None = None,
    seed: int = 42,
    draw: str = "normal",
    n_buckets: int | None = None,
) -> DataFrame:
    """Chained-equation multiple imputation over numeric columns.

    ``draw='normal'``: Bayesian draws pred + N(0, σ̂) (deterministic
    Box–Muller). ``draw='pmm'``: predictive mean matching — statsmodels'
    default — imputed cells take nearest-predicted OBSERVED values.
    ``n_buckets`` (pmm only) partitions the donor-matching windows;
    default scales with the input's partition count so per-bucket work
    stays bounded as the data grows.

    Returns the reference's stacked shape: ``iter`` (0..n_imputations-1)
    + ``row_id`` + the data columns, one fully-imputed copy of the input
    per saved draw (reference src/tasks.py:467-469).
    """
    if draw not in ("normal", "pmm"):
        raise ValueError(f"draw must be 'normal' or 'pmm', got {draw!r}")
    cols = list(cols) if cols else list(df.columns)
    if row_id is None:
        row_id = "__mice_row_id"
        df = df.withColumn(row_id, F.monotonically_increasing_id())
    data_cols = [c for c in df.columns if c != row_id]

    numeric = [
        f.name
        for f in df.schema.fields
        if f.name in cols and isinstance(f.dataType, NumericType)
    ]
    other = [f.name for f in df.schema.fields if f.name in cols and f.name not in numeric]
    # one pass for the has-missing flags of every column and the
    # start-state means
    stats = df.agg(
        *[F.max(qcol(c).isNull()).alias(f"__na_{c}") for c in numeric + other],
        *[F.avg(c).alias(f"__mu_{c}") for c in numeric],
    ).first()
    na_numeric = [c for c in numeric if stats[f"__na_{c}"]]
    if not na_numeric:
        raise ValueError("mice: no numeric column has missing values")

    # non-numeric columns holding a NULL: mode fill once (chained
    # equations are linear; reference usage imputes numeric regressors)
    from simple_data_workflow_spark.operators.na import _fill_values

    other_na = [c for c in other if stats[f"__na_{c}"]]
    if other_na:
        fills = _fill_values(df, other_na, {})
        if fills:
            df = df.fillna(fills)

    # track original missingness + start from column-mean fills
    work = df
    for c in na_numeric:
        work = work.withColumn(f"__na_{c}", F.col(c).isNull())
    work = work.fillna(
        {c: stats[f"__mu_{c}"] for c in na_numeric if stats[f"__mu_{c}"] is not None}
    )
    # checkpoint the start state: once the first fit materializes it, the
    # monotonically_increasing_id row ids (when generated here) are
    # pinned, so every sweep sees the same identities
    work = work.localCheckpoint(eager=False)
    if n_buckets is None:
        # per-bucket rows ≈ rows / (partitions · 8): parallelism tracks
        # the data instead of capping at a constant
        n_buckets = max(64, work.rdd.getNumPartitions() * 8)

    saved: list[DataFrame] = []
    sweep = 0
    while len(saved) < n_imputations:
        target_sweep = n_burnin if not saved else sweep + n_spread
        while sweep < target_sweep:
            sweep += 1
            for c in na_numeric:
                feats = [f for f in numeric if f != c]
                beta, sigma = _fit_column(work, c, feats)
                pred = F.lit(float(beta[0]))
                for b, f_ in zip(beta[1:], feats):
                    pred = pred + F.lit(float(b)) * F.col(f_).cast("double")
                if draw == "pmm":
                    work = _pmm_draw(work, c, pred, row_id, sweep, seed, n_buckets)
                else:
                    noise = F.lit(sigma) * _gauss(
                        F.col(row_id), F.lit(c), F.lit(sweep), F.lit(seed)
                    )
                    work = work.withColumn(
                        c, F.when(F.col(f"__na_{c}"), pred + noise).otherwise(F.col(c))
                    )
            # truncate lineage EVERY sweep: constant plan depth, and the
            # frames captured in `saved` stay valid checkpoint data (the
            # old persist/unpersist chain invalidated earlier draws, which
            # then replayed their full sweep lineage when finally stacked)
            work = work.localCheckpoint(eager=False)
        saved.append(
            work.select(
                F.lit(len(saved)).cast("long").alias("iter"),
                F.col(row_id).alias("row_id"),
                *data_cols,
            )
        )
    out = saved[0]
    for s in saved[1:]:
        out = out.unionByName(s)  # UNION ALL — the reference's concat
    return out
