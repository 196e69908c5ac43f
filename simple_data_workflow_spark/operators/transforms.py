"""Elementwise transforms + Gelman standardization.

Reference parity: ``transform_data`` (src/tasks.py:476-521) — natural
log / arcsinh over selected columns with a zero-guard for log — and
``gelman_standardize_data`` (src/tasks.py:524-556) — numeric columns
→ (x − mean) / (2·stddev_samp), boolean columns mean-centered only.

Scale notes: the standardization statistics come from ONE global
aggregate collected as a single tiny row and re-injected as literals —
NOT an empty-frame window (``avg(x) OVER ()`` forces every row into
one partition; a literal-broadcast keeps the transform embarrassingly
parallel at 100 TB).
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from simple_data_workflow_spark.functions.cols import qcol
from pyspark.sql.types import BooleanType, NumericType

from simple_data_workflow_spark.operators.categorical import CategoryRegistry

_FUNCS = {"log": F.log, "arcsinh": F.asinh, "asinh": F.asinh}

_SCALE = 1_000_000.0


def exact_moments_multi(
    df: DataFrame, cols: Sequence[str], s2_scale: float = 1.0
) -> dict[str, tuple[int, float, float]]:
    """(n, mean, stddev_samp) per column from exact scaled-integer sums —
    order-insensitive and bit-reproducible across engines (a parallel
    double sum is not; a fractional double→DECIMAL cast rounds
    differently per engine, an integral one is exact), so standardized
    outputs can be hash-compared against a DuckDB oracle using the same
    formula: mean = Σx/n, sd = sqrt((Σx² − n·mean²)/(n−1)).

    ONE scan for all columns; long-typed partials per input partition
    (native codegen speed), exact DECIMAL reduce of the tiny partial set
    (see plans.relational.exact_grouped_agg for the overflow analysis).
    The second moment scales by ``s2_scale`` (default 1) so squared
    values — e.g. price² ≈ 1e10 — cannot overflow a long partial; the
    rounding error on sd is O(1/(s2_scale·x̄²)) relative, identical on
    both engines (parity is exact; accuracy is the tradeoff — raise
    s2_scale for small-magnitude columns).
    Columns are assumed non-null (testdata contract); COUNT(*) is shared."""
    partial_aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        col = F.col(c)
        partial_aggs.append(F.sum(F.round(col * F.lit(_SCALE)).cast("long")).alias(f"__s1_{c}"))
        partial_aggs.append(
            F.sum(F.round(col * col * F.lit(s2_scale)).cast("long")).alias(f"__s2_{c}")
        )
    partials = df.groupBy(F.spark_partition_id().alias("__pid")).agg(*partial_aggs)
    final_aggs = [F.sum("__n").alias("n")]
    for c in cols:
        final_aggs.append(
            (F.sum(F.col(f"__s1_{c}").cast("decimal(38,0)")).cast("double") / F.lit(_SCALE)).alias(f"s1_{c}")
        )
        final_aggs.append(
            (
                F.sum(F.col(f"__s2_{c}").cast("decimal(38,0)")).cast("double") / F.lit(s2_scale)
            ).alias(f"s2_{c}")
        )
    row = partials.agg(*final_aggs).first()
    out = {}
    n = row["n"]
    for c in cols:
        s1, s2 = row[f"s1_{c}"], row[f"s2_{c}"]
        mu = s1 / n
        sd = math.sqrt((s2 - n * mu * mu) / (n - 1)) if n > 1 else float("nan")
        out[c] = (n, mu, sd)
    return out


def exact_moments(df: DataFrame, col: str, s2_scale: float = 1.0) -> tuple[int, float, float]:
    """Single-column convenience wrapper over :func:`exact_moments_multi`."""
    return exact_moments_multi(df, [col], s2_scale=s2_scale)[col]


def transform_data(df: DataFrame, cols: Sequence[str], func: str = "arcsinh") -> DataFrame:
    """Apply log/arcsinh to ``cols`` (reference src/tasks.py:476-521).

    - ``log`` raises ValueError if any selected value == 0 (the reference
      checks zeros only; negatives are allowed through and become NULL/NaN
      — quirk preserved, src/tasks.py:510-511);
    - transformed integer columns are coerced to double (the reference's
      nullable-int → Float64 coercion, :512-520).
    """
    if func not in _FUNCS:
        raise ValueError(f"func must be one of {sorted(_FUNCS)}, got {func!r}")
    cols = list(cols)
    if func == "log" and cols:
        # one aggregate pass; short-circuits via max() — no full scan of values to driver
        zero_flags = df.agg(
            *[F.max(F.when(qcol(c) == 0, 1).otherwise(0)).alias(c) for c in cols]
        ).first()
        bad = [c for c in cols if zero_flags[c] == 1]
        if bad:
            raise ValueError(f"Cannot take log of x=0; columns with zeros: {bad}")
    fn = _FUNCS[func]
    return df.select(
        *[
            fn(qcol(c).cast("double")).alias(c) if c in cols else qcol(c)
            for c in df.columns
        ]
    )


def _gelman_columns(
    df: DataFrame, registry: CategoryRegistry | None
) -> tuple[list[str], list[str]]:
    """(numeric, boolean) columns the Gelman transform rescales/centers."""
    numeric = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, NumericType)
        and not (registry and registry.is_cat(f.name))
    ]
    boolean = [f.name for f in df.schema.fields if isinstance(f.dataType, BooleanType)]
    return numeric, boolean


def _gelman_aggs(numeric: list[str], boolean: list[str]) -> list:
    aggs = []
    for c in numeric:
        aggs += [F.avg(qcol(c)).alias(f"__mu_{c}"), F.stddev_samp(qcol(c)).alias(f"__sd_{c}")]
    for c in boolean:
        aggs.append(F.avg(qcol(c).cast("double")).alias(f"__mu_{c}"))
    return aggs


def _gelman_apply(df: DataFrame, numeric: list[str], boolean: list[str], stats) -> DataFrame:
    """The standardized projection, given the :func:`_gelman_aggs` row."""
    out = []
    for field in df.schema.fields:
        c = field.name
        if c in numeric:
            mu, sd = stats[f"__mu_{c}"], stats[f"__sd_{c}"]
            expr = (qcol(c).cast("double") - F.lit(mu)) / (F.lit(2.0) * F.lit(sd))
            out.append(expr.alias(c))
        elif c in boolean:
            out.append((qcol(c).cast("double") - F.lit(stats[f"__mu_{c}"])).alias(c))
        else:
            out.append(qcol(c))
    return df.select(*out)


def gelman_standardize_data(
    df: DataFrame, registry: CategoryRegistry | None = None
) -> DataFrame:
    """Gelman (2008) standardization (reference src/tasks.py:524-556).

    numeric → (x − mean) / (2 · stddev_samp)   [ddof=1, = Spark stddev_samp]
    boolean → x − mean(x)  (mean-centered, not rescaled)
    everything else unchanged.
    """
    numeric, boolean = _gelman_columns(df, registry)
    if not numeric and not boolean:
        return df
    stats = df.agg(*_gelman_aggs(numeric, boolean)).first()
    return _gelman_apply(df, numeric, boolean, stats)
