"""NA imputation engine — strategies cc / fi / fii / gm / mice.

Reference parity: ``wrangle_na`` (src/tasks.py:313-473).

- **cc** complete-case drop (:382-383) — row identity is preserved via an
  explicit ``row_id`` column when present (Spark has no index,
  SURVEY.md §1.3).
- **fi** fill-in (:398-421): float → column mean, int → column median
  (exact, not approx), category/bool → column mode with pandas
  tie-breaking (most frequent, ties → smallest value).
- **fii** = fi + one boolean indicator column per observed row-wise NA
  pattern (bitstring over columns; all-zeros pattern dropped, :386-396).
- **gm** "grand model" = fii + feature × NA-indicator interaction columns
  with patsy-compatible names (:424-441).
- **mice** chained-equations multiple imputation (:444-473) — implemented
  in ``simple_data_workflow_spark.operators.mice``.

Scale notes: ONE aggregate pass finds which columns hold a NULL and
takes the mean of every float column (a single tiny collected row,
re-injected as literals). Only columns that hold a NULL are filled, so
an int, string or bool column without one costs no median or mode pass;
the medians of int columns that need one share a second aggregate, and
the modes of all such string/bool columns one grouped pass with a
per-column top-1. NA-pattern discovery is a distinct over a synthesized
pattern string — bounded by 2^k patterns but practically tiny; a hard
cap guards pathological inputs.
"""

from __future__ import annotations

import itertools
from collections import defaultdict
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from simple_data_workflow_spark.functions.cols import qcol
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    FloatType,
    IntegralType,
    NumericType,
    StringType,
)

MAX_NA_PATTERNS = 512


def _fill_kind(dtype) -> str | None:
    if isinstance(dtype, (FloatType, DoubleType)):
        return "mean"
    if isinstance(dtype, IntegralType):
        return "median"
    if isinstance(dtype, (StringType, BooleanType)):
        return "mode"
    return None


def _null_scan(df: DataFrame, cols: list[str]) -> tuple[list[str], dict]:
    """One aggregate pass: the columns of ``cols`` that hold a NULL (the
    reference's early-return check, src/tasks.py:372-379) and the mean of
    every float column among them — taken before the NULL flags are
    known, at no extra scan."""
    if not cols:
        return [], {}
    floats = [
        f.name for f in df.schema.fields
        if f.name in cols and _fill_kind(f.dataType) == "mean"
    ]
    row = df.agg(
        *[F.max(qcol(c).isNull()).alias(f"__na_{c}") for c in cols],
        *[F.avg(qcol(c)).alias(f"__mu_{c}") for c in floats],
    ).first()
    return [c for c in cols if row[f"__na_{c}"]], {c: row[f"__mu_{c}"] for c in floats}


def _fill_values(df: DataFrame, cols: list[str], means: dict) -> dict[str, object]:
    """Fill statistic per column of ``cols`` (the columns holding a NULL):
    float → its mean from :func:`_null_scan`, int → exact median (one
    aggregate for all), string/bool → mode (one grouped pass for all)."""
    kinds = {
        f.name: _fill_kind(f.dataType) for f in df.schema.fields if f.name in cols
    }
    fills: dict[str, object] = {c: means[c] for c, k in kinds.items() if k == "mean"}
    medians = [c for c, k in kinds.items() if k == "median"]
    if medians:
        # exact median (pandas interpolates the middle pair) — percentile,
        # not percentile_approx: correctness first, and a single-pass
        # exact percentile over a numeric column is still fully distributed
        row = df.agg(*[F.percentile(qcol(c), F.lit(0.5)).alias(c) for c in medians]).first()
        for c in medians:
            v = row[c]
            # pandas fillna on Int64 with x.5 keeps the float value;
            # match by keeping the double only when non-integral
            fills[c] = int(v) if v is not None and float(v).is_integer() else v
    fills.update(_mode_values(df, [c for c, k in kinds.items() if k == "mode"]))
    return fills


def _mode_values(df: DataFrame, mode_cols: list[str]) -> dict[str, object]:
    """pandas ``.mode()[0]`` per column (most frequent, ties → smallest
    value) for ALL mode columns in ONE pass: melt to (col, value) pairs,
    one hash aggregate, per-column window top-1. One shuffle regardless
    of how many categorical/bool columns the frame has (vs one groupBy
    job per column). String ordering gives the pandas tie-break for both
    strings and booleans ('false' < 'true' matches False < True)."""
    if not mode_cols:
        return {}
    from pyspark.sql.window import Window

    is_bool = {
        c: isinstance(df.schema[c].dataType, BooleanType) for c in mode_cols
    }
    melted = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("__c"), qcol(c).cast("string").alias("__v")
                    )
                    for c in mode_cols
                ]
            )
        ).alias("kv")
    ).select("kv.__c", "kv.__v").where(F.col("__v").isNotNull())
    w = Window.partitionBy("__c").orderBy(F.desc("count"), F.asc("__v"))
    top = (
        melted.groupBy("__c", "__v")
        .count()
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .collect()
    )
    out: dict[str, object] = {}
    for r in top:
        out[r["__c"]] = r["__v"] == "true" if is_bool[r["__c"]] else r["__v"]
    return out


def _pattern_col(cols: list[str]):
    return F.concat(
        *[F.when(qcol(c).isNull(), F.lit("1")).otherwise(F.lit("0")) for c in cols]
    )


def na_indicator_columns(df: DataFrame, cols: list[str]) -> tuple[DataFrame, list[str]]:
    """fii indicators: one boolean column per observed NA pattern
    (``na_1000`` style; bit order = column order; all-zeros dropped)."""
    pat = _pattern_col(cols)
    observed = [r[0] for r in df.select(pat.alias("p")).distinct().limit(MAX_NA_PATTERNS + 1).collect()]
    if len(observed) > MAX_NA_PATTERNS:
        raise ValueError(f">{MAX_NA_PATTERNS} distinct NA patterns; cap exceeded")
    patterns = sorted(p for p in observed if "1" in p)
    names = [f"na_{p}" for p in patterns]
    out = df.withColumn("__pat", pat)
    for p, name in zip(patterns, names):
        out = out.withColumn(name, F.col("__pat") == F.lit(p))
    return out.drop("__pat"), names


def _patsy_pick_subterms(
    cat_factors: list[str], used: set[frozenset]
) -> list[dict[str, bool]]:
    """Patsy's redundancy-resolution algorithm for one term (public patsy
    ``redundancy.py`` semantics; the reference builds its gm design matrix
    via ``dmatrix`` so the golden at reference test_tasks.py:431-459 pins
    exactly this expansion).

    A term's categorical factor set is expanded into its subsets (sorted
    by size, then factor order); subsets already emitted by earlier terms
    in the same numeric bucket are dropped; the remaining subterms are
    greedily merged — a pair differing by exactly one reduced-coded
    factor collapses into one subterm with that factor full-coded.
    Returns subterms as ``{factor: full_coded?}`` dicts; ``used`` is
    mutated with the subsets this term now covers.
    """
    fresh: list[dict[str, bool]] = []
    for r in range(len(cat_factors) + 1):
        for s in itertools.combinations(cat_factors, r):
            if frozenset(s) not in used:
                used.add(frozenset(s))
                fresh.append({f: False for f in s})
    changed = True
    while changed:
        changed = False
        for i, short in enumerate(fresh):
            short_items = set(short.items())
            for j, long_ in enumerate(fresh):
                if i == j or len(long_) != len(short) + 1:
                    continue
                diff = set(long_.items()) - short_items
                if len(diff) == 1 and short_items <= set(long_.items()):
                    (f, expanded), = diff
                    if not expanded:
                        merged = dict(short)
                        merged[f] = True
                        fresh[i] = merged
                        fresh.pop(j)
                        changed = True
                        break
            if changed:
                break
    return fresh


def _gm_interaction_columns(
    out: DataFrame, feats: list[str], ind_names: list[str]
) -> list:
    """The gm interaction column set with patsy-exact names and values.

    The reference's formula is ``sum(Q(feat):Q(ind)) - 1`` over
    ``itertools.product(features, na_indicators)`` (src/tasks.py:433-437);
    patsy assigns full vs treatment (``[T.lv]``) codings per factor via
    the per-numeric-bucket redundancy algorithm above. Level sets for all
    categorical factors (string/bool features AND the boolean indicators)
    come from ONE aggregate pass, collected as a single tiny row.
    """
    cat_feats = [
        c for c in feats if isinstance(out.schema[c].dataType, (StringType, BooleanType))
    ]
    all_cat = cat_feats + list(ind_names)
    levels_by_factor: dict[str, list] = {}
    if all_cat:
        row = out.agg(
            *[F.array_sort(F.collect_set(qcol(c))).alias(c) for c in all_cat]
        ).first()
        levels_by_factor = {c: list(row[c] or []) for c in all_cat}

    used_by_bucket: dict[frozenset, set] = defaultdict(set)
    cols = []
    for feat in feats:
        is_cat = feat in cat_feats
        if not is_cat and not isinstance(out.schema[feat].dataType, NumericType):
            continue
        for ind in ind_names:
            numeric = () if is_cat else (feat,)
            cats = ([feat] if is_cat else []) + [ind]
            subterms = _patsy_pick_subterms(cats, used_by_bucket[frozenset(numeric)])
            for sub in subterms:
                sub_factors = [f for f in cats if f in sub]
                level_choices = [
                    levels_by_factor[f] if sub[f] else levels_by_factor[f][1:]
                    for f in sub_factors
                ]
                for combo in itertools.product(*level_choices):
                    parts = [f'Q("{nf}")' for nf in numeric]
                    expr = F.lit(1.0)
                    for nf in numeric:
                        expr = expr * qcol(nf).cast("double")
                    for f, lv in zip(sub_factors, combo):
                        tag = str(lv) if sub[f] else f"T.{lv}"
                        parts.append(f'Q("{f}")[{tag}]')
                        expr = expr * (qcol(f) == F.lit(lv)).cast("double")
                    cols.append(expr.alias(":".join(parts)))
    return cols


def wrangle_na(
    df: DataFrame,
    strategy: str = "cc",
    cols: Sequence[str] | None = None,
    **kwargs,
) -> DataFrame:
    """Dispatch over the five reference strategies (src/tasks.py:313-473)."""
    cols = list(cols) if cols else list(df.columns)
    if strategy == "mice":
        from simple_data_workflow_spark.operators.mice import mice_impute

        return mice_impute(df, cols=cols, **kwargs)
    na_cols, means = _null_scan(df, cols)
    if not na_cols:
        return df
    if strategy == "cc":
        return df.na.drop(subset=cols)
    # NULL-free columns are left as they are: a fill would not change them
    fills = _fill_values(df, na_cols, means)
    if strategy == "fi":
        return df.fillna(fills)
    if strategy == "fii":
        out, _ = na_indicator_columns(df, cols)
        return out.fillna(fills)
    if strategy == "gm":
        out, ind_names = na_indicator_columns(df, cols)
        out = out.fillna(fills)
        feats = [c for c in cols if c in out.columns]
        inter = _gm_interaction_columns(out, feats, ind_names)
        return out.select("*", *inter)
    raise ValueError(f"unknown strategy {strategy!r}")
