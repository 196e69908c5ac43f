"""End-to-end pipeline — the reference's ``e2e_pipeline`` Flow re-expressed.

Reference parity: src/flow.py:19-52 — a static Prefect DAG with 9
Parameters chaining retrieve → clean → encode → wrangle_na → transform
→ standardize → run_model → confidence intervals. Here the lazy Spark
logical plan IS the DAG: each stage contributes transformations to one
plan; Catalyst collapses the projection chain and schedules it across
executors (SURVEY.md §3). Per-stage results are returned as named
DataFrames (the analogue of Prefect's per-task state lookup,
reference README.md:45-52).
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from simple_data_workflow_spark.operators.categorical import CategoryRegistry, encode_data
from simple_data_workflow_spark.operators.cleaning import clean_data
from simple_data_workflow_spark.operators.model import (
    OLSResult,
    confidence_intervals,
    standardize_and_fit,
)
from simple_data_workflow_spark.operators.na import wrangle_na
from simple_data_workflow_spark.operators.strings import sanitize_col_names
from simple_data_workflow_spark.operators.transforms import (
    gelman_standardize_data,
    transform_data,
)
from simple_data_workflow_spark.sources.readers import read_delim


@dataclass
class PipelineResult:
    """Named per-stage results (Prefect flow-state analogue)."""

    stages: dict[str, DataFrame] = field(default_factory=dict)
    registry: CategoryRegistry | None = None
    model: OLSResult | None = None
    conf_int: DataFrame | None = None

    def __getitem__(self, stage: str) -> DataFrame:
        return self.stages[stage]


def e2e_pipeline(
    spark: SparkSession,
    url: str | None = None,
    df: DataFrame | None = None,
    sep: str = ",",
    nrows: int | None = None,
    na_values: Sequence[object] | None = None,
    cat_cols: Sequence[str] | None = None,
    ordered_cols: Sequence[str] | None = None,
    categories: dict[str, list] | None = None,
    transform_cols: Sequence[str] | None = None,
    transform_func: str = "arcsinh",
    na_strategy: str = "cc",
    endog: str | None = None,
    exog: Sequence[str] | None = None,
) -> PipelineResult:
    """Parameter surface mirrors reference src/flow.py:22-30; user-supplied
    column names get the same sanitation as data columns (:33-36) so they
    match post-cleaning."""
    if (url is None) == (df is None):
        raise ValueError("pass exactly one of url / df")
    if df is None:
        df = read_delim(spark, url, sep=sep, nrows=nrows)

    cat_cols = sanitize_col_names(cat_cols) if cat_cols else None
    ordered_cols = sanitize_col_names(ordered_cols) if ordered_cols else None
    transform_cols = sanitize_col_names(transform_cols) if transform_cols else None
    exog_s = sanitize_col_names(exog) if exog else None
    endog_s = sanitize_col_names([endog])[0] if endog else None

    result = PipelineResult()
    result.stages["retrieve"] = df

    cleaned, registry = clean_data(
        df,
        na_values=na_values,
        cat_cols=cat_cols,
        ordered_cols=ordered_cols,
        categories=categories,
    )
    result.stages["clean"] = cleaned
    result.registry = registry

    encoded = encode_data(cleaned, registry)
    result.stages["encode"] = encoded

    imputed = wrangle_na(encoded, strategy=na_strategy)
    result.stages["wrangle_na"] = imputed

    transformed = (
        transform_data(imputed, transform_cols, func=transform_func)
        if transform_cols
        else imputed
    )
    result.stages["transform"] = transformed

    if endog_s and exog_s:
        # one pass yields the Gelman statistics AND the standardized
        # normal equations (the transform is affine)
        standardized, result.model = standardize_and_fit(
            transformed, registry, endog_s, exog_s
        )
        result.conf_int = confidence_intervals(spark, result.model)
    else:
        standardized = gelman_standardize_data(transformed, registry)
    result.stages["standardize"] = standardized
    return result
