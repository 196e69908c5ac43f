"""Categorical subsystem: category registry, factor typing, encoding.

Reference parity: ``_factor_wrangler`` (src/tasks.py:134-232) and
``encode_data`` (src/tasks.py:275-310). Spark has no CategoricalDtype,
so levels + orderedness live in a small driver-side ``CategoryRegistry``
(SURVEY.md §1.4) — analogous to pandas category metadata, sized
O(#levels), never O(data).

Scale notes:
- dummy detection and level discovery share ONE aggregate pass. A dummy
  holds at most 3 distinct integral values summing to 1, so that pass
  keeps only min, max and a fraction flag per numeric column — never
  its distinct values. A second pass runs only for numeric columns whose
  min and max still admit a dummy, and reads only their middle value
  (SURVEY.md §7.4.5);
- level discovery collects each category column's sorted distinct set
  and keeps the first ``MAX_LEVELS + 1``: the cap bounds what reaches
  the driver, not what the aggregate collects, and a column past it
  raises instead of being one-hot encoded.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from simple_data_workflow_spark.functions.cols import qcol
from pyspark.sql.types import BooleanType, IntegralType, NumericType, StringType

MAX_LEVELS = 1000  # hard cap on per-column category cardinality


@dataclass
class CategoryRegistry:
    """Levels + orderedness per categorical column (pandas-category analogue).

    Serializable (to_json/from_json + save/load) so the category metadata
    survives engine restarts alongside the data it describes — the Spark
    analogue of pandas persisting CategoricalDtype in pickles."""

    levels: dict[str, list] = field(default_factory=dict)
    ordered: set[str] = field(default_factory=set)

    def add(self, col: str, levels: Sequence, ordered: bool = False) -> None:
        self.levels[col] = list(levels)
        if ordered:
            self.ordered.add(col)

    def is_cat(self, col: str) -> bool:
        return col in self.levels

    def is_ordered(self, col: str) -> bool:
        return col in self.ordered

    def to_json(self) -> str:
        import json

        return json.dumps({"levels": self.levels, "ordered": sorted(self.ordered)})

    @classmethod
    def from_json(cls, s: str) -> "CategoryRegistry":
        import json

        d = json.loads(s)
        return cls(levels=dict(d.get("levels", {})), ordered=set(d.get("ordered", [])))

    def save(self, path: str) -> None:
        """Write beside the data (tiny driver-side file; on distributed
        storage use the same path convention, e.g. <table>/_categories.json)."""
        with open(path, "w") as f:
            f.write(self.to_json())

    @classmethod
    def load(cls, path: str) -> "CategoryRegistry":
        with open(path) as f:
            return cls.from_json(f.read())


_META_KEY = "simple_data_workflow_spark.category"


def attach_registry_metadata(df: DataFrame, registry: CategoryRegistry) -> DataFrame:
    """Stamp each registered column's levels/orderedness into its Spark
    column metadata. Spark persists field metadata in the parquet footer
    (``org.apache.spark.sql.parquet.row.metadata``), so a plain
    ``spark.read.parquet`` of the written table recovers the registry via
    ``registry_from_schema`` — no sidecar file, no re-discovery scan.
    This is the table-level analogue of pandas pickling CategoricalDtype.

    Existing field metadata (column comments, ML attribute metadata …) is
    MERGED with, not replaced by, the registry key — ``withMetadata``
    alone would clobber it."""
    for col in registry.levels:
        if col in df.columns:
            df = df.withMetadata(
                col,
                {
                    **df.schema[col].metadata,
                    _META_KEY: {
                        "levels": registry.levels[col],
                        "ordered": registry.is_ordered(col),
                    },
                },
            )
    return df


def registry_from_schema(df: DataFrame) -> CategoryRegistry:
    """Rebuild a CategoryRegistry from column metadata written by
    ``attach_registry_metadata`` (e.g. after reading a parquet table)."""
    registry = CategoryRegistry()
    for field in df.schema.fields:
        meta = field.metadata.get(_META_KEY)
        if meta:
            registry.levels[field.name] = list(meta["levels"])
            if meta.get("ordered"):
                registry.ordered.add(field.name)
    return registry


def _levels_agg(c: str):
    """Sorted distinct values of ``c``, cut to ``MAX_LEVELS + 1``."""
    return F.slice(F.array_sort(F.collect_set(qcol(c))), 1, MAX_LEVELS + 1)


def _checked_levels(c: str, levels) -> list:
    levels = levels or []
    if len(levels) > MAX_LEVELS:
        raise ValueError(
            f"column {c!r} has >{MAX_LEVELS} distinct values; "
            "not a categorical — raise MAX_LEVELS or pass explicit categories"
        )
    return levels


def _discover_levels(df: DataFrame, cols: list[str]) -> dict[str, list]:
    """One aggregate pass collecting (capped, sorted) level sets for many
    columns at once. Map-side partial aggregation keeps the shuffled state
    tiny; the collected result is O(levels), not O(rows)."""
    if not cols:
        return {}
    row = df.agg(*[_levels_agg(c).alias(c) for c in cols]).first()
    return {c: _checked_levels(c, row[c]) for c in cols}


def _dummy_aggs(c: str, dtype) -> list:
    """min and max of ``c``, plus — unless integral — a flag for any value
    whose double is not an integer: fractions, NaN and ±inf (the
    reference downcasts to int, so a decimal is judged by its double)."""
    aggs = [F.min(qcol(c)).alias(f"__lo_{c}"), F.max(qcol(c)).alias(f"__hi_{c}")]
    if not isinstance(dtype, IntegralType):
        aggs.append(
            F.max(F.when(qcol(c).cast("double") % 1 != 0, 1)).alias(f"__frac_{c}")
        )
    return aggs


def _dummy_columns(df: DataFrame, numeric_cols: list[str], row: dict) -> list[str]:
    """Numeric columns whose distinct non-NULL values sum to 1 (reference
    ``unique().sum() == 1``, src/tasks.py:193-208), given the
    :func:`_dummy_aggs` row.

    Such a set holds 1-3 integral values, so min and max nearly decide
    it: min = max is a dummy iff it is 1, and otherwise the column stays
    a candidate only if an integer in [min, max] can complete the sum to
    1. One more pass takes, per candidate, min and max of the values
    other than its min and max: none, or a single middle value that
    completes the sum, makes a dummy; two different ones mean 4+ distinct
    values. ``int()`` and Python ints keep the sums exact past 2**53."""
    dummies, middles = [], {}
    for c in numeric_cols:
        lo, hi = row[f"__lo_{c}"], row[f"__hi_{c}"]
        if lo is None or row.get(f"__frac_{c}"):
            continue  # all NULL, or a non-integral value
        a, b = int(lo), int(hi)
        if lo == hi:
            if a == 1:
                dummies.append(c)
        elif a <= 1 - a - b <= b:
            middles[c] = (lo, hi)
    if middles:
        aggs = []
        for c, (lo, hi) in middles.items():
            t = df.schema[c].dataType
            mid = F.when(~qcol(c).isin(F.lit(lo).cast(t), F.lit(hi).cast(t)), qcol(c))
            aggs += [F.min(mid).alias(f"__mlo_{c}"), F.max(mid).alias(f"__mhi_{c}")]
        mrow = df.agg(*aggs).first()
        for c, (lo, hi) in middles.items():
            mlo, mhi = mrow[f"__mlo_{c}"], mrow[f"__mhi_{c}"]
            if mlo is None:
                total = int(lo) + int(hi)
            elif mlo == mhi:
                total = int(lo) + int(mlo) + int(hi)
            else:
                continue  # 4+ distinct values
            if total == 1:
                dummies.append(c)
    return [c for c in numeric_cols if c in dummies]


def factor_wrangler(
    df: DataFrame,
    cat_cols: Sequence[str] | None = None,
    ordered_cols: Sequence[str] | None = None,
    categories: dict[str, list] | None = None,
    str_to_cat: bool = True,
    dummy_to_bool: bool = True,
) -> tuple[DataFrame, CategoryRegistry]:
    """Categorical typing (reference src/tasks.py:134-232).

    (a) ``str_to_cat``: every string column is registered as a category
        with alphanumerically-sorted observed levels (:188-192);
    (b) ``dummy_to_bool``: numeric columns whose distinct values sum to 1
        become BooleanType (:193-208) — the reference quirk that an
        all-ones column {1} also qualifies is preserved;
    (c) user ``cat_cols`` registered explicitly (:210-215);
    (d) explicit ``categories`` domains enforced — out-of-domain → NULL
        (set_categories semantics, :217-223, pinned by
        test_tasks.py:219-257);
    (e) ``ordered_cols`` marked ordered; default order is the sorted
        observed order, explicit ``categories`` keep their given order
        (:225-231).
    """
    registry = CategoryRegistry()
    cat_cols = list(cat_cols or [])
    ordered_cols = set(ordered_cols or [])
    categories = dict(categories or {})

    string_cols = [f.name for f in df.schema.fields if isinstance(f.dataType, StringType)]
    numeric = [f for f in df.schema.fields if isinstance(f.dataType, NumericType)]
    numeric = numeric if dummy_to_bool else []

    # (a) + (c): which columns may become categories
    to_cat = list(dict.fromkeys((string_cols if str_to_cat else []) + cat_cols))
    discover = [c for c in to_cat if c not in categories]

    # (b) dummy detection and the levels to discover: one aggregate pass
    aggs = [a for f in numeric for a in _dummy_aggs(f.name, f.dataType)]
    aggs += [_levels_agg(c).alias(f"__lv_{c}") for c in discover]
    row = df.agg(*aggs).first().asDict() if aggs else {}
    dummy_cols = _dummy_columns(df, [f.name for f in numeric], row)
    if dummy_cols:
        df = df.select(
            *[
                qcol(c).cast(BooleanType()).alias(c) if c in dummy_cols else qcol(c)
                for c in df.columns
            ]
        )

    # (d) explicit domains: enforce, keep given order
    for c, levels in categories.items():
        df = df.withColumn(c, F.when(qcol(c).isin(list(levels)), qcol(c)).otherwise(F.lit(None)))
        registry.add(c, levels, ordered=c in ordered_cols)

    # discovered levels for the rest
    for c in discover:
        if c not in dummy_cols:
            registry.add(c, _checked_levels(c, row[f"__lv_{c}"]), ordered=c in ordered_cols)

    # ordered columns the user named but nobody registered yet
    for c in ordered_cols:
        if not registry.is_cat(c) and c in df.columns:
            lv = _discover_levels(df, [c])[c]
            registry.add(c, lv, ordered=True)

    return df, registry


def encode_data(df: DataFrame, registry: CategoryRegistry) -> DataFrame:
    """Categorical encoding (reference src/tasks.py:275-310).

    - unordered categories → one-hot boolean columns named ``{col}_{level}``
      (pandas ``get_dummies`` parity: a NULL value yields all-False — the
      reference docstring claims an NA category but the actual behavior is
      all-False, SURVEY.md §2 row 10);
    - ordered categories → integer category codes, NULL → -1
      (``cat.codes`` parity).

    Pure CASE-WHEN projection — no shuffle, no MLlib fit/transform pass,
    stays in whole-stage codegen and keeps DuckDB-oracle parity. Column
    order matches pandas: non-category columns first, dummies appended.
    """
    unordered = [c for c in registry.levels if not registry.is_ordered(c) and c in df.columns]
    ordered = [c for c in registry.levels if registry.is_ordered(c) and c in df.columns]

    keep = [c for c in df.columns if c not in unordered]
    cols = []
    for c in keep:
        if c in ordered:
            levels = registry.levels[c]
            arr = F.array(*[F.lit(v) for v in levels])
            code = (F.array_position(arr, qcol(c)) - F.lit(1)).cast("int")
            cols.append(F.coalesce(code, F.lit(-1)).alias(c))
        else:
            cols.append(qcol(c))
    for c in unordered:
        for level in registry.levels[c]:
            name = f"{c}_{level}"
            cols.append(
                F.when(qcol(c) == F.lit(level), F.lit(True)).otherwise(F.lit(False)).alias(name)
            )
    return df.select(*cols)
