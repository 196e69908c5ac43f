"""NA engine — goldens from reference test_tasks.py:340-462 (F5)."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from simple_data_workflow_spark.operators.na import na_indicator_columns, wrangle_na

F5_SCHEMA = StructType(
    [
        StructField("row_id", LongType()),
        StructField("int_x", LongType()),
        StructField("float_x", DoubleType()),
        StructField("cat_x", StringType()),
        StructField("bool_x", BooleanType()),
    ]
)

F5_ROWS = [
    (0, 1, 1.5, "A", False),
    (1, 2, None, "A", True),
    (2, None, 2.5, "B", False),
    (3, 4, 2.0, None, None),
]


@pytest.fixture()
def f5(spark):
    return spark.createDataFrame(F5_ROWS, F5_SCHEMA)


def test_cc_drop(f5):
    out = wrangle_na(f5, strategy="cc")
    # rows with any NA dropped; row identity preserved via explicit row_id
    assert [r["row_id"] for r in out.orderBy("row_id").collect()] == [0]


def test_fi_golden(f5):
    out = wrangle_na(f5, strategy="fi", cols=["int_x", "float_x", "cat_x", "bool_x"])
    rows = {r["row_id"]: r for r in out.collect()}
    assert rows[2]["int_x"] == 2  # median of [1,2,4] = 2
    assert rows[1]["float_x"] == 2.0  # mean of [1.5,2.5,2.0]
    assert rows[3]["cat_x"] == "A"  # mode
    assert rows[3]["bool_x"] is False  # mode (2×False vs 1×True)


def test_fii_indicators(f5):
    out, names = na_indicator_columns(f5, ["int_x", "float_x", "cat_x", "bool_x"])
    # patterns observed: 0100 (row1), 1000 (row2), 0011 (row3); all-zeros dropped
    assert sorted(names) == ["na_0011", "na_0100", "na_1000"]
    rows = {r["row_id"]: r for r in out.collect()}
    assert rows[1]["na_0100"] and not rows[1]["na_1000"]
    assert rows[2]["na_1000"]
    assert rows[3]["na_0011"]


def test_fii_golden_exact_frame(f5):
    """Reference test_wrangle_na_fii (test_tasks.py:379-408) pinned 1:1:
    imputed features + one boolean indicator per observed NA pattern."""
    out = wrangle_na(f5, strategy="fii", cols=["int_x", "float_x", "cat_x", "bool_x"])
    rows = out.orderBy("row_id").collect()
    got = {c: [r[c] for r in rows] for c in out.columns if c != "row_id"}
    expected = {
        "int_x": [1, 2, 2, 4],
        "float_x": [1.5, 2.0, 2.5, 2.0],
        "cat_x": ["A", "A", "B", "A"],
        "bool_x": [False, True, False, False],
        "na_0011": [False, False, False, True],
        "na_0100": [False, True, False, False],
        "na_1000": [False, False, True, False],
    }
    assert sorted(got) == sorted(expected)
    for c in expected:
        assert got[c] == expected[c], c
    types = dict(out.dtypes)
    assert types["int_x"] == "bigint" and types["bool_x"] == "boolean"
    assert {types[n] for n in ("na_0011", "na_0100", "na_1000")} == {"boolean"}


def test_gm_golden_exact_frame(f5):
    """The reference's 48-line gm golden (test_tasks.py:411-462) pinned
    1:1 — patsy's per-bucket redundancy codings included: the FIRST
    indicator a bucket meets is full-coded ([False]/[True]), later ones
    treatment-coded ([T.True]); the first categorical feature is
    full-coded, later ones reduced."""
    out = wrangle_na(f5, strategy="gm", cols=["int_x", "float_x", "cat_x", "bool_x"])
    rows = out.orderBy("row_id").collect()
    got = {c: [r[c] for r in rows] for c in out.columns if c != "row_id"}
    expected = {
        "int_x": [1, 2, 2, 4],
        "float_x": [1.5, 2.0, 2.5, 2.0],
        "cat_x": ["A", "A", "B", "A"],
        "bool_x": [False, True, False, False],
        "na_1000": [False, False, True, False],
        "na_0100": [False, True, False, False],
        "na_0011": [False, False, False, True],
        'Q("cat_x")[A]:Q("na_0011")[False]': [1.0, 1.0, 0.0, 0.0],
        'Q("cat_x")[B]:Q("na_0011")[False]': [0.0, 0.0, 1.0, 0.0],
        'Q("cat_x")[A]:Q("na_0011")[True]': [0.0, 0.0, 0.0, 1.0],
        'Q("cat_x")[B]:Q("na_0011")[True]': [0.0, 0.0, 0.0, 0.0],
        'Q("cat_x")[A]:Q("na_0100")[T.True]': [0.0, 1.0, 0.0, 0.0],
        'Q("cat_x")[B]:Q("na_0100")[T.True]': [0.0, 0.0, 0.0, 0.0],
        'Q("cat_x")[A]:Q("na_1000")[T.True]': [0.0, 0.0, 0.0, 0.0],
        'Q("cat_x")[B]:Q("na_1000")[T.True]': [0.0, 0.0, 1.0, 0.0],
        'Q("bool_x")[T.True]:Q("na_0011")[False]': [0.0, 1.0, 0.0, 0.0],
        'Q("bool_x")[T.True]:Q("na_0011")[True]': [0.0, 0.0, 0.0, 0.0],
        'Q("bool_x")[T.True]:Q("na_0100")[T.True]': [0.0, 1.0, 0.0, 0.0],
        'Q("bool_x")[T.True]:Q("na_1000")[T.True]': [0.0, 0.0, 0.0, 0.0],
        'Q("int_x"):Q("na_0011")[False]': [1.0, 2.0, 2.0, 0.0],
        'Q("int_x"):Q("na_0011")[True]': [0.0, 0.0, 0.0, 4.0],
        'Q("int_x"):Q("na_0100")[T.True]': [0.0, 2.0, 0.0, 0.0],
        'Q("int_x"):Q("na_1000")[T.True]': [0.0, 0.0, 2.0, 0.0],
        'Q("float_x"):Q("na_0011")[False]': [1.5, 2.0, 2.5, 0.0],
        'Q("float_x"):Q("na_0011")[True]': [0.0, 0.0, 0.0, 2.0],
        'Q("float_x"):Q("na_0100")[T.True]': [0.0, 2.0, 0.0, 0.0],
        'Q("float_x"):Q("na_1000")[T.True]': [0.0, 0.0, 2.5, 0.0],
    }
    assert sorted(got) == sorted(expected)
    for c in expected:
        assert got[c] == expected[c], c


def test_no_na_early_return(spark):
    df = spark.createDataFrame([(1, 1.0)], ["a", "b"])
    out = wrangle_na(df, strategy="fi")
    assert out.collect() == df.collect()


NULL_FREE_ROWS = [
    (0, 1.5, 10, 7, "a", True),
    (1, None, 20, 3, "b", False),
    (2, 2.5, None, 3, "a", True),
    (3, 4.0, 40, 9, "c", True),
    (4, None, 50, 1, "b", False),
    (5, 3.0, None, 2, "a", False),
]

# sha256 of repr(sorted rows) of each strategy's output, captured from
# the implementation that took a median/mode of every int/string/bool
# column, NULL-free ones included
NULL_FREE_SHA = {
    "fii": "7a9ecd392009392337fa1be773963c371f6f8e88363e073e8a683dea2f940aab",
    "gm": "633aa3e5f9cc7be4f06868447ef0f5aa61405ca6439bc014a5569f4563bd9e73",
}


@pytest.mark.parametrize("strategy", ["fi", "fii", "gm"])
def test_null_free_columns_are_left_as_they_are(spark, strategy):
    """Only the float and long columns hold NULLs: the int, string and
    bool columns need no statistic, and the output is unchanged."""
    import hashlib

    df = spark.createDataFrame(
        NULL_FREE_ROWS, "row_id long, f double, n long, i int, s string, b boolean"
    )
    out = wrangle_na(df, strategy=strategy, cols=["f", "n", "i", "s", "b"])
    got = sorted(tuple(r) for r in out.collect())
    assert out.columns[:6] == ["row_id", "f", "n", "i", "s", "b"]
    assert [t for _, t in out.dtypes][:6] == ["bigint", "double", "bigint", "int", "string", "boolean"]
    if strategy == "fi":
        assert got == [
            (0, 1.5, 10, 7, "a", True),
            (1, 2.75, 20, 3, "b", False),
            (2, 2.5, 30, 3, "a", True),
            (3, 4.0, 40, 9, "c", True),
            (4, 2.75, 50, 1, "b", False),
            (5, 3.0, 30, 2, "a", False),
        ]
    else:
        assert len(out.columns) == {"fii": 8, "gm": 29}[strategy]
        assert hashlib.sha256(repr(got).encode()).hexdigest() == NULL_FREE_SHA[strategy]


def test_fi_with_float_nulls_only_runs_one_aggregate(lineitem_6k, count_jobs):
    """NULL flags and float means share one aggregate (map stage +
    result job); the NULL-free long and string columns need no pass."""
    out, n_jobs = count_jobs(lambda: wrangle_na(lineitem_6k, strategy="fi"))
    assert n_jobs <= 2
    assert out.where("l_quantity IS NULL OR l_discount IS NULL").count() == 0
