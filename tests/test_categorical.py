"""Categorical subsystem — goldens from reference test_tasks.py:177-337 (F9)."""

from pyspark.sql import functions as F

from simple_data_workflow_spark.operators.categorical import encode_data, factor_wrangler


def test_dummy_detection(spark):
    df = spark.createDataFrame(
        [(0, 1, 1, 2), (1, 1, 0, 3), (0, 1, 1, 4)], ["war", "ones", "also", "notdummy"]
    )
    out, reg = factor_wrangler(df, str_to_cat=False, dummy_to_bool=True)
    types = dict(out.dtypes)
    assert types["war"] == "boolean"
    assert types["also"] == "boolean"
    # reference quirk: all-ones column {1} sums to 1 → dummy too
    assert types["ones"] == "boolean"
    assert types["notdummy"] == "bigint"


def test_category_domain_enforcement_f9(spark):
    df = spark.createDataFrame([(-1,), (0,), (1,), (2,), (3,)], ["non_neg"])
    out, reg = factor_wrangler(
        df, categories={"non_neg": [0, 1, 2, 3]}, str_to_cat=False, dummy_to_bool=False
    )
    vals = [r["non_neg"] for r in out.orderBy(F.col("non_neg").asc_nulls_first()).collect()]
    assert vals == [None, 0, 1, 2, 3]
    assert reg.levels["non_neg"] == [0, 1, 2, 3]


def test_category_domain_strings_ordered(spark):
    df = spark.createDataFrame([("A#",), ("B",), ("C",), ("D",), ("10",)], ["only_alpha"])
    out, reg = factor_wrangler(
        df,
        categories={"only_alpha": ["D", "C", "B", "A"]},
        ordered_cols=["only_alpha"],
        str_to_cat=False,
    )
    vals = {r["only_alpha"] for r in out.collect()}
    assert vals == {None, "B", "C", "D"}  # A# and 10 out-of-domain → NULL
    assert reg.is_ordered("only_alpha")
    assert reg.levels["only_alpha"] == ["D", "C", "B", "A"]  # given order kept


def test_one_hot_encode(spark):
    df = spark.createDataFrame([(1, "A"), (2, "B"), (3, None)], ["id", "seg"])
    typed, reg = factor_wrangler(df, str_to_cat=True, dummy_to_bool=False)
    out = encode_data(typed, reg)
    assert out.columns == ["id", "seg_A", "seg_B"]
    rows = {r["id"]: (r["seg_A"], r["seg_B"]) for r in out.collect()}
    assert rows[1] == (True, False)
    assert rows[2] == (False, True)
    # pandas get_dummies parity: NULL → all-False (reference src/tasks.py:293 quirk)
    assert rows[3] == (False, False)


def test_ordinal_codes(spark):
    df = spark.createDataFrame([("lo",), ("hi",), (None,), ("mid",)], ["lvl"])
    typed, reg = factor_wrangler(
        df,
        categories={"lvl": ["lo", "mid", "hi"]},
        ordered_cols=["lvl"],
        str_to_cat=False,
    )
    out = encode_data(typed, reg)
    vals = [r["lvl"] for r in out.collect()]
    # cat.codes parity: NULL → -1, codes follow the explicit level order
    assert sorted(vals) == [-1, 0, 1, 2]


def test_attach_registry_metadata_merges_existing(spark):
    """Registry stamping must MERGE with pre-existing column metadata
    (comments, ML attributes), not clobber it — withMetadata alone
    replaces the whole map."""
    from simple_data_workflow_spark.operators.categorical import (
        CategoryRegistry,
        attach_registry_metadata,
        registry_from_schema,
    )

    df = spark.createDataFrame([("A",)], ["seg"]).withMetadata(
        "seg", {"comment": "segment code"}
    )
    r = CategoryRegistry()
    r.add("seg", ["A", "B"], ordered=False)
    out = attach_registry_metadata(df, r)
    meta = out.schema["seg"].metadata
    assert meta["comment"] == "segment code"  # survived the stamp
    assert registry_from_schema(out).levels == {"seg": ["A", "B"]}


def test_registry_roundtrip(tmp_path):
    from simple_data_workflow_spark.operators.categorical import CategoryRegistry

    r = CategoryRegistry()
    r.add("seg", ["A", "B"], ordered=False)
    r.add("prio", ["lo", "mid", "hi"], ordered=True)
    p = str(tmp_path / "_categories.json")
    r.save(p)
    back = CategoryRegistry.load(p)
    assert back.levels == r.levels
    assert back.is_ordered("prio") and not back.is_ordered("seg")


# ------------------------------------------------- bounded dummy detection
def _collect_set_rule(vals) -> bool:
    """The collect_set dummy rule kept as the oracle: the first 4 sorted
    distinct values (NaN sorts last), a dummy when there are 1-3 of them,
    all integral as doubles, with int() sum 1."""
    vals = [v for v in (vals or []) if v is not None]
    return (
        bool(vals)
        and len(vals) < 4
        and all(float(v).is_integer() for v in vals)
        and sum(int(v) for v in vals) == 1
    )


_BIG = 2**60
_SETS = [
    [1], [0, 1], [-1, 2], [-2, 0, 3], [0, 1, 2], [_BIG, 1 - _BIG], [_BIG, 1 - _BIG, 0],
    [0], [2], [-1, 0, 2], [-3, 1, 3], [-5, 6], [0, 1, 2, -1], [], [-1, -0.0, 0.0, 2],
]
_EXTRA = {
    "double": [0.5, float("nan"), float("inf"), float("-inf"), -0.0, 1.0 - _BIG],
    "decimal(38,2)": ["0.50", "-1.25", str(_BIG) + ".50"],
    "bigint": [_BIG + 1, -_BIG, 2**62],
}


def _cast(v, dtype):
    import decimal

    if dtype == "double":
        return float(v)
    if dtype.startswith("decimal"):
        return decimal.Decimal(str(v)).quantize(decimal.Decimal("0.01"))
    return int(v)


def test_bounded_dummy_test_matches_collect_set_rule(spark):
    """Seeded property test: the min/max dummy test picks exactly the
    columns the collect_set rule picks, for long, double and decimal
    columns over the listed value sets, random ones drawn from a
    vocabulary with NaN, ±inf, -0.0, fractions and values past 2**53,
    NULLs, and all-NULL columns."""
    import random

    rnd = random.Random(1234)
    n_rows = 12
    fields, columns = [], []
    for dtype in ("bigint", "double", "decimal(38,2)"):
        vocab = [v for s in _SETS for v in s] + _EXTRA[dtype]
        sets = [list(s) for s in _SETS]
        sets += [rnd.sample(vocab, rnd.randint(1, 4)) for _ in range(60)]
        sets += [[rnd.choice([0, 1, _BIG])] + rnd.sample(_EXTRA[dtype], 1) for _ in range(10)]
        for k, s in enumerate(sets):
            vals = [_cast(v, dtype) for v in s]
            cells = vals + [rnd.choice(vals) if vals and rnd.random() < 0.6 else None
                            for _ in range(n_rows - len(vals))]
            rnd.shuffle(cells)
            fields.append((f"{dtype.split('(')[0]}_{k}", dtype))
            columns.append(cells)
    df = spark.createDataFrame(
        list(zip(*columns)), ", ".join(f"{name} {dtype}" for name, dtype in fields)
    )

    oracle = df.agg(
        *[F.slice(F.array_sort(F.collect_set(c)), 1, 4).alias(c) for c in df.columns]
    ).first()
    out, _ = factor_wrangler(df, str_to_cat=False, dummy_to_bool=True)
    got = {c for c, t in out.dtypes if t == "boolean"}
    want = {c for c in df.columns if _collect_set_rule(oracle[c])}
    assert got == want
    assert {f"bigint_{k}" for k in (0, 1, 2, 3, 5, 6)} <= got
    assert {"double_0", "double_1", "decimal_5"} <= got
    assert "bigint_4" not in got  # {0, 1, 2} sums to 3
    assert "double_5" not in got  # 1 - 2**60 rounds to -2**60 as a double
