"""Constraint (C1-C6) and key (K1-K3) check tests over small inline
DataFrames plus the clean testdata (SURVEY.md §5.2)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from goodtables_pandas_py_spark.checks.constraints import compile_constraints
from goodtables_pandas_py_spark.checks.keys import (
    check_foreign_key,
    check_primary_key,
    check_unique_key,
    foreign_key_violations_df,
)
from goodtables_pandas_py_spark.schema import Field

from .conftest import load


def viol_count(spark, field, data, schema_str):
    df = spark.createDataFrame(data, schema_str)
    checks = compile_constraints(field, F.col("v"), F.col("v"))
    out = {}
    for ck in checks:
        n = df.select(F.count_if(ck.mask).alias("n")).first()["n"]
        out[ck.constraint] = n
    return out


def test_required(spark):
    f = Field("v", constraints={"required": True})
    got = viol_count(spark, f, [("a",), (None,), ("b",), (None,)], "v string")
    assert got["required"] == 2


def test_min_max_length(spark):
    f = Field("v", constraints={"minLength": 2, "maxLength": 3})
    got = viol_count(spark, f, [("a",), ("ab",), ("abcd",), (None,)], "v string")
    assert got["minLength"] == 1 and got["maxLength"] == 1


def test_minimum_maximum_numeric(spark):
    f = Field("v", type="number", constraints={"minimum": 0, "maximum": 10})
    got = viol_count(
        spark, f, [(-1.0,), (0.0,), (10.0,), (11.5,), (None,)], "v double"
    )
    assert got["minimum"] == 1 and got["maximum"] == 1


def test_minimum_date_typed(spark):
    import datetime as dt

    f = Field("v", type="date", constraints={"minimum": "2024-01-01"})
    got = viol_count(
        spark,
        f,
        [(dt.date(2023, 12, 31),), (dt.date(2024, 1, 1),), (dt.date(2024, 2, 2),)],
        "v date",
    )
    assert got["minimum"] == 1


def test_enum(spark):
    f = Field("v", constraints={"enum": ["F", "P", "O"]})
    got = viol_count(spark, f, [("F",), ("X",), (None,), ("O",)], "v string")
    assert got["enum"] == 1  # null is not an enum violation


def test_enum_integer_typed(spark):
    f = Field("v", type="integer", constraints={"enum": ["1", "2"]})
    got = viol_count(spark, f, [(1,), (2,), (3,)], "v long")
    assert got["enum"] == 1


def test_pattern_fullmatch_anchored(spark):
    f = Field("v", constraints={"pattern": "B[0-9]+"})
    got = viol_count(
        spark, f, [("B1",), ("B12",), ("xB1",), ("B1x",), (None,)], "v string"
    )
    # pandas str.fullmatch semantics: partial matches are violations
    assert got["pattern"] == 2


def test_primary_key_clean(spark, sf_dir):
    orders = load(spark, sf_dir, "orders")
    res = check_primary_key(orders, ["o_orderkey"])
    assert res.ok


def test_primary_key_dirty(spark):
    df = spark.createDataFrame(
        [(1, "a"), (1, "b"), (None, "c"), (2, "d")], "k long, x string"
    )
    res = check_primary_key(df, ["k"])
    # one null + one duplicate extra row
    assert res.count == 2
    assert (1,) in res.values


def test_unique_key_composite(spark):
    df = spark.createDataFrame(
        [(1, 1), (1, 2), (1, 1), (None, None), (None, None)], "a long, b long"
    )
    res = check_unique_key(df, ["a", "b"])
    # (1,1) duplicated once; (null,null) duplicates too (pandas NaN==NaN)
    assert res.count == 2


def test_foreign_key_clean(spark, sf_dir):
    lineitem = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    res = check_foreign_key(lineitem, ["l_orderkey"], orders, ["o_orderkey"])
    assert res.ok


def test_foreign_key_violations(spark):
    child = spark.createDataFrame(
        [(1,), (2,), (99,), (None,)], "k long"
    )
    parent = spark.createDataFrame([(1,), (2,), (3,)], "p long")
    res = check_foreign_key(child, ["k"], parent, ["p"])
    # 99 missing; null child tuple skipped (MATCH SIMPLE)
    assert res.count == 1 and res.values == [(99,)]


def test_foreign_key_composite_self(spark):
    df = spark.createDataFrame(
        [(1, None, None), (2, 1, 1), (3, 9, 9)], "id long, pa long, pb long"
    )
    viol = foreign_key_violations_df(df, ["pa", "pb"], df, ["id", "id"])
    got = [tuple(r) for r in viol.collect()]
    assert got == [(9, 9)]


def test_foreign_key_multi_matches_per_fk_results(spark):
    """foreign_key_violations_multi must agree with N independent
    foreign_key_violations_df calls — including null-safe composite
    semantics — while scanning the child once (single FileScan/scan
    node of the child in the plan)."""
    from goodtables_pandas_py_spark.checks.keys import (
        foreign_key_violations_multi,
    )

    child = spark.createDataFrame(
        [(1, 1), (2, None), (99, 5), (None, None), (7, 7)], "a long, b long"
    )
    p1 = spark.createDataFrame([(1, 1), (2, None), (7, 7)], "x long, y long")
    p2 = spark.createDataFrame([(1, 1), (99, 5)], "x long, y long")
    multi = foreign_key_violations_multi(
        child, ["a", "b"], {"fk1": (p1, ["x", "y"]), "fk2": (p2, ["x", "y"])}
    )
    got = {(r["fk"], r["a"], r["b"]) for r in multi.collect()}
    for name, parent in [("fk1", p1), ("fk2", p2)]:
        single = foreign_key_violations_df(child, ["a", "b"], parent, ["x", "y"])
        want = {(name, r["a"], r["b"]) for r in single.collect()}
        assert {g for g in got if g[0] == name} == want, (name, got)
    # (2, None) partial-null tuple checked null-safe: violates fk2 only
    assert ("fk2", 2, None) in got and ("fk1", 2, None) not in got
    # fully-null tuple skipped everywhere
    assert not any(g[1] is None and g[2] is None for g in got)


def test_foreign_key_multi_single_child_scan(spark, sf_dir):
    """The whole point of the multi-FK kernel: N checks, ONE child
    scan (the r4 fk_anti_join drift was two broadcast anti-joins each
    rescanning lineitem — ReusedExchange can't dedupe a broadcast
    join's streamed side)."""
    from goodtables_pandas_py_spark.checks.keys import (
        foreign_key_violations_multi,
    )

    lineitem = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    out = foreign_key_violations_multi(
        lineitem,
        ["l_orderkey"],
        {
            "clean": (orders, ["o_orderkey"]),
            "dirty": (orders.where(F.col("o_orderkey") % 7 != 0), ["o_orderkey"]),
        },
        broadcast_parent=True,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("lineitem.parquet") == 1, plan


def test_fk_broadcast_plan(spark, sf_dir):
    """The FK anti-join against a small parent must broadcast (AQE or
    hint), never sort-merge (SURVEY.md §4.3.3)."""
    lineitem = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    viol = foreign_key_violations_df(
        lineitem, ["l_orderkey"], orders, ["o_orderkey"], broadcast_parent=True
    )
    plan = viol._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def _fk_multi(child, child_fields, parent, parent_fields):
    from goodtables_pandas_py_spark.checks.keys import (
        foreign_key_violations_multi,
    )

    return foreign_key_violations_multi(
        child, child_fields, {"bad": (parent, parent_fields)}
    )


def _fk_foreach_batch(child, child_fields, parent, parent_fields):
    from goodtables_pandas_py_spark.streaming.validate import (
        fk_check_foreach_batch,
    )

    handle = fk_check_foreach_batch(
        parent, child_fields, parent_fields, lambda viol, _: viol.count()
    )
    handle(child, 0)


@pytest.mark.parametrize(
    "kernel",
    [_fk_multi, check_foreign_key, _fk_foreach_batch],
    ids=["multi", "check_foreign_key", "foreach_batch"],
)
def test_foreign_key_multi_rejects_width_mismatch(spark, kernel):
    """A parent key narrower/wider than the child key must raise, not
    silently zip-compare the wrong columns — in both FK kernels: the
    multi-FK pass, and the anti-join behind check_foreign_key and the
    streaming foreachBatch check. Child (1,) against parent rows
    (1, 9), (2, 9) used to pass with count 0: only x was compared."""
    child = spark.createDataFrame([(1, 1)], "a long, b long")
    parent = spark.createDataFrame([(1, 9), (2, 9)], "x long, y long")
    with pytest.raises(ValueError, match="key width"):
        kernel(child, ["a"], parent, ["x", "y"])
    with pytest.raises(ValueError, match="key width"):
        kernel(child, ["a", "b"], parent, ["x"])


def test_key_samples_do_not_depend_on_shuffle_partitions(spark):
    """PK, unique and FK samples are the 20 smallest violating tuples,
    the same at 7 and at 200 shuffle partitions (a plain LIMIT on the
    violations returned whichever tuples the first partitions held)."""
    from goodtables_pandas_py_spark.errors import VALUE_SAMPLE_CAP

    # 900 rows, keys 0..299 twice: 300 duplicated keys
    df = spark.createDataFrame(
        [(i % 600,) for i in range(900)], "k long"
    ).repartition(3)
    child = spark.range(900).select(F.col("id").alias("c"))
    parent = spark.range(600).select(F.col("id").alias("p"))

    def samples():
        return [
            check_primary_key(df, ["k"]).values,
            check_unique_key(df, ["k"]).values,
            check_foreign_key(child, ["c"], parent, ["p"]).values,
        ]

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    got = []
    try:
        for n in (7, 200):
            spark.conf.set("spark.sql.shuffle.partitions", str(n))
            got.append(samples())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    smallest = [(k,) for k in range(VALUE_SAMPLE_CAP)]
    orphans = [(600 + k,) for k in range(VALUE_SAMPLE_CAP)]
    assert got[0] == got[1] == [smallest, smallest, orphans]


# --------------------------------------------- review-finding regressions

def test_key_checks_tolerate_field_named_n(spark):
    """A key field literally named 'n' must not collide with the
    internal count column."""
    from goodtables_pandas_py_spark.checks.keys import (
        check_primary_key, check_unique_key,
    )

    df = spark.createDataFrame([(1,), (1,), (2,)], "n long")
    assert check_unique_key(df, ["n"]).count == 1
    assert check_primary_key(df, ["n"]).count == 1


def test_primary_key_null_only_violations_carry_sample(spark):
    """A PK violated solely by null components must sample the
    offending tuples (count>0 with empty values reads as a bug)."""
    from goodtables_pandas_py_spark.checks.keys import check_primary_key

    df = spark.createDataFrame(
        [(None, "a"), (None, "b"), (1, "c")], "id long, x string"
    )
    res = check_primary_key(df, ["id"])
    assert res.count == 2
    assert res.values and all(t == (None,) for t in res.values)


def test_enum_on_struct_typed_fields(spark):
    """r11 review regression (repro-confirmed): enum literals on
    duration/geopoint fields stayed STRINGS while the parsed column is
    a struct — parsed.isin(strings) was a plan-time DATATYPE_MISMATCH
    that killed the whole validation. Literals now parse to tuples and
    compile to name/type-matched struct equalities."""
    from goodtables_pandas_py_spark.parsers import parse_field

    f = Field(
        "v", type="duration", constraints={"enum": ["P1D", "PT1H30M"]}
    )
    df = spark.createDataFrame(
        [("P1D",), ("PT1H30M",), ("P2D",), ("P1DT0S",), (None,)],
        "v string",
    )
    parsed = parse_field(F.col("v"), f).parsed
    checks = compile_constraints(f, parsed, F.col("v"))
    enum_ck = [c for c in checks if c.constraint == "enum"][0]
    # P2D violates; P1DT0S == P1D as a (months, seconds) value —
    # typed comparison, not lexical
    assert df.select(F.count_if(enum_ck.mask).alias("n")).first()["n"] == 1

    g = Field(
        "v", type="geopoint",
        constraints={"enum": ["1.5,2.5", [3.0, 4.0]]},
    )
    gdf = spark.createDataFrame(
        [("1.5, 2.5",), ("3,4",), ("9,9",), (None,)], "v string"
    )
    gparsed = parse_field(F.col("v"), g).parsed
    gchecks = compile_constraints(g, gparsed, F.col("v"))
    genum = [c for c in gchecks if c.constraint == "enum"][0]
    assert (
        gdf.select(F.count_if(genum.mask).alias("n")).first()["n"] == 1
    )


def test_duration_minimum_maximum(spark):
    """r11 review: Table Schema lists duration as min/max-applicable
    and the engine's struct<months,seconds> is totally ordered — the
    schema guard no longer refuses it."""
    from goodtables_pandas_py_spark.parsers import parse_field

    f = Field(
        "v", type="duration",
        constraints={"minimum": "PT1H", "maximum": "P1D"},
    )
    df = spark.createDataFrame(
        [("PT30M",), ("PT2H",), ("P1D",), ("P2D",), (None,)],
        "v string",
    )
    parsed = parse_field(F.col("v"), f).parsed
    got = {
        c.constraint: df.select(F.count_if(c.mask).alias("n")).first()["n"]
        for c in compile_constraints(f, parsed, F.col("v"))
    }
    assert got["minimum"] == 1    # PT30M under PT1H
    assert got["maximum"] == 1    # P2D over P1D (P1D inclusive)
