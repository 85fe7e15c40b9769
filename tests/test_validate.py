"""End-to-end validate() tests: dirty inline package + clean testdata
package (E1 lifecycle, SURVEY.md §3)."""

from __future__ import annotations

import goodtables_pandas_py_spark as gt

from .conftest import load


def _dirty_package(spark):
    """B2-style dirty orders + B3-style FK-violating lineitem
    (FIXTURES.md §B) built inline as stringly DataFrames."""
    orders_rows = [
        # ok rows
        ("1", "F", "100.5", "2024-01-01"),
        ("2", "O", "5.0", "2024-02-29"),
        ("3", "P", "0.0", "2024-03-05"),
        # defects
        ("3", "F", "1.0", "2024-01-02"),  # dup pk
        (None, "F", "1.0", "2024-01-03"),  # null pk
        ("5", "X", "1.0", "2024-01-04"),  # bad enum
        ("6", "F", "-3.0", "2024-01-05"),  # minimum violation
        ("7", "F", "abc", "2024-01-06"),  # bad number
        ("8", "F", "1.0", "2023-02-29"),  # bad date
        ("NA", "F", "1.0", "2024-01-07"),  # missing pk via NA
    ]
    lineitem_rows = [
        ("1", "1"),
        ("2", "1"),
        ("99", "1"),  # fk violation
        (None, "2"),  # null fk: skipped
    ]
    orders = spark.createDataFrame(
        orders_rows, "o_orderkey string, o_orderstatus string, "
        "o_totalprice string, o_orderdate string"
    )
    lineitem = spark.createDataFrame(
        lineitem_rows, "l_orderkey string, l_linenumber string"
    )
    descriptor = {
        "name": "dirty",
        "resources": [
            {
                "name": "orders",
                "schema": {
                    "fields": [
                        {"name": "o_orderkey", "type": "integer",
                         "constraints": {"required": True}},
                        {"name": "o_orderstatus", "type": "string",
                         "constraints": {"enum": ["F", "P", "O"]}},
                        {"name": "o_totalprice", "type": "number",
                         "constraints": {"minimum": 0}},
                        {"name": "o_orderdate", "type": "date"},
                    ],
                    "missingValues": ["", "NA"],
                    "primaryKey": ["o_orderkey"],
                },
            },
            {
                "name": "lineitem",
                "schema": {
                    "fields": [
                        {"name": "l_orderkey", "type": "integer"},
                        {"name": "l_linenumber", "type": "integer"},
                    ],
                    "foreignKeys": [
                        {"fields": ["l_orderkey"],
                         "reference": {"resource": "orders",
                                       "fields": ["o_orderkey"]}}
                    ],
                },
            },
        ],
    }
    return descriptor, {"orders": orders, "lineitem": lineitem}


def _errs(report, source):
    (table,) = [t for t in report["tables"] if t["source"] == source]
    return {(e["code"], e.get("field")): e for e in table["errors"]}


def test_validate_dirty_package(spark):
    descriptor, dfs = _dirty_package(spark)
    report = gt.validate(spark, descriptor, dataframes=dfs)
    assert not report["valid"]

    oe = _errs(report, "orders")
    # bad number 'abc' + bad date '2023-02-29'
    assert oe[("type-or-format-error", "o_totalprice")]["count"] == 1
    assert "abc" in oe[("type-or-format-error", "o_totalprice")]["values"]
    assert oe[("type-or-format-error", "o_orderdate")]["count"] == 1
    # required: null + 'NA' missing-value
    assert oe[("required-constraint", "o_orderkey")]["count"] == 2
    assert oe[("enumerable-constraint", "o_orderstatus")]["count"] == 1
    assert oe[("minimum-constraint", "o_totalprice")]["count"] == 1
    # pk: 2 nulls + 1 dup extra
    assert oe[("primary-key-constraint", "o_orderkey")]["count"] == 3

    le = _errs(report, "lineitem")
    assert le[("foreign-key-error", "l_orderkey")]["count"] == 1


def test_validate_clean_testdata(spark, sf_dir):
    descriptor = {
        "name": "tpch",
        "resources": [
            {
                "name": "orders",
                "schema": {
                    "fields": [
                        {"name": "o_orderkey", "type": "integer",
                         "constraints": {"required": True, "unique": True}},
                        {"name": "o_custkey", "type": "integer"},
                        {"name": "o_orderstatus", "type": "string",
                         "constraints": {"enum": ["F", "P", "O"]}},
                        {"name": "o_totalprice", "type": "number",
                         "constraints": {"minimum": 0}},
                        {"name": "o_orderdate", "type": "datetime"},
                        {"name": "o_orderpriority", "type": "string",
                         "constraints": {"pattern": "[1-5]-[A-Z ]+"}},
                    ],
                    "primaryKey": ["o_orderkey"],
                },
            },
            {
                "name": "customer",
                "schema": {
                    "fields": [
                        {"name": "c_custkey", "type": "integer"},
                        {"name": "c_name", "type": "string"},
                        {"name": "c_nationkey", "type": "integer"},
                        {"name": "c_acctbal", "type": "number"},
                        {"name": "c_mktsegment", "type": "string"},
                    ],
                    "primaryKey": ["c_custkey"],
                },
            },
        ],
    }
    dfs = {
        "orders": gt.stringly(load(spark, sf_dir, "orders")),
        "customer": gt.stringly(load(spark, sf_dir, "customer")),
    }
    # add the FK orders->customer
    descriptor["resources"][0]["schema"]["foreignKeys"] = [
        {"fields": ["o_custkey"],
         "reference": {"resource": "customer", "fields": ["c_custkey"]}}
    ]
    report = gt.validate(spark, descriptor, dataframes=dfs)
    assert report["valid"], report
    assert report["tables"][0]["row-count"] > 0


def test_parse_table_roundtrip(spark, sf_dir):
    """E2: stringly -> typed round trip preserves values."""
    orders = load(spark, sf_dir, "orders")
    schema = gt.TableSchema.from_descriptor(
        {
            "fields": [
                {"name": "o_orderkey", "type": "integer"},
                {"name": "o_totalprice", "type": "number"},
                {"name": "o_orderdate", "type": "datetime"},
            ]
        }
    )
    typed, errors = gt.parse_table(
        gt.stringly(orders.select("o_orderkey", "o_totalprice", "o_orderdate")),
        schema,
    )
    assert not errors
    import pyspark.sql.functions as F

    orig = orders.select(
        F.sum("o_orderkey").alias("k"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("p"),
    ).first()
    got = typed.select(
        F.sum("o_orderkey").alias("k"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("p"),
    ).first()
    assert orig["k"] == got["k"]
    assert orig["p"] == got["p"]


def test_header_checks():
    schema = gt.TableSchema.from_descriptor(
        {"fields": [{"name": "a"}, {"name": "b"}]}
    )
    errs = gt.check_header(["a", "b"], schema)
    assert errs == []
    codes = {e.code for e in gt.check_header(["a", "x"], schema)}
    assert codes == {"missing-header", "extra-header"}
    codes = {e.code for e in gt.check_header(["b", "a"], schema)}
    assert codes == {"non-matching-header"}
    codes = {e.code for e in gt.check_header(["a", "a", "b", ""], schema)}
    assert "duplicate-header" in codes and "blank-header" in codes


def test_inline_data_resource(spark):
    """Inline `data` resources (array-of-objects and array-of-arrays)
    run through the same parse/check pipeline as files."""
    import goodtables_pandas_py_spark as gt

    desc = {
        "name": "inline",
        "resources": [
            {"name": "objs",
             "data": [
                 {"id": 1, "status": "F"},
                 {"id": 2, "status": "X"},   # bad enum
                 {"id": None, "status": "P"},  # missing required
             ],
             "schema": {"fields": [
                 {"name": "id", "type": "integer",
                  "constraints": {"required": True}},
                 {"name": "status", "type": "string",
                  "constraints": {"enum": ["F", "P", "O"]}},
             ], "primaryKey": ["id"]}},
            {"name": "arrays",
             "data": [["a", "b"], ["1", "2"], ["3", "4"]],
             "schema": {"fields": [
                 {"name": "a", "type": "integer"},
                 {"name": "b", "type": "integer"},
             ]}},
        ],
    }
    report = gt.validate(spark, desc)
    by_table = {t["source"]: t for t in report["tables"]}
    assert by_table["arrays"]["valid"]
    codes = sorted(e["code"] for e in by_table["objs"]["errors"])
    assert "enumerable-constraint" in codes
    assert "required-constraint" in codes


def test_write_report_errors_parquet(spark, tmp_path):
    import goodtables_pandas_py_spark as gt
    from goodtables_pandas_py_spark.errors import write_report_errors

    desc = {
        "name": "p",
        "resources": [
            {"name": "t",
             "data": [{"x": 1}, {"x": "oops"}],
             "schema": {"fields": [{"name": "x", "type": "integer"}]}},
        ],
    }
    report = gt.validate(spark, desc)
    out = str(tmp_path / "errors")
    write_report_errors(spark, report, out)
    back = spark.read.parquet(out)
    rows = back.collect()
    assert len(rows) == 1
    assert rows[0]["code"] == "type-or-format-error"
    assert rows[0]["values"] == ["oops"]


def test_duplicate_and_blank_csv_headers_detected(spark, tmp_path):
    """Spark mangles duplicate/blank CSV header names (a,a -> a0,a1;
    '' -> _cN); H1 must still report the REAL defects via the sniffed
    raw header row."""
    import json
    import goodtables_pandas_py_spark as gt

    p = tmp_path / "t.csv"
    p.write_text("id,id,,name\n1,2,3,x\n")
    dp = {
        "name": "p",
        "resources": [{
            "name": "t", "path": "t.csv",
            "schema": {"fields": [
                {"name": "id", "type": "integer"},
                {"name": "name", "type": "string"},
            ]},
        }],
    }
    (tmp_path / "datapackage.json").write_text(json.dumps(dp))
    report = gt.validate(spark, str(tmp_path / "datapackage.json"))
    codes = {e["code"] for t in report["tables"] for e in t["errors"]}
    assert "duplicate-header" in codes, codes
    assert "blank-header" in codes, codes
    assert not report["valid"]


def test_csv_multiline_dialect_opt_in(spark, tmp_path):
    """Quoted embedded newlines parse correctly when the dialect opts
    in (multiline=True); the default stays splittable-friendly."""
    import json
    import goodtables_pandas_py_spark as gt

    p = tmp_path / "m.csv"
    p.write_text('id,note\n1,"line one\nline two"\n2,plain\n')
    dp = {
        "name": "p",
        "resources": [{
            "name": "m", "path": "m.csv",
            "dialect": {"multiline": True},
            "schema": {"fields": [
                {"name": "id", "type": "integer",
                 "constraints": {"required": True}},
                {"name": "note", "type": "string"},
            ]},
        }],
    }
    (tmp_path / "datapackage.json").write_text(json.dumps(dp))
    report = gt.validate(spark, str(tmp_path / "datapackage.json"))
    assert report["valid"], report
    assert report["tables"][0]["row-count"] == 2


def test_row_ids_in_error_samples(spark):
    """row_ids=True attaches row positions to cell-level errors."""
    from goodtables_pandas_py_spark.schema import TableSchema
    from goodtables_pandas_py_spark.validate import validate_table

    df = spark.createDataFrame(
        [("1", "F"), ("x", "P"), ("3", "Z"), ("y", "O")],
        "id string, status string",
    ).coalesce(1)  # single partition -> positions are 0..n-1 in order
    schema = TableSchema.from_descriptor({
        "fields": [
            {"name": "id", "type": "integer"},
            {"name": "status", "type": "string",
             "constraints": {"enum": ["F", "P", "O"]}},
        ]
    })
    v = validate_table(df, schema, "t", row_ids=True)
    by = {(e.code, e.field): e for e in v.errors}
    type_err = by[("type-or-format-error", "id")]
    assert sorted(type_err.row_ids) == [1, 3]
    assert sorted(type_err.values) == ["x", "y"]
    enum_err = by[("enumerable-constraint", "status")]
    assert enum_err.row_ids == [2]
    assert enum_err.values == ["Z"]
    assert "row-ids" in type_err.to_dict()
    v.unpersist()


def test_partition_valid_quarantine(spark):
    from goodtables_pandas_py_spark.schema import TableSchema
    from goodtables_pandas_py_spark.validate import partition_valid

    df = spark.createDataFrame(
        [("1", "F"), ("x", "P"), ("3", "Z"), ("4", "O"), ("", "F")],
        "id string, status string",
    )
    schema = TableSchema.from_descriptor({
        "fields": [
            {"name": "id", "type": "integer",
             "constraints": {"required": True}},
            {"name": "status", "type": "string",
             "constraints": {"enum": ["F", "P", "O"]}},
        ]
    })
    valid, invalid = partition_valid(df, schema)
    assert sorted(r["id"] for r in valid.collect()) == [1, 4]
    inv = {r["id"]: sorted(r["__failed_checks"]) for r in invalid.collect()}
    assert inv["x"] == ["id:type-or-format-error"]
    assert inv["3"] == ["status:enumerable-constraint"]
    # raw lexical form preserved: the missing value is the EMPTY STRING
    assert inv[""] == ["id:required-constraint"]
    # invalid keeps RAW lexical forms for repair
    assert dict(invalid.dtypes)["id"] == "string"
    # valid is typed
    assert dict(valid.dtypes)["id"] == "bigint"


def test_custom_check_cross_field(spark):
    """X6 plugin surface: a cross-field CustomCheck rides the same
    single-scan pass and reports like a built-in constraint."""
    import pyspark.sql.functions as F

    from goodtables_pandas_py_spark.schema import TableSchema
    from goodtables_pandas_py_spark.validate import CustomCheck, validate_table

    df = spark.createDataFrame(
        [("1", "10"), ("5", "3"), ("2", "2"), ("7", "1")],
        "lo string, hi string",
    )
    schema = TableSchema.from_descriptor({
        "fields": [
            {"name": "lo", "type": "integer"},
            {"name": "hi", "type": "integer"},
        ]
    })
    cc = CustomCheck(
        name="lo-gt-hi",
        mask=lambda cols: cols["lo"] > cols["hi"],
        field="lo",
    )
    v = validate_table(df, schema, resource="t", custom_checks=[cc])
    errs = [e for e in v.errors if e.code == "lo-gt-hi"]
    assert len(errs) == 1
    assert errs[0].count == 2  # (5,3) and (7,1)
    assert sorted(errs[0].values) == ["5", "7"]
    v.unpersist()


def test_custom_check_pandas_udf(spark):
    """Arbitrary-Python checks via an Arrow-batched pandas_udf mask —
    still one scan, no driver loop."""
    from pyspark.sql.functions import pandas_udf

    from goodtables_pandas_py_spark.schema import TableSchema
    from goodtables_pandas_py_spark.validate import CustomCheck, validate_table

    @pandas_udf("boolean")
    def odd_length(s):
        return s.str.len() % 2 == 1

    df = spark.createDataFrame([("ab",), ("abc",), ("abcd",)], "s string")
    schema = TableSchema.from_descriptor(
        {"fields": [{"name": "s", "type": "string"}]}
    )
    cc = CustomCheck(name="odd-length", mask=lambda cols: odd_length(cols["s"]), field="s")
    v = validate_table(df, schema, resource="t", custom_checks=[cc])
    errs = [e for e in v.errors if e.code == "odd-length"]
    assert len(errs) == 1 and errs[0].count == 1
    assert errs[0].values == ["abc"]
    v.unpersist()


def test_custom_check_partition_valid(spark):
    """Custom checks also drive the quarantine split."""
    from goodtables_pandas_py_spark.schema import TableSchema
    from goodtables_pandas_py_spark.validate import CustomCheck, partition_valid

    df = spark.createDataFrame([("1", "2"), ("9", "4")], "lo string, hi string")
    schema = TableSchema.from_descriptor({
        "fields": [
            {"name": "lo", "type": "integer"},
            {"name": "hi", "type": "integer"},
        ]
    })
    cc = CustomCheck(
        name="lo-gt-hi", mask=lambda cols: cols["lo"] > cols["hi"], field="lo"
    )
    valid, invalid = partition_valid(df, schema, custom_checks=[cc])
    assert [r["lo"] for r in valid.collect()] == [1]
    inv = invalid.collect()
    assert len(inv) == 1 and inv[0]["lo"] == "9"
    assert inv[0]["__failed_checks"] == ["lo:lo-gt-hi"]


def test_url_resource_with_encoding(spark, tmp_path):
    """URL-hosted resources (file:// here; http(s) goes through
    addFile) with a non-utf8 declared encoding must read and validate
    exactly like local paths — including the raw-header sniff."""
    csv = tmp_path / "latin.csv"
    csv.write_bytes("id,città\n1,Torino\n2,Zürich\n".encode("latin-1"))
    descriptor = {
        "name": "urlpkg",
        "resources": [
            {
                "name": "latin",
                "path": f"file://{csv}",
                "encoding": "latin-1",
                "schema": {
                    "fields": [
                        {"name": "id", "type": "integer",
                         "constraints": {"required": True, "unique": True}},
                        {"name": "città", "type": "string"},
                    ],
                    "primaryKey": ["id"],
                },
            }
        ],
    }
    report = gt.validate(spark, descriptor)
    assert report["valid"], report
    assert report["tables"][0]["row-count"] == 2


def test_missing_key_fields_degrade_to_schema_error(spark):
    """PK/uniqueKeys/FK fields absent from the table (missing header)
    must yield structured report errors, never an AnalysisException."""
    child = spark.createDataFrame([("1",), ("2",)], "a string")
    parent = spark.createDataFrame([("1",)], "p string")
    descriptor = {
        "name": "broken",
        "resources": [
            {
                "name": "child",
                "schema": {
                    "fields": [
                        {"name": "a", "type": "integer"},
                        {"name": "nope", "type": "integer"},
                        {"name": "also_gone", "type": "string"},
                        {"name": "ghost", "type": "integer"},
                    ],
                    "primaryKey": ["a", "nope"],
                    "uniqueKeys": [["also_gone"]],
                    "foreignKeys": [
                        {"fields": ["ghost"],
                         "reference": {"resource": "parent", "fields": ["p"]}}
                    ],
                },
            },
            {
                "name": "parent",
                "schema": {"fields": [{"name": "p", "type": "integer"}]},
            },
        ],
    }
    report = gt.validate(
        spark, descriptor, dataframes={"child": child, "parent": parent}
    )
    assert not report["valid"]
    codes = sorted(
        (e["code"], e.get("constraint"))
        for t in report["tables"]
        for e in t["errors"]
        if e["code"] in ("schema-error", "foreign-key-error", "missing-header")
    )
    assert ("schema-error", "primaryKey") in codes
    assert ("schema-error", "uniqueKeys") in codes
    assert ("foreign-key-error", "reference fields missing") in codes


def test_fk_partial_null_composite_null_safe(spark):
    """Pandas-reference parity: a partially-null composite child tuple
    is a violation unless the parent holds the same (null-safe) tuple;
    only fully-null tuples are skipped."""
    from goodtables_pandas_py_spark.checks.keys import foreign_key_violations_df

    child = spark.createDataFrame(
        [(1, None), (2, None), (None, None), (3, 30)],
        "x int, y int",
    )
    parent = spark.createDataFrame(
        [(1, None), (3, 30)],
        "x int, y int",
    )
    viol = foreign_key_violations_df(child, ["x", "y"], parent, ["x", "y"])
    got = {(r["x"], r["y"]) for r in viol.collect()}
    # (1,null) matches null-safely; (null,null) skipped; (2,null) violates
    assert got == {(2, None)}


def test_stringly_subsecond_roundtrip(spark):
    """Timestamps with sub-second precision must survive the
    stringly -> parse round trip (parquet validation path)."""
    import datetime as dt

    from goodtables_pandas_py_spark.parsers import parse_field
    from goodtables_pandas_py_spark.schema import Field
    from goodtables_pandas_py_spark.sources import stringly
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(dt.datetime(2024, 1, 2, 3, 4, 5, 123456),),
         (dt.datetime(2024, 1, 2, 3, 4, 5),)],
        "ts timestamp",
    )
    lex = stringly(df)
    vals = sorted(r["ts"] for r in lex.collect())
    assert vals == ["2024-01-02T03:04:05", "2024-01-02T03:04:05.123456"]
    pf = parse_field(F.col("ts"), Field("ts", type="datetime"))
    back = lex.select(pf.parsed.alias("p"), pf.bad.alias("b")).collect()
    assert not any(r["b"] for r in back)
    assert sorted(r["p"] for r in back) == [
        dt.datetime(2024, 1, 2, 3, 4, 5),
        dt.datetime(2024, 1, 2, 3, 4, 5, 123456),
    ]


def test_sniff_header_directory_deterministic(spark, tmp_path):
    """Glob/directory sniff must pick the lexicographically first file
    and honor the declared encoding — not an arbitrary task's line."""
    d = tmp_path / "csvs"
    d.mkdir()
    (d / "b.csv").write_text("wrong,header\n9,9\n")
    (d / "a.csv").write_bytes("id,née\n1,x\n".encode("latin-1"))
    from goodtables_pandas_py_spark.sources import sniff_csv_header

    got = sniff_csv_header(spark, str(d), encoding="latin-1")
    assert got == ["id", "née"]


def test_sniff_header_directory_first_name_with_uri_characters(
    spark, tmp_path
):
    """The first file's name holds characters a URI parser splits on
    ('#', '?') or decodes ('%41' is 'A'): the sniff still reads that
    file, not a truncated path or its decoded neighbour."""
    from goodtables_pandas_py_spark.sources import sniff_csv_header

    d = tmp_path / "csvs"
    d.mkdir()
    (d / "a#1?.csv").write_text("id,id\n1,2\n")
    (d / "b.csv").write_text("wrong,header\n9,9\n")
    assert sniff_csv_header(spark, str(d)) == ["id", "id"]

    e = tmp_path / "escapes"
    e.mkdir()
    (e / "a%41.csv").write_text("id,pct\n1,2\n")
    (e / "aA.csv").write_text("wrong,header\n9,9\n")
    assert sniff_csv_header(spark, str(e)) == ["id", "pct"]


def test_descriptor_errors_report_not_raise(spark):
    """Malformed descriptors yield a structured report with zero
    tables checked ([R validate.py::validate] profile validation) —
    validate_package must not raise."""
    # profile violation: bad field type
    rep = gt.validate_package(
        spark,
        {
            "resources": [
                {
                    "name": "t",
                    "path": "/nonexistent.csv",
                    "schema": {"fields": [{"name": "a", "type": "wat"}]},
                }
            ]
        },
    )
    assert rep["valid"] is False and rep["table-count"] == 0
    assert [e["code"] for e in rep["errors"]] == ["schema-error"]

    # package-level violation
    rep = gt.validate_package(spark, {"resources": "nope"})
    assert rep["valid"] is False
    assert [e["code"] for e in rep["errors"]] == ["datapackage-error"]

    # cross-field invariant the profile can't express: PK names an
    # unknown field -> SchemaError downgraded to a report error
    rep = gt.validate_package(
        spark,
        {
            "resources": [
                {
                    "name": "t",
                    "path": "/nonexistent.csv",
                    "schema": {
                        "fields": [{"name": "a", "type": "string"}],
                        "primaryKey": ["zzz"],
                    },
                }
            ]
        },
    )
    assert rep["valid"] is False and rep["table-count"] == 0
    assert [e["code"] for e in rep["errors"]] == ["schema-error"]
    assert "zzz" in rep["errors"][0]["message"]


def test_url_cache_distinct_urls_same_basename(spark, tmp_path, monkeypatch):
    """Two different URLs that share a basename must localize to two
    distinct files (the old SparkFiles route cached by basename and
    collided — VERDICT r3)."""
    import tempfile

    from goodtables_pandas_py_spark import sources

    # isolate the on-disk memo from previous runs/sessions
    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))

    fetched = []

    def fake_download(url, dest):
        fetched.append(url)
        with open(dest, "w") as fh:
            fh.write(url)

    monkeypatch.setattr(sources, "_download_atomic", fake_download)
    monkeypatch.setattr(sources, "_URL_CACHE", {})
    p1 = sources.localize_url(spark, "http://host-a.example/data.csv")
    p2 = sources.localize_url(spark, "http://host-b.example/data.csv")
    assert p1 != p2
    assert open(p1).read() == "http://host-a.example/data.csv"
    assert open(p2).read() == "http://host-b.example/data.csv"
    # memoized: a repeat localize does not re-download
    sources.localize_url(spark, "http://host-a.example/data.csv")
    assert len(fetched) == 2


def test_url_download_atomic_no_partial_on_failure(spark, tmp_path, monkeypatch):
    """A download that dies mid-transfer must leave NOTHING at the
    destination — neither the final name (the cross-process
    os.path.exists memo would serve the corpse forever) nor a .part
    temp — and a retry must actually re-download (ADVICE r4)."""
    import tempfile
    import urllib.request

    import pytest as _pytest

    from goodtables_pandas_py_spark import sources

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    monkeypatch.setattr(sources, "_URL_CACHE", {})

    class _DyingStream:
        calls = 0

        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

        def read(self, n):
            raise OSError("connection reset mid-transfer")

    attempts = []

    def fake_urlopen(url):
        attempts.append(url)
        if len(attempts) == 1:
            return _DyingStream()

        class _OK:
            def __enter__(self):
                return self

            def __exit__(self, *a):
                return False

            _chunks = [b"a,b\n1,2\n", b""]

            def read(self, n):
                return self._chunks.pop(0)

        return _OK()

    monkeypatch.setattr(urllib.request, "urlopen", fake_urlopen)
    with _pytest.raises(OSError, match="mid-transfer"):
        sources.localize_url(spark, "http://example.com/data.csv")
    # nothing on disk: no final file, no .part leftovers
    assert list(tmp_path.iterdir()) == []
    # retry re-downloads and succeeds
    out = sources.localize_url(spark, "http://example.com/data.csv")
    assert open(out).read() == "a,b\n1,2\n"
    assert len(attempts) == 2


def test_url_localize_refuses_cluster_master(spark):
    """http downloads are driver-local; on a non-local master the call
    must fail fast with the staging remedy, not later on executors."""
    from types import SimpleNamespace

    import pytest as _pytest

    from goodtables_pandas_py_spark import sources

    fake = SimpleNamespace(
        sparkContext=SimpleNamespace(master="spark://cluster:7077"),
        conf=SimpleNamespace(get=lambda key, default=None: default),
    )
    with _pytest.raises(ValueError, match="Hadoop-visible"):
        sources.localize_url(fake, "http://example.com/data.csv")
    # Hadoop-native schemes still pass through untouched
    assert (
        sources.localize_url(fake, "s3a://bucket/key.csv") == "s3a://bucket/key.csv"
    )


def test_url_staging_dir_copies_via_hadoop_fs(spark, tmp_path, monkeypatch):
    """With spark.goodtables.staging.dir set, an http download must be
    copied to the staging filesystem through the Hadoop FS API and the
    staged URI returned — the cluster-real route (executors read the
    staged copy, never the driver's temp file)."""
    import tempfile

    from goodtables_pandas_py_spark import sources

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    monkeypatch.setattr(sources, "_URL_CACHE", {})
    monkeypatch.setattr(
        sources,
        "_download_atomic",
        lambda url, dest: open(dest, "w").write("a,b\n1,2\n"),
    )
    staging = tmp_path / "staged"
    staging.mkdir()
    spark.conf.set("spark.goodtables.staging.dir", f"file://{staging}")
    try:
        out = sources.localize_url(spark, "http://example.com/data.csv")
        assert out.startswith("file:") and "staged" in out, out
        staged_files = list(staging.iterdir())
        assert len(staged_files) == 1
        assert staged_files[0].read_text() == "a,b\n1,2\n"
        # and Spark itself can read the staged URI
        df = spark.read.option("header", True).csv(out)
        assert df.count() == 1
    finally:
        spark.conf.unset("spark.goodtables.staging.dir")


def test_validate_package_reports_bad_descriptor_file(spark, tmp_path):
    """A missing or non-JSON descriptor path must produce a
    datapackage-error report, never raise (ADVICE r3)."""
    import goodtables_pandas_py_spark as gt

    missing = str(tmp_path / "nope" / "datapackage.json")
    rep = gt.validate(spark, missing)
    assert rep["valid"] is False
    codes = {e["code"] for t in rep.get("tables", []) for e in t["errors"]} | {
        e["code"] for e in rep.get("errors", [])
    }
    assert "datapackage-error" in codes, rep

    bad = tmp_path / "datapackage.json"
    bad.write_text("{not json")
    rep2 = gt.validate(spark, str(bad))
    assert rep2["valid"] is False


def test_events_loader_tolerates_ts_encodings(spark, tmp_path):
    """Regression (VERDICT r3): the driver has shipped events.parquet
    with ts as TIMESTAMP(NANOS) (readable only as long via the legacy
    conf) and as plain timestamp[us] across testdata regenerations.
    t() must normalize BOTH to timestamp_ntz."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from goodtables_pandas_py_spark.queries import t

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = {
        "event_id": [1, 2],
        "user_id": [10, 20],
        "event_type": ["a", "b"],
        "value": [1.0, 2.0],
        "props": ["{}", "{}"],
    }

    d_us = tmp_path / "us"
    d_us.mkdir()
    pq.write_table(
        pa.table({**rows, "ts": pa.array([base, base], pa.timestamp("us"))}),
        str(d_us / "events.parquet"),
    )

    d_ns = tmp_path / "ns"
    d_ns.mkdir()
    pq.write_table(
        pa.table({**rows, "ts": pa.array([base, base], pa.timestamp("ns"))}),
        str(d_ns / "events.parquet"),
        store_schema=False,  # force physical INT64 TIMESTAMP(NANOS) read path
    )

    for d in (d_us, d_ns):
        df = t(spark, str(d), "events")
        assert dict(df.dtypes)["ts"] == "timestamp_ntz", (d, df.dtypes)
        got = sorted(r["ts"] for r in df.select("ts").collect())
        assert got[0] == base, (d, got)


def test_ndjson_resource_validates(spark, tmp_path):
    """format: ndjson — line-delimited JSON through the all-string
    reader; nested values re-render as canonical JSON for P14/P15."""
    import json

    from goodtables_pandas_py_spark.schema import (
        Field, Resource, TableSchema,
    )
    from goodtables_pandas_py_spark.sources import read_resource
    from goodtables_pandas_py_spark.validate import validate_table

    p = tmp_path / "rows.ndjson"
    with open(p, "w") as f:
        for i in range(6):
            f.write(json.dumps({
                "id": i,
                "name": f"row{i}",
                "score": i * 1.5,
                "ok": i % 2 == 0,
                "tags": [i, i + 1],
            }) + "\n")
        f.write(json.dumps({"id": None, "name": "bad", "score": "x",
                            "ok": True, "tags": []}) + "\n")
    res = Resource(name="r", path=str(p), format="ndjson")
    df = read_resource(spark, res)
    assert [t for _, t in df.dtypes] == ["string"] * 5
    schema = TableSchema(fields=[
        Field("id", type="integer", constraints={"required": True}),
        Field("name", type="string"),
        Field("score", type="number"),
        Field("ok", type="boolean"),
        Field("tags", type="array"),
    ])
    v = validate_table(df, schema, resource="r")
    codes = {e.code for e in v.errors}
    assert "required-constraint" in codes       # null id row
    assert "type-or-format-error" in codes      # score 'x'
    assert v.row_count == 7
    good = v.parsed.where(v.parsed["id"].isNotNull())
    assert good.count() == 6
    assert {r["tags"] for r in good.select("tags").collect()} == {
        f"[{i},{i + 1}]" for i in range(6)
    }


def test_ndjson_declared_schema_single_pass_raw_lexicals(spark, tmp_path):
    """With a declared schema the reader pins an all-string schema:
    ONE pass (no inference scan), raw lexical fidelity ('07' stays
    '07', nested values keep their source text). EVERY declared field
    is pinned — one absent from the (sparse) first record still reads
    from later records instead of being dropped — and extras sniffed
    from the first record surface for H1."""
    import json

    from goodtables_pandas_py_spark.schema import (
        Field, Resource, TableSchema,
    )
    from goodtables_pandas_py_spark.sources import read_resource
    from goodtables_pandas_py_spark.validate import check_header

    p = tmp_path / "pinned.ndjson"
    with open(p, "w") as f:
        # 'sparse' is ABSENT from the first record — regression: the
        # pinned schema once came from the sniffed keys only, which
        # silently dropped the column for the whole file
        f.write(json.dumps({"id": "07", "tags": [1, 2], "surplus": 5}) + "\n")
        f.write(json.dumps({"id": "08", "tags": [3, 4], "surplus": 6,
                            "sparse": "late"}) + "\n")
    schema = TableSchema(fields=[
        Field("id", type="string"),
        Field("tags", type="array"),
        Field("sparse", type="string"),
    ])
    res = Resource(name="r", path=str(p), format="ndjson", schema=schema)
    df = read_resource(spark, res)
    # schema-ordered columns (all declared fields), extras after
    assert df.columns == ["id", "tags", "sparse", "surplus"]
    rows = {r["id"]: r for r in df.collect()}
    assert rows["07"]["tags"] == "[1, 2]"  # raw source text, not re-rendered
    assert rows["07"]["sparse"] is None
    assert rows["08"]["sparse"] == "late"
    errs = {e.code for e in check_header(df.columns, schema, "r")}
    assert errs == {"extra-header"}


def test_json_table_resource_array_of_objects(spark, tmp_path):
    import json

    from goodtables_pandas_py_spark.schema import Resource
    from goodtables_pandas_py_spark.sources import read_resource

    p = tmp_path / "table.json"
    with open(p, "w") as f:
        json.dump([{"a": 1, "b": "x"}, {"a": 2, "b": "y"}], f)
    df = read_resource(spark, Resource(name="r", path=str(p), format="json"))
    assert df.columns == ["a", "b"]
    assert [t for _, t in df.dtypes] == ["string", "string"]
    assert {tuple(r) for r in df.collect()} == {("1", "x"), ("2", "y")}


def test_json_table_resource_array_of_arrays_header(spark, tmp_path):
    import json

    from goodtables_pandas_py_spark.schema import Resource
    from goodtables_pandas_py_spark.sources import read_resource

    p = tmp_path / "aoa.json"
    with open(p, "w") as f:
        json.dump([["id", "name"], [1, "ann"], [2, "bob"]], f)
    df = read_resource(spark, Resource(name="r", path=str(p), format="json"))
    assert df.columns == ["id", "name"]
    assert {tuple(r) for r in df.collect()} == {("1", "ann"), ("2", "bob")}


# --------------------------------------------- review-finding regressions

def test_headerless_csv_validates_positionally(spark, tmp_path):
    """dialect.header=false: columns take the schema's names
    positionally — previously Spark named them _c0.._cN and every
    field died on missing-header."""
    import json

    p = tmp_path / "t.csv"
    p.write_text("1,F\n2,Z\n")
    desc = {
        "name": "p", "resources": [{
            "name": "t", "path": str(p),
            "dialect": {"header": False},
            "schema": {"fields": [
                {"name": "id", "type": "integer"},
                {"name": "status", "type": "string",
                 "constraints": {"enum": ["F", "P"]}},
            ]},
        }],
    }
    import goodtables_pandas_py_spark as gt

    rep = gt.validate(spark, desc)
    codes = {e["code"] for t in rep["tables"] for e in t["errors"]}
    assert "missing-header" not in codes
    assert codes == {"enumerable-constraint"}      # the Z row, nothing else


def test_inline_object_values_render_as_json(spark):
    """Nested dicts in inline data must reach the object parser as
    JSON (str() produced single-quoted non-JSON -> false errors)."""
    import goodtables_pandas_py_spark as gt

    desc = {
        "name": "p", "resources": [{
            "name": "t",
            "data": [{"meta": {"a": 1}, "tags": [1, 2]}],
            "schema": {"fields": [
                {"name": "meta", "type": "object"},
                {"name": "tags", "type": "array"},
            ]},
        }],
    }
    rep = gt.validate(spark, desc)
    assert rep["valid"] is True, rep


def test_schemaless_unsupported_resource_is_skipped(spark, tmp_path):
    """A schema-less attachment in an unsupported format must be
    skipped, not crash package validation."""
    import goodtables_pandas_py_spark as gt

    csv = tmp_path / "t.csv"
    csv.write_text("id\n1\n")
    desc = {
        "name": "p", "resources": [
            {"name": "notes", "path": "notes.xlsx", "format": "xlsx"},
            {"name": "t", "path": str(csv),
             "schema": {"fields": [{"name": "id", "type": "integer"}]}},
        ],
    }
    rep = gt.validate(spark, desc)
    assert rep["valid"] is True, rep


def test_bom_header_matches(spark, tmp_path):
    """Excel 'CSV UTF-8' BOM must not produce spurious header errors."""
    import goodtables_pandas_py_spark as gt

    p = tmp_path / "t.csv"
    p.write_bytes(b"\xef\xbb\xbfid,name\n1,a\n")
    desc = {
        "name": "p", "resources": [{
            "name": "t", "path": str(p),
            "schema": {"fields": [
                {"name": "id", "type": "integer"},
                {"name": "name", "type": "string"},
            ]},
        }],
    }
    rep = gt.validate(spark, desc)
    codes = {e["code"] for t in rep["tables"] for e in t["errors"]}
    assert "missing-header" not in codes and "extra-header" not in codes, rep


def test_multichar_line_terminator_rejected(spark, tmp_path):
    import pytest

    from goodtables_pandas_py_spark.schema import Dialect
    from goodtables_pandas_py_spark.sources import read_csv_stringly

    p = tmp_path / "t.csv"
    p.write_text("a|~b")
    with pytest.raises(ValueError, match="lineTerminator"):
        read_csv_stringly(
            spark, str(p), Dialect(line_terminator="|~")
        ).collect()


def test_file_url_percent_decoding(spark, tmp_path):
    from goodtables_pandas_py_spark.sources import localize_url

    p = tmp_path / "my file.csv"
    p.write_text("id\n1\n")
    url = "file://" + str(tmp_path).replace(" ", "%20") + "/my%20file.csv"
    assert localize_url(spark, url) == str(p)


def test_partition_valid_no_checks_schema_matches(spark):
    """The no-checks branch must emit the same invalid schema
    (__failed_checks included) as the checked branch."""
    from goodtables_pandas_py_spark.schema import TableSchema
    from goodtables_pandas_py_spark.validate import partition_valid

    df = spark.createDataFrame([(1, "a")], "id long, name string")
    sch_none = TableSchema.from_descriptor(
        {"fields": [{"name": "id", "type": "integer"},
                    {"name": "name", "type": "string"}]}
    )
    sch_some = TableSchema.from_descriptor(
        {"fields": [{"name": "id", "type": "integer",
                     "constraints": {"minimum": 0}},
                    {"name": "name", "type": "string"}]}
    )
    _, inv_none = partition_valid(df, sch_none, assume_typed=True)
    _, inv_some = partition_valid(df, sch_some, assume_typed=True)
    assert inv_none.columns == inv_some.columns
    assert "__failed_checks" in inv_none.columns


def test_schema_node_violations_classified_schema_error():
    from goodtables_pandas_py_spark.profile import check_descriptor

    errs = check_descriptor({"resources": [{"name": "t", "schema": {}}]})
    assert errs and all(e.code == "schema-error" for e in errs), [
        (e.code, e.message) for e in errs
    ]


def test_write_report_errors_covers_package_level_and_row_ids(spark, tmp_path):
    """Descriptor-failure reports (tables=[]) must not write an empty
    audit trail, and opted-in row addresses must persist."""
    from goodtables_pandas_py_spark.errors import write_report_errors

    report = {
        "valid": False,
        "errors": [{"code": "datapackage-error", "message": "boom",
                    "count": 1}],
        "tables": [
            {"source": "t", "errors": [
                {"code": "minimum-constraint", "field": "x",
                 "values": ["-1", None], "count": 2, "row-ids": [4, 9]},
            ]},
        ],
    }
    path = str(tmp_path / "audit")
    write_report_errors(spark, report, path)
    rows = {r["code"]: r for r in spark.read.parquet(path).collect()}
    assert rows["datapackage-error"]["resource"] is None
    assert rows["minimum-constraint"]["row_ids"] == [4, 9]
    # None placeholder samples never become the string 'None'
    assert rows["minimum-constraint"]["values"] == ["-1"]


def test_orc_resource_validates(spark, tmp_path):
    """format: orc — Spark-native columnar read; the typed columns go
    through the same stringly + parse pipeline as parquet (S3b)."""
    from goodtables_pandas_py_spark.schema import (
        Field, Resource, TableSchema,
    )
    from goodtables_pandas_py_spark.sources import read_resource, stringly
    from goodtables_pandas_py_spark.validate import validate_table

    src = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5), (2, "c", -1.0)],
        "id: long, name: string, score: double",
    )
    p = str(tmp_path / "t.orc")
    src.write.orc(p)
    res = Resource(name="r", path=p, format="orc")
    df = stringly(read_resource(spark, res))
    assert [t for _, t in df.dtypes] == ["string"] * 3
    schema = TableSchema(
        fields=[
            Field("id", type="integer", constraints={"unique": True}),
            Field("name", type="string"),
            Field("score", type="number", constraints={"minimum": 0}),
        ],
    )
    v = validate_table(df, schema, resource="r")
    codes = {e.code for e in v.errors}
    assert "unique-constraint" in codes         # duplicate id 2
    assert "minimum-constraint" in codes        # score -1.0
    assert v.row_count == 3


def test_orc_resource_through_validate_package(spark, tmp_path):
    """An ORC resource must be STRINGLIED inside validate_package like
    parquet (regression: the typed-format branch matched only
    'parquet', so ORC reached validate_table typed and broke the
    all-string contract)."""
    import json

    import goodtables_pandas_py_spark as gt

    src = spark.createDataFrame(
        [(1, "a"), (2, "b"), (2, "c")], "id: long, name: string"
    )
    p = str(tmp_path / "t.orc")
    src.write.orc(p)
    desc = {
        "resources": [{
            "name": "t",
            "path": p,
            "format": "orc",
            "schema": {
                "fields": [
                    {"name": "id", "type": "integer",
                     "constraints": {"unique": True}},
                    {"name": "name", "type": "string"},
                ],
            },
        }],
    }
    dp = tmp_path / "datapackage.json"
    dp.write_text(json.dumps(desc))
    rep = gt.validate(spark, str(dp))
    assert rep["valid"] is False
    codes = {e["code"] for t in rep["tables"] for e in t["errors"]}
    assert codes == {"unique-constraint"}
    assert rep["tables"][0]["row-count"] == 3


def test_xml_resource_validates(spark, tmp_path):
    """format: xml (S3c) — Spark 4 built-in XML datasource, read
    all-string (lexical fidelity: <id>01</id> stays "01"); nested
    elements render as JSON text so object/array fields parse them;
    attributes surface with the default underscore prefix."""
    import json

    import goodtables_pandas_py_spark as gt

    xml = tmp_path / "t.xml"
    xml.write_text(
        "<rows>"
        "<row kind=\"k1\"><id>01</id><name>a</name>"
        "<tags><tag>x</tag><tag>y</tag></tags></row>"
        "<row kind=\"k2\"><id>2</id><name>b</name></row>"
        "<row kind=\"k1\"><id>2</id><name>c</name></row>"
        "</rows>"
    )
    desc = {
        "resources": [{
            "name": "t",
            "path": str(xml),
            "format": "xml",
            "schema": {
                "fields": [
                    {"name": "id", "type": "integer",
                     "constraints": {"unique": True}},
                    {"name": "name", "type": "string"},
                    {"name": "tags", "type": "object"},
                    {"name": "_kind", "type": "string",
                     "constraints": {"enum": ["k1", "k2"]}},
                ],
            },
        }],
    }
    dp = tmp_path / "datapackage.json"
    dp.write_text(json.dumps(desc))
    rep = gt.validate(spark, str(dp))
    codes = {e["code"] for t in rep["tables"] for e in t["errors"]}
    # ids parse 1,2,2 ("01" -> 1): one duplicate pair, nothing else
    assert codes == {"unique-constraint"}
    assert rep["tables"][0]["row-count"] == 3


def test_xml_custom_row_tag_and_field_order(spark, tmp_path):
    """rowTag descriptor key reaches the reader; declared schema order
    restores canonical column order (Spark surfaces XML columns
    name-sorted, like JSON)."""
    from goodtables_pandas_py_spark.schema import Resource
    from goodtables_pandas_py_spark.sources import read_resource

    xml = tmp_path / "cat.xml"
    xml.write_text(
        "<catalog><item><zz>1</zz><aa>x</aa></item>"
        "<item><zz>2</zz><aa>y</aa></item></catalog>"
    )
    res = Resource.from_descriptor({
        "name": "c",
        "path": str(xml),
        "format": "xml",
        "rowTag": "item",
        "schema": {"fields": [{"name": "zz"}, {"name": "aa"}]},
    })
    assert res.row_tag == "item"
    df = read_resource(spark, res)
    assert df.columns == ["zz", "aa"]  # schema order, not name-sorted
    assert [t for _, t in df.dtypes] == ["string", "string"]
    assert df.count() == 2
    # descriptor round-trip keeps rowTag
    assert res.to_descriptor()["rowTag"] == "item"


def test_dataset_checks_ride_the_single_scan(spark):
    """DatasetCheck: aggregate metrics with driver verdicts — failures
    become dataset-constraint errors carrying the metric value; passes
    add nothing; all metrics ride the same Observation pass (no
    separate agg job is needed for them to resolve)."""
    from pyspark.sql import functions as F

    import goodtables_pandas_py_spark as gt
    from goodtables_pandas_py_spark.schema import Field, TableSchema

    df = spark.createDataFrame(
        [("1", "10.0"), ("2", "20.0"), ("3", "990.0")],
        "id: string, amt: string",
    )
    schema = TableSchema(
        fields=[Field("id", type="integer"), Field("amt", type="number")]
    )
    checks = [
        gt.DatasetCheck(
            name="avg_amt_sane",
            metric=lambda c: F.avg(c["amt"]),
            ok=lambda v: v is not None and v < 100,
            field="amt",
        ),
        gt.DatasetCheck(
            name="rows_at_least_3",
            metric=lambda c: F.count(F.lit(1)),
            ok=lambda v: v >= 3,
        ),
    ]
    v = gt.validate_table(df, schema, resource="t", dataset_checks=checks)
    codes = [(e.code, e.constraint) for e in v.errors]
    assert ("dataset-constraint", "avg_amt_sane") in codes
    assert ("dataset-constraint", "rows_at_least_3") not in codes
    err = next(e for e in v.errors if e.constraint == "avg_amt_sane")
    assert err.values and abs(float(err.values[0]) - 340.0) < 1e-9
    assert err.field == "amt"
    # non-persist path evaluates identically
    v2 = gt.validate_table(
        df, schema, resource="t", persist=False, dataset_checks=checks
    )
    assert ("dataset-constraint", "avg_amt_sane") in [
        (e.code, e.constraint) for e in v2.errors
    ]


def test_dataset_checks_report_not_raise(spark):
    """A metric that fails to build (bad column) and a verdict that
    raises both surface as report errors, never exceptions; an empty
    table hands the verdict None."""
    from pyspark.sql import functions as F

    import goodtables_pandas_py_spark as gt
    from goodtables_pandas_py_spark.schema import Field, TableSchema

    df = spark.createDataFrame([("1",)], "id: string")
    schema = TableSchema(fields=[Field("id", type="integer")])
    v = gt.validate_table(
        df, schema, resource="t",
        dataset_checks=[
            gt.DatasetCheck(
                name="bad_col",
                metric=lambda c: F.avg(c["nope"]),
                ok=lambda v: True,
            ),
            gt.DatasetCheck(
                name="raising_verdict",
                metric=lambda c: F.count(F.lit(1)),
                ok=lambda v: 1 / 0,
            ),
        ],
    )
    cons = {e.constraint for e in v.errors if e.code == "dataset-constraint"}
    assert cons == {"bad_col", "raising_verdict"}
    # empty table: verdict receives None (avg of nothing)
    empty = df.limit(0)
    v3 = gt.validate_table(
        empty, schema, resource="t",
        dataset_checks=[
            gt.DatasetCheck(
                name="avg_none_ok",
                metric=lambda c: F.avg(c["id"]),
                ok=lambda val: val is None,
            ),
        ],
    )
    assert not [e for e in v3.errors if e.code == "dataset-constraint"]


def test_dataset_checks_through_validate_package(spark, tmp_path):
    """dataset_checks= maps resource name -> checks, fused into that
    table's validation scan."""
    import json

    from pyspark.sql import functions as F

    import goodtables_pandas_py_spark as gt

    csv = tmp_path / "t.csv"
    csv.write_text("id,amt\n1,5\n2,6\n")
    dp = tmp_path / "datapackage.json"
    dp.write_text(json.dumps({"resources": [{
        "name": "t", "path": str(csv),
        "schema": {"fields": [
            {"name": "id", "type": "integer"},
            {"name": "amt", "type": "number"}]},
    }]}))
    rep = gt.validate(spark, str(dp), dataset_checks={
        "t": [gt.DatasetCheck(
            name="total_amt_floor",
            metric=lambda c: F.sum(c["amt"]),
            ok=lambda v: v is not None and v >= 100,
            message="sum(amt) must reach 100",
        )],
    })
    assert rep["valid"] is False
    errs = [e for t in rep["tables"] for e in t["errors"]]
    assert errs[0]["code"] == "dataset-constraint"
    assert errs[0]["message"] == "sum(amt) must reach 100"


def test_gzipped_csv_and_ndjson_resources(spark, tmp_path):
    """data.csv.gz / data.ndjson.gz: the format sniffs through the
    compression suffix (codec is a storage detail) and Spark's text
    readers decompress transparently."""
    import gzip
    import json

    import goodtables_pandas_py_spark as gt
    from goodtables_pandas_py_spark.schema import Resource

    csv_gz = tmp_path / "t.csv.gz"
    with gzip.open(csv_gz, "wt") as f:
        f.write("id,amt\n1,5\n2,-1\n")
    nd_gz = tmp_path / "e.ndjson.gz"
    with gzip.open(nd_gz, "wt") as f:
        f.write('{"id": "1"}\n{"id": "1"}\n')

    assert Resource.from_descriptor({"name": "a", "path": str(csv_gz)}).format == "csv"
    assert Resource.from_descriptor({"name": "b", "path": str(nd_gz)}).format == "ndjson"

    dp = tmp_path / "datapackage.json"
    dp.write_text(json.dumps({"resources": [
        {"name": "t", "path": str(csv_gz),
         "schema": {"fields": [
             {"name": "id", "type": "integer"},
             {"name": "amt", "type": "number",
              "constraints": {"minimum": 0}}]}},
        {"name": "e", "path": str(nd_gz),
         "schema": {"fields": [
             {"name": "id", "type": "integer",
              "constraints": {"unique": True}}]}},
    ]}))
    rep = gt.validate(spark, str(dp))
    by_src = {t["source"]: {e["code"] for e in t["errors"]} for t in rep["tables"]}
    assert by_src["t"] == {"minimum-constraint"}
    assert by_src["e"] == {"unique-constraint"}
    assert {t["row-count"] for t in rep["tables"]} == {2}


def test_descriptor_dataset_checks_end_to_end(spark, tmp_path):
    """datasetChecks in the descriptor (engine extension): JSON specs
    compile to DatasetChecks and ride the validation scan — usable
    from a plain datapackage.json (and therefore the CLI), no Python.
    Malformed specs fail at parse time as SchemaError."""
    import json

    import goodtables_pandas_py_spark as gt
    from goodtables_pandas_py_spark.schema import Resource, SchemaError

    csv = tmp_path / "t.csv"
    csv.write_text("id,amt,email\n1,50,a@x.com\n2,900,\n3,10,c@x.com\n")
    desc = {
        "resources": [{
            "name": "t",
            "path": str(csv),
            "schema": {"fields": [
                {"name": "id", "type": "integer"},
                {"name": "amt", "type": "number"},
                {"name": "email", "type": "string"}]},
            "datasetChecks": [
                {"metric": "avg", "field": "amt", "max": 100},
                {"metric": "nullFraction", "field": "email", "max": 0.5},
                {"metric": "countDistinct", "field": "id", "min": 3},
            ],
        }],
    }
    dp = tmp_path / "datapackage.json"
    dp.write_text(json.dumps(desc))
    rep = gt.validate(spark, str(dp))
    errs = [e for t_ in rep["tables"] for e in t_["errors"]]
    assert rep["valid"] is False
    assert len(errs) == 1  # only the avg bound fails (avg=320 > 100)
    assert errs[0]["code"] == "dataset-constraint"
    assert errs[0]["constraint"] == "avg(amt)"
    assert errs[0]["message"] == "avg(amt) must be <= 100"
    assert float(errs[0]["values"][0]) == 320.0
    # round-trip keeps the specs
    pkg_res = Resource.from_descriptor(desc["resources"][0])
    assert pkg_res.to_descriptor()["datasetChecks"] == desc["resources"][0]["datasetChecks"]
    # malformed specs are SchemaErrors at parse time
    import pytest as _pytest

    with _pytest.raises(SchemaError, match="unknown metric"):
        Resource.from_descriptor({
            "name": "t", "path": str(csv),
            "datasetChecks": [{"metric": "median", "field": "amt", "min": 1}],
        })
    with _pytest.raises(SchemaError, match="needs 'min'"):
        Resource.from_descriptor({
            "name": "t", "path": str(csv),
            "datasetChecks": [{"metric": "avg", "field": "amt"}],
        })


# ------------------------------------------------ typed fast path (r6)

from goodtables_pandas_py_spark.schema import Field, TableSchema  # noqa: E402
from goodtables_pandas_py_spark.sources import stringly  # noqa: E402
from goodtables_pandas_py_spark.validate import (  # noqa: E402
    _compile_table,
    validate_table,
)


def _fp_frame(spark):
    """Typed frame exercising every fast-path type plus the traps:
    NaN/Infinity doubles, a missing-token collision ("NaN" and "7"
    are declared missing), sub-second timestamps, constraint
    violations, a PK dup, and a type-mismatched column (schema says
    integer, source is double)."""
    import datetime as dt

    rows = [
        (1, 10.5, True, dt.date(2024, 1, 1),
         dt.datetime(2024, 1, 1, 12, 0, 0, 123456), "1-URGENT", 1.0),
        (2, float("nan"), False, dt.date(2024, 2, 2),
         dt.datetime(2024, 2, 2, 1, 2, 3), "9-bogus", 2.5),
        (7, -3.0, None, None,
         None, None, 3.0),
        (2, float("inf"), True, dt.date(2024, 3, 3),
         dt.datetime(2024, 3, 3), "2-HIGH", None),
        (None, 0.25, False, dt.date(2024, 4, 4),
         dt.datetime(2024, 4, 4, 5, 6, 7, 1), "3-MEDIUM", 4.0),
    ]
    return spark.createDataFrame(
        rows,
        "id long, amount double, flag boolean, day date,"
        " at timestamp_ntz, prio string, frac double",
    )


def _fp_schema():
    return TableSchema(
        fields=[
            Field("id", type="integer", constraints={"required": True}),
            Field("amount", type="number", constraints={"minimum": 0}),
            Field("flag", type="boolean"),
            Field("day", type="date"),
            Field("at", type="datetime"),
            Field("prio", type="string",
                  constraints={"pattern": "[1-5]-[A-Z]+"}),
            Field("frac", type="integer"),  # double source: MISMATCH
        ],
        primary_key=["id"],
        missing_values=["", "NaN", "7"],
    )


def _report_key(v):
    return sorted(
        (e.code, str(e.field), str(e.constraint), e.count, tuple(sorted(
            str(x) for x in (e.values or []) if x is not None)))
        for e in v.errors
    )


def test_typed_fast_path_matches_lexical_path(spark):
    """The r6 equivalence theorem: validating the TYPED frame must
    produce the identical report AND identical parsed values as
    validating its stringly rendition (the old all-string contract) —
    including the "NaN"/"7" missing-token collisions, which null the
    double NaN and the id 7 in both paths."""
    df = _fp_frame(spark)
    schema = _fp_schema()
    v_typed = validate_table(df, schema, resource="t")
    v_lex = validate_table(stringly(df), schema, resource="t")
    assert _report_key(v_typed) == _report_key(v_lex)
    assert v_typed.row_count == v_lex.row_count == 5
    def _canon(df_rows):
        import math

        rows = [
            tuple(
                "NaN" if isinstance(x, float) and math.isnan(x) else x
                for x in r
            )
            for r in map(tuple, df_rows)
        ]
        return sorted(rows, key=lambda r: tuple(map(str, r)))

    assert _canon(v_typed.parsed.collect()) == _canon(v_lex.parsed.collect())
    # schema parity too (fast-path casts must land on parser targets)
    assert v_typed.parsed.schema == v_lex.parsed.schema
    # the collisions actually happened: id 7 nulled -> required error
    # count covers it; NaN amount nulled (not a minimum violation)
    codes = {(e.code, e.field) for e in v_typed.errors}
    assert ("required-constraint", "id") in codes
    assert ("type-or-format-error", "frac") in codes  # 10.5/2.5 etc.
    assert ("pattern-constraint", "prio") in codes
    assert ("primary-key-constraint", "id") in codes


def test_typed_fast_path_skips_parse_in_plan(spark):
    """With only fast-path fields and no pattern constraints, the
    validation scan must contain NO string-parse machinery: no rlike,
    no try_to_timestamp, no date_format (renditions are lazy and
    nothing needs them)."""
    import datetime as dt

    df = spark.createDataFrame(
        [(1, 1.5, dt.datetime(2024, 1, 1))],
        "id long, x double, at timestamp_ntz",
    )
    schema = TableSchema(
        fields=[
            Field("id", type="integer"),
            Field("x", type="number", constraints={"minimum": 0}),
            Field("at", type="datetime"),
        ],
    )
    wide, checks, _ = _compile_table(df, schema, assume_typed=False)
    # select what the Observation/cache job reads (typed cols + masks)
    # so Catalyst prunes the lazy rendition columns, exactly as the
    # real validation actions do — the FULL wide projection keeps the
    # __raw__ renditions as unevaluated columns by design
    job = wide.select("id", "x", "at", *[c.mask_col for c in checks])
    plan = job._jdf.queryExecution().optimizedPlan().toString()
    for needle in ("rlike", "try_to_timestamp", "date_format"):
        assert needle not in plan, (needle, plan)


def test_typed_package_validation_end_to_end(spark):
    """validate() over parquet resources rides the typed fast path now
    — same clean verdict on the real testdata as ever."""
    import goodtables_pandas_py_spark as gt

    desc = {
        "resources": [
            {"name": "orders",
             "path": "/root/testdata/sf0.001/orders.parquet",
             "format": "parquet",
             "schema": {"fields": [
                 {"name": "o_orderkey", "type": "integer",
                  "constraints": {"required": True}},
                 {"name": "o_custkey", "type": "integer"},
                 {"name": "o_orderstatus", "type": "string",
                  "constraints": {"enum": ["O", "F", "P"]}},
                 {"name": "o_totalprice", "type": "number",
                  "constraints": {"minimum": 0}},
                 {"name": "o_orderdate", "type": "datetime"},
                 {"name": "o_orderpriority", "type": "string"},
             ], "primaryKey": ["o_orderkey"]}},
        ]
    }
    rep = gt.validate(spark, desc)
    assert rep["valid"] is True, rep


def test_partition_valid_typed_input(spark):
    """r6: quarantine over a TYPED frame — valid rows come out typed,
    dead-lettered rows carry their lexical renditions, and the split
    matches the stringly twin exactly."""
    import datetime as dt

    from goodtables_pandas_py_spark.validate import partition_valid

    df = spark.createDataFrame(
        [
            (1, 5.0, dt.date(2024, 1, 1)),
            (2, -1.0, dt.date(2024, 2, 2)),   # minimum violation
            (None, 3.0, dt.date(2024, 3, 3)),  # required violation
        ],
        "id long, x double, day date",
    )
    schema = TableSchema(
        fields=[
            Field("id", type="integer", constraints={"required": True}),
            Field("x", type="number", constraints={"minimum": 0}),
            Field("day", type="date"),
        ],
    )
    valid, invalid = partition_valid(df, schema)
    assert {r["id"] for r in valid.collect()} == {1}
    bad = {r["id"]: r for r in invalid.collect()}
    # raw lexical renditions in the dead-letter output
    assert bad["2"]["x"] == "-1.0" and bad["2"]["day"] == "2024-02-02"
    assert set(bad["2"]["__failed_checks"]) == {"x:minimum-constraint"}
    assert bad[None]["__failed_checks"] == ["id:required-constraint"]
    # stringly twin parity
    from goodtables_pandas_py_spark.sources import stringly

    v2, i2 = partition_valid(stringly(df), schema)
    assert {r["id"] for r in v2.collect()} == {1}
    assert {r["id"]: set(r["__failed_checks"]) for r in i2.collect()} == {
        k: set(v["__failed_checks"]) for k, v in bad.items()
    }


def test_compact_parquet(spark, tmp_path):
    """r6 sink hygiene: many tiny files compact to ~target-sized
    files with identical rows; the partitioned variant keeps the
    hive layout pruneable."""
    import pytest
    from pyspark.sql import functions as F

    from goodtables_pandas_py_spark.sources import compact_parquet

    src = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    frag = str(tmp_path / "frag")
    src.repartition(64).write.parquet(frag)
    out = str(tmp_path / "compact")
    stats = compact_parquet(spark, frag, out, target_file_mb=64)
    assert stats["files_before"] == 64
    assert stats["files_after"] <= 2
    a = spark.read.parquet(out)
    assert a.count() == src.count()
    h = lambda d: d.select(  # noqa: E731
        F.bit_xor(F.xxhash64(*sorted(d.columns))).alias("h")
    ).first()["h"]
    assert h(a) == h(src)
    # partitioned variant
    outp = str(tmp_path / "compact_p")
    stats_p = compact_parquet(
        spark, frag, outp, target_file_mb=64,
        partition_cols=["o_orderstatus"],
    )
    assert stats_p["files_after"] < 64
    import os

    dirs = [d for d in os.listdir(outp) if d.startswith("o_orderstatus=")]
    assert len(dirs) == src.select("o_orderstatus").distinct().count()
    pruned = (
        spark.read.parquet(outp)
        .where(F.col("o_orderstatus") == "F")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters" in pruned
    with pytest.raises(ValueError, match="target_file_mb"):
        compact_parquet(spark, frag, out, target_file_mb=0)


def test_fast_path_stands_down_on_bare_number_false(spark):
    """r7 ADVICE regression: with bareNumber=false the lexical path
    strips renditions through the numeric-token regex — a typed NaN
    double renders to "NaN", which has NO numeric token, so the
    lexical path flags a type error the unconditional fast path would
    have silently accepted. The fast path must stand down and the
    typed/stringly reports must stay identical."""
    from goodtables_pandas_py_spark.parsers import typed_fast_path
    import pyspark.sql.types as T

    f_num = Field("x", type="number", bare_number=False)
    f_int = Field("x", type="integer", bare_number=False)
    assert typed_fast_path(f_num, T.DoubleType()) is None
    assert typed_fast_path(f_int, T.LongType()) is None
    # pathological groupChar/decimalChar drawn from the rendition
    # alphabet also stand down; benign ones keep the fast path
    assert typed_fast_path(
        Field("x", type="number", group_char="."), T.DoubleType()
    ) is None
    assert typed_fast_path(
        Field("x", type="number", decimal_char="E"), T.DoubleType()
    ) is None
    assert typed_fast_path(
        Field("x", type="number", group_char=","), T.DoubleType()
    ) is not None
    assert typed_fast_path(
        Field("x", type="number"), T.DoubleType()
    ) is not None
    # end-to-end: typed frame with specials + bareNumber=false must
    # match the stringly rendition byte-for-byte (both flag the NaN)
    df = spark.createDataFrame(
        [(1, float("nan")), (2, 2.5), (3, float("inf"))],
        "id long, x double",
    )
    schema = TableSchema(
        fields=[
            Field("id", type="integer"),
            Field("x", type="number", bare_number=False),
        ],
    )
    v_typed = validate_table(df, schema, resource="t")
    v_lex = validate_table(stringly(df), schema, resource="t")
    assert _report_key(v_typed) == _report_key(v_lex)
    codes = {(e.code, e.field) for e in v_typed.errors}
    assert ("type-or-format-error", "x") in codes


def test_row_ids_parquet_no_phantom_extra_header(spark, sf_dir):
    """r10 review fix (live-reproduced): validate_package(row_ids=True)
    used to pre-attach __row_id BEFORE validate_table's header check,
    so every valid parquet resource reported the injected column as an
    extra-header. Row addresses must still reach the error samples."""
    desc = {"resources": [{
        "name": "o", "path": f"{sf_dir}/orders.parquet",
        "format": "parquet",
        "schema": {"fields": [
            {"name": "o_orderkey", "type": "integer"},
            {"name": "o_custkey", "type": "integer"},
            {"name": "o_orderstatus", "type": "string",
             "constraints": {"enum": ["F"]}},
            {"name": "o_totalprice", "type": "number"},
            {"name": "o_orderdate", "type": "datetime"},
            {"name": "o_orderpriority", "type": "string"}]}}]}
    rep = gt.validate(spark, desc, row_ids=True)
    codes = [e["code"] for t in rep["tables"] for e in t["errors"]]
    assert "extra-header" not in codes, codes
    enum_err = [e for t in rep["tables"] for e in t["errors"]
                if e["code"] == "enumerable-constraint"]
    assert enum_err and enum_err[0].get("row-ids"), enum_err


def test_gz_header_sniff_through_glob_path(spark, tmp_path):
    """r10 review fix: the sniff's glob branch read raw gzip bytes as
    the 'header' (mojibake -> false missing-header on every field);
    _read_first_line now decompresses the bounded prefix."""
    import gzip
    import json
    import os

    d = str(tmp_path)
    os.makedirs(f"{d}/parts", exist_ok=True)
    with gzip.open(f"{d}/parts/a.csv.gz", "wt") as fh:
        fh.write("x,y\n1,2\n3,4\n")
    pkg = {"resources": [{"name": "t", "path": "parts/*.csv.gz",
        "schema": {"fields": [{"name": "x", "type": "integer"},
                              {"name": "y", "type": "integer"}]}}]}
    json.dump(pkg, open(f"{d}/datapackage.json", "w"))
    rep = gt.validate(spark, f"{d}/datapackage.json")
    assert rep["valid"] is True, [
        e for t in rep["tables"] for e in t["errors"]
    ]


def test_inline_source_problems_report_not_raise(spark):
    """r10 review fix: ragged or empty inline data is descriptor
    CONTENT — it must surface as a source-error in the report, never
    as an exception out of validate_package."""
    ragged = {"resources": [{"name": "t",
        "data": [["a", "b"], [1], [2, 3]],
        "schema": {"fields": [{"name": "a", "type": "integer"},
                              {"name": "b", "type": "integer"}]}}]}
    rep = gt.validate(spark, ragged)
    codes = [e["code"] for t in rep["tables"] for e in t["errors"]]
    assert rep["valid"] is False and "source-error" in codes, codes

    empty = {"resources": [{"name": "t", "data": [],
        "schema": {"fields": [{"name": "a", "type": "integer"}]}}]}
    rep2 = gt.validate(spark, empty)
    c2 = [e["code"] for t in rep2["tables"] for e in t["errors"]]
    assert rep2["valid"] is False and "source-error" in c2, c2
    # an FK pointing AT the broken resource degrades structurally too
    fk = {"resources": [
        {"name": "child", "data": [["k"], [1]],
         "schema": {"fields": [{"name": "k", "type": "integer"}],
                    "foreignKeys": [{"fields": ["k"],
                                     "reference": {"resource": "t",
                                                   "fields": ["a"]}}]}},
        {"name": "t", "data": [],
         "schema": {"fields": [{"name": "a", "type": "integer"}]}}]}
    rep3 = gt.validate(spark, fk)
    c3 = {e["code"] for t in rep3["tables"] for e in t["errors"]}
    assert "source-error" in c3 and "foreign-key-error" in c3, c3


def test_key_field_named_like_internal_alias(spark):
    """r10 review fix: a key field literally named '__n' collided with
    the aggregate alias (AMBIGUOUS_REFERENCE mid-validation); aliases
    now derive from the key's own names."""
    from goodtables_pandas_py_spark.checks.keys import (
        check_primary_key,
        check_unique_key,
        duplicate_keys_df,
    )

    df = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c"), (None, "d")],
        "__n long, __isnull string",
    )
    pk = check_primary_key(df, ["__n"])
    assert pk.count == 2  # one extra duplicate + one null row
    uk = check_unique_key(df, ["__n"])
    assert uk.count == 1
    assert duplicate_keys_df(df, ["__n", "__isnull"]).count() == 0


def _last_job(spark) -> int:
    """Id of the newest Spark job: ids only grow and the newest stay
    retained, so differences count submitted jobs, with the UI off too."""
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    return max(ids, default=-1)


def test_count_distinct_dataset_check_next_to_key_cache(spark, tmp_path):
    """A DISTINCT dataset metric on a table with a key cache: observe
    rejects DISTINCT aggregates, so validate used to raise
    AnalysisException instead of returning a report. Both the
    descriptor spec and a user DatasetCheck with F.count_distinct."""
    import json

    import pyspark.sql.functions as F

    from goodtables_pandas_py_spark.validate import DatasetCheck

    csv = tmp_path / "t.csv"
    csv.write_text("id,amt\n1,5\n2,6\n3,5\n")
    desc = {"resources": [{
        "name": "t", "path": str(csv),
        "schema": {"fields": [{"name": "id", "type": "integer"},
                              {"name": "amt", "type": "integer"}],
                   "primaryKey": ["id"]},
        "datasetChecks": [
            {"metric": "countDistinct", "field": "id", "min": 3},
            {"metric": "countDistinct", "field": "amt", "min": 3},
            {"metric": "max", "field": "amt", "max": 100},
        ],
    }]}
    dp = tmp_path / "datapackage.json"
    dp.write_text(json.dumps(desc))
    user = DatasetCheck(
        name="distinct-amt",
        metric=lambda c: F.count_distinct(c["amt"]),
        ok=lambda v: v == 2,
    )
    rep = gt.validate(spark, str(dp), dataset_checks={"t": [user]})
    errs = rep["tables"][0]["errors"]
    assert [(e["code"], e["constraint"], e["values"]) for e in errs] == [
        ("dataset-constraint", "countDistinct(amt)", ["2"]),
    ], errs
    assert rep["tables"][0]["row-count"] == 3


def test_sample_jobs_do_not_grow_with_violated_checks(spark, tmp_path):
    """One sample query per table: the same table with 1 or with 4
    violated (non-required) checks submits the same number of jobs."""
    csv = tmp_path / "t.csv"
    csv.write_text(
        "id,n,s,c\n" + "".join(
            f"{i},{'x' if i % 4 == 0 else i},{'Z' if i % 5 == 0 else 'A'},"
            f"{'bad' if i % 3 == 0 else 'ok'}\n"
            for i in range(40)
        )
    )
    fields = [{"name": "id", "type": "integer"},
              {"name": "n", "type": "integer"},
              {"name": "s", "type": "string"},
              {"name": "c", "type": "string"}]
    one = [dict(f) for f in fields]
    four = [dict(f) for f in fields]
    one[2]["constraints"] = {"enum": ["A", "Z"]}  # holds
    four[0]["constraints"] = {"minimum": 5}
    four[2]["constraints"] = {"enum": ["A"]}
    four[3]["constraints"] = {"pattern": "ok"}
    jobs, violated = [], []
    for schema_fields in (one, four):
        desc = {"resources": [{"name": "t", "path": str(csv), "schema": {
            "fields": schema_fields, "primaryKey": ["id"]}}]}
        gt.validate(spark, desc)  # warm: plans and file listing
        last = _last_job(spark)
        rep = gt.validate(spark, desc)
        jobs.append(_last_job(spark) - last)
        violated.append(len(rep["tables"][0]["errors"]))
        assert all(e["values"] for e in rep["tables"][0]["errors"])
    assert violated == [1, 4]
    assert jobs[0] == jobs[1], jobs


def test_sample_values_are_smallest_distinct(spark):
    """A column with 50 distinct bad values reports exactly the 20
    smallest, in string order, on every run and on every path: the key
    cache, a table with no key columns (wide re-scan) and parse_table."""
    import random

    from goodtables_pandas_py_spark.errors import VALUE_SAMPLE_CAP
    from goodtables_pandas_py_spark.schema import TableSchema
    from goodtables_pandas_py_spark.validate import validate_table

    bad = [f"b{k:02d}" for k in range(50)]
    rows = [(str(i), bad[i // 2 % 50] if i % 2 else str(i)) for i in range(300)]
    random.Random(7).shuffle(rows)
    df = spark.createDataFrame(rows, "id string, q string").repartition(4)
    schema = TableSchema.from_descriptor({
        "fields": [{"name": "id", "type": "integer"},
                   {"name": "q", "type": "integer"}],
        "primaryKey": ["id"],
    })
    want = sorted(bad)[:VALUE_SAMPLE_CAP]

    def values(v):
        v.resolve_keys()
        v.unpersist()
        (err,) = v.errors
        assert err.count == 150
        return err.values

    cached = [
        values(validate_table(df, schema, "t", cache_cols=["id"]))
        for _ in range(2)
    ]
    assert cached == [want, want]
    assert values(validate_table(df, schema, "t", cache_cols=[])) == want
    assert gt.parse_table(df, schema)[1][0].values == want


def test_sample_row_ids_are_the_lowest(spark):
    """With row_ids=True the samples are the offending rows with the
    lowest row ids, in row order, drawn from the full-width cache."""
    from goodtables_pandas_py_spark.errors import VALUE_SAMPLE_CAP
    from goodtables_pandas_py_spark.schema import TableSchema
    from goodtables_pandas_py_spark.validate import validate_table

    rows = [(str(i), "x" if i % 3 else "1") for i in range(100)]
    df = spark.createDataFrame(rows, "id string, q string").coalesce(1)
    schema = TableSchema.from_descriptor({
        "fields": [{"name": "id", "type": "integer"},
                   {"name": "q", "type": "integer",
                    "constraints": {"required": True}}],
        "primaryKey": ["id"],
    })
    v = validate_table(df, schema, "t", row_ids=True)
    # the cache also holds the sample entries; parsed shows typed columns
    assert v.parsed.columns == ["id", "q"]
    assert v.parsed.count() == 100
    v.unpersist()
    (err,) = v.errors
    want = [i for i in range(100) if i % 3][:VALUE_SAMPLE_CAP]
    assert err.row_ids == want
    assert err.values == ["x"]


def test_custom_check_report_column_is_sampled(spark):
    """A CustomCheck with ``report=`` samples its report column, not
    the labelled field, through the same one sample query."""
    import pyspark.sql.functions as F

    from goodtables_pandas_py_spark.schema import TableSchema
    from goodtables_pandas_py_spark.validate import CustomCheck, validate_table

    df = spark.createDataFrame(
        [("1", "10"), ("5", "3"), ("2", "2"), ("7", "1")],
        "lo string, hi string",
    )
    schema = TableSchema.from_descriptor({
        "fields": [{"name": "lo", "type": "integer"},
                   {"name": "hi", "type": "integer"}],
    })
    cc = CustomCheck(
        name="lo-gt-hi",
        mask=lambda c: c["lo"] > c["hi"],
        field="lo",
        report=lambda c: F.concat_ws(">", c["lo"], c["hi"]),
    )
    for v in (validate_table(df, schema, "t", custom_checks=[cc]),
              validate_table(df, schema, "t", custom_checks=[cc],
                             persist=False)):
        v.unpersist()
        (err,) = v.errors
        assert err.values == ["5>3", "7>1"]


def test_pinned_csv_header_matches_inferred(spark, tmp_path):
    """read_resource pins the sniffed header as the CSV schema only
    where Spark would keep the names unchanged; columns and report
    equal the header-inferring read's, and only the pinned headers
    skip Spark's header-inference job."""
    import json

    from goodtables_pandas_py_spark.schema import Package
    from goodtables_pandas_py_spark.sources import (
        read_csv_stringly,
        read_resource,
        sniff_csv_header,
    )
    from goodtables_pandas_py_spark.validate import validate_table

    body = "1,x\n2,3\n"
    cases = {  # name: (file text, schema field names, dialect, pinned)
        "plain": ("id,v\n" + body, ["id", "v"], None, True),
        "duplicate": ("a,a\n" + body, ["a", "b"], None, False),
        "blank": ("id,\n" + body, ["id", "v"], None, False),
        "case": ("A,a\n" + body, ["A", "a"], None, False),
        "bom": ("\ufeffid,v\n" + body, ["id", "v"], None, True),
        "quoted": ('"i,d",v\n' + body, ["i,d", "v"], None, True),
        "headerless": (body, ["id", "v"], {"header": False}, True),
    }
    for name, (text, names, dialect, pinned) in cases.items():
        path = tmp_path / f"{name}.csv"
        path.write_text(text, encoding="utf-8")
        res_desc = {"name": name, "path": str(path), "schema": {"fields": [
            {"name": n, "type": "integer"} for n in names]}}
        if dialect:
            res_desc["dialect"] = dialect
        desc = {"resources": [res_desc]}
        (res,) = Package.from_descriptor(json.loads(json.dumps(desc))).resources

        # the header-inferring read: no schema unless headerless
        inferred = read_csv_stringly(
            spark, str(path), res.dialect, res.encoding,
            column_names=None if res.dialect.header else names,
        )
        header = sniff_csv_header(spark, str(path), res.dialect, res.encoding)
        want = validate_table(inferred, res.schema, name, header=header,
                              cache_cols=[])

        last = _last_job(spark)
        df = read_resource(spark, res)
        assert (_last_job(spark) - last == 0) == pinned, name
        assert df.columns == inferred.columns, name
        assert df.collect() == inferred.collect(), name
        rep = gt.validate(spark, desc)["tables"][0]
        assert rep["errors"] == [e.to_dict() for e in want.errors], name
        assert rep["row-count"] == want.row_count == 2, name


def test_undecodable_csv_header_falls_back_to_spark_columns(spark, tmp_path):
    """A header row that does not decode in the declared encoding: the
    driver-side sniff fails, Spark infers the header (with replacement
    characters) and H1 reports against those columns — validate returns
    a report instead of raising UnicodeDecodeError."""
    from goodtables_pandas_py_spark.schema import Resource
    from goodtables_pandas_py_spark.sources import read_resource

    path = tmp_path / "t.csv"
    path.write_bytes(b"id,n\xe9e\n1,2\n")
    fields = [{"name": "id", "type": "integer"},
              {"name": "née", "type": "integer"}]
    df = read_resource(spark, Resource(name="t", path=str(path)))
    assert df.columns == ["id", "n\ufffde"]
    rep = gt.validate(spark, {"resources": [
        {"name": "t", "path": str(path), "schema": {"fields": fields}}]})
    codes = [e["code"] for e in rep["tables"][0]["errors"]]
    assert codes == ["missing-header", "extra-header"], codes


def test_key_checks_report_the_same_with_or_without_executor(spark):
    """validate_table runs every key check through one path: without
    an executor it drains a pool of its own before returning; with one
    the checks stay pending until resolve_keys(). A table violating a
    unique field, its primary key and a uniqueKeys entry reports the
    same errors, in the same order, either way."""
    from concurrent.futures import ThreadPoolExecutor

    from goodtables_pandas_py_spark.schema import TableSchema
    from goodtables_pandas_py_spark.validate import validate_table

    df = spark.createDataFrame(
        [("1", "x", "1", "1"), ("1", "y", "1", "2"), ("2", "x", "2", "2"),
         ("3", "z", "2", "2"), (None, "w", "3", "3")],
        "id string, email string, a string, b string",
    )
    schema = TableSchema.from_descriptor({
        "fields": [
            {"name": "id", "type": "integer"},
            {"name": "email", "type": "string",
             "constraints": {"unique": True}},
            {"name": "a", "type": "integer"},
            {"name": "b", "type": "integer"},
        ],
        "primaryKey": ["id"],
        "uniqueKeys": [["a", "b"]],
    })
    own = validate_table(df, schema, "t")
    assert not own.pending_keys
    with ThreadPoolExecutor(max_workers=2) as pool:
        deferred = validate_table(df, schema, "t", key_executor=pool)
        assert len(deferred.pending_keys) == 3
        deferred.resolve_keys()
    own.unpersist()
    deferred.unpersist()
    assert [e.to_dict() for e in own.errors] == [
        e.to_dict() for e in deferred.errors
    ]
    assert [(e.code, e.count, e.values) for e in own.errors] == [
        ("unique-constraint", 1, [("x",)]),
        ("primary-key-constraint", 2, [(None,), (1,)]),
        ("unique-key-constraint", 1, [(2, 2)]),
    ]


def test_package_with_more_tables_than_pool_workers(spark):
    """validate_package runs tables, key checks and FK anti-joins on one
    pool of 8 workers. Ten tables, each with a primary key and a
    foreign key to t1, validate to completion, and each table's report
    equals its result validated alone: validate_table, then its FK
    checked against t1."""
    import threading

    from goodtables_pandas_py_spark.checks.keys import check_foreign_key
    from goodtables_pandas_py_spark.schema import TableSchema
    from goodtables_pandas_py_spark.validate import validate_table

    names = [f"t{k}" for k in range(1, 11)]
    schema = {
        "fields": [{"name": "id", "type": "integer"},
                   {"name": "ref", "type": "integer"}],
        "primaryKey": ["id"],
        "foreignKeys": [{"fields": ["ref"], "reference": {
            "resource": "t1", "fields": ["id"]}}],
    }
    # t{k}: ids 0..4 plus a duplicate of k % 5; refs 0..4 plus k + 3,
    # an orphan of t1 from k = 2 on
    dfs = {
        f"t{k}": spark.createDataFrame(
            [(str(i), str((i + k) % 5)) for i in range(5)]
            + [(str(k % 5), str(k + 3))],
            "id string, ref string",
        )
        for k in range(1, 11)
    }
    desc = {"name": "p", "resources": [
        {"name": n, "schema": schema} for n in names
    ]}
    # a deadlocked pool would hang: bound the wait instead
    out: dict = {}
    worker = threading.Thread(
        target=lambda: out.update(
            report=gt.validate(spark, desc, dataframes=dfs)
        ),
        daemon=True,
    )
    worker.start()
    worker.join(timeout=300)
    assert not worker.is_alive(), "validate_package did not finish"
    report = out["report"]
    assert [t["source"] for t in report["tables"]] == names

    sch = TableSchema.from_descriptor(schema)
    alone = {n: validate_table(dfs[n], sch, n) for n in names}
    try:
        for n in names:
            fk = check_foreign_key(alone[n].parsed, ["ref"],
                                   alone["t1"].parsed, ["id"])
            errors = [e.to_dict() for e in alone[n].errors]
            if not fk.ok:
                err = fk.to_error(n, ["ref"], "foreignKey")
                err.message += " (reference: t1)"
                errors.append(err.to_dict())
            (table,) = [t for t in report["tables"] if t["source"] == n]
            assert table["errors"] == errors, n
            assert table["row-count"] == alone[n].row_count == 6
            assert [e["code"] for e in errors] == (
                ["primary-key-constraint"] if n == "t1"
                else ["primary-key-constraint", "foreign-key-error"]
            )
    finally:
        for v in alone.values():
            v.unpersist()


def test_default_driver_heap_is_capped_at_half_of_memory(monkeypatch):
    """get_spark's default heap is ~1.5g per core (at least 4g) but
    never more than half of physical memory: the 32-core default (48g)
    must not overcommit a 15 GiB host. The bench's 4 cores keep 6g."""
    import os

    from goodtables_pandas_py_spark import _default_driver_mem

    def host(gib: float) -> None:
        pages = {"SC_PAGE_SIZE": 4096,
                 "SC_PHYS_PAGES": int(gib * (1 << 30)) // 4096}
        monkeypatch.setattr(os, "sysconf", lambda name: pages[name])

    host(15)
    assert _default_driver_mem(4) == "6g"
    assert _default_driver_mem(32) == "7680m"
    host(128)
    assert _default_driver_mem(32) == "48g"
    assert _default_driver_mem(1) == "4g"
    host(4)
    assert _default_driver_mem(1) == "2g"
