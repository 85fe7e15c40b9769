"""Plan-quality tests (SURVEY.md §4): the scale posture is asserted,
not assumed — column pruning reaches the parquet scan, FK parents
broadcast, validation fuses to one scan, caches stay narrow. These
guard the properties that make the engine viable at 100 TB, where a
regression would be invisible at test scale but fatal in production."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from ._topk_entries import PER_LEFT, SINGLE

SF = "/root/testdata/sf0.001"


def _final_plan(df) -> str:
    """Executed (post-AQE) physical plan text."""
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def _initial_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_column_pruning_reaches_scan(spark):
    """A 2-column aggregate over the 11-column lineitem must scan only
    what it needs — ReadSchema at the FileScan is the proof."""
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("s"))
    plan = _initial_plan(q)
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schema, plan
    line = read_schema[0]
    assert "l_returnflag" in line and "l_quantity" in line
    for unneeded in ["l_extendedprice", "l_shipdate", "l_partkey"]:
        assert unneeded not in line, f"{unneeded} not pruned: {line}"


def test_predicate_pushdown_reaches_scan(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.where(F.col("l_orderkey") == 42).select("l_linenumber")
    plan = _initial_plan(q)
    assert "PushedFilters" in plan
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l][0]
    assert "IsNotNull(l_orderkey)" in pushed or "EqualTo(l_orderkey,42)" in pushed


def test_fk_anti_join_broadcasts_small_parent(spark):
    """K3 on a dimension-sized parent must be a broadcast anti-join
    (no shuffle of the child side) — AQE or static planning."""
    from goodtables_pandas_py_spark.checks.keys import foreign_key_violations_df

    child = spark.read.parquet(f"{SF}/lineitem.parquet")
    parent = spark.read.parquet(f"{SF}/orders.parquet")
    viol = foreign_key_violations_df(
        child, ["l_orderkey"], parent, ["o_orderkey"]
    )
    plan = _final_plan(viol)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_validation_fuses_to_single_scan(spark):
    """Parsing + every constraint mask must compile into ONE projection
    over ONE FileScan (SURVEY.md §4.3.1) — a per-check-scan regression
    multiplies I/O by the number of checks at 100 TB."""
    from goodtables_pandas_py_spark.schema import TableSchema
    from goodtables_pandas_py_spark.sources import stringly
    from goodtables_pandas_py_spark.validate import _compile_table

    schema = TableSchema.from_descriptor(
        {
            "fields": [
                {"name": "o_orderkey", "type": "integer",
                 "constraints": {"required": True}},
                {"name": "o_orderstatus", "type": "string",
                 "constraints": {"enum": ["F", "P", "O"]}},
                {"name": "o_totalprice", "type": "number",
                 "constraints": {"minimum": 0}},
            ]
        }
    )
    df = stringly(
        spark.read.parquet(f"{SF}/orders.parquet").select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        )
    )
    wide, checks, _ = _compile_table(df, schema, False)
    aggs = [F.count_if(F.col(c.mask_col)).alias(f"c{i}") for i, c in enumerate(checks)]
    plan = _initial_plan(wide.agg(*aggs))
    assert plan.count("FileScan") == 1, plan
    # all checks present: type errors for 3 fields + 3 constraints
    assert len(checks) == 6


def test_package_cache_holds_only_key_columns(spark):
    """validate_package must persist the key projection, not the full
    row width (cache bytes scale with keys at 100 TB)."""
    import importlib

    V = importlib.import_module("goodtables_pandas_py_spark.validate")
    captured = {}
    orig = V.validate_table

    def spy(df, schema, resource="", **kw):
        captured[resource] = kw.get("cache_cols")
        return orig(df, schema, resource=resource, **kw)

    V.validate_table = spy
    try:
        import goodtables_pandas_py_spark as gt

        desc = {
            "name": "p",
            "resources": [
                {"name": "orders", "path": f"{SF}/orders.parquet",
                 "format": "parquet",
                 "schema": {"fields": [
                     {"name": "o_orderkey", "type": "integer"},
                     {"name": "o_custkey", "type": "integer"},
                     {"name": "o_orderstatus", "type": "string"},
                     {"name": "o_totalprice", "type": "number"},
                     {"name": "o_orderdate", "type": "datetime"},
                     {"name": "o_orderpriority", "type": "string"},
                 ], "primaryKey": ["o_orderkey"]}},
                {"name": "lineitem", "path": f"{SF}/lineitem.parquet",
                 "format": "parquet",
                 "schema": {"fields": [
                     {"name": "l_orderkey", "type": "integer"},
                     {"name": "l_partkey", "type": "integer"},
                     {"name": "l_suppkey", "type": "integer"},
                     {"name": "l_linenumber", "type": "integer"},
                     {"name": "l_quantity", "type": "number"},
                     {"name": "l_extendedprice", "type": "number"},
                     {"name": "l_discount", "type": "number"},
                     {"name": "l_tax", "type": "number"},
                     {"name": "l_returnflag", "type": "string"},
                     {"name": "l_linestatus", "type": "string"},
                     {"name": "l_shipdate", "type": "datetime"},
                 ],
                  "foreignKeys": [{"fields": ["l_orderkey"],
                                   "reference": {"resource": "orders",
                                                 "fields": ["o_orderkey"]}}]}},
            ],
        }
        report = gt.validate(spark, desc)
        assert report["valid"], report
    finally:
        V.validate_table = orig
    # orders cache: its PK + the FK-referenced field (same column)
    assert captured["orders"] == ["o_orderkey"]
    # lineitem cache: only the FK child field — not 11 columns
    assert captured["lineitem"] == ["l_orderkey"]


def test_sample_query_reads_cache_with_partial_top_k(spark, tmp_path):
    """A table with a key cache draws every violated check's values
    from the cache in one query — no FileScan re-read of the source —
    and keeps at most the cap per check in each task before the
    exchange (partial WindowGroupLimit), so what a task ships stays
    bounded at scale."""
    from goodtables_pandas_py_spark.schema import Resource, TableSchema
    from goodtables_pandas_py_spark.sources import read_resource
    from goodtables_pandas_py_spark.validate import (
        _sample_query,
        validate_table,
    )

    csv = tmp_path / "t.csv"
    csv.write_text("id,q,s\n" + "".join(
        f"{i},{'x' if i % 2 else i},{'Z' if i % 3 else 'A'}\n"
        for i in range(60)
    ))
    schema = TableSchema.from_descriptor({
        "fields": [{"name": "id", "type": "integer"},
                   {"name": "q", "type": "integer"},
                   {"name": "s", "type": "string",
                    "constraints": {"enum": ["A"]}}],
        "primaryKey": ["id"],
    })
    df = read_resource(spark, Resource(name="t", path=str(csv)))
    v = validate_table(df, schema, "t", cache_cols=["id"])
    try:
        assert len(v.errors) == 2
        assert v.parsed.columns == ["id", "q", "s"]
        plan = _initial_plan(_sample_query(v.cached, "__samples", False))
    finally:
        v.unpersist()
    # the query itself, without the cached plan InMemoryRelation prints
    query = plan.split("InMemoryRelation")[0]
    lines = query.splitlines()
    assert "InMemoryTableScan" in query and "FileScan" not in query, plan
    partial = [
        i for i, line in enumerate(lines)
        if "WindowGroupLimit" in line and "Partial" in line
    ]
    assert partial, plan
    # plan text lists parents first: an exchange above the partial limit
    assert any("Exchange" in line for line in lines[:partial[0]]), plan


@pytest.mark.parametrize("name", SINGLE + PER_LEFT)
def test_topk_uses_take_ordered_not_full_sort(topk_frames, name):
    """Every cosine top-k entry point of the library cuts its top-k
    without a global sort: one query's top-k plans as exactly one
    TakeOrderedAndProject (per-partition heap + driver merge of k·P
    rows) and no Window; a top-k per left row plans its row_number
    window with a partial WindowGroupLimit ahead of the shuffle."""
    plan = _initial_plan(topk_frames[name])
    nodes = [
        re.match(r"[\s:+\-]*(?:\*\(\d+\)\s*)?(\w*)", line).group(1)
        for line in plan.splitlines()
    ]
    if name in SINGLE:
        assert nodes.count("TakeOrderedAndProject") == 1, plan
        assert "Window" not in nodes and "Sort" not in nodes, plan
    else:
        assert any(
            n == "WindowGroupLimit" and line.rstrip().endswith("Partial")
            for n, line in zip(nodes, plan.splitlines())
        ), plan


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Two tables bucketed on the join key must join without any
    Exchange — the write-once-shuffle-never pattern for repeated FK
    checks at scale."""
    from goodtables_pandas_py_spark.sources import write_bucketed

    li = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    orders = spark.read.parquet(f"{SF}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    bl = write_bucketed(li, "b_lineitem", ["l_orderkey"], 8,
                        str(tmp_path / "bl"))
    bo = write_bucketed(orders, "b_orders", ["o_orderkey"], 8,
                        str(tmp_path / "bo"))
    # force the sort-merge path (broadcast would trivially avoid the
    # shuffle for dimension-sized test data) — the bucketing must
    # carry the co-location
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bl.join(bo, bl["l_orderkey"] == bo["o_orderkey"]).select(
            F.sum("l_quantity").alias("q")
        )
        plan = _final_plan(joined)
        assert "SortMergeJoin" in plan, plan
        # co-located: no shuffle exchange feeding the join
        assert "Exchange hashpartitioning" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
        spark.sql("DROP TABLE IF EXISTS b_orders")


def test_similarity_join_is_not_cartesian(spark):
    """The banded similarity_join candidate join must be an equi-join
    on (band, signature) like the near-dup path — never a cartesian
    or broadcast-nested-loop all-pairs plan."""
    from goodtables_pandas_py_spark.extensions import similarity

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    out = similarity.similarity_join(
        emb, emb, k=2, num_bands=4, planes_per_band=4
    )
    plan = _final_plan(out)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def _bench_query_names():
    import bench

    return sorted(bench.BENCH_QUERIES)


@pytest.mark.parametrize("name", _bench_query_names())
def test_benched_registry_has_no_quadratic_join(spark, name):
    """EVERY query on the bench path must plan without CartesianProduct
    or BroadcastNestedLoopJoin — the guard VERDICT r3 item 4 asked
    for. r2's DNF (unbounded minhash nested loop) and r3's quadratic
    exact twins would both have failed this test; an O(n²) join that
    finishes at sf0.001 is a hang at sf0.1 and a cluster-killer at
    100 TB."""
    import bench
    from goodtables_pandas_py_spark.queries import QUERIES

    key, _ = bench.BENCH_QUERIES[name]
    plan = _final_plan(QUERIES[key](spark, SF))
    assert "CartesianProduct" not in plan, f"{key}: {plan}"
    assert "BroadcastNestedLoopJoin" not in plan, f"{key}: {plan}"


def test_benched_near_dedup_has_no_quadratic_join(spark):
    """The direct-benched end-to-end near_dedup product path (r5:
    candidates + verify + anti-join) obeys the same guard as the
    registry-backed bench entries: equi-joins only."""
    from goodtables_pandas_py_spark.extensions import dedup
    from goodtables_pandas_py_spark.queries import t

    d = t(spark, SF, "documents", wide=True)
    plan = _final_plan(
        dedup.near_dedup(d, threshold=0.5, persist_banded=True)
    )
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


# r5: empty — the exact kNN family moved to the blocked-matmul
# mapInPandas path (similarity.py::knn_join method="blocked"), so no
# registry query plans a nested loop anymore; the legacy "loop" form
# survives only as a test-local oracle twin (test_extensions).
_BOUNDED_NESTED_LOOP_BASELINES: set[str] = set()


def _registry_names():
    import os
    import sys

    # this checkout's package, so a copy's suite plans its own code
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from goodtables_pandas_py_spark.queries import QUERIES

    return sorted(QUERIES)


@pytest.mark.parametrize("name", _registry_names())
def test_registry_plans_have_no_quadratic_join(spark, name):
    """EVERY registry query (not just the benched subset) must plan
    without CartesianProduct/BroadcastNestedLoopJoin, except the
    explicitly bounded exact-kNN baselines. Initial physical plans
    only — cheap, and AQE never introduces a nested loop where the
    static plan had an equi-join."""
    from goodtables_pandas_py_spark.queries import QUERIES

    if name in _BOUNDED_NESTED_LOOP_BASELINES:
        pytest.skip("documented bounded (≤50-row broadcast) exact baseline")
    plan = _initial_plan(QUERIES[name](spark, SF))
    assert "CartesianProduct" not in plan, f"{name}: {plan}"
    assert "BroadcastNestedLoopJoin" not in plan, f"{name}: {plan}"


def test_embedding_near_dups_join_is_not_cartesian(spark):
    """The banded-LSH near-dup candidate join must be an equi-join on
    (band, signature) — never a cartesian/nested-loop all-pairs plan,
    which is the difference between O(n·bucket) and O(n²) at scale."""
    from goodtables_pandas_py_spark.extensions import dedup

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    out = dedup.embedding_near_dups(
        emb, threshold=0.9, num_bands=4, planes_per_band=4
    )
    plan = _final_plan(out)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_incremental_dedup_batch_plans_are_equi_join_only(spark):
    """The per-batch incremental-dedup kernels (text + embedding) and
    the fuzzy decontamination scan, which share the LSH pairing and
    verify kernels, obey the registry guard: equi-joins only, no
    nested loop — asserted on the PUBLIC batch functions the
    foreachBatch handlers wrap."""
    from goodtables_pandas_py_spark.cacheutil import unpersist_scan_state
    from goodtables_pandas_py_spark.extensions.decontam import (
        near_contamination_scan,
    )
    from goodtables_pandas_py_spark.extensions.dedup import (
        banded_signatures,
        embedding_banded_signatures,
    )
    from goodtables_pandas_py_spark.queries import t
    from goodtables_pandas_py_spark.streaming.dedup import (
        dedup_batch_against_corpus,
        embedding_dedup_batch_against_corpus,
    )

    docs = t(spark, SF, "documents", wide=True)
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    batch = docs.where(F.col("doc_id") % 2 == 1)
    plan = _final_plan(
        dedup_batch_against_corpus(
            batch, corpus, banded_signatures(corpus), threshold=0.5
        )
    )
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan

    emb = t(spark, SF, "embeddings")
    vc = emb.where(F.col("vec_id") % 2 == 0)
    vb = emb.where(F.col("vec_id") % 2 == 1)
    eplan = _final_plan(
        embedding_dedup_batch_against_corpus(
            vb, vc, embedding_banded_signatures(vc)
        )
    )
    assert "CartesianProduct" not in eplan, eplan
    assert "BroadcastNestedLoopJoin" not in eplan, eplan

    scan = near_contamination_scan(
        corpus, docs.where(F.col("doc_id") % 7 == 0), threshold=0.5
    )
    cplan = _final_plan(scan)
    unpersist_scan_state(scan)
    assert "CartesianProduct" not in cplan, cplan
    assert "BroadcastNestedLoopJoin" not in cplan, cplan


def test_zorder_key_matches_python_reference(spark):
    """zorder_key's bucket-then-interleave agrees with a direct Python
    Morton encode on known boundaries."""
    from goodtables_pandas_py_spark.sources import zorder_key

    rows = [(i, float(x), float(y)) for i, (x, y) in enumerate(
        [(0.1, 0.9), (3.5, 1.0), (2.0, 2.0), (9.9, 0.0), (5.0, 7.5)]
    )]
    df = spark.createDataFrame(rows, "id long, x double, y double")
    bounds = {"x": [2.5, 5.0, 7.5], "y": [2.5, 5.0, 7.5]}  # 2 bits/dim

    def bucket(v, bnds):
        return sum(1 for b in bnds if v >= b)

    def morton(bx, by, bits=2):
        z = 0
        for k in range(bits):
            z |= ((bx >> k) & 1) << (k * 2 + 0)
            z |= ((by >> k) & 1) << (k * 2 + 1)
        return z

    got = {
        r["id"]: r["z"]
        for r in df.select(
            "id", zorder_key(bounds, bits=2).alias("z")
        ).collect()
    }
    for i, x, y in rows:
        assert got[i] == morton(bucket(x, bounds["x"]), bucket(y, bounds["y"])), (i, x, y)
    # nulls bucket to 0 (sort first), never null keys
    ndf = spark.createDataFrame([(1, None, 9.0)], "id long, x double, y double")
    z = ndf.select(zorder_key(bounds, bits=2).alias("z")).first()["z"]
    assert z == morton(0, 3)


def test_write_zordered_tightens_stats_on_both_columns(spark, tmp_path):
    """The point of z-ordering: after write_zordered on (x, y), every
    output file's min/max span is a small slice of the domain in BOTH
    columns at once — a random layout's per-file spans cover ~the whole
    domain. This is exactly what parquet row-group/file skipping sees."""
    import glob

    import pyarrow.parquet as pq

    from goodtables_pandas_py_spark.sources import write_zordered

    n = 8000
    df = spark.range(n).selectExpr(
        "id",
        "cast(pmod(hash(id, 1), 1000) as double) as x",
        "cast(pmod(hash(id, 2), 1000) as double) as y",
    )

    def mean_spans(path):
        sx, sy, files = 0.0, 0.0, 0
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.read_metadata(f)
            lo_x = min(md.row_group(i).column(1).statistics.min for i in range(md.num_row_groups))
            hi_x = max(md.row_group(i).column(1).statistics.max for i in range(md.num_row_groups))
            lo_y = min(md.row_group(i).column(2).statistics.min for i in range(md.num_row_groups))
            hi_y = max(md.row_group(i).column(2).statistics.max for i in range(md.num_row_groups))
            sx += hi_x - lo_x
            sy += hi_y - lo_y
            files += 1
        assert files >= 8, f"expected >=8 files, got {files}"
        return sx / files, sy / files

    plain = str(tmp_path / "plain")
    df.repartition(16).write.parquet(plain)  # round-robin: no locality
    zpath = str(tmp_path / "z")
    bounds = write_zordered(df, zpath, ["x", "y"], bits=4, num_files=16)
    assert set(bounds) == {"x", "y"} and len(bounds["x"]) == 15

    px, py = mean_spans(plain)
    zx, zy = mean_spans(zpath)
    # random layout spans ~the whole 0..999 domain per file; z-ordered
    # files must be at least 2x tighter in BOTH dimensions at once
    assert zx < px / 2, (zx, px)
    assert zy < py / 2, (zy, py)
    # nothing lost: same rows round-trip
    assert spark.read.parquet(zpath).count() == n


def test_window_hashes_plan_has_no_inlined_generator_filter(spark):
    """The two quadratic plan shapes review r5 caught must stay dead
    (BASELINE.md §round-5-session-4):

    1. the per-token hash array must survive as its OWN projection
       (CollapseProject must not inline the transform k times into
       the window lambda) — asserted by exactly one 'transform('
       building token hashes in the plan;
    2. no optimizer-inferred pre-Generate filter may re-evaluate the
       generator expression: dup-span hashing uses posexplode_outer,
       so NO Filter below the Generate mentions split()/transform() —
       the only filter is the cheap post-generate null check on the
       generated column."""
    from goodtables_pandas_py_spark.extensions import spans as xspans

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _initial_plan(xspans.window_hashes(docs, k=20))
    # outer generate prints as "Generate posexplode(col), [...], true,"
    # — the third argument is the outer flag; the null filter sits
    # ABOVE it on the generated column
    gen_line = next(l for l in plan.splitlines() if "Generate" in l)
    assert ", true, [" in gen_line, gen_line
    # the pre-Generate region: everything after the Generate line
    # (toString prints top-down, children below)
    lines = plan.splitlines()
    gen_at = next(i for i, l in enumerate(lines) if "Generate" in l)
    below = "\n".join(lines[gen_at + 1:])
    for l in below.splitlines():
        if "Filter" in l:
            assert "split(" not in l and "transform(" not in l, (
                "inferred filter re-evaluates the generator:\n" + l
            )
    # the token-hash transform appears ONCE (its own projection), not
    # k times inlined into element_at calls
    assert below.count("xxhash64(lambda") == 1, below[:3000]


def test_dsir_featurization_plan_is_linear(spark):
    """hashed_ngram_buckets must build bigrams via zip_with over
    shifted slices (operands evaluated once per row) — the
    slice-inside-transform form re-evaluated the whitespace split per
    element, O(n²) per doc (review r5). Assert the plan contains
    zip_with and that no Filter below the Generate re-evaluates the
    featurization."""
    from goodtables_pandas_py_spark.extensions import dsir as xdsir

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    feats = docs.select(
        F.explode_outer(
            xdsir.hashed_ngram_buckets(F.col("text"), 1000)
        ).alias("b")
    ).where(F.col("b").isNotNull())
    plan = _initial_plan(feats)
    assert "zip_with" in plan, plan[:2000]
    lines = plan.splitlines()
    gen_at = next(i for i, l in enumerate(lines) if "Generate" in l)
    below = "\n".join(lines[gen_at + 1:])
    for l in below.splitlines():
        if "Filter" in l:
            assert "split(" not in l, (
                "inferred filter re-evaluates the featurization:\n" + l
            )


@pytest.mark.slow
def test_wide_schema_validation_plan_shape(spark, tmp_path):
    """r8 (VERDICT r7 item 2): a 150-field descriptor (beyond
    spark.sql.codegen.maxFields=100) must STILL compile to one
    FileScan, and the fused job must complete and count injected
    errors correctly. Codegen status is asserted to match the
    measured reality (tools/validate_curve.py --wide): the typed arm
    keeps a WholeStageCodegen span, the lexical arm falls back to
    interpreted mode — a ~5% cost at 150 fields because regex/parse
    dominates, NOT a cliff (BASELINE.md §wide-schema-validate)."""
    import re

    from goodtables_pandas_py_spark.schema import TableSchema
    from goodtables_pandas_py_spark.sources import stringly
    from goodtables_pandas_py_spark.validate import (
        _compile_table,
        validate_table,
    )
    from tools.validate_curve import wide_descriptor

    fields = wide_descriptor(150)
    cols = []
    for i in range(150):
        k = i % 6
        name = f"f{i:03d}"
        if k == 0:
            cols.append((F.col("id") + 1).cast("long").alias(name))
        elif k == 1:
            cols.append((F.col("id") % 997 / 7.0).alias(name))
        elif k == 2:
            cols.append(
                F.element_at(
                    F.array(F.lit("aa"), F.lit("bb"), F.lit("cc")),
                    (F.col("id") % 3 + 1).cast("int"),
                ).alias(name)
            )
        elif k == 3:
            cols.append(
                F.concat(
                    F.lit("ab-"), (F.col("id") % 100).cast("string")
                ).alias(name)
            )
        elif k == 4:
            cols.append(
                F.date_add(
                    F.lit("2020-01-01"), (F.col("id") % 365).cast("int")
                ).alias(name)
            )
        else:
            cols.append((F.col("id") % 2 == 0).alias(name))
    path = str(tmp_path / "wide.parquet")
    spark.range(500).select(*cols).write.parquet(path)
    sch = TableSchema.from_descriptor({"fields": fields})

    for arm in ("typed", "lexical"):
        df = spark.read.parquet(path)
        if arm == "lexical":
            df = stringly(df)
        wide, checks, _ = _compile_table(df, sch, False)
        assert len(checks) == 275
        aggs = [
            F.count_if(F.col(c.mask_col)).alias(f"c{i}")
            for i, c in enumerate(checks)
        ]
        job = wide.agg(*aggs)
        plan = _initial_plan(job)
        assert plan.count("FileScan") == 1, f"{arm}: {plan.count('FileScan')} scans"
        row = job.collect()[0]
        assert sum(x or 0 for x in row) == 0  # clean table
        final = job._jdf.queryExecution().executedPlan().toString()
        spans = sorted({int(m) for m in re.findall(r"\*\((\d+)\)", final)})
        if arm == "typed":
            assert spans, "typed arm lost its WholeStageCodegen span"

    # dirty values flow through the same fused plan: break an enum and
    # a pattern field, expect exactly those two checks to fire
    dirty = (
        spark.read.parquet(path)
        .withColumn("f002", F.lit("zz"))
        .withColumn("f003", F.lit("NOPE"))
    )
    v = validate_table(stringly(dirty), sch, resource="wide")
    codes = {(e.code, e.field) for e in v.errors}
    assert ("enumerable-constraint", "f002") in codes
    assert ("pattern-constraint", "f003") in codes
    if v.cached is not None:
        v.cached.unpersist()


def test_aqe_skew_split_engages_on_hot_shuffle_join(spark):
    """r8 (VERDICT r7 item 5): when a query path DOES hit a skewed
    shuffle join — no broadcast, no distinct to pre-collapse the hot
    key — AQE's skew-join must engage and split the hot partition.
    This is the runtime backstop behind every shuffled equi-join in
    the engine (temporal binned joins, LSH candidate joins above the
    broadcast threshold). Thresholds are scaled to test size; at
    100 TB the 256 MB defaults play the identical role."""
    confs = {
        "spark.sql.adaptive.enabled": "true",  # conftest disables AQE
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1m",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "512k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # payload must be incompressible and survive column pruning:
        # AQE judges skew on COMPRESSED shuffle partition bytes, and a
        # hot partition of identical bare keys lz4-compresses below
        # any threshold
        left = spark.range(2_000_000).select(
            F.when(F.col("id") % 2 == 0, F.lit(7))
            .otherwise(F.col("id"))
            .alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("payload"),
        )
        right = spark.range(200_000).select(
            F.col("id").alias("k"), F.lit("d").alias("dim")
        )
        q = left.join(right, "k").agg(
            F.count(F.lit(1)).alias("n"), F.min("payload").alias("p")
        )
        q.collect()  # the EXECUTED plan is the one AQE re-planned
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan or "skewed" in plan.lower(), plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_fk_hot_child_key_collapses_before_join(spark):
    """r8 (VERDICT r7 item 5): a 50%-hot child FK key never reaches
    the join as skew — foreign_key_violations_df distinct()s the
    child first, and the partial (map-side) HashAggregate collapses
    the hot key per input partition before any exchange. The join
    then sees unique keys: correct counts, no skew marker, no AQE
    intervention needed."""
    from goodtables_pandas_py_spark.checks.keys import (
        foreign_key_violations_df,
    )

    child = spark.range(400_000).select(
        F.when(F.col("id") % 2 == 0, F.lit(1))
        .otherwise(F.col("id") % 50_000)
        .alias("fk")
    )
    parent = spark.range(49_000).select(F.col("id").alias("pk"))
    viol = foreign_key_violations_df(child, ["fk"], parent, ["pk"])
    # odd ids mod 50000 (even modulus) yield odd residues only: the
    # distinct child keys are {1} ∪ odds(1..49999); parent covers
    # 0..48999, so violations = odds in [49000, 49999] = 500
    assert viol.count() == 500
    plan = viol._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" in plan, plan  # the collapsing distinct
    assert "skew=true" not in plan, plan
