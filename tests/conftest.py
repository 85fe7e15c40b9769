from __future__ import annotations

import os

import pytest

# 16 measured fastest for the suite on this class of host (test_splits
# A/B: 4→143s, 8→135s, 16→126-127s ×2, 32→176s — tiny sf0.001 data is
# per-stage-overhead-bound, and 32 partitions per stage tips the
# scheduling cost past the parallelism gain)
os.environ.setdefault("SPARK_GRAFT_CPUS", "16")

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    import goodtables_pandas_py_spark as gt

    spark = gt.get_spark(app_name="gt-tests", quiet_logs=True)
    # AQE off for the TEST session only (runtime conf; the product
    # session get_spark builds keeps it on): at sf0.001 every shuffle
    # is a few KB and AQE's per-stage materialize+re-optimize loop
    # DOUBLES tiny-action latency (measured: 30 small groupBys 7.3 s
    # with AQE vs 3.6 s without; 30 joins 7.0 vs 4.7) — across the
    # ~800-test suite that was minutes of pure driver-side planning.
    # Values are unaffected; the one test that asserts AQE behavior
    # (test_aqe_skew_split_engages_on_hot_shuffle_join) re-enables it
    # locally, conf-restored in its finally.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    # with AQE off nothing coalesces post-shuffle reads, and sf0.001
    # shuffles are a few KB: 5 reduce partitions measured 2.1× faster
    # than 16 on a 30-groupBy micro-probe (2.65 vs 5.63 s); cores stay
    # 16 for scan/job-overlap parallelism. Runtime conf — tests that
    # need a specific width set their own (ensure_parallelism takes an
    # explicit target; the AQE skew test sets its own conf block).
    spark.conf.set("spark.sql.shuffle.partitions", "5")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


def load(spark, sf_dir: str, name: str):
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


@pytest.fixture(scope="session")
def topk_data(spark, tmp_path_factory):
    """(corpus, queries, index) of ``tests/_topk_entries.py``, built once
    for the top-k behaviour and plan tests."""
    from ._topk_entries import build

    return build(spark, str(tmp_path_factory.mktemp("topk") / "idx"))


@pytest.fixture(scope="session")
def topk_frames(topk_data):
    """{entry point: its top-K frame} over ``topk_data``, the literal
    query being query 1000's vector; built once (knn_join and
    ivf_index_topk_batch collect their queries while building)."""
    from ._topk_entries import K, PER_LEFT, SINGLE, call

    _, queries, _ = topk_data
    q = [float(x) for x in queries.where("query_id = 1000").first()[1]]
    return {name: call(name, *topk_data, q, K) for name in SINGLE + PER_LEFT}
