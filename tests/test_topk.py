"""One top-k search path (extensions.similarity / extensions.vecindex):
every cosine top-k entry point applies the same ``k`` rule and the same
tie rule (cosine desc, NULL last, id asc), so at full probe coverage
the exact entry points agree row for row."""

from __future__ import annotations

import pytest

from goodtables_pandas_py_spark.extensions import similarity as xs
from goodtables_pandas_py_spark.extensions import vecindex as xv

from ._topk_entries import DIM, K, NLIST, PER_LEFT, SINGLE, call


@pytest.fixture(scope="module")
def exact(topk_data):
    """cosine_topk's answer per valid query: {qid: (query, [(id, cosine)])}."""
    corpus, queries, _ = topk_data
    out = {}
    for r in queries.collect():
        if r["embedding"] is not None and len(r["embedding"]) == DIM:
            q = [float(x) for x in r["embedding"]]
            top = xs.cosine_topk(corpus, q, k=K).collect()
            out[r["query_id"]] = (q, [tuple(t) for t in top])
    return out


@pytest.mark.parametrize("k", [0, -1])
@pytest.mark.parametrize("name", SINGLE + PER_LEFT)
def test_k_below_one_raises_before_any_job(spark, topk_data, name, k):
    """Every entry point raises ValueError for k < 1 before it runs a
    job — the driver collects of knn_join and ivf_index_topk_batch
    included."""
    sc = spark.sparkContext
    group = f"k-rule-{name}-{k}"
    sc.setJobGroup(group, "k rule")
    try:
        with pytest.raises(ValueError, match="k must be >= 1"):
            call(name, *topk_data, [0.1] * DIM, k)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_single_query_entries_agree_exactly(topk_data, topk_frames, exact):
    """At nprobe = nlist, cosine_topk, ivf_topk and ivf_index_topk
    score the same rows with the same literal-query cosine and cut
    them with the same tie rule: identical (id, cosine) lists, exact
    ties in id order. ann_topk scores exactly the rows it finds and
    finds most of the answer (seeded, so the figure is fixed; the
    bound leaves a margin)."""
    _, _, index = topk_data
    for qid, (q, want) in exact.items():
        for got in (
            # over the index's own pre-assigned postings
            xs.ivf_topk(
                index.postings, q, k=K, id_col="id", vec_col="vec",
                nprobe=NLIST, centroids=index.centroids,
            ),
            xv.ivf_index_topk(index, q, k=K, nprobe=NLIST),
        ):
            assert [tuple(r) for r in got.collect()] == want, qid
    assert [r[0] for r in exact[1000][1][:4]] == [0, 40, 41, 42]
    assert len({r[1] for r in exact[1000][1][:4]}) == 1
    assert [r[0] for r in exact[1001][1][:2]] == [5, 43]
    ann = [tuple(r) for r in topk_frames["ann_topk"].collect()]
    assert len(set(ann) & set(exact[1000][1])) >= 3, ann


def _tie_rule(score_id):
    c, rid = score_id
    return (c is None, -(c or 0.0), rid)


def _per_left(df, left, right):
    out = {}
    for r in df.collect():
        c = None if r["cosine"] is None else round(r["cosine"], 9)
        out.setdefault(r[left], []).append((c, r[right]))
    return {
        q: [(rid, c) for c, rid in sorted(v, key=_tie_rule)]
        for q, v in out.items()
    }


@pytest.fixture
def arrow_batch(spark):
    """Set the Arrow batch size (rows) of the session for one test."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    yield lambda n: spark.conf.set(key, str(n))
    spark.conf.set(key, old)


def test_per_left_entries_agree_exactly(
    topk_data, topk_frames, exact, arrow_batch
):
    """Per left row, knn_join blocked, its loop twin, and both batch
    serves at nprobe = nlist return the same ids and cosines (to 1e-9:
    numpy and Spark sum in different orders), and so does cosine_topk
    per query. NULL and ragged query rows: knn_join scores them NULL
    against every row (the k smallest ids), both batch serves drop
    them. similarity_join finds most of the exact answer. knn_join
    answers the same when a partition spans several Arrow batches:
    the scan merges their top-k, ties across batches included (the
    tied run 0, 40, 41, 42 lands in different batches of three
    rows)."""
    def run(name, left="left_id", right="right_id"):
        return _per_left(topk_frames[name], left, right)

    blocked = run("knn_join")
    assert blocked == run("knn_join_loop")
    for bad in (1003, 1004):
        assert blocked[bad] == [(i, None) for i in range(K)]
    for qid, (_, want) in exact.items():
        assert blocked[qid] == [(i, round(c, 9)) for i, c in want], qid
    for name in ("ivf_index_topk_batch", "ivf_index_topk_batch_distributed"):
        got = run(name, "query_id", "id")
        assert got == {q: blocked[q] for q in exact}, name
    approx = run("similarity_join")
    found = sum(len(set(approx.get(q, [])) & set(blocked[q])) for q in exact)
    assert found >= 6, found
    corpus, queries, _ = topk_data
    arrow_batch(3)
    left = queries.withColumnRenamed("query_id", "vec_id")
    got = xs.knn_join(left, corpus, k=K)
    assert _per_left(got, "left_id", "right_id") == blocked


def test_nan_score_ranks_as_null_and_keeps_the_block(
    spark, tmp_path, arrow_batch
):
    """A vector with a NaN or inf element scores NaN, and a NaN score
    reads and ranks as NULL: after every cosine, by id. The numpy
    block scorer keeps a block with fewer than k other candidates
    whole (a NaN k-th score once emptied it). One partition and one
    IVF list; two-row Arrow batches give knn_join blocks of fewer
    than k candidates. The Spark-scored entries share _topk's NaN
    rule; cosine_topk stands for them."""
    nan, inf = float("nan"), float("inf")
    corpus = spark.createDataFrame(
        [
            (0, [nan, 1.0, 0.0]),
            (1, [1.0, 0.0, 0.0]),
            (2, [3.0, 4.0, 0.0]),
            (3, [inf, 0.0, 1.0]),
            (4, [0.0, 1.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    ).coalesce(1)
    queries = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0])], "query_id long, embedding array<double>"
    )
    idx = str(tmp_path / "idx")
    xv.write_ivf_index(corpus, idx, centroids=[[1.0, 0.0, 0.0]])
    index = xv.read_ivf_index(spark, idx)
    want = [(1, 1.0), (2, 0.6), (4, 0.0), (0, None)]
    arrow_batch(2)
    entries = ("cosine_topk", "knn_join", "ivf_index_topk_batch_distributed")
    for name in entries:
        got = call(name, corpus, queries, index, [1.0, 0.0, 0.0], 4)
        rows = [tuple(r)[-2:] for r in got.collect()]
        assert sorted(rows, key=lambda r: _tie_rule(r[::-1])) == want, name
