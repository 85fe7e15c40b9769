"""The nine cosine top-k entry points of ``extensions.similarity`` and
``extensions.vecindex`` behind one call signature, and one small data
set for them, for the tests that must hold for every entry point (the
``k`` rule, the tie rule, the plan shape)."""

from __future__ import annotations

import numpy as np

from goodtables_pandas_py_spark.extensions import similarity as xs
from goodtables_pandas_py_spark.extensions import vecindex as xv

DIM = 8
NLIST = 4
K = 5


def build(spark, index_dir):
    """(corpus, queries, index).

    corpus (vec_id, embedding): 40 seeded vectors; power-of-two copies
    of rows 0 and 5 (exact cosine ties in every float path: the
    scaling is exact); a NULL, an empty and a ragged row. Stored as
    float, so the index's float postings hold the very same values.

    queries (query_id, embedding): ids 1000+ lie outside the corpus
    ids, so knn_join's self-exclusion never applies. 1000 points near
    row 0 (its top-4 is the tied run 0, 40, 41, 42) and 1001 along
    row 5 (tie 5, 43); 1003 is NULL and 1004 ragged.

    index: the corpus as an ``NLIST``-list IVF index (given
    centroids, so building it trains nothing)."""
    rng = np.random.RandomState(16)
    base = rng.standard_normal((40, DIM)).astype(np.float32)
    copies = [(40, 0, 2.0), (41, 0, 0.5), (42, 0, 4.0), (43, 5, 2.0)]
    vecs = list(enumerate(base)) + [(i, s * base[j]) for i, j, s in copies]
    rows = [(i, [float(x) for x in v]) for i, v in vecs]
    rows += [(50, None), (51, []), (52, [1.0, 2.0, 3.0])]
    # two partitions: ties and pads meet across partitions, and the
    # tiny frame does not pay for the default parallelism's tasks
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).coalesce(2)
    near0 = base[0] + 0.05 * rng.standard_normal(DIM)
    qrows = [
        (1000, [float(x) for x in near0]),
        (1001, [3.0 * float(x) for x in base[5]]),
        (1003, None),
        (1004, [1.0, 0.0]),
    ]
    queries = spark.createDataFrame(
        qrows, "query_id long, embedding array<float>"
    )
    cents = [[float(x) for x in v] for v in base[:NLIST]]
    xv.write_ivf_index(corpus, index_dir, centroids=cents)
    return corpus, queries, xv.read_ivf_index(spark, index_dir)


# one literal query each: the plan is one TakeOrderedAndProject
SINGLE = ["cosine_topk", "ann_topk", "ivf_topk", "ivf_index_topk"]
# a top-k per left row: the plan has a partial WindowGroupLimit
PER_LEFT = [
    "knn_join",
    "knn_join_loop",
    "similarity_join",
    "ivf_index_topk_batch",
    "ivf_index_topk_batch_distributed",
]


def call(name, corpus, queries, index, query, k):
    """Run entry ``name``: ``corpus`` is (vec_id, embedding),
    ``queries`` is (query_id, embedding), ``index`` a persisted
    :class:`~goodtables_pandas_py_spark.extensions.vecindex.IvfIndex`
    over the corpus, ``query`` one literal vector."""
    nlist = len(index.centroids)
    left = queries.withColumnRenamed("query_id", "vec_id")
    return {
        "cosine_topk": lambda: xs.cosine_topk(corpus, query, k=k),
        "ann_topk": lambda: xs.ann_topk(corpus, query, k=k),
        "ivf_topk": lambda: xs.ivf_topk(
            corpus, query, k=k, nprobe=nlist, centroids=index.centroids
        ),
        "ivf_index_topk": lambda: xv.ivf_index_topk(
            index, query, k=k, nprobe=nlist
        ),
        "knn_join": lambda: xs.knn_join(left, corpus, k=k),
        "knn_join_loop": lambda: xs.knn_join(
            left, corpus, k=k, method="loop"
        ),
        "similarity_join": lambda: xs.similarity_join(left, corpus, k=k),
        "ivf_index_topk_batch": lambda: xv.ivf_index_topk_batch(
            index, queries, k=k, nprobe=nlist
        ),
        "ivf_index_topk_batch_distributed": (
            lambda: xv.ivf_index_topk_batch_distributed(
                index, queries, k=k, nprobe=nlist
            )
        ),
    }[name]()
