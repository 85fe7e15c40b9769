"""Persisted IVF index export/serving (extensions/vecindex.py, r6)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from goodtables_pandas_py_spark.extensions.similarity import cosine_topk
from goodtables_pandas_py_spark.extensions.vecindex import (
    FORMAT_VERSION,
    ivf_index_topk,
    read_ivf_index,
    write_ivf_index,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


@pytest.fixture(scope="module")
def index_dir(spark, emb, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("ivf") / "idx")
    manifest = write_ivf_index(emb, d, nlist=16, refine=1)
    return d, manifest


def _query_vec(emb, vec_id=7):
    return [
        float(x)
        for x in emb.where(F.col("vec_id") == vec_id).first()["embedding"]
    ]


def test_manifest_and_layout(spark, emb, index_dir):
    d, manifest = index_dir
    n = emb.count()
    assert manifest["n_vectors"] == n
    assert manifest["nlist"] == 16
    assert manifest["metric"] == "cosine"
    assert not manifest["quantized"]
    assert sum(manifest["list_sizes"].values()) == n
    assert manifest["dim"] == len(_query_vec(emb))
    # hive layout on disk: one directory per non-empty list
    parts = [
        p
        for p in os.listdir(os.path.join(d, "postings.parquet"))
        if p.startswith("ivf_cid=")
    ]
    assert len(parts) == len(manifest["list_sizes"])
    with open(os.path.join(d, "manifest.json")) as fh:
        assert json.load(fh) == manifest


def test_full_probe_equals_exact_search(spark, emb, index_dir):
    """nprobe >= nlist degrades to EXACT search — the falsifiable
    parity anchor: result must equal cosine_topk on the source table
    row for row."""
    d, manifest = index_dir
    idx = read_ivf_index(spark, d)
    q = _query_vec(emb)
    got = [
        (r["id"], round(r["cosine"], 9))
        for r in ivf_index_topk(idx, q, k=10, nprobe=16).collect()
    ]
    exact = [
        (r["vec_id"], round(r["cosine"], 9))
        for r in cosine_topk(emb, q, k=10).collect()
    ]
    assert got == exact


def test_probed_search_finds_self_and_matches_restricted_exact(
    spark, emb, index_dir
):
    """The falsifiable probed-search invariant: top-k over nprobe
    lists must equal EXACT search restricted to those lists' members
    (recall itself is a data property — these embeddings are near
    uniform, so a fixed recall bound would test the data, not the
    code)."""
    from goodtables_pandas_py_spark.extensions.vecindex import _probe_cids

    d, _ = index_dir
    idx = read_ivf_index(spark, d)
    q = _query_vec(emb, vec_id=11)
    got = ivf_index_topk(idx, q, k=10, nprobe=4).collect()
    # the query IS a stored vector: its own list is probed first, so
    # rank-1 must be itself at cosine ~1
    assert got[0]["id"] == 11 and got[0]["cosine"] == pytest.approx(1.0)
    probes = _probe_cids(q, idx.centroids, 4)
    members = {
        r["id"]
        for r in idx.postings.where(F.col("ivf_cid").isin(probes))
        .select("id")
        .collect()
    }
    expected = [
        (r["vec_id"], round(r["cosine"], 9))
        for r in cosine_topk(
            emb.where(F.col("vec_id").isin(list(members))), q, k=10
        ).collect()
    ]
    assert [(r["id"], round(r["cosine"], 9)) for r in got] == expected


def test_serving_scan_is_partition_pruned(spark, emb, index_dir):
    d, _ = index_dir
    idx = read_ivf_index(spark, d)
    q = _query_vec(emb)
    plan = ivf_index_topk(idx, q, k=5, nprobe=2)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan, plan
    assert "ivf_cid" in plan.split("PartitionFilters", 1)[1][:200], plan


def test_quantized_index_roundtrip(spark, emb, tmp_path):
    d = str(tmp_path / "qidx")
    manifest = write_ivf_index(emb, d, nlist=8, quantize=True)
    assert manifest["quantized"]
    idx = read_ivf_index(spark, d)
    assert "qvec" in idx.postings.columns and "vec" not in idx.postings.columns
    q = _query_vec(emb)
    got = ivf_index_topk(idx, q, k=10, nprobe=8).collect()
    exact = {r["vec_id"]: r["cosine"] for r in cosine_topk(emb, q, k=10).collect()}
    # int8 storage: top-k cosines within 1% of the float originals
    hits = [r for r in got if r["id"] in exact]
    assert len(hits) >= 8
    for r in hits:
        assert r["cosine"] == pytest.approx(exact[r["id"]], abs=0.01)


def test_reexport_with_prior_centroids_skips_training(spark, emb, tmp_path):
    d1 = str(tmp_path / "a")
    write_ivf_index(emb, d1, nlist=8)
    idx1 = read_ivf_index(spark, d1)
    d2 = str(tmp_path / "b")
    m2 = write_ivf_index(emb, d2, nlist=8, centroids=idx1.centroids)
    idx2 = read_ivf_index(spark, d2)
    assert idx2.centroids == idx1.centroids
    assert m2["list_sizes"] == idx1.manifest["list_sizes"]


def test_version_gate(spark, emb, tmp_path):
    d = str(tmp_path / "v")
    write_ivf_index(emb, d, nlist=4)
    mpath = os.path.join(d, "manifest.json")
    with open(mpath) as fh:
        m = json.load(fh)
    m["format_version"] = FORMAT_VERSION + 1
    with open(mpath, "w") as fh:
        json.dump(m, fh)
    with pytest.raises(ValueError, match="format_version"):
        read_ivf_index(spark, d)


def test_faiss_handoff_gate_or_parity(spark, emb, index_dir):
    from goodtables_pandas_py_spark.extensions.vecindex import faiss_handoff

    d, _ = index_dir
    try:
        import faiss  # noqa: F401
    except ImportError:
        with pytest.raises(ImportError, match="faiss-cpu"):
            faiss_handoff(d)
        return
    import numpy as np

    index = faiss_handoff(d)
    q = np.asarray([_query_vec(emb)], dtype="float32")
    q /= np.linalg.norm(q)
    index.nprobe = 16
    _scores, ids = index.search(q, 10)
    exact = [r["vec_id"] for r in cosine_topk(emb, _query_vec(emb), k=10).collect()]
    assert list(ids[0]) == exact


# ------------------------------------------------------- incremental append


def test_append_with_stored_centroids(spark, emb, tmp_path):
    from goodtables_pandas_py_spark.extensions.vecindex import (
        append_to_ivf_index,
    )

    d = str(tmp_path / "appidx")
    base = emb.where(F.col("vec_id") < 100)
    write_ivf_index(base, d, nlist=8)
    idx0 = read_ivf_index(spark, d)
    extra = emb.where((F.col("vec_id") >= 100) & (F.col("vec_id") < 150))
    m = append_to_ivf_index(extra, d)
    assert m["n_vectors"] == base.count() + extra.count()
    idx1 = read_ivf_index(spark, d)
    # centroids unchanged (no retraining on append)
    assert idx1.centroids == idx0.centroids
    # an appended vector is servable and finds itself at rank 1
    q = _query_vec(emb, vec_id=120)
    got = ivf_index_topk(idx1, q, k=3, nprobe=8).collect()
    assert got[0]["id"] == 120 and got[0]["cosine"] == pytest.approx(1.0)
    # parity anchor still holds over the merged set
    merged = emb.where(F.col("vec_id") < 150)
    exact = [
        (r["vec_id"], round(r["cosine"], 9))
        for r in cosine_topk(merged, q, k=5).collect()
    ]
    full = [
        (r["id"], round(r["cosine"], 9))
        for r in ivf_index_topk(idx1, q, k=5, nprobe=8).collect()
    ]
    assert full == exact


def test_append_dedupe_ids_is_idempotent(spark, emb, tmp_path):
    from goodtables_pandas_py_spark.extensions.vecindex import (
        append_to_ivf_index,
    )

    d = str(tmp_path / "dedup_idx")
    base = emb.where(F.col("vec_id") < 100)
    write_ivf_index(base, d, nlist=4)
    replay = emb.where(F.col("vec_id") < 120)  # 100 dups + 20 new
    m1 = append_to_ivf_index(replay, d, dedupe_ids=True)
    assert m1["n_vectors"] == 120
    m2 = append_to_ivf_index(replay, d, dedupe_ids=True)  # full replay
    assert m2["n_vectors"] == 120  # unchanged — idempotent


def test_streaming_ingest_into_index(spark, emb, tmp_path):
    from goodtables_pandas_py_spark.extensions.vecindex import (
        ivf_append_foreach_batch,
    )

    d = str(tmp_path / "sidx")
    base = emb.where(F.col("vec_id") < 100)
    write_ivf_index(base, d, nlist=4)
    staged = str(tmp_path / "staged")
    incoming = emb.where((F.col("vec_id") >= 100) & (F.col("vec_id") < 140))
    incoming.write.parquet(staged)
    stream = spark.readStream.schema(incoming.schema).parquet(staged)
    q = (
        stream.writeStream.foreachBatch(ivf_append_foreach_batch(d))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    idx = read_ivf_index(spark, d)
    assert idx.manifest["n_vectors"] == 140
    qv = _query_vec(emb, vec_id=133)
    got = ivf_index_topk(idx, qv, k=1, nprobe=4).collect()
    assert got[0]["id"] == 133


def test_write_refuses_empty_input(spark, emb, tmp_path):
    with pytest.raises(Exception, match="no centroids|no vectors"):
        write_ivf_index(
            emb.where(F.col("vec_id") < 0), str(tmp_path / "e"), nlist=4
        )


def test_write_and_append_survive_unindexable_vectors(spark, emb, tmp_path):
    """r7 ADVICE regression: null/empty/ragged vectors must never
    reach the postings (no hive default partition, no int(None) in
    the list-sizes agg) — the write completes, the manifest counts
    the drops, and the index stays readable/servable."""
    d = str(tmp_path / "dirty")
    dim = len(emb.first()["embedding"])
    dirty = spark.createDataFrame(
        [
            (100_000, None),
            (100_001, []),
            (100_002, [1.0] * (dim + 3)),
        ],
        "vec_id long, embedding array<double>",
    )
    base = emb.select("vec_id", "embedding").limit(50)
    manifest = write_ivf_index(
        base.unionByName(dirty), d, nlist=4, train_cap=None
    )
    assert manifest["n_vectors"] == 50
    assert manifest["n_unindexable"] == 3
    assert sum(manifest["list_sizes"].values()) == 50
    idx = read_ivf_index(spark, d)
    qv = _query_vec(emb, vec_id=7)
    got = ivf_index_topk(idx, qv, k=1, nprobe=4).collect()
    assert got[0]["id"] == 7
    # append path: same hygiene, cumulative counter
    from goodtables_pandas_py_spark.extensions.vecindex import (
        append_to_ivf_index,
    )

    m2 = append_to_ivf_index(
        emb.select("vec_id", "embedding")
        .where(F.col("vec_id").between(60, 69))
        .unionByName(dirty.withColumn("vec_id", F.col("vec_id") + 10)),
        d,
    )
    assert m2["n_vectors"] == 60
    assert m2["n_unindexable"] == 6
    assert sum(m2["list_sizes"].values()) == 60


# ------------------------------------------- batch serving (r8)


def test_batch_topk_matches_per_query_serving(spark, emb, index_dir):
    """ivf_index_topk_batch == N calls to ivf_index_topk at the same
    nprobe: same ids, same cosines, every query."""
    from goodtables_pandas_py_spark.extensions.vecindex import (
        ivf_index_topk,
        ivf_index_topk_batch,
        read_ivf_index,
    )

    d, _ = index_dir
    idx = read_ivf_index(spark, d)
    qids = [3, 7, 11, 19, 42]
    queries = emb.where(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    batch = ivf_index_topk_batch(idx, queries, k=5, nprobe=4)
    got = {}
    for r in batch.collect():
        got.setdefault(r["query_id"], []).append(
            (r["id"], round(r["cosine"], 9))
        )
    for qid in qids:
        qv = _query_vec(emb, qid)
        want = [
            (r["id"], round(r["cosine"], 9))
            for r in ivf_index_topk(idx, qv, k=5, nprobe=4).collect()
        ]
        assert got[qid] == want, f"query {qid} diverged"


def test_batch_topk_plan_prunes_and_broadcasts(spark, emb, index_dir):
    from goodtables_pandas_py_spark.extensions.vecindex import (
        ivf_index_topk_batch,
        read_ivf_index,
    )

    d, _ = index_dir
    idx = read_ivf_index(spark, d)
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ivf_index_topk_batch(idx, queries, k=3, nprobe=2)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    scans = [l for l in plan.splitlines() if "FileScan" in l]
    assert scans and all(
        "PartitionFilters: [ivf_cid" in l for l in scans
    ), plan
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan and "Cartesian" not in plan


def test_batch_topk_guards(spark, emb, index_dir):
    from goodtables_pandas_py_spark.extensions.vecindex import (
        ivf_index_topk_batch,
        read_ivf_index,
    )

    d, _ = index_dir
    idx = read_ivf_index(spark, d)
    queries = emb.limit(5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    with pytest.raises(ValueError, match="max_queries"):
        ivf_index_topk_batch(idx, queries, max_queries=3)
    with pytest.raises(ValueError, match="empty"):
        ivf_index_topk_batch(idx, queries.limit(0))


def test_distributed_batch_topk_matches_collect_path(
    spark, emb, index_dir
):
    """ivf_index_topk_batch_distributed (r9) == ivf_index_topk_batch
    row-for-row at the same (k, nprobe): the no-driver-collect path
    must be a pure relocation of probe selection, not a semantic
    variant. Also covers NULL/ragged vectors (rank nothing, like the
    collect path) and the empty query frame (empty result, no error
    — there is no collect to guard)."""
    from goodtables_pandas_py_spark.extensions.vecindex import (
        ivf_index_topk_batch,
        ivf_index_topk_batch_distributed,
        read_ivf_index,
    )

    d, _ = index_dir
    idx = read_ivf_index(spark, d)
    queries = emb.select(F.col("vec_id").alias("query_id"), "embedding")
    a = ivf_index_topk_batch(
        idx, queries, k=5, nprobe=4, max_queries=100_000
    )
    b = ivf_index_topk_batch_distributed(idx, queries, k=5, nprobe=4)

    def snap(df):
        return sorted(
            (r["query_id"], r["id"], round(r["cosine"], 9))
            for r in df.collect()
        )

    assert snap(a) == snap(b)

    dirty = queries.withColumn(
        "embedding",
        F.when(F.col("query_id") % 5 == 0, F.lit(None)).when(
            F.col("query_id") % 5 == 1, F.slice("embedding", 1, 3)
        ).otherwise(F.col("embedding")),
    )
    # NULL and ragged (3 of 64 wide) queries rank nothing on BOTH paths
    got = snap(ivf_index_topk_batch_distributed(idx, dirty, k=3, nprobe=2))
    assert got == snap(
        ivf_index_topk_batch(idx, dirty, k=3, nprobe=2, max_queries=100_000)
    )
    qids = {r[0] for r in got}
    assert all(q % 5 not in (0, 1) for q in qids)
    assert qids, "valid queries must still rank"

    empty = ivf_index_topk_batch_distributed(
        idx, queries.limit(0), k=3
    )
    assert empty.count() == 0


def test_wrong_width_query_raises(spark, emb, index_dir):
    """A query whose width is not the index's is refused by the one
    IVF probe, on the persisted index as on ivf_topk — not truncated
    into k rows of NULL cosines."""
    from goodtables_pandas_py_spark.extensions.similarity import ivf_topk

    d, _ = index_dir
    idx = read_ivf_index(spark, d)
    q = _query_vec(emb)[:3]
    with pytest.raises(ValueError, match="3 dims but the centroids have 64"):
        ivf_index_topk(idx, q, k=3)
    with pytest.raises(ValueError, match="3 dims but the centroids have 64"):
        ivf_topk(emb, q, k=3, centroids=idx.centroids)


def test_distributed_batch_topk_plan_has_no_collect_or_nested_loop(
    spark, emb, index_dir
):
    """The distributed path's plan: probe selection is a mapInPandas
    (ArrowEvalPython/MapInPandas) feeding an equi-join on ivf_cid —
    never a LocalTableScan of driver-collected probes (the collect
    path's signature), never a nested loop."""
    from goodtables_pandas_py_spark.extensions.vecindex import (
        ivf_index_topk_batch_distributed,
        read_ivf_index,
    )

    d, _ = index_dir
    idx = read_ivf_index(spark, d)
    queries = emb.select(F.col("vec_id").alias("query_id"), "embedding")
    out = ivf_index_topk_batch_distributed(idx, queries, k=3, nprobe=2)
    out.count()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan, plan
    assert "LocalTableScan" not in plan, plan
    assert "Cartesian" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_distributed_batch_topk_quantized_parity(spark, emb, tmp_path):
    """The distributed path must dequantize postings exactly like the
    collect path — parity on an int8-quantized index."""
    from goodtables_pandas_py_spark.extensions.vecindex import (
        ivf_index_topk_batch,
        ivf_index_topk_batch_distributed,
        read_ivf_index,
        write_ivf_index,
    )

    d = str(tmp_path / "qidx")
    write_ivf_index(emb, d, nlist=8, quantize=True)
    idx = read_ivf_index(spark, d)
    queries = emb.where(F.col("vec_id") < 30).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    a = sorted(
        (r["query_id"], r["id"], round(r["cosine"], 9))
        for r in ivf_index_topk_batch(idx, queries, k=4, nprobe=3).collect()
    )
    b = sorted(
        (r["query_id"], r["id"], round(r["cosine"], 9))
        for r in ivf_index_topk_batch_distributed(
            idx, queries, k=4, nprobe=3
        ).collect()
    )
    assert a == b


# ------------------------- r10: recluster + versioned roots ----------------


def _cluster_rows(center_dim, n, dim=8, start_id=0, lean=None):
    """Deterministic synthetic cluster: unit-ish vectors near axis
    ``center_dim`` with small integer-arithmetic jitter; ``lean``
    ('straddle') alternates the e0/e1 mix so members sit on BOTH
    sides of the c0/c1 bisector — the drift shape that splits a new
    cluster across frozen lists."""
    rows = []
    for i in range(n):
        j = ((i * 37) % 11 - 5) / 100.0  # deterministic jitter
        v = [0.0] * dim
        if lean == "straddle":
            s = 1 if i % 2 == 0 else -1
            v[0] = 0.7 + s * 0.15 + j / 10
            v[1] = 0.7 - s * 0.15 - j / 10
            v[2] = j
        elif lean == "neutral":
            # ON the c0/c1 bisector: true top-k mixes both straddle
            # halves, but nprobe=1 sees only one frozen list
            v[0] = 0.7 + j / 20
            v[1] = 0.7 + j / 20
            v[2] = j
        else:
            v[center_dim] = 1.0
            v[(center_dim + 3) % dim] = j
        rows.append((start_id + i, v))
    return rows


def test_recluster_restores_recall_after_append_drift(spark, tmp_path):
    """VERDICT r9 item 1, the done-criterion drift test: heavy appends
    of a distribution the build never saw degrade measured recall@10
    at fixed nprobe (the new cluster straddles two frozen lists);
    recluster retrains the quantizer on what the index NOW holds and
    restores it. The whole loop runs through the versioned root, so
    serving always resolves a complete index."""
    from goodtables_pandas_py_spark.extensions import pipeline as pl
    from goodtables_pandas_py_spark.extensions.vecindex import (
        append_to_ivf_index,
        ivf_recall_probe,
        read_ivf_index_current,
        recluster_ivf_index_version,
        write_ivf_index_version,
    )

    root = str(tmp_path / "vroot")
    schema = "vec_id long, embedding array<float>"
    base = _cluster_rows(0, 60) + _cluster_rows(1, 60, start_id=100)
    m1 = write_ivf_index_version(
        spark.createDataFrame(base, schema), root, nlist=2, refine=2
    )
    assert m1["version"] == "v00000001"

    # drift: a NEW cluster straddling the frozen c0/c1 bisector —
    # appends assign its members half to each old list
    drift = _cluster_rows(None, 200, start_id=500, lean="straddle")
    append_to_ivf_index(
        spark.createDataFrame(drift, schema),
        f"{root}/versions/v00000001",
    )
    idx = read_ivf_index_current(spark, root)
    assert idx.manifest["n_vectors"] == 320

    queries = spark.createDataFrame(
        _cluster_rows(None, 12, start_id=9000, lean="neutral"),
        "query_id long, embedding array<float>",
    )
    recall_before = ivf_recall_probe(idx, queries, k=10, nprobe=1)
    assert recall_before < 0.8, recall_before  # drift hurt

    m2 = recluster_ivf_index_version(spark, root, nlist=3, refine=4)
    assert m2["version"] == "v00000002"
    assert m2["reclustered"]["base_version"] == "v00000001"
    assert m2["n_vectors"] == 320
    idx2 = read_ivf_index_current(spark, root)
    recall_after = ivf_recall_probe(idx2, queries, k=10, nprobe=1)
    assert recall_after >= 0.95, (recall_before, recall_after)

    # same ids survive; audit block on disk matches the return
    ids_before = sorted(r["id"] for r in idx.postings.select("id").collect())
    ids_after = sorted(r["id"] for r in idx2.postings.select("id").collect())
    assert ids_before == ids_after
    with open(f"{root}/versions/v00000002/manifest.json") as fh:
        assert json.load(fh) == m2
    # old version is immutable and still readable (snapshot isolation)
    assert idx.postings.count() == 320


def test_recluster_preserves_quantized_payload_verbatim(spark, emb, tmp_path):
    """Quantized postings carry their exact int8 structs through a
    recluster — no dequantize->requantize round-trip; only ivf_cid
    changes. Serving the reclustered index at nprobe=nlist stays
    row-identical to serving the original (exactness does not depend
    on centroids)."""
    from goodtables_pandas_py_spark.extensions.vecindex import (
        ivf_index_topk_batch,
        read_ivf_index,
        recluster_ivf_index,
        write_ivf_index,
    )

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    write_ivf_index(emb, src, nlist=8, quantize=True)
    m = recluster_ivf_index(spark, src, dst, nlist=5, refine=2)
    assert m["nlist"] == 5 and m["quantized"] is True
    assert m["reclustered"]["nlist_before"] == 8

    def payloads(d):
        idx = read_ivf_index(spark, d)
        return sorted(
            (r["id"], r["qvec"]["scale"], tuple(r["qvec"]["q"]))
            for r in idx.postings.select("id", "qvec").collect()
        )

    assert payloads(src) == payloads(dst)

    queries = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    def serve(d):
        idx = read_ivf_index(spark, d)
        return sorted(
            (r["query_id"], r["id"], round(r["cosine"], 9))
            for r in ivf_index_topk_batch(
                idx, queries, k=5, nprobe=len(idx.centroids)
            ).collect()
        )

    assert serve(src) == serve(dst)

    # in-place recluster is refused
    with pytest.raises(ValueError, match="in-place"):
        recluster_ivf_index(spark, src, src)


def test_versioned_index_conflict_and_retention(
    spark, emb, tmp_path, monkeypatch
):
    """The versioned index root inherits the release sink's writer
    guard: a racing publisher loses loudly and its dir is abandoned;
    retention prunes old published indexes but never CURRENT."""
    from goodtables_pandas_py_spark.extensions import pipeline as pl
    from goodtables_pandas_py_spark.extensions.vecindex import (
        read_ivf_index_current,
        write_ivf_index_version,
    )

    root = str(tmp_path / "vroot")
    write_ivf_index_version(emb, root, nlist=4)
    # claim collision: both publishers computed v2 as the next name
    # (the claim dir advances _next_version_name, so pin it the way a
    # real race would — B claimed first, A computed the same number)
    pl._claim_version(spark, root, "v00000002")
    monkeypatch.setattr(
        pl, "_next_version_name", lambda s, r: "v00000002"
    )
    with pytest.raises(pl.ReleaseConflictError, match="claimed"):
        write_ivf_index_version(emb, root, nlist=4)
    monkeypatch.undo()
    # the loser never wrote; the stale claim ages into vacuum scope
    assert pl.vacuum_release_orphans(spark, root, grace_seconds=0) == []
    write_ivf_index_version(emb, root, nlist=2, keep_versions=1)
    idx = read_ivf_index_current(spark, root)
    assert idx.manifest["nlist"] == 2
    # now CURRENT (v3) is past the stale claim -> vacuum reclaims it
    assert pl.vacuum_release_orphans(spark, root, grace_seconds=0) == [
        "v00000002"
    ]
    assert pl.list_release_versions(spark, root) == ["v00000003"]


def _skewed_vectors(spark, dim=8):
    """3 tight corner clusters (20 rows each) + 1 big cluster (200
    rows) made of two separable sub-blobs — with nlist=4 the big
    cluster's list is hot (200 > 2 x mean 65)."""
    import random

    rng = random.Random(7)
    rows = []
    vid = 0
    for corner in range(3):
        base = [0.0] * dim
        base[corner] = 10.0
        for _ in range(20):
            rows.append(
                (vid, [x + rng.uniform(-0.1, 0.1) for x in base])
            )
            vid += 1
    for blob in range(2):
        base = [0.0] * dim
        base[5] = 10.0
        # sub-blobs only 1.0 apart: global 4-means keeps them ONE
        # list (splitting them saves less distortion than splitting
        # any two 14-apart corners would cost), but the local re-fit
        # inside split_ivf_hot_lists can still separate them
        base[6] = 1.0 * blob
        for _ in range(100):
            rows.append(
                (vid, [x + rng.uniform(-0.1, 0.1) for x in base])
            )
            vid += 1
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )


def test_split_ivf_hot_lists_parity_and_reuse(spark, tmp_path):
    """split_ivf_hot_lists (r10): only the hot list rewrites — every
    untouched hive partition carries forward FILE-IDENTICAL; total
    rows and payloads unchanged; max list size drops; and exhaustive
    serving (nprobe=nlist) returns EXACTLY the pre-split rows."""
    from goodtables_pandas_py_spark.extensions.vecindex import (
        ivf_index_topk,
        read_ivf_index,
        split_ivf_hot_lists,
        write_ivf_index,
    )

    df = _skewed_vectors(spark)
    src = str(tmp_path / "idx")
    out = str(tmp_path / "idx_split")
    man0 = write_ivf_index(df, src, nlist=4, refine=2)
    sizes0 = {int(k): v for k, v in man0["list_sizes"].items()}
    assert max(sizes0.values()) > 2 * (sum(sizes0.values()) / 4)

    man1 = split_ivf_hot_lists(spark, src, out, hot_factor=2.0)
    sizes1 = {int(k): v for k, v in man1["list_sizes"].items()}
    # same corpus, finer lists, better balance
    assert sum(sizes1.values()) == sum(sizes0.values())
    assert man1["nlist"] > man0["nlist"]
    assert max(sizes1.values()) < max(sizes0.values())
    hot = {int(c) for c in man1["split"]["split_lists"]}
    assert hot  # at least the big list split

    # untouched partitions: same file names + sizes, bit-for-bit reuse
    for cid in sizes0:
        if cid in hot:
            continue
        src_dir = os.path.join(src, "postings.parquet", f"ivf_cid={cid}")
        out_dir = os.path.join(out, "postings.parquet", f"ivf_cid={cid}")
        src_files = {
            f: os.path.getsize(os.path.join(src_dir, f))
            for f in os.listdir(src_dir)
            if f.endswith(".parquet")
        }
        out_files = {
            f: os.path.getsize(os.path.join(out_dir, f))
            for f in os.listdir(out_dir)
            if f.endswith(".parquet")
        }
        assert src_files == out_files and src_files

    # exhaustive serve parity: nprobe=nlist scans everything on both
    # indexes, so the split must not change a single result row
    idx0 = read_ivf_index(spark, src)
    idx1 = read_ivf_index(spark, out)
    for q in df.limit(3).collect():
        r0 = sorted(
            (r["id"], round(r["cosine"], 9))
            for r in ivf_index_topk(
                idx0, list(q["embedding"]), k=10, nprobe=man0["nlist"]
            ).collect()
        )
        r1 = sorted(
            (r["id"], round(r["cosine"], 9))
            for r in ivf_index_topk(
                idx1, list(q["embedding"]), k=10, nprobe=man1["nlist"]
            ).collect()
        )
        assert r0 == r1


def test_split_ivf_hot_lists_refusals(spark, tmp_path):
    from goodtables_pandas_py_spark.extensions.vecindex import (
        split_ivf_hot_lists,
        write_ivf_index,
    )

    df = _skewed_vectors(spark)
    src = str(tmp_path / "idx")
    write_ivf_index(df, src, nlist=4, refine=2)
    with pytest.raises(ValueError, match="in-place|must differ"):
        split_ivf_hot_lists(spark, src, src)
    # a generous threshold finds nothing hot -> loud no-op refusal
    with pytest.raises(ValueError, match="nothing to split"):
        split_ivf_hot_lists(
            spark, src, str(tmp_path / "x"), hot_factor=100.0
        )


def test_split_ivf_hot_lists_quantized_verbatim(spark, tmp_path):
    """Quantized index: moved rows keep their int8 payload structs
    byte-identical (no dequantize->requantize round trip)."""
    from goodtables_pandas_py_spark.extensions.vecindex import (
        split_ivf_hot_lists,
        write_ivf_index,
    )

    df = _skewed_vectors(spark)
    src = str(tmp_path / "idxq")
    out = str(tmp_path / "idxq_split")
    write_ivf_index(df, src, nlist=4, refine=2, quantize=True)
    man = split_ivf_hot_lists(spark, src, out, hot_factor=2.0)
    assert man["quantized"] is True

    before = {
        r["id"]: (tuple(r["qvec"]["q"]), r["qvec"]["scale"])
        for r in spark.read.parquet(
            os.path.join(src, "postings.parquet")
        ).collect()
    }
    after = {
        r["id"]: (tuple(r["qvec"]["q"]), r["qvec"]["scale"])
        for r in spark.read.parquet(
            os.path.join(out, "postings.parquet")
        ).collect()
    }
    assert before == after


@pytest.mark.slow
def test_split_ivf_hot_lists_property(spark, tmp_path):
    """Hypothesis property (r10): over random corpora and widths,
    splitting conserves the posting multiset exactly (ids AND vector
    payloads), never touches a reused list's assignments, and keeps
    every moved row inside its audit's new cid set — the invariants
    exhaustive-serve parity rests on, checked structurally so the
    property stays cheap enough to run per-example."""
    import random

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from goodtables_pandas_py_spark.extensions.vecindex import (
        split_ivf_hot_lists,
        write_ivf_index,
    )

    counter = {"n": 0}

    @settings(
        max_examples=5,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(seed=st.integers(min_value=0, max_value=10**6))
    def run(seed):
        rng = random.Random(seed)
        dim = 4
        nlist = rng.randint(2, 5)
        rows = []
        # a forced heavy cluster (~60% of rows) guarantees skew at
        # the derived hot_factor whatever kmeans does with the rest
        heavy = [rng.uniform(-1, 1) * 5 for _ in range(dim)]
        n = rng.randint(60, 120)
        for i in range(n):
            if i < 0.6 * n:
                base = heavy
            else:
                base = [rng.uniform(-8, 8) for _ in range(dim)]
            rows.append(
                (i, [b + rng.uniform(-0.4, 0.4) for b in base])
            )
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        counter["n"] += 1
        src = str(tmp_path / f"p{counter['n']}_src")
        out = str(tmp_path / f"p{counter['n']}_out")
        man0 = write_ivf_index(df, src, nlist=nlist, refine=1)
        sizes0 = {int(k): v for k, v in man0["list_sizes"].items()}
        mean = sum(sizes0.values()) / len(sizes0)
        try:
            man1 = split_ivf_hot_lists(
                spark, src, out,
                hot_factor=0.999 * max(sizes0.values()) / mean,
            )
        except ValueError as exc:
            # only the documented degenerate refusal is acceptable
            assert "all-duplicates" in str(exc)
            return

        def postings(d):
            return {
                (r["id"], tuple(round(x, 9) for x in r["vec"]),
                 int(r["ivf_cid"]))
                for r in spark.read.parquet(
                    os.path.join(d, "postings.parquet")
                ).collect()
            }

        before, after = postings(src), postings(out)
        # posting multiset conserved on (id, payload)
        assert {(i, v) for i, v, _ in before} == {
            (i, v) for i, v, _ in after
        }
        split_lists = {
            int(k): set(v)
            for k, v in man1["split"]["split_lists"].items()
        }
        hot = set(split_lists)
        moved_ok = set().union(*split_lists.values())
        cid_before = {i: c for i, _, c in before}
        for i, _, c in after:
            if cid_before[i] in hot:
                assert c in moved_ok
            else:
                assert c == cid_before[i]  # reused lists untouched
        # manifest bookkeeping
        assert sum(
            v for v in man1["list_sizes"].values()
        ) == sum(sizes0.values())
        assert man1["nlist"] >= man0["nlist"]

    run()


# --------------------------------------------------- delete (r11, VERDICT r10)


def test_delete_absent_from_all_five_serve_paths(spark, tmp_path):
    """delete_from_ivf_index (r11): deleted ids are provably absent
    from EVERY serve path — per-query, collect-batch, distributed
    batch, after a recluster of the deleted index, and after a
    hot-list split of it — and exhaustive serving over the survivors
    equals exact search over the source table minus the deleted rows
    (recall for survivors is untouched: centroids never move)."""
    from goodtables_pandas_py_spark.extensions.vecindex import (
        delete_from_ivf_index,
        ivf_index_topk,
        ivf_index_topk_batch,
        ivf_index_topk_batch_distributed,
        read_ivf_index,
        recluster_ivf_index,
        split_ivf_hot_lists,
        write_ivf_index,
    )

    df = _skewed_vectors(spark)
    src = str(tmp_path / "idx")
    out = str(tmp_path / "idx_del")
    man0 = write_ivf_index(df, src, nlist=4, refine=2)
    sizes0 = {int(k): v for k, v in man0["list_sizes"].items()}

    # ids across at least two lists: a few corner rows + a few heavy
    dels = [0, 1, 21, 60, 61, 150, 151, 152]
    man1 = delete_from_ivf_index(spark, src, out, dels)
    assert man1["n_vectors"] == man0["n_vectors"] - len(dels)
    assert man1["deleted"]["n_deleted"] == len(dels)
    assert man1["deleted"]["n_requested"] == len(dels)
    assert man1["nlist"] == man0["nlist"]  # centroids untouched
    touched = set(man1["deleted"]["touched_lists"])
    assert len(touched) >= 2

    # untouched partitions carry forward file-identical
    for cid in sizes0:
        if cid in touched:
            continue
        sdir = os.path.join(src, "postings.parquet", f"ivf_cid={cid}")
        odir = os.path.join(out, "postings.parquet", f"ivf_cid={cid}")
        sf = {
            f: os.path.getsize(os.path.join(sdir, f))
            for f in os.listdir(sdir)
            if f.endswith(".parquet")
        }
        of = {
            f: os.path.getsize(os.path.join(odir, f))
            for f in os.listdir(odir)
            if f.endswith(".parquet")
        }
        assert sf == of and sf

    idx1 = read_ivf_index(spark, out)
    survivors = df.where(~F.col("vec_id").isin(dels))
    qs = [list(r["embedding"]) for r in df.limit(3).collect()]

    # path 1: per-query, exhaustive — equals exact search on survivors
    for q in qs:
        got = [
            (r["id"], round(r["cosine"], 9))
            for r in ivf_index_topk(
                idx1, q, k=10, nprobe=man1["nlist"]
            ).collect()
        ]
        exact = [
            (r["vec_id"], round(r["cosine"], 9))
            for r in cosine_topk(survivors, q, k=10).collect()
        ]
        assert got == exact
        assert not set(dels) & {i for i, _ in got}

    qdf = spark.createDataFrame(
        [(i, q) for i, q in enumerate(qs)],
        "query_id long, embedding array<double>",
    )
    # paths 2+3: batch serves (wide k so a lingering deleted row would
    # surface), collect path and distributed path
    for fn in (ivf_index_topk_batch, ivf_index_topk_batch_distributed):
        served = fn(idx1, qdf, k=50, nprobe=man1["nlist"]).collect()
        assert served
        assert not set(dels) & {r["id"] for r in served}

    # path 4: recluster of the deleted index (conservation assert
    # must hold on the post-delete manifest counts)
    recl = str(tmp_path / "idx_del_recl")
    man2 = recluster_ivf_index(spark, out, recl)
    assert man2["n_vectors"] == man1["n_vectors"]
    idx2 = read_ivf_index(spark, recl)
    served = ivf_index_topk_batch_distributed(
        idx2, qdf, k=50, nprobe=man2["nlist"]
    ).collect()
    assert served and not set(dels) & {r["id"] for r in served}

    # path 5: hot-list split of the deleted index (the heavy list is
    # still hot after 3 deletions)
    spl = str(tmp_path / "idx_del_split")
    man3 = split_ivf_hot_lists(spark, out, spl, hot_factor=2.0)
    assert sum(man3["list_sizes"].values()) == man1["n_vectors"]
    idx3 = read_ivf_index(spark, spl)
    served = ivf_index_topk_batch(
        idx3, qdf, k=50, nprobe=man3["nlist"]
    ).collect()
    assert served and not set(dels) & {r["id"] for r in served}


def test_delete_idempotent_replay_and_noop(spark, tmp_path):
    """Deleting absent ids is a NO-OP: the flat variant writes a
    complete file-identical copy with n_deleted=0; replaying the same
    delete set against the already-deleted index matches nothing."""
    from goodtables_pandas_py_spark.extensions.vecindex import (
        delete_from_ivf_index,
        write_ivf_index,
    )

    df = _skewed_vectors(spark)
    src = str(tmp_path / "idx")
    out1 = str(tmp_path / "d1")
    out2 = str(tmp_path / "d2")
    man0 = write_ivf_index(df, src, nlist=4, refine=2)
    dels = [5, 6, 7]
    man1 = delete_from_ivf_index(spark, src, out1, dels)
    assert man1["deleted"]["n_deleted"] == 3
    # replay against the deleted index: nothing matches, full reuse
    man2 = delete_from_ivf_index(spark, out1, out2, dels)
    assert man2["deleted"]["n_deleted"] == 0
    assert man2["deleted"]["touched_lists"] == []
    assert man2["n_vectors"] == man1["n_vectors"]
    assert man2["list_sizes"] == man1["list_sizes"]
    for cid in {int(k) for k in man1["list_sizes"]}:
        d1 = os.path.join(out1, "postings.parquet", f"ivf_cid={cid}")
        d2 = os.path.join(out2, "postings.parquet", f"ivf_cid={cid}")
        f1 = {
            f: os.path.getsize(os.path.join(d1, f))
            for f in os.listdir(d1)
            if f.endswith(".parquet")
        }
        f2 = {
            f: os.path.getsize(os.path.join(d2, f))
            for f in os.listdir(d2)
            if f.endswith(".parquet")
        }
        assert f1 == f2 and f1
    # mixed present/absent: counts split correctly
    out3 = str(tmp_path / "d3")
    man3 = delete_from_ivf_index(spark, out1, out3, [8, 5, 999_999])
    assert man3["deleted"]["n_requested"] == 3
    assert man3["deleted"]["n_deleted"] == 1  # only 8 still exists
    assert man3["n_vectors"] == man1["n_vectors"] - 1
    assert man0["n_vectors"] == man1["n_vectors"] + 3


def test_delete_empties_a_list_and_quantized_verbatim(spark, tmp_path):
    """Deleting EVERY posting of a list drops it from list_sizes (the
    builder's empty-list convention) while the centroid table stays
    dense; on a quantized index survivors keep their int8 payloads
    byte-identical (delete never re-encodes)."""
    from goodtables_pandas_py_spark.extensions.vecindex import (
        delete_from_ivf_index,
        ivf_index_topk,
        read_ivf_index,
        write_ivf_index,
    )

    df = _skewed_vectors(spark)
    src = str(tmp_path / "qidx")
    out = str(tmp_path / "qidx_del")
    man0 = write_ivf_index(df, src, nlist=4, refine=2, quantize=True)
    idx0 = read_ivf_index(spark, src)
    # wipe out the smallest list entirely
    sizes0 = {int(k): v for k, v in man0["list_sizes"].items()}
    victim = min(sizes0, key=sizes0.get)
    victim_ids = [
        r["id"]
        for r in idx0.postings.where(
            F.col("ivf_cid") == victim
        ).select("id").collect()
    ]
    man1 = delete_from_ivf_index(spark, src, out, victim_ids)
    assert str(victim) not in man1["list_sizes"]
    assert man1["deleted"]["emptied_lists"] == [victim]
    assert man1["nlist"] == man0["nlist"]
    idx1 = read_ivf_index(spark, out)
    assert len(idx1.centroids) == man0["nlist"]  # still dense
    # quantized payloads verbatim for survivors
    before = {
        r["id"]: (list(r["qvec"]["q"]), r["qvec"]["scale"])
        for r in idx0.postings.collect()
        if r["id"] not in set(victim_ids)
    }
    after = {
        r["id"]: (list(r["qvec"]["q"]), r["qvec"]["scale"])
        for r in idx1.postings.collect()
    }
    assert after == before
    # probing the emptied cid serves fine (scans nothing, returns rest)
    q = list(df.where(F.col("vec_id") == 0).first()["embedding"])
    got = ivf_index_topk(idx1, q, k=5, nprobe=man1["nlist"]).collect()
    assert got and not set(victim_ids) & {r["id"] for r in got}


def test_delete_refuses_in_place(spark, tmp_path):
    from goodtables_pandas_py_spark.extensions.vecindex import (
        delete_from_ivf_index,
        write_ivf_index,
    )

    df = _skewed_vectors(spark)
    src = str(tmp_path / "idx")
    write_ivf_index(df, src, nlist=4)
    with pytest.raises(ValueError, match="out_dir must differ"):
        delete_from_ivf_index(spark, src, src, [1])


def test_delete_versioned_swap_and_noop_replay(spark, tmp_path):
    """Versioned delete: a hit publishes a new version and swaps the
    pointer; a replay with zero hits returns the CURRENT manifest
    WITHOUT claiming or publishing (no version churn)."""
    from goodtables_pandas_py_spark.extensions.pipeline import _current
    from goodtables_pandas_py_spark.extensions.vecindex import (
        delete_from_ivf_index_version,
        read_ivf_index_current,
        write_ivf_index_version,
    )

    df = _skewed_vectors(spark)
    root = str(tmp_path / "root")
    write_ivf_index_version(df, root, nlist=4, refine=2)
    assert _current(spark, root) == "v00000001"

    man = delete_from_ivf_index_version(spark, root, [0, 1, 2])
    assert man["version"] == "v00000002"
    assert man["deleted"]["base_version"] == "v00000001"
    assert man["deleted"]["n_deleted"] == 3
    assert _current(spark, root) == "v00000002"
    idx = read_ivf_index_current(spark, root)
    assert not {0, 1, 2} & {r["id"] for r in idx.postings.select("id").collect()}

    # replay: nothing matches now -> no claim, no publish, pointer still v2
    man2 = delete_from_ivf_index_version(spark, root, [0, 1, 2])
    assert man2["deleted"]["n_deleted"] == 0
    assert man2["deleted"].get("noop_replay") is True
    assert man2["n_vectors"] == man["n_vectors"]
    assert _current(spark, root) == "v00000002"
    assert sorted(os.listdir(os.path.join(root, "versions"))) == [
        "v00000001",
        "v00000002",
    ]


def test_versioned_index_root_as_file_uri_or_remote_scheme(
    spark, tmp_path, monkeypatch
):
    """A ``file://`` root publishes and reads back like the plain path
    (no stray relative ``file:`` tree in the cwd); a remote scheme is
    refused with a ValueError naming it, before anything is claimed."""
    from goodtables_pandas_py_spark.extensions.vecindex import (
        read_ivf_index_current,
        write_ivf_index_version,
    )

    monkeypatch.chdir(tmp_path)
    df = _skewed_vectors(spark)
    root = f"file://{tmp_path}/ivf"
    man = write_ivf_index_version(df, root, nlist=4)
    assert man["version"] == "v00000001"
    idx = read_ivf_index_current(spark, root)
    assert idx.manifest["version"] == "v00000001"
    assert idx.postings.count() == man["n_vectors"]
    assert os.listdir(tmp_path / "ivf" / "versions") == ["v00000001"]
    assert not (tmp_path / "file:").exists()
    with pytest.raises(ValueError, match="s3a://"):
        write_ivf_index_version(df, "s3a://bucket/ivf", nlist=4)


def test_recluster_raises_on_row_loss(spark, tmp_path):
    """Conservation assert (ADVICE r10): a payload that reassigns to a
    NULL cid (ragged vector smuggled into a partition and counted by
    the manifest) must abort the recluster BEFORE the manifest write,
    not shrink the index silently."""
    from goodtables_pandas_py_spark.extensions.vecindex import (
        recluster_ivf_index,
        write_ivf_index,
    )

    df = _skewed_vectors(spark)
    src = str(tmp_path / "idx")
    out = str(tmp_path / "out")
    man = write_ivf_index(df, src, nlist=4, refine=1)
    some_cid = int(next(iter(man["list_sizes"])))
    part_dir = os.path.join(
        src, "postings.parquet", f"ivf_cid={some_cid}"
    )
    # smuggle a ragged-payload posting into the partition and count it
    # in the manifest (the corruption scenario: counts say N, one of
    # the N cannot be reassigned)
    spark.createDataFrame(
        [(999_999, [1.0])], "id long, vec array<float>"
    ).coalesce(1).write.mode("append").parquet(part_dir)
    man["n_vectors"] += 1
    man["list_sizes"][str(some_cid)] += 1
    with open(os.path.join(src, "manifest.json"), "w") as fh:
        json.dump(man, fh)
    with pytest.raises(ValueError, match="row loss"):
        recluster_ivf_index(spark, src, out)


# ------------------------------------- merge + maintenance plan (r11)


def test_merge_ivf_cold_lists_parity_renumber_and_reuse(spark, tmp_path):
    """merge_ivf_cold_lists (r11, inverse of split): a delete-runted
    list folds into its nearest surviving neighbor; survivors carry
    forward FILE-IDENTICAL under renumbered-dense cids; total rows
    conserve; exhaustive serving (nprobe=nlist) returns EXACTLY the
    pre-merge rows."""
    from goodtables_pandas_py_spark.extensions.vecindex import (
        delete_from_ivf_index,
        ivf_index_topk,
        merge_ivf_cold_lists,
        read_ivf_index,
        write_ivf_index,
    )

    df = _skewed_vectors(spark)
    src = str(tmp_path / "idx")
    man0 = write_ivf_index(df, src, nlist=4, refine=2)
    sizes0 = {int(k): v for k, v in man0["list_sizes"].items()}
    # runt one corner list via delete: keep 4 of ~20 rows
    idx0 = read_ivf_index(spark, src)
    victim = min(sizes0, key=sizes0.get)
    victim_ids = sorted(
        r["id"]
        for r in idx0.postings.where(F.col("ivf_cid") == victim)
        .select("id")
        .collect()
    )
    deleted = str(tmp_path / "idx_del")
    man1 = delete_from_ivf_index(
        spark, src, deleted, victim_ids[: len(victim_ids) - 4]
    )
    sizes1 = {int(k): v for k, v in man1["list_sizes"].items()}
    assert sizes1[victim] == 4

    out = str(tmp_path / "idx_merged")
    man2 = merge_ivf_cold_lists(spark, deleted, out, cold_factor=0.25)
    assert man2["n_vectors"] == man1["n_vectors"]
    assert man2["nlist"] == man1["nlist"] - 1
    assert man2["merged"]["merged_lists"] == {
        str(victim): man2["merged"]["merged_lists"][str(victim)]
    }
    tgt_old = man2["merged"]["merged_lists"][str(victim)]
    renum = {int(k): v for k, v in man2["merged"]["renumbered"].items()}
    assert sorted(renum.values()) == list(range(man2["nlist"]))
    assert victim not in renum

    # conservation: target gained exactly the runt's rows
    sizes2 = {int(k): v for k, v in man2["list_sizes"].items()}
    assert sizes2[renum[tgt_old]] == sizes1[tgt_old] + 4
    assert sum(sizes2.values()) == man1["n_vectors"]

    # survivors other than the target carry forward file-identical
    # under their NEW cid directory names
    for old_cid, new_cid in renum.items():
        sdir = os.path.join(
            deleted, "postings.parquet", f"ivf_cid={old_cid}"
        )
        odir = os.path.join(out, "postings.parquet", f"ivf_cid={new_cid}")
        sf = sorted(
            (f, os.path.getsize(os.path.join(sdir, f)))
            for f in os.listdir(sdir)
            if f.endswith(".parquet")
        )
        of = sorted(
            (f, os.path.getsize(os.path.join(odir, f)))
            for f in os.listdir(odir)
            if f.endswith(".parquet")
        )
        if old_cid == tgt_old:
            # target keeps its old files PLUS the moved-row files
            assert set(sf) <= set(of) and len(of) > len(sf)
        else:
            assert sf == of and sf

    # centroid table: renumbered dense, centroids verbatim
    idx1 = read_ivf_index(spark, deleted)
    idx2 = read_ivf_index(spark, out)
    assert len(idx2.centroids) == man2["nlist"]
    for old_cid, new_cid in renum.items():
        assert idx2.centroids[new_cid] == idx1.centroids[old_cid]

    # exhaustive serve parity: merging moved rows, not vectors
    for q in df.limit(3).collect():
        r1 = sorted(
            (r["id"], round(r["cosine"], 9))
            for r in ivf_index_topk(
                idx1, list(q["embedding"]), k=10, nprobe=man1["nlist"]
            ).collect()
        )
        r2 = sorted(
            (r["id"], round(r["cosine"], 9))
            for r in ivf_index_topk(
                idx2, list(q["embedding"]), k=10, nprobe=man2["nlist"]
            ).collect()
        )
        assert r1 == r2


def test_merge_folds_away_emptied_list(spark, tmp_path):
    """A list deleted to ZERO rows still owns a centroid; merge drops
    it from the centroid table with no row movement at all."""
    from goodtables_pandas_py_spark.extensions.vecindex import (
        delete_from_ivf_index,
        merge_ivf_cold_lists,
        read_ivf_index,
        write_ivf_index,
    )

    df = _skewed_vectors(spark)
    src = str(tmp_path / "idx")
    man0 = write_ivf_index(df, src, nlist=4, refine=2)
    sizes0 = {int(k): v for k, v in man0["list_sizes"].items()}
    victim = min(sizes0, key=sizes0.get)
    idx0 = read_ivf_index(spark, src)
    victim_ids = [
        r["id"]
        for r in idx0.postings.where(F.col("ivf_cid") == victim)
        .select("id")
        .collect()
    ]
    deleted = str(tmp_path / "d")
    man1 = delete_from_ivf_index(spark, src, deleted, victim_ids)
    assert str(victim) not in man1["list_sizes"]

    out = str(tmp_path / "m")
    man2 = merge_ivf_cold_lists(spark, deleted, out, cold_factor=0.25)
    assert man2["nlist"] == man0["nlist"] - 1
    assert man2["n_vectors"] == man1["n_vectors"]
    # nothing moved: every surviving list keeps its exact size
    renum = {int(k): v for k, v in man2["merged"]["renumbered"].items()}
    sizes1 = {int(k): v for k, v in man1["list_sizes"].items()}
    sizes2 = {int(k): v for k, v in man2["list_sizes"].items()}
    assert sizes2 == {renum[c]: n for c, n in sizes1.items()}


def test_merge_refusals(spark, tmp_path):
    from goodtables_pandas_py_spark.extensions.vecindex import (
        merge_ivf_cold_lists,
        write_ivf_index,
    )

    df = _skewed_vectors(spark)
    src = str(tmp_path / "idx")
    write_ivf_index(df, src, nlist=4, refine=2)
    with pytest.raises(ValueError, match="out_dir must differ"):
        merge_ivf_cold_lists(spark, src, src)
    with pytest.raises(ValueError, match="nothing to merge"):
        merge_ivf_cold_lists(
            spark, src, str(tmp_path / "o1"), cold_factor=0.001
        )
    with pytest.raises(ValueError, match="every list is cold"):
        merge_ivf_cold_lists(
            spark, src, str(tmp_path / "o2"), cold_factor=100.0
        )


def test_merge_quantized_payloads_verbatim(spark, tmp_path):
    from goodtables_pandas_py_spark.extensions.vecindex import (
        delete_from_ivf_index,
        merge_ivf_cold_lists,
        read_ivf_index,
        write_ivf_index,
    )

    df = _skewed_vectors(spark)
    src = str(tmp_path / "q")
    man0 = write_ivf_index(df, src, nlist=4, refine=2, quantize=True)
    sizes0 = {int(k): v for k, v in man0["list_sizes"].items()}
    victim = min(sizes0, key=sizes0.get)
    idx0 = read_ivf_index(spark, src)
    vids = [
        r["id"]
        for r in idx0.postings.where(F.col("ivf_cid") == victim)
        .select("id")
        .limit(sizes0[victim] - 3)
        .collect()
    ]
    deleted = str(tmp_path / "qd")
    delete_from_ivf_index(spark, src, deleted, vids)
    out = str(tmp_path / "qm")
    merge_ivf_cold_lists(spark, deleted, out, cold_factor=0.25)
    before = {
        r["id"]: (list(r["qvec"]["q"]), r["qvec"]["scale"])
        for r in read_ivf_index(spark, deleted).postings.collect()
    }
    after = {
        r["id"]: (list(r["qvec"]["q"]), r["qvec"]["scale"])
        for r in read_ivf_index(spark, out).postings.collect()
    }
    assert after == before


def _regime_index(spark, tmp_path, name, clusters=4, n=60, dim=8):
    """Fixture index with PINNED centroids (one per axis cluster) so
    the regimes are about the PLAN's decision ladder, not about which
    local optimum this kmeans run found."""
    from goodtables_pandas_py_spark.extensions.vecindex import (
        write_ivf_index,
    )

    rows = []
    for c in range(clusters):
        rows += _cluster_rows(c, n, start_id=1000 * c)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = []
    for c in range(clusters):
        v = [0.0] * dim
        v[c] = 1.0
        cents.append(v)
    d = str(tmp_path / name)
    man = write_ivf_index(df, d, centroids=cents)
    return d, df, man


@pytest.mark.slow
def test_maintenance_plan_three_regimes(spark, tmp_path):
    """ivf_maintenance_plan (r11, VERDICT r10 item 4): the decision
    ladder over the drift fixtures — healthy → none, hot-skewed with
    healthy recall → split(hot cids), globally drifted (the straddle
    fixture: recall sags, no list balloons) → recluster, and
    delete-runted with healthy recall → merge(cold cids)."""
    from goodtables_pandas_py_spark.extensions.vecindex import (
        append_to_ivf_index,
        delete_from_ivf_index,
        ivf_maintenance_plan,
    )

    # regime 1: healthy — separated clusters, queries on them
    d, df, man = _regime_index(spark, tmp_path, "healthy")
    queries = spark.createDataFrame(
        _cluster_rows(0, 6, start_id=9000)
        + _cluster_rows(2, 6, start_id=9100),
        "query_id long, embedding array<float>",
    )
    plan = ivf_maintenance_plan(spark, d, queries, nprobe=1)
    assert plan["action"] == "none", plan
    assert plan["recall_at_k"] >= 0.8

    # regime 2: hot-skewed — 300 appended rows land in ONE frozen
    # list; recall holds (the cluster is coherent), size balloons
    d2, df2, man2 = _regime_index(spark, tmp_path, "hot")
    append_to_ivf_index(
        spark.createDataFrame(
            _cluster_rows(0, 300, start_id=50_000),
            "vec_id long, embedding array<float>",
        ),
        d2,
    )
    plan2 = ivf_maintenance_plan(spark, d2, queries, nprobe=1)
    assert plan2["action"] == "split", plan2
    assert plan2["cids"], plan2
    assert plan2["recall_at_k"] >= 0.8

    # regime 3: globally drifted — the r10 straddle fixture (2 lists,
    # neutral queries at nprobe=1: drift splits true neighbors across
    # both lists, neither balloons)
    from goodtables_pandas_py_spark.extensions.vecindex import (
        write_ivf_index,
    )

    base = _cluster_rows(0, 60) + _cluster_rows(1, 60, start_id=100)
    d3 = str(tmp_path / "drifted")
    write_ivf_index(
        spark.createDataFrame(base, "vec_id long, embedding array<float>"),
        d3,
        nlist=2,
        refine=2,
    )
    append_to_ivf_index(
        spark.createDataFrame(
            _cluster_rows(None, 200, start_id=500, lean="straddle"),
            "vec_id long, embedding array<float>",
        ),
        d3,
    )
    neutral_q = spark.createDataFrame(
        _cluster_rows(None, 12, start_id=9000, lean="neutral"),
        "query_id long, embedding array<float>",
    )
    plan3 = ivf_maintenance_plan(spark, d3, neutral_q, nprobe=1)
    assert plan3["action"] == "recluster", plan3
    assert plan3["recall_at_k"] < 0.8
    assert not plan3["hot_lists"]

    # regime 4: delete-runted — healthy recall, one list far under
    # cold_factor x mean -> merge
    d4, df4, man4 = _regime_index(spark, tmp_path, "coldbase")
    sizes = {int(k): v for k, v in man4["list_sizes"].items()}
    victim = min(sizes, key=sizes.get)
    from goodtables_pandas_py_spark.extensions.vecindex import (
        read_ivf_index,
    )

    vids = [
        r["id"]
        for r in read_ivf_index(spark, d4)
        .postings.where(F.col("ivf_cid") == victim)
        .select("id")
        .limit(sizes[victim] - 3)
        .collect()
    ]
    d4_del = str(tmp_path / "cold")
    delete_from_ivf_index(spark, d4, d4_del, vids)
    # query the INTACT clusters: recall there is unharmed, so the
    # plan's reason is the runt list, not recall (querying the gutted
    # cluster at nprobe=1 would correctly sink recall — its survivors'
    # true neighbors now live in other lists — and escalate the plan)
    intact_q = spark.createDataFrame(
        _cluster_rows(1, 6, start_id=9200)
        + _cluster_rows(2, 6, start_id=9300),
        "query_id long, embedding array<float>",
    )
    plan4 = ivf_maintenance_plan(spark, d4_del, intact_q, nprobe=1)
    assert plan4["action"] == "merge", plan4
    assert plan4["cids"] == [victim]


def test_maintenance_plan_resolves_versioned_root(spark, tmp_path):
    """index_dir may be a versioned ROOT: the plan resolves CURRENT."""
    from goodtables_pandas_py_spark.extensions.vecindex import (
        ivf_maintenance_plan,
        write_ivf_index_version,
    )

    rows = _cluster_rows(0, 60) + _cluster_rows(1, 60, start_id=100)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    root = str(tmp_path / "root")
    write_ivf_index_version(df, root, nlist=2, refine=2)
    queries = spark.createDataFrame(
        _cluster_rows(0, 6, start_id=9000),
        "query_id long, embedding array<float>",
    )
    plan = ivf_maintenance_plan(spark, root, queries, nprobe=2)
    assert plan["action"] == "none", plan
    assert plan["recall_at_k"] == 1.0


def test_delete_id_normalization_guards(spark, tmp_path):
    """r11 review fixes: a delete set whose ids cannot cast to the
    posting id type must raise (not silently no-op the takedown), a
    fractional id column must raise (not truncate onto the wrong
    posting), and castable string ids work."""
    from goodtables_pandas_py_spark.extensions.vecindex import (
        delete_from_ivf_index,
        write_ivf_index,
    )

    df = _skewed_vectors(spark)
    src = str(tmp_path / "idx")
    man0 = write_ivf_index(df, src, nlist=4, refine=2)

    with pytest.raises(ValueError, match="does not cast"):
        delete_from_ivf_index(
            spark, src, str(tmp_path / "o1"), ["doc-123", "5"]
        )
    bad_floats = spark.createDataFrame(
        [(5.7,), (6.0,)], "fid double"
    )
    with pytest.raises(TypeError, match="truncating cast"):
        delete_from_ivf_index(spark, src, str(tmp_path / "o2"), bad_floats)
    with pytest.raises(TypeError, match="non-integral floats"):
        delete_from_ivf_index(spark, src, str(tmp_path / "o3"), [5.7])

    # castable strings are fine — and integral floats in a list too
    man1 = delete_from_ivf_index(
        spark, src, str(tmp_path / "o4"), ["5", "6"]
    )
    assert man1["deleted"]["n_deleted"] == 2
    assert man1["n_vectors"] == man0["n_vectors"] - 2


def test_merge_many_cold_lists_broadcast_remap(spark, tmp_path):
    """r11 review fix: the cold→target remap is a broadcast join, not
    a per-list CASE WHEN — exercise a many-cold-list merge (every
    corner list cold at a high cold_factor) and check per-list
    physical conservation holds."""
    from goodtables_pandas_py_spark.extensions.vecindex import (
        merge_ivf_cold_lists,
        read_ivf_index,
        write_ivf_index,
    )

    df = _skewed_vectors(spark)
    src = str(tmp_path / "idx")
    man0 = write_ivf_index(df, src, nlist=4, refine=2)
    sizes0 = {int(k): v for k, v in man0["list_sizes"].items()}
    # the 3 corner lists (~20 rows each) are all cold vs the heavy
    # list at cold_factor just under heavy/mean
    mean = man0["n_vectors"] / man0["nlist"]
    cf = 0.999 * max(sizes0.values()) / mean
    man1 = merge_ivf_cold_lists(spark, src, str(tmp_path / "m"), cold_factor=cf)
    assert len(man1["merged"]["merged_lists"]) == 3
    assert man1["nlist"] == 1
    assert man1["n_vectors"] == man0["n_vectors"]
    idx1 = read_ivf_index(spark, str(tmp_path / "m"))
    assert idx1.postings.count() == man0["n_vectors"]


def test_upsert_refresh_insert_unchanged_and_parity(spark, tmp_path):
    """upsert_into_ivf_index (r11): matched ids are REPLACED (moving
    lists when the refreshed vector assigns elsewhere), new ids
    insert, payload-identical rows are left in place (their lists are
    not even touched), unindexable rows never act as a takedown —
    and exhaustive serving over the result equals exact search over
    the upserted corpus."""
    from goodtables_pandas_py_spark.extensions.vecindex import (
        ivf_index_topk,
        read_ivf_index,
        upsert_into_ivf_index,
        write_ivf_index,
    )

    df = _skewed_vectors(spark)
    src = str(tmp_path / "idx")
    out = str(tmp_path / "idx_up")
    man0 = write_ivf_index(df, src, nlist=4, refine=2)
    sizes0 = {int(k): v for k, v in man0["list_sizes"].items()}
    rows = {r["vec_id"]: list(r["embedding"]) for r in df.collect()}
    dim = len(rows[0])

    mover = [0.0] * dim
    mover[5] = 10.0                      # id 0 (corner 0) → heavy blob
    inplace = [x + 0.05 for x in rows[1]]  # id 1: same cluster, new vec
    batch = [
        (0, mover),
        (1, inplace),
        (21, rows[21]),                  # byte-identical → unchanged
        (9000, [x + 0.1 for x in rows[60]]),   # brand-new id
        (22, [1.0, 2.0]),                # wrong dim → skipped, old kept
    ]
    bdf = spark.createDataFrame(
        batch, "vec_id long, embedding array<double>"
    )
    man1 = upsert_into_ivf_index(spark, src, out, bdf)
    up = man1["upserted"]
    assert up["n_batch"] == 5
    assert up["n_unindexable"] == 1
    assert up["n_changed"] == 3
    assert up["n_replaced"] == 2
    assert up["n_inserted"] == 1
    assert up["n_unchanged"] == 1
    assert up["n_moved"] == 1            # id 0 crossed lists
    assert man1["n_vectors"] == man0["n_vectors"] + 1
    assert man1["nlist"] == man0["nlist"]  # centroids untouched

    # unchanged-id's list and every other untouched list carry
    # forward file-identical
    touched = set(up["touched_lists"])
    for cid in sizes0:
        if cid in touched:
            continue
        sdir = os.path.join(src, "postings.parquet", f"ivf_cid={cid}")
        odir = os.path.join(out, "postings.parquet", f"ivf_cid={cid}")
        sf = {
            f: os.path.getsize(os.path.join(sdir, f))
            for f in os.listdir(sdir)
            if f.endswith(".parquet")
        }
        of = {
            f: os.path.getsize(os.path.join(odir, f))
            for f in os.listdir(odir)
            if f.endswith(".parquet")
        }
        assert sf == of and sf

    # the upserted corpus, exactly
    expect = dict(rows)
    expect[0] = mover
    expect[1] = inplace
    expect[9000] = batch[3][1]
    idx1 = read_ivf_index(spark, out)
    assert idx1.postings.count() == len(expect)

    # exhaustive serve parity vs exact search over the expected corpus
    surv = spark.createDataFrame(
        [(i, v) for i, v in expect.items()],
        "vec_id long, embedding array<double>",
    )
    for q in (mover, rows[40], batch[3][1]):
        got = [
            (r["id"], round(r["cosine"], 9))
            for r in ivf_index_topk(
                idx1, q, k=10, nprobe=man1["nlist"]
            ).collect()
        ]
        exact = [
            (r["vec_id"], round(r["cosine"], 9))
            for r in cosine_topk(surv, q, k=10).collect()
        ]
        assert got == exact


def test_upsert_version_swap_and_true_noop_replay(spark, tmp_path):
    """upsert_into_ivf_index_version: one atomic swap per effective
    upsert; a replayed batch (every payload already stored) returns
    the CURRENT manifest without claiming or publishing — zero
    version churn under at-least-once delivery."""
    from goodtables_pandas_py_spark.extensions.vecindex import (
        read_ivf_index_current,
        upsert_into_ivf_index_version,
        write_ivf_index_version,
    )

    df = _skewed_vectors(spark)
    root = str(tmp_path / "root")
    write_ivf_index_version(df, root, nlist=4, refine=2)

    dim = len(df.head()["embedding"])
    refreshed = [0.0] * dim
    refreshed[5] = 10.0
    bdf = spark.createDataFrame(
        [(0, refreshed), (7777, [1.0] * dim)],
        "vec_id long, embedding array<double>",
    )
    man1 = upsert_into_ivf_index_version(spark, root, bdf)
    assert man1["version"] == "v00000002"
    assert man1["upserted"]["base_version"] == "v00000001"
    assert man1["upserted"]["n_changed"] == 2

    replay = upsert_into_ivf_index_version(spark, root, bdf)
    assert replay["upserted"]["noop_replay"]
    assert replay["upserted"]["n_changed"] == 0
    versions = sorted(os.listdir(os.path.join(root, "versions")))
    assert versions == ["v00000001", "v00000002"]
    got = read_ivf_index_current(spark, root).postings
    assert got.where("id = 7777").count() == 1


def test_upsert_guards_dup_batch_and_dup_postings(spark, tmp_path):
    """Loud refusals: duplicate batch ids (both would insert) and an
    index holding two postings for one id (replace is ambiguous)."""
    from goodtables_pandas_py_spark.extensions.vecindex import (
        append_to_ivf_index,
        upsert_into_ivf_index,
        write_ivf_index,
    )

    df = _skewed_vectors(spark)
    src = str(tmp_path / "idx")
    write_ivf_index(df, src, nlist=4, refine=2)
    dim = len(df.head()["embedding"])

    dup_batch = spark.createDataFrame(
        [(5, [1.0] * dim), (5, [2.0] * dim)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="not unique"):
        upsert_into_ivf_index(
            spark, src, str(tmp_path / "o1"), dup_batch
        )

    # duplicate POSTING: append id 3 again without dedupe_ids
    append_to_ivf_index(
        df.where("vec_id = 3"), src, dedupe_ids=False
    )
    refresh = spark.createDataFrame(
        [(3, [1.0] * dim)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="replace is ambiguous"):
        upsert_into_ivf_index(
            spark, src, str(tmp_path / "o2"), refresh
        )


def test_upsert_quantized_compares_post_quantization(spark, tmp_path):
    """On a quantized index the unchanged-detection compares the
    int8 payloads: a re-embed that quantizes identically is a no-op
    (list untouched), one that quantizes differently replaces."""
    from goodtables_pandas_py_spark.extensions.vecindex import (
        read_ivf_index,
        upsert_into_ivf_index,
        write_ivf_index,
    )

    df = _skewed_vectors(spark)
    src = str(tmp_path / "idx")
    man0 = write_ivf_index(df, src, nlist=4, refine=2, quantize=True)
    assert man0["quantized"]
    rows = {r["vec_id"]: list(r["embedding"]) for r in df.collect()}
    dim = len(rows[0])

    # id 2 re-sends its exact vector — quantizes to the identical
    # struct, so the compare (which runs POST-quantization) must
    # leave it in place; id 3 genuinely moves
    big = [0.0] * dim
    big[5] = 10.0
    bdf = spark.createDataFrame(
        [(2, rows[2]), (3, big)], "vec_id long, embedding array<double>"
    )
    man1 = upsert_into_ivf_index(
        spark, src, str(tmp_path / "out"), bdf
    )
    up = man1["upserted"]
    assert up["n_unchanged"] == 1        # id 2: same int8 codes
    assert up["n_replaced"] == 1         # id 3: moved to the heavy blob
    assert up["n_moved"] == 1
    idx1 = read_ivf_index(spark, str(tmp_path / "out"))
    assert idx1.manifest["quantized"]
    assert idx1.postings.count() == man0["n_vectors"]


def test_streaming_upsert_refresh_into_versioned_root(
    spark, emb, tmp_path
):
    """ivf_upsert_foreach_batch (r11): a stream of re-embeddings
    lands as versioned upserts — refreshed ids are served with their
    NEW vectors, brand-new ids appear, and restarting the stream over
    the same source (at-least-once replay) publishes no further
    versions."""
    from goodtables_pandas_py_spark.extensions.vecindex import (
        ivf_index_topk,
        ivf_upsert_foreach_batch,
        read_ivf_index_current,
        write_ivf_index_version,
    )

    root = str(tmp_path / "vroot")
    base = emb.where(F.col("vec_id") < 100)
    write_ivf_index_version(base, root, nlist=4)
    dim = len(emb.first()["embedding"])

    # refresh id 5 to a brand-new direction + insert id 500
    newv = [0.0] * dim
    newv[dim - 1] = 5.0
    updates = spark.createDataFrame(
        [(5, newv), (500, [x * 1.1 for x in newv])],
        "vec_id long, embedding array<double>",
    )
    staged = str(tmp_path / "staged")
    updates.write.parquet(staged)

    def run(ckpt):
        q = (
            spark.readStream.schema(updates.schema)
            .parquet(staged)
            .writeStream.foreachBatch(ivf_upsert_foreach_batch(root))
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run("ckpt1")
    idx = read_ivf_index_current(spark, root)
    assert idx.manifest["n_vectors"] == 101
    got = ivf_index_topk(idx, newv, k=2, nprobe=4).collect()
    assert {r["id"] for r in got} == {5, 500}
    versions = sorted(os.listdir(os.path.join(root, "versions")))

    # a FRESH checkpoint replays the whole source — zero churn
    run("ckpt2")
    assert (
        sorted(os.listdir(os.path.join(root, "versions"))) == versions
    )


def test_upsert_refuses_wholly_unindexable_batch(spark, tmp_path):
    """r11 review: a re-embed wave at the WRONG dim must be refused
    loudly on both paths, never reported as a no-op replay (versioned)
    or silently audited into oblivion (flat); a MIXED batch still
    skips-and-audits the bad rows."""
    from goodtables_pandas_py_spark.extensions.vecindex import (
        upsert_into_ivf_index,
        upsert_into_ivf_index_version,
        write_ivf_index,
        write_ivf_index_version,
    )

    df = _skewed_vectors(spark)
    dim = len(df.head()["embedding"])
    src = str(tmp_path / "idx")
    root = str(tmp_path / "root")
    write_ivf_index(df, src, nlist=4, refine=1)
    write_ivf_index_version(df, root, nlist=4, refine=1)

    wrong = spark.createDataFrame(
        [(0, [1.0] * (dim * 2)), (1, [2.0] * (dim * 2))],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="unindexable against dim"):
        upsert_into_ivf_index(spark, src, str(tmp_path / "o1"), wrong)
    with pytest.raises(ValueError, match="unindexable against dim"):
        upsert_into_ivf_index_version(spark, root, wrong)
    # nothing claimed or published
    assert sorted(
        os.listdir(os.path.join(root, "versions"))
    ) == ["v00000001"]

    # mixed batch: the bad row skips-and-audits; noop replays of an
    # unchanged-but-partly-bad batch carry the unindexable count
    mixed = spark.createDataFrame(
        [(0, [1.0] * (dim * 2)),
         (1, list(df.head()["embedding"]))],   # wrong row's vec for id 1
        "vec_id long, embedding array<double>",
    )
    man = upsert_into_ivf_index_version(spark, root, mixed)
    assert man["upserted"]["n_unindexable"] == 1
    replay = upsert_into_ivf_index_version(spark, root, mixed)
    assert replay["upserted"]["noop_replay"]
    assert replay["upserted"]["n_unindexable"] == 1
    assert replay["upserted"]["n_batch"] == 2
