"""Extension operator tests (X1-X4): dedup, similarity, text,
multimodal plumbing (SURVEY.md §2.9)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from goodtables_pandas_py_spark.extensions import dedup, multimodal, similarity, text

from .conftest import load


# --- text -----------------------------------------------------------------


def test_token_count(spark):
    df = spark.createDataFrame(
        [("a b  c",), ("", ), ("  x ",), ("one",)], "t string"
    )
    got = [
        r["n"] for r in df.select(text.token_count(F.col("t")).alias("n")).collect()
    ]
    assert got == [3, 0, 1, 1]


def test_bpe_token_count(spark):
    df = spark.createDataFrame([("it's 42 cats!",)], "t string")
    n = df.select(text.token_count(F.col("t"), "bpe").alias("n")).first()["n"]
    # it | 's | ' 42' | ' cats' | '!'
    assert n == 5


def test_quality_features(spark):
    df = spark.createDataFrame([("the cat sat on the mat",)], "t string")
    q = df.select(text.quality_features(F.col("t")).alias("q")).first()["q"]
    assert q["n_tokens"] == 6
    assert q["stopword_ratio"] == pytest.approx(3 / 6)


def test_lang_id(spark):
    df = spark.createDataFrame(
        [
            ("the cat and the dog in that house",),
            ("el perro y la casa de los gatos",),
            ("der hund und die katze ist von dem haus",),
            ("zzz qqq xxx",),
        ],
        "t string",
    )
    got = [r["l"] for r in df.select(text.lang_id(F.col("t")).alias("l")).collect()]
    assert got == ["en", "es", "de", "und"]


def test_lang_id_mixed_script(spark):
    # Mostly-English text with a sprinkle of repeated zh profile chars:
    # raw character counts would beat the (capped) word-type count and
    # misreport zh; per-token/per-char coverage ratios must pick en.
    en_body = "the cat and the dog sat on the mat in the big red house " * 8
    mixed = en_body + "的的的的的的的的的的的的的的的"
    zh = "我是这的人了在和有不我是这的人了"
    df = spark.createDataFrame([(mixed,), (zh,)], "t string")
    got = [r["l"] for r in df.select(text.lang_id(F.col("t")).alias("l")).collect()]
    assert got == ["en", "zh"]


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [("Hello   World",), ("hello world",), ("different",)], "t string"
    )
    fps = [r["f"] for r in df.select(text.fingerprint_md5(F.col("t")).alias("f")).collect()]
    assert fps[0] == fps[1] != fps[2]


def test_shingles(spark):
    df = spark.createDataFrame([("a b c d",), ("a b",)], "t string")
    got = df.select(
        text.shingles(text.whitespace_tokens(F.col("t")), 3).alias("s")
    ).collect()
    assert got[0]["s"] == ["a b c", "b c d"]
    assert got[1]["s"] == []


# --- dedup ----------------------------------------------------------------


@pytest.fixture()
def near_dup_docs(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    edited = base.replace("gamma", "GAMMA", 1)
    other = "totally different words nothing shared here at all " * 5
    return spark.createDataFrame(
        [(1, base), (2, base), (3, edited), (4, other)], "doc_id long, text string"
    )


def test_exact_dedup(spark, near_dup_docs):
    out = dedup.exact_dedup(near_dup_docs, ["text"])
    assert out.count() == 3  # 1/2 collapse
    kept = dedup.exact_dedup(near_dup_docs, ["text"], keep="doc_id")
    ids = {r["doc_id"] for r in kept.collect()}
    assert ids == {1, 3, 4}  # deterministic keeper: min doc_id


def test_minhash_finds_near_dups(spark, near_dup_docs):
    pairs = dedup.minhash_dedup_pairs(near_dup_docs, threshold=0.5)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got  # exact copy
    assert (1, 3) in got or (2, 3) in got  # small edit
    assert all(4 not in p for p in got)  # unrelated doc never pairs


def test_minhash_persist_knobs_same_pairs(spark, near_dup_docs):
    """persist_banded/persist_sets are pure caching knobs: identical
    pair output, and the cached frames actually land in the cache
    manager (so the second consumer reads memory, not a recompute)."""
    base = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in dedup.minhash_dedup_pairs(
            near_dup_docs, threshold=0.5
        ).collect()
    }
    cached = dedup.minhash_dedup_pairs(
        near_dup_docs, threshold=0.5, persist_banded=True, persist_sets=True
    )
    got = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in cached.collect()
    }
    assert got == base
    # both intermediate frames registered with the cache manager
    jsc = spark._jsc.sc()
    assert not jsc.getPersistentRDDs().isEmpty()


def test_minhash_signatures_match_column_form(spark, near_dup_docs):
    """The codegen scale path and the Column form must agree."""
    fast = {
        r["id"]: r["sig"]
        for r in dedup.minhash_signatures(near_dup_docs, num_hashes=16).collect()
    }
    slow = {
        r["doc_id"]: r["sig"]
        for r in near_dup_docs.select(
            "doc_id",
            dedup.minhash_signature(F.col("text"), num_hashes=16).alias("sig"),
        ).collect()
    }
    assert fast == slow


def test_simhash_fingerprints_match_column_form(spark, near_dup_docs):
    fast = {r["id"]: r["fp"] for r in dedup.simhash_fingerprints(near_dup_docs).collect()}
    slow = {
        r["doc_id"]: r["fp"]
        for r in near_dup_docs.select(
            "doc_id", dedup.simhash64(F.col("text")).alias("fp")
        ).collect()
    }
    assert fast == slow


def test_simhash_near_dup_distance(spark, near_dup_docs):
    cands = dedup.simhash_candidates(near_dup_docs, max_hamming=3)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in cands.collect()}
    assert got[(1, 2)] == 0  # identical docs, identical fingerprint
    assert (1, 4) not in got
    # beyond the 4-chunk completeness bound the function must refuse
    # rather than silently missing qualifying pairs
    with pytest.raises(ValueError, match="completeness bound"):
        dedup.simhash_candidates(near_dup_docs, max_hamming=8)


def test_ngram_jaccard(spark):
    df = spark.createDataFrame([("a b c d e", "a b c d x")], "x string, y string")
    jac = df.select(
        dedup.ngram_jaccard(
            text.whitespace_tokens(F.col("x")),
            text.whitespace_tokens(F.col("y")),
            3,
        ).alias("j")
    ).first()["j"]
    # shingles x: {abc,bcd,cde}, y: {abc,bcd,cdx} -> 2/4
    assert jac == pytest.approx(0.5)


def test_embedding_near_dups(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),  # near-dup of 1
        (3, [0.0, 1.0, 0.0, 0.0]),  # orthogonal
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = dedup.embedding_near_dups(
        df, threshold=0.99, num_bands=4, planes_per_band=4
    )
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert got == {(1, 2)}


def test_embedding_near_dups_banded_recall(spark):
    """The point of banding: planted near-dup pairs (cosine ≥ 0.95)
    must be recovered with high recall, where a single wide bucket
    would catch only ~19% of them."""
    import numpy as np

    rng = np.random.RandomState(7)
    base = rng.standard_normal((40, 16))
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
        # planted near-duplicate of every vector: tiny perturbation
        pert = v + 0.02 * rng.standard_normal(16)
        rows.append((100 + i, [float(x) for x in pert]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = dedup.embedding_near_dups(
        df, threshold=0.95, num_bands=8, planes_per_band=8
    )
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    planted = {(i, 100 + i) for i in range(40)}
    recall = len(got & planted) / len(planted)
    assert recall >= 0.9
    # verify step guarantees precision: nothing below threshold
    exact = {
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_cosine_pairs(df, threshold=0.95).collect()
    }
    assert got <= exact


def test_embedding_cosine_pairs_exact(spark):
    rows = [
        (1, [1.0, 0.0]),
        (2, [1.0, 0.01]),  # cos ≈ 0.99995 with 1
        (3, [0.0, 1.0]),  # orthogonal to 1
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in dedup.embedding_cosine_pairs(df, threshold=0.9).collect()
    }
    assert set(out) == {(1, 2)}
    assert out[(1, 2)] == pytest.approx(0.99995, abs=1e-4)


# --- similarity -----------------------------------------------------------


def test_cosine_topk_exact(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    q = emb.where("vec_id = 0").first()["embedding"]
    top = similarity.cosine_topk(emb, [float(x) for x in q], k=3).collect()
    assert top[0]["vec_id"] == 0
    assert top[0]["cosine"] == pytest.approx(1.0)
    # descending
    assert top[0]["cosine"] >= top[1]["cosine"] >= top[2]["cosine"]


def test_ann_topk_contains_self(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    q = emb.where("vec_id = 0").first()["embedding"]
    got = [r["vec_id"] for r in similarity.ann_topk(emb, [float(x) for x in q], k=3).collect()]
    assert got[0] == 0  # query bucket always contains the query itself


def test_ann_topk_pre_assigned_serving_path(spark, sf_dir, tmp_path):
    """The assign-once serving shape (VERDICT r4 §next 1): ann_assign →
    persist → ann_topk(sig_col=...) must (a) return the same rows as
    the inline path, and (b) plan ZERO signature recompute — no
    Arrow/Python eval node anywhere in the query plan, just a filter on
    the stored column."""
    emb = load(spark, sf_dir, "embeddings")
    q = [float(x) for x in emb.where("vec_id = 0").first()["embedding"]]
    assigned = similarity.ann_assign(emb)
    stored = str(tmp_path / "assigned")
    assigned.write.parquet(stored)
    served = spark.read.parquet(stored)

    topk_served = similarity.ann_topk(served, q, k=5, sig_col="ann_sig")
    explained = topk_served._jdf.queryExecution().executedPlan().toString()
    for node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert node not in explained, f"signature recompute in plan: {node}"
    # the probe set is an IN-list pushed down to the parquet source
    # (prunable), not arithmetic on the column (full scan)
    assert "PushedFilters: [In(ann_sig" in explained, explained

    inline = [r["vec_id"] for r in similarity.ann_topk(emb, q, k=5).collect()]
    got = [r["vec_id"] for r in topk_served.collect()]
    assert got == inline and got[0] == 0


def test_ann_topk_bucketed_table_prunes_buckets(spark, sf_dir, tmp_path):
    """The full 100 TB serving layout: ann_assign → write_bucketed by
    signature → ann_topk reads only the probe buckets
    (SelectedBucketsCount in the scan, strictly fewer than total)."""
    from goodtables_pandas_py_spark.sources import write_bucketed

    emb = load(spark, sf_dir, "embeddings")
    q = [float(x) for x in emb.where("vec_id = 1").first()["embedding"]]
    assigned = similarity.ann_assign(emb)
    # 64 buckets vs 13 probe signatures (hamming ≤ 1 of 12 planes):
    # at most 13 buckets can be selected — pruning is visible
    table = write_bucketed(
        assigned, "ann_serving_test", ["ann_sig"], num_buckets=64,
        path=str(tmp_path / "ann_bucketed"),
    )
    try:
        # filter-only queries have no join/agg for bucketing to help,
        # so the auto-bucketed-scan rule switches to a plain scan and
        # forfeits bucket pruning — serving deployments pin it off
        spark.conf.set(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false"
        )
        topk = similarity.ann_topk(
            table, q, k=5, sig_col="ann_sig", probe_hamming=1
        )
        plan = topk._jdf.queryExecution().executedPlan().toString()
        import re

        m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
        assert m, plan
        assert int(m.group(1)) <= 13 < int(m.group(2)), m.group(0)
        assert [r["vec_id"] for r in topk.collect()][0] == 1
    finally:
        spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
        spark.sql("DROP TABLE IF EXISTS ann_serving_test")


def test_ann_query_signature_matches_assign(spark):
    """Driver-side query signature and executor-side ann_assign must
    use the same hyperplanes: signing a vector via ann_assign equals
    ann_query_signature of that vector."""
    import random

    random.seed(5)
    rows = [(i, [random.uniform(-1, 1) for _ in range(12)]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r["vec_id"]: r["ann_sig"]
        for r in similarity.ann_assign(df, num_planes=10, seed=7).collect()
    }
    for vid, vec in rows:
        assert got[vid] == similarity.ann_query_signature(
            vec, num_planes=10, seed=7
        ), vid


def test_similarity_join_topk_per_left(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings").limit(50)
    out = similarity.similarity_join(emb, emb, k=2)
    counts = out.groupBy("left_id").count().collect()
    assert all(r["count"] <= 2 for r in counts)


def test_similarity_join_banded_recall(spark):
    """The banding's point (mirrors the near-dup recall test): for
    every left row with a planted near-duplicate (cosine ≥ 0.95) on
    the right, the top-1 approximate match must be that duplicate with
    high recall — a single 8-plane bucket would find only ~60% of
    them. Also: reported cosines must agree with the exact knn_join
    for the pairs both return (verify step is exact)."""
    import numpy as np

    rng = np.random.RandomState(11)
    base = rng.standard_normal((40, 16))
    left_rows, right_rows = [], []
    for i, v in enumerate(base):
        left_rows.append((i, [float(x) for x in v]))
        pert = v + 0.02 * rng.standard_normal(16)
        right_rows.append((100 + i, [float(x) for x in pert]))
        # decoys: orthogonal-ish noise vectors
        right_rows.append((200 + i, [float(x) for x in rng.standard_normal(16)]))
    left = spark.createDataFrame(left_rows, "vec_id long, embedding array<float>")
    right = spark.createDataFrame(right_rows, "vec_id long, embedding array<float>")
    out = similarity.similarity_join(
        left, right, k=1, num_bands=8, planes_per_band=4
    )
    got = {r["left_id"]: r["right_id"] for r in out.collect()}
    hits = sum(1 for i in range(40) if got.get(i) == 100 + i)
    assert hits / 40 >= 0.9, f"recall {hits / 40}"


def test_dot_and_norm(spark):
    df = spark.createDataFrame([([3.0, 4.0], [1.0, 0.0])], "a array<double>, b array<double>")
    r = df.select(
        similarity.dot(F.col("a"), F.col("b")).alias("d"),
        similarity.norm(F.col("a")).alias("n"),
        similarity.cosine(F.col("a"), F.col("a")).alias("c"),
    ).first()
    assert r["d"] == 3.0 and r["n"] == 5.0 and r["c"] == pytest.approx(1.0)


# --- multimodal -----------------------------------------------------------


def test_multimodal_feature_plumbing(spark):
    media = multimodal.demo_media_df(spark, n=16)
    feats = multimodal.extract_features(media)
    rows = feats.collect()
    assert len(rows) == 16
    assert all(r["decode_ok"] for r in rows)
    assert all(len(r["feature"]) == multimodal.FEATURE_DIM for r in rows)
    # deterministic: same blob -> same feature
    again = {r["media_id"]: r["feature"] for r in multimodal.extract_features(media).collect()}
    assert again == {r["media_id"]: r["feature"] for r in rows}


def test_multimodal_decoder_rejects_garbage():
    # r6: decode_image is REAL now (PNG/BMP via the pure codec) —
    # unrecognized bytes raise the codec's typed error, not a stub's
    from goodtables_pandas_py_spark.extensions.imagecodec import ImageDecodeError

    with pytest.raises(ImageDecodeError):
        multimodal.decode_image(b"bytes")


def test_multimodal_metadata(spark):
    media = multimodal.attach_media_metadata(multimodal.demo_media_df(spark, n=4))
    r = media.first()
    assert r["media_meta"]["n_bytes"] == len(r["blob"])


def test_ivf_topk_precomputed_centroids_no_training(spark, sf_dir, monkeypatch):
    """The 100 TB call shape: ivf_assign once, then every query with
    centroids= on the pre-assigned table must launch ZERO training
    jobs and ZERO re-assignment — both are poisoned to prove it."""
    emb = load(spark, sf_dir, "embeddings")
    assigned, cents = similarity.ivf_assign(emb, nlist=8, refine=1)
    q = [float(x) for x in emb.where("vec_id = 0").first()["embedding"]]

    def _boom(*a, **k):
        raise AssertionError("ivf_topk retrained/re-assigned")

    monkeypatch.setattr(similarity, "_centroid_rows", _boom)
    monkeypatch.setattr(similarity, "_nearest_cid", _boom)
    out = similarity.ivf_topk(assigned, q, k=5, centroids=cents).collect()
    assert out[0]["vec_id"] == 0
    assert out[0]["cosine"] == pytest.approx(1.0)


def test_ivf_topk_recall(spark):
    """IVF with full probe coverage must equal brute force; with
    partial probes it must keep most of the true top-k (recall)."""
    import numpy as np
    from goodtables_pandas_py_spark.extensions import similarity as xsim

    rng = np.random.RandomState(7)
    vecs = rng.standard_normal((200, 16)).astype(float)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(200)],
        "vec_id long, embedding array<double>",
    )
    q = [float(x) for x in vecs[3]]
    exact = [r["vec_id"] for r in xsim.cosine_topk(df, q, k=10).collect()]
    # all lists probed -> identical to brute force
    full = [
        r["vec_id"]
        for r in xsim.ivf_topk(df, q, k=10, nlist=8, nprobe=8).collect()
    ]
    assert full == exact
    # partial probes -> the query's own vector still found, recall ≥ 50%
    part = [
        r["vec_id"]
        for r in xsim.ivf_topk(df, q, k=10, nlist=8, nprobe=3).collect()
    ]
    assert 3 in part
    assert len(set(part) & set(exact)) >= 5


def test_multimodal_resize_plumbing(spark):
    media = multimodal.demo_media_df(spark, n=8)
    out = multimodal.resize_images(media, width=4, height=3).collect()
    assert len(out) == 8
    for r in out:
        assert r["resize_ok"] is True
        assert (r["width"], r["height"]) == (4, 3)
        assert len(r["blob"]) == 12  # width*height bytes from the fake
    # deterministic across runs
    again = {
        r["media_id"]: bytes(r["blob"])
        for r in multimodal.resize_images(media, width=4, height=3).collect()
    }
    assert {r["media_id"]: bytes(r["blob"]) for r in out} == again


def test_knn_join_exact(spark):
    rows = [
        (1, [1.0, 0.0]),
        (2, [0.9, 0.1]),
        (3, [0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.knn_join(df, df, k=1).collect()
    best = {r["left_id"]: r["right_id"] for r in out}
    # 1's nearest (excluding itself) is 2 and vice versa; 3's is 2
    assert best == {1: 2, 2: 1, 3: 2}
    assert all(0.0 <= r["cosine"] <= 1.0 for r in out)


def test_knn_join_blocked_matches_loop_twin(spark):
    """The r5 blocked-matmul exact kNN (mapInPandas + window merge)
    must reproduce the legacy cross-join+window form row-for-row on a
    dataset engineered with every edge the merge must get right:
    score ties broken by id across partitions, duplicate vectors,
    zero-norm vectors (score 0.0), null and ragged vectors on BOTH
    sides (NULL score, sorts last, pads short lists), self-exclusion,
    and fewer scorable rows than k."""
    import math

    rows = [
        (1, [1.0, 0.0]),
        (2, [1.0, 0.0]),       # duplicate of 1 → exact tie
        (3, [0.9, 0.1]),
        (4, [0.0, 1.0]),
        (5, [0.0, 0.0]),       # zero-norm → cosine 0.0 everywhere
        (6, None),             # null vector → NULL score
        (7, [1.0, 0.0, 0.0]),  # ragged → NULL score
        (8, [-1.0, 0.0]),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).repartition(4)

    def key(r):
        c = -2.0 if r["cosine"] is None else r["cosine"]
        return (r["left_id"], -c, r["right_id"])

    for k in (2, 7):
        got = sorted(
            similarity.knn_join(df, df, k=k, method="blocked").collect(), key=key
        )
        want = sorted(
            similarity.knn_join(df, df, k=k, method="loop").collect(), key=key
        )
        assert [tuple(r) for r in got] == [
            tuple(r) for r in want
        ], f"k={k}: {got} != {want}"
        # every left row (including unscorable ones) gets min(k, n-1) rows
        per_left = {}
        for r in got:
            per_left[r["left_id"]] = per_left.get(r["left_id"], 0) + 1
        assert per_left == {i: min(k, len(rows) - 1) for i in range(1, 9)}
        assert all(
            r["cosine"] is None or not math.isnan(r["cosine"]) for r in got
        )


def test_similarity_join_tolerates_null_lead_vector(spark):
    """Regression (ADVICE r3): a null vector in the probe row made
    F.size return -1, which reached numpy as a negative shape. The dim
    probe must skip nulls; null-vector rows simply produce no bands."""
    rows = [
        (1, None),
        (2, [1.0, 0.0]),
        (3, [0.95, 0.05]),
        (4, [0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = similarity.similarity_join(df, df, k=2, num_bands=4, planes_per_band=2)
    got = out.collect()
    assert all(r["left_id"] != 1 and r["right_id"] != 1 for r in got)
    # the two near-parallel vectors must still find each other
    assert any(
        {r["left_id"], r["right_id"]} == {2, 3} and r["cosine"] > 0.9 for r in got
    )


def test_similarity_join_all_null_vectors_yields_typed_empty(spark):
    left = spark.createDataFrame(
        [(1, None), (2, None)], "vec_id long, embedding array<double>"
    )
    right = spark.createDataFrame(
        [("r1", [1.0, 0.0])], "vec_id string, embedding array<double>"
    )
    out = similarity.similarity_join(left, right, k=1)
    assert out.count() == 0
    # empty-result schema takes each id type from its own side
    fields = {f.name: f.dataType.simpleString() for f in out.schema.fields}
    assert fields["left_id"] == "bigint"
    assert fields["right_id"] == "string"


def test_embedding_near_dups_tolerates_null_lead_vector(spark):
    rows = [(1, None), (2, [1.0, 0.0, 0.0]), (3, [0.99, 0.01, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = dedup.embedding_near_dups(
        df, threshold=0.9, num_bands=4, planes_per_band=2
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in out} == {(2, 3)}


def test_embedding_cosine_pairs_block_bound_is_equijoin(spark):
    """block_size must turn the exact-pairs self-join into an
    equi-join on the block key (linear in n) and only compare
    same-block pairs."""
    rows = [(i, [float(i % 7 + 1), 1.0]) for i in range(300)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    bounded = dedup.embedding_cosine_pairs(df, threshold=0.0, block_size=100)
    plan = bounded._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    got = bounded.select("id_a", "id_b").collect()
    assert all(r["id_a"] // 100 == r["id_b"] // 100 for r in got)
    # within one block the pair set is complete
    n_block0 = sum(1 for r in got if r["id_a"] < 100)
    assert n_block0 == 100 * 99 // 2


def test_cap_buckets_drops_hot_buckets(spark):
    """The skew guard: a hot bucket is dropped by a COUNT pass (never
    a collect_list of its rows), small buckets survive, singletons
    are dropped at the default min_bucket=2."""
    rows = (
        [(i, "hot") for i in range(50)]
        + [(100, "small"), (101, "small")]
        + [(200, "single")]
    )
    df = spark.createDataFrame(rows, "id long, bh string")
    kept = dedup.cap_buckets(df, ["bh"], max_bucket=10)
    got = {r["bh"] for r in kept.collect()}
    assert got == {"small"}
    # min_bucket=1 keeps singletons (left/right join use)
    kept1 = dedup.cap_buckets(df, ["bh"], max_bucket=10, min_bucket=1)
    assert {r["bh"] for r in kept1.collect()} == {"small", "single"}
    # None disables entirely
    assert dedup.cap_buckets(df, ["bh"], None).count() == len(rows)


def test_bucket_pairs_match_brute_force_pairing(spark):
    """The one LSH pairing kernel against a Python all-pairs-per-bucket
    reference: buckets of size 1 (no pair), 2, max_bucket and
    max_bucket + 1 (dropped whole by the cap), an id repeated inside
    one bucket (never paired with itself), a pair shared by two
    buckets (emitted once), and max_bucket=None (no cap at all)."""
    from collections import defaultdict

    cap = 4
    buckets = {
        (0, "one"): [9],
        (0, "two"): [1, 2],
        (0, "full"): [3, 0, 2, 1],
        (0, "over"): [4, 5, 6, 7, 8],
        (1, "two"): [3, 3],
        (1, "full"): [8, 5, 6, 9],
    }
    rows = [(i, band, bh) for (band, bh), ids in buckets.items() for i in ids]
    df = spark.createDataFrame(rows, "id long, band int, bh string")

    def brute(max_bucket):
        by = defaultdict(list)
        for i, band, bh in rows:
            by[(band, bh)].append(i)
        return {
            (a, b)
            for ids in by.values()
            if max_bucket is None or 2 <= len(ids) <= max_bucket
            for a in ids for b in ids if a < b
        }

    for max_bucket in (cap, None):
        got = [
            (r["id_a"], r["id_b"])
            for r in dedup._bucket_pairs(df, ["band", "bh"], max_bucket).collect()
        ]
        assert len(got) == len(set(got))
        assert set(got) == brute(max_bucket), max_bucket
    assert (4, 5) not in brute(cap) and (4, 5) in brute(None)


def test_minhash_candidates_hot_bucket_capped(spark):
    """200 identical docs form one hot bucket per band; with
    max_bucket=50 no candidate pair may come out of them, while a
    distinct near-dup pair elsewhere still surfaces."""
    docs = [(i, "aaa bbb ccc ddd eee fff ggg hhh") for i in range(200)]
    docs += [
        (500, "the quick brown fox jumps over the lazy dog today"),
        (501, "the quick brown fox jumps over the lazy dog tonight"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    pairs = dedup.minhash_candidates(df, max_bucket=50).collect()
    ids = {x for r in pairs for x in (r["id_a"], r["id_b"])}
    assert ids == {500, 501}, ids
    # uncapped, the boilerplate pairs flood back
    n_uncapped = dedup.minhash_candidates(df, max_bucket=100000).count()
    assert n_uncapped == 200 * 199 // 2 + 1


def test_similarity_join_bucket_cap(spark):
    """max_bucket bounds each side's bucket contribution; near-dup
    pairs outside hot buckets still rank."""
    rows = [(i, [1.0, 0.0]) for i in range(40)]  # hot: identical vectors
    rows += [(100, [0.0, 1.0]), (101, [0.01, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = similarity.similarity_join(
        df, df, k=1, num_bands=4, planes_per_band=2, max_bucket=10
    ).collect()
    pairs = {(r["left_id"], r["right_id"]) for r in out}
    assert (100, 101) in pairs and (101, 100) in pairs
    # the hot-bucket ids produced no candidates under the cap
    assert all(l not in range(40) for l, _ in pairs)


def test_rp_band_signatures_match_per_band_form(spark):
    """The Arrow-batched all-bands matmul must be bit-for-bit identical
    to the per-band Column-algebra rp_signature (same seeds, same
    packing) — the LSH bucketing contract across both code paths.
    Ragged rows (2 and 5 wide) get NULL from both forms, never a
    shared bucket-0 signature."""
    import random

    random.seed(7)
    rows = [
        (i, [random.uniform(-1, 1) for _ in range(16)]) for i in range(50)
    ]
    rows += [(50, [0.5, -0.5]), (51, [0.1, 0.2, 0.3, 0.4, 0.5])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r["vec_id"]: r["sigs"]
        for r in df.select(
            "vec_id",
            similarity.rp_band_signatures(
                F.col("embedding"), dim=16, num_bands=4, planes_per_band=8, seed=9
            ).alias("sigs"),
        ).collect()
    }
    for b in range(4):
        per_band = {
            r["vec_id"]: r["s"]
            for r in df.select(
                "vec_id",
                similarity.rp_signature(
                    df, "embedding", num_planes=8, seed=9 * 1000 + b, dim=16
                ).alias("s"),
            ).collect()
        }
        for vid, s in per_band.items():
            want = None if got[vid] is None else got[vid][b]
            assert want == s, (vid, b, want, s)
    assert got[50] is None and got[51] is None


def test_pair_components_labels_min_reachable(spark):
    """Min-label propagation to fixpoint: chain 1-2-3 plus isolated
    pair (10,11) → components {1,2,3}->1 and {10,11}->10; converges
    even though 3 never pairs with 1 directly."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    got = {
        r["id"]: r["component"]
        for r in dedup.pair_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_pair_components_long_chain_converges_fast(spark):
    """Path halving makes convergence O(log diameter): a 64-node chain
    (diameter 63) must label every node with the min id well inside
    max_iter=25 — one-hop propagation alone would need 63 rounds and
    raise."""
    n = 64
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    got = {
        r["id"]: r["component"]
        for r in dedup.pair_components(pairs, max_iter=25).collect()
    }
    assert got == {i: 0 for i in range(n)}


def test_near_dedup_cc_vs_greedy_star(spark):
    """Survivorship policies differ on a STAR (1~3, 2~3 but 1≁2):
    greedy drops only the id_b's -> keeps {1,2}; cc collapses the
    whole component -> keeps {1} (VERDICT r4 §next 4). Injected pairs
    make the topology exact."""
    df = spark.createDataFrame(
        [(1, "hub a"), (2, "hub b"), (3, "the hub itself"), (9, "lone")],
        "doc_id long, text string",
    )
    star = spark.createDataFrame([(1, 3), (2, 3)], "id_a long, id_b long")
    greedy = sorted(
        r["doc_id"] for r in dedup.near_dedup(df, pairs=star).collect()
    )
    cc = sorted(
        r["doc_id"]
        for r in dedup.near_dedup(df, pairs=star, policy="cc").collect()
    )
    assert greedy == [1, 2, 9]
    assert cc == [1, 9]


def test_near_dedup_cc_chain_keeps_min(spark):
    """A chain a~b~c (no a~c pair) keeps exactly {a} under cc — one
    representative per connected component."""
    df = spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, "z"), (7, "other")],
        "doc_id long, text string",
    )
    chain = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    cc = sorted(
        r["doc_id"]
        for r in dedup.near_dedup(df, pairs=chain, policy="cc").collect()
    )
    assert cc == [1, 7]


@pytest.mark.parametrize("dim", [3, 300])
def test_fixed_dim_kernels_null_on_ragged(spark, dim):
    """With ``dim`` given, dot/norm/cosine (hoisted norms too) yield
    NULL for any vector whose length differs from ``dim`` — below the
    expansion cap (3) and above it (300) alike — never a silently
    prefix-truncated 'plausible' value (ADVICE r4)."""
    e = [1.0] + [0.0] * (dim - 1)
    rows = [
        (1, e, e),  # clean
        (2, e + [5.0], e),  # a too long
        (3, e[:-1], e),  # a too short
        (4, [0.0] * dim, [1.0] * (dim - 1)),  # zero a, b too short
    ]
    df = spark.createDataFrame(rows, "id long, a array<double>, b array<double>")
    a, b = F.col("a"), F.col("b")
    na, nb = similarity.norm(a, dim), similarity.norm(b, dim)
    got = {
        r[0]: tuple(r[1:])
        for r in df.select(
            "id",
            similarity.dot(a, b, dim),
            similarity.cosine(a, b, dim),
            similarity.cosine(a, b, dim, norms=(na, nb)),
            na,
            nb,
        ).collect()
    }
    assert got[1] == (1.0, 1.0, 1.0, 1.0, 1.0)
    assert got[2] == (None, None, None, None, 1.0)
    assert got[3] == (None, None, None, None, 1.0)
    assert got[4] == (None, None, None, 0.0, None)


def test_rp_band_signatures_ragged_rows_get_null(spark):
    """A batch containing empty/ragged/null vectors must not crash the
    matmul (np.stack ValueError, ADVICE r4): bad rows get a NULL
    signature array, clean rows keep their exact signatures."""
    import random

    random.seed(11)
    clean = [(i, [random.uniform(-1, 1) for _ in range(8)]) for i in range(10)]
    dirty = clean + [(100, []), (101, [1.0, 2.0]), (102, None)]
    clean_df = spark.createDataFrame(clean, "vec_id long, embedding array<double>")
    dirty_df = spark.createDataFrame(dirty, "vec_id long, embedding array<double>")
    sig = lambda d: d.select(  # noqa: E731
        "vec_id",
        similarity.rp_band_signatures(
            F.col("embedding"), dim=8, num_bands=2, planes_per_band=6, seed=3
        ).alias("s"),
    )
    want = {r["vec_id"]: r["s"] for r in sig(clean_df).collect()}
    got = {r["vec_id"]: r["s"] for r in sig(dirty_df.coalesce(1)).collect()}
    for vid, s in want.items():
        assert got[vid] == s, (vid, got[vid], s)
    assert got[100] is None and got[101] is None and got[102] is None


def test_near_dedup_end_to_end(spark):
    """Min-id survivorship: one representative per near-dup cluster
    survives, distinct docs untouched, schema unchanged."""
    docs = [
        (1, "the quick brown fox jumps over the lazy dog again today"),
        (2, "the quick brown fox jumps over the lazy dog again tonight"),
        (3, "the quick brown fox jumps over the lazy dog again today"),
        (10, "completely different text about distributed query engines"),
        (11, "yet another unrelated document mentioning spark catalyst"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = dedup.near_dedup(df, threshold=0.5)
    assert out.columns == df.columns
    kept = sorted(r["doc_id"] for r in out.collect())
    # 1,2,3 form one cluster -> min id 1 survives; 10 and 11 untouched
    assert kept == [1, 10, 11], kept


def test_clean_corpus_rules_and_reasons(spark):
    from goodtables_pandas_py_spark.extensions.text import clean_corpus

    rows = [
        (1, "The quick brown fox jumps over the lazy dog near the river bank."),
        (2, "short"),                                   # too few tokens
        (3, "!!! ??? ;;; ### $$$ %%% ^^^ &&& *** ((("),  # punct + no words
        (4, "a b c d e f g h i j"),                      # mean word len 1
        (5, None),                                       # null text
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    kept = clean_corpus(df)
    assert {r["doc_id"] for r in kept.collect()} == {1}
    assert kept.columns == df.columns  # schema unchanged

    audited = clean_corpus(df, with_reasons=True)
    by_id = {r["doc_id"]: r for r in audited.collect()}
    assert by_id[1]["keep"] and by_id[1]["drop_reasons"] == []
    assert not by_id[2]["keep"]
    assert "too_few_tokens" in by_id[2]["drop_reasons"]
    assert "too_much_punct" in by_id[3]["drop_reasons"]
    assert "mean_word_too_short" in by_id[4]["drop_reasons"]
    # null text fails closed with every rule as the reason
    assert not by_id[5]["keep"] and len(by_id[5]["drop_reasons"]) > 0

    # audit shape partitions the corpus: keep + drop == all
    n_keep = audited.where("keep").count()
    assert n_keep == 1 and audited.count() == len(rows)


def test_clean_corpus_lang_and_stopword_gates(spark):
    from goodtables_pandas_py_spark.extensions.text import clean_corpus

    rows = [
        (1, "the cat sat on the mat and it was happy for a while there"),
        (2, "el perro corre por la calle y los gatos duermen en las casas"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kept = clean_corpus(df, allowed_langs=["en"], min_stopword_ratio=0.1)
    assert {r["doc_id"] for r in kept.collect()} == {1}
    audited = clean_corpus(df, allowed_langs=["en"], with_reasons=True)
    by_id = {r["doc_id"]: r for r in audited.collect()}
    assert "lang_not_allowed" in by_id[2]["drop_reasons"]


def test_clean_corpus_is_single_stage_no_shuffle(spark, sf_dir):
    """The cleaning filter must stay a map-only plan: no Exchange, no
    Python, and column pruning reaching the scan."""
    from goodtables_pandas_py_spark.extensions.text import clean_corpus

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = (
        clean_corpus(d.select("doc_id", "text"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_audio_window_plan_shapes(spark):
    from goodtables_pandas_py_spark.extensions.multimodal import (
        attach_media_metadata, audio_window_plan, demo_media_df,
    )

    media = attach_media_metadata(demo_media_df(spark, n=8))
    plan = audio_window_plan(media, window_ms=2000, hop_ms=1000)
    rows = plan.collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r["media_id"], []).append(r)
    metas = {r["media_id"]: r["media_meta"] for r in media.collect()}
    for mid, wins in by_id.items():
        dur = metas[mid]["duration_ms"] or 0
        # every media id yields >= 1 window row, even zero duration
        assert len(wins) >= 1
        for w in wins:
            assert 0 <= w["win_start_ms"] <= max(dur - 1, 0)
            assert w["win_end_ms"] == min(w["win_start_ms"] + 2000, dur)
        # hop coverage: starts are exactly 0, 1000, 2000, ...
        starts = sorted(w["win_start_ms"] for w in wins)
        assert starts == list(range(0, (max(dur - 1, 0)) + 1, 1000))
    assert set(by_id) == set(metas)  # no media id dropped

    # the plan is JVM-side only: no Python eval in the expansion
    p = plan._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_prepare_corpus_end_to_end(spark):
    from goodtables_pandas_py_spark.extensions.pipeline import (
        prepare_corpus,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog by the river"),
        (2, "the quick brown fox jumps over the lazy dog by the stream"),
        (3, "short"),  # dropped by quality
        (4, "an entirely different document about spark query planning"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    prep = prepare_corpus(df, dedup_threshold=0.5, audit=True)

    kept_ids = {r["doc_id"] for r in prep.kept.collect()}
    assert 3 not in kept_ids            # quality-filtered
    assert 4 in kept_ids                # unique survives
    assert kept_ids & {1, 2} == {1}     # near-dups keep min id
    assert prep.n_input == 4
    assert prep.n_after_quality == 3
    assert prep.n_after_dedup == 2
    audit = {r["doc_id"]: r for r in prep.quality_audit.collect()}
    assert not audit[3]["keep"] and audit[1]["keep"]
    assert prep.kept.columns == df.columns

    # lazy path returns without running any job and computes the same
    lazy = prepare_corpus(df, dedup_threshold=0.5)
    assert {r["doc_id"] for r in lazy.kept.collect()} == kept_ids


@pytest.mark.slow
def test_prepare_corpus_decontaminates_against_eval_sets(spark):
    from goodtables_pandas_py_spark.extensions.pipeline import (
        prepare_corpus,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog by the river"),
        (4, "an entirely different document about spark query planning"),
        (5, "totally fresh content with no relation to any benchmark"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    evals = spark.createDataFrame(
        [(100, "quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    prep = prepare_corpus(
        df,
        dedup_threshold=0.5,
        eval_sets=evals,
        decontam_ngram=3,
        decontam_ratio=0.9,
        audit=True,
    )
    kept_ids = {r["doc_id"] for r in prep.kept.collect()}
    assert 1 not in kept_ids  # contains the full eval doc -> dropped
    assert kept_ids == {4, 5}
    assert prep.n_after_dedup == 3
    assert prep.n_after_decontam == 2
    assert prep.kept.columns == df.columns

    # without eval_sets the count stays None and nothing is dropped
    plain = prepare_corpus(df, dedup_threshold=0.5, audit=True)
    assert plain.n_after_decontam is None
    assert {r["doc_id"] for r in plain.kept.collect()} == {1, 4, 5}


def test_embedding_quantization_roundtrip_cosine(spark, sf_dir):
    """int8 quantize/dequantize: 4x smaller storage, cosine within 1%
    of the original on the real embeddings table; null/empty vectors
    quantize to null."""
    from goodtables_pandas_py_spark.extensions.similarity import (
        cosine,
        dequantize_embedding,
        quantize_embedding,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(200)
    vec = F.col("embedding").cast("array<double>")
    q = emb.select(
        "vec_id",
        vec.alias("v"),
        dequantize_embedding(quantize_embedding(vec)).alias("dq"),
    )
    err = q.select(
        cosine(
            F.col("v"), F.col("dq").cast("array<double>")
        ).alias("cos")
    ).agg(F.min("cos").alias("worst")).first()["worst"]
    assert err > 0.99, err

    edge = spark.createDataFrame(
        [(1, None), (2, [])], "id long, v array<double>"
    )
    got = edge.select(quantize_embedding(F.col("v")).alias("q")).collect()
    assert all(r["q"] is None for r in got)


def test_quantize_embedding_rejects_unrepresentable_scale(spark):
    from goodtables_pandas_py_spark.extensions.similarity import (
        quantize_embedding,
    )

    with pytest.raises(ValueError):
        quantize_embedding(F.lit(None), scale_to=255.0)
    with pytest.raises(ValueError):
        quantize_embedding(F.lit(None), scale_to=0.0)


def test_repetition_features_values(spark):
    from goodtables_pandas_py_spark.extensions.text import (
        repetition_features,
    )

    rows = [
        # 4 non-blank lines, "spam me" (7 chars) repeated 3x.
        # Gopher counts ALL occurrences of duplicated lines: 3/4 dup
        # lines; chars 21 of 46 inside duplicated lines
        (1, "spam me\nspam me\nspam me\na much longer unique line"),
        (2, "all lines\nare different\nhere entirely"),
        (3, ""),
        (4, None),
        # "a b a b a b": normalized len 11; top 2-gram "a b" occurs
        # 3x of 5 -> 3*3/11 chars
        (5, "a b a b a b"),
        # CRLF document with blank lines: '\r' remnants are
        # whitespace-only, NOT duplicated lines (regression)
        (6, "first real line\r\n\r\nsecond real line\r\n\r\nthird one\r\n"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["rep"] for r in df.select(
        "doc_id", repetition_features(F.col("text")).alias("rep")
    ).collect()}
    assert got[1]["dup_line_frac"] == pytest.approx(3 / 4)
    assert got[1]["dup_line_char_frac"] == pytest.approx(21 / 46)
    assert got[2]["dup_line_frac"] == 0.0
    assert got[3]["dup_line_frac"] == 0.0
    assert got[3]["top_2gram_char_frac"] == 0.0
    assert got[4]["dup_line_frac"] == 0.0
    assert got[5]["top_2gram_char_frac"] == pytest.approx(9 / 11)
    assert got[5]["dup_line_frac"] == 0.0
    assert got[6]["dup_line_frac"] == 0.0
    assert got[6]["dup_line_char_frac"] == 0.0


def test_clean_corpus_repetition_rules(spark):
    from goodtables_pandas_py_spark.extensions.text import clean_corpus

    spammy = "buy now click here\n" * 20 + "ok some real content exists"
    clean = "\n".join(
        f"genuinely different sentence number {i} talks about topic {i*7}"
        for i in range(10)
    )
    df = spark.createDataFrame(
        [(1, spammy), (2, clean)], "doc_id long, text string"
    )
    # repetition rules off by default: both kept
    assert clean_corpus(df).count() == 2
    out = clean_corpus(df, max_dup_line_frac=0.3, with_reasons=True)
    got = {r["doc_id"]: (r["keep"], list(r["drop_reasons"])) for r in out.collect()}
    assert got[1] == (False, ["too_many_dup_lines"])
    assert got[2][0] is True


def test_analyze_documents_single_projection_with_repetition(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    prof = text.analyze_documents(docs)
    assert {"n_tokens", "quality", "repetition", "lang_pred"} <= set(
        prof.columns
    )
    row = prof.limit(1).collect()[0]
    assert set(row["repetition"].asDict()) == {
        "dup_line_frac", "dup_line_char_frac",
        "top_2gram_char_frac", "top_3gram_char_frac",
    }
    plan = prof._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # one map-only projection, no shuffle


def test_write_release_manifest_and_partitioning(spark, sf_dir, tmp_path):
    import json
    import os

    from goodtables_pandas_py_spark.extensions.pipeline import (
        write_release,
    )
    from goodtables_pandas_py_spark.extensions.splits import hash_split

    docs = load(spark, sf_dir, "documents")
    out = str(tmp_path / "release")
    rel = hash_split(docs.select("doc_id", "text"), salt="rel1")
    manifest = write_release(
        rel, out, manifest_extra={"salt": "rel1", "release": "r5-test"}
    )
    assert manifest["n_rows"] == docs.count()
    assert set(manifest["row_counts"]) == {"train", "val", "test"}
    assert manifest["salt"] == "rel1"
    # hive layout by split + manifest on disk
    assert sorted(
        d for d in os.listdir(f"{out}/data.parquet") if d.startswith("split=")
    ) == ["split=test", "split=train", "split=val"]
    with open(f"{out}/manifest.json") as f:
        assert json.load(f) == manifest
    # read-back parity
    back = spark.read.parquet(f"{out}/data.parquet")
    assert back.count() == manifest["n_rows"]
    # no split column: single dataset + 'all' count
    m2 = write_release(docs.select("doc_id"), str(tmp_path / "r2"))
    assert m2["row_counts"] == {"all": docs.count()}


def test_write_release_null_split_and_extra_collision(spark, tmp_path):
    """Regressions: a null split key must not crash the manifest dump
    (it lands under '__null__'), and manifest_extra cannot overwrite
    the audited computed keys."""
    import json

    from goodtables_pandas_py_spark.extensions.pipeline import (
        write_release,
    )

    df = spark.createDataFrame(
        [(1, "train"), (2, None), (3, "val")], "doc_id long, split string"
    )
    out = str(tmp_path / "rel_null")
    manifest = write_release(
        df, out, manifest_extra={"n_rows": -999, "note": "kept"}
    )
    assert manifest["row_counts"] == {"train": 1, "__null__": 1, "val": 1}
    assert manifest["n_rows"] == 3      # computed key wins over extra
    assert manifest["note"] == "kept"
    with open(f"{out}/manifest.json") as f:
        assert json.load(f)["n_rows"] == 3


def test_pair_components_uses_reliable_checkpoint_when_dir_set(spark, tmp_path):
    """docs/TUNING.md promise: with sc.setCheckpointDir configured,
    lineage truncation goes through reliable checkpoint() (survives
    executor loss) — verified by checkpoint files landing in the dir;
    results identical to the localCheckpoint path."""
    import os

    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    ckpt = str(tmp_path / "ckpt")
    sc.setCheckpointDir(ckpt)
    try:
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
        )
        got = {
            r["id"]: r["component"]
            for r in dedup.pair_components(pairs).collect()
        }
        assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
        ckpt_files = [
            os.path.join(root, f)
            for root, _, files in os.walk(ckpt) for f in files
        ]
        assert ckpt_files, "no reliable checkpoint files written"
    finally:
        # restore: other tests assume the local-checkpoint path
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            sc._jvm.scala.Option.apply(None)
        )


def test_prepare_corpus_cap_per_group(spark):
    """cap_per_group bounds each group to its best-k AFTER dedup:
    unique docs per source with distinct lengths -> exactly k longest
    survive per source; stage count exposed under audit."""
    from goodtables_pandas_py_spark.extensions.pipeline import prepare_corpus

    rows = [
        (i, f"s{i % 2}", " ".join(f"w{i}x{j}" for j in range(30 + i)), 30 + i)
        for i in range(10)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, text string, n_chars long"
    )
    prep = prepare_corpus(
        df, dedup_threshold=0.9, min_tokens=1,
        cap_per_group=2, cap_group_cols=["source"], cap_order_col="n_chars",
        audit=True,
    )
    kept = prep.kept.collect()
    per_src = {}
    for r in kept:
        per_src.setdefault(r["source"], []).append(r["doc_id"])
    assert all(len(v) == 2 for v in per_src.values()), per_src
    # best-first: the two largest n_chars ids per source (8,9 % 2)
    assert sorted(per_src["s0"]) == [6, 8]
    assert sorted(per_src["s1"]) == [7, 9]
    assert prep.n_after_cap == 4

    import pytest as _pytest
    with _pytest.raises(ValueError, match="cap_per_group requires"):
        prepare_corpus(df, cap_per_group=2)


def test_write_release_empty_partitioned_frame_still_writes_manifest(
    spark, tmp_path
):
    """A split-partitioned overwrite of ZERO rows writes no parquet
    footers; write_release must still produce a manifest (matching
    the non-partitioned branch) instead of dying on read-back."""
    import json

    from goodtables_pandas_py_spark.extensions.pipeline import write_release

    df = spark.createDataFrame(
        [], "doc_id long, text string, split string"
    )
    man = write_release(df, str(tmp_path / "rel"))
    assert man["n_rows"] == 0 and man["row_counts"] == {}
    with open(tmp_path / "rel" / "manifest.json") as f:
        assert json.load(f)["n_rows"] == 0


def test_prepare_corpus_tolerates_corpus_id_column(spark):
    """Input corpora shaped for decontam workflows may already carry
    a corpus_id column; the anti-join must not become ambiguous."""
    from goodtables_pandas_py_spark.extensions.pipeline import prepare_corpus

    rows = [(i, i, " ".join(f"w{i}x{j}" for j in range(40))) for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, corpus_id long, text string")
    evals = df.where(F.col("doc_id") == 0).select("doc_id", "text")
    prep = prepare_corpus(
        df, dedup_threshold=0.9, min_tokens=1,
        eval_sets=evals, decontam_ngram=3, decontam_ratio=0.5,
    )
    kept_ids = {r["doc_id"] for r in prep.kept.collect()}
    assert 0 not in kept_ids and len(kept_ids) == 5


# ------------------------------------------- fifth-review regressions


def test_dim_probe_skips_empty_vectors(spark):
    """An empty vector in the first-scanned row must not null every
    signature (order-dependent recall collapse)."""
    from goodtables_pandas_py_spark.extensions import similarity as sim

    rows = [(0, []), (1, [1.0, 0.0]), (2, [0.99, 0.01]), (3, [0.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    df = df.coalesce(1)  # pin scan order: the empty vector IS first
    pairs = dedup.embedding_near_dups(df, threshold=0.9).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2)}
    # ann_assign probes past the empty vector too
    out = sim.ann_assign(df)
    assert out.where(F.col("ann_sig").isNotNull()).count() == 3


def test_banded_signatures_rejects_bad_band_counts(spark, near_dup_docs):
    with pytest.raises(ValueError, match="must be in"):
        dedup.banded_signatures(near_dup_docs, num_hashes=64, num_bands=100)
    with pytest.raises(ValueError, match="divide evenly"):
        dedup.banded_signatures(near_dup_docs, num_hashes=64, num_bands=24)


def test_embedding_cosine_pairs_blocks_reject_string_ids(spark):
    """Non-numeric ids must raise loudly, not NULL out of the
    equi-join into a silently empty result (numeric ids still work,
    and a fixed hash-block fallback would be quadratic)."""
    rows = [(f"doc_{i}", [1.0, 0.0]) for i in range(4)]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    with pytest.raises(Exception, match="numeric-castable ids"):
        dedup.embedding_cosine_pairs(
            df, id_col="vec_id", threshold=0.99, block_size=2
        ).count()


def test_duplicate_groups_optional_keep_id(spark):
    df = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "y")], "doc_id long, text string"
    )
    got = dedup.duplicate_groups(df, F.col("text"), id_col="doc_id").collect()
    assert len(got) == 1 and got[0]["keep_id"] == 1 and got[0]["n"] == 2


def test_ivf_probes_by_cosine_not_magnitude(spark):
    """Mixed-magnitude embeddings: the top-cosine match must be
    reachable even when its raw-L2-nearest centroid differs (lists
    are built and probed in normalized space)."""
    from goodtables_pandas_py_spark.extensions import similarity as sim

    rows = [(0, [1000.0, 0.0]), (1, [999.0, 1.0]), (2, [998.0, 2.0])]
    rows += [(i, [0.0, float(i)]) for i in range(3, 40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    top = sim.ivf_topk(
        df, [1.0, 0.0], k=2, nlist=4, nprobe=1
    ).collect()
    assert top[0]["vec_id"] == 0 and top[0]["cosine"] > 0.999


def test_extract_features_fail_soft_on_any_decoder_exception(spark):
    """A production decoder raising OSError on one corrupt blob must
    set decode_ok=False for that row, never abort the job."""
    from goodtables_pandas_py_spark.extensions import multimodal as mm

    df = mm.demo_media_df(spark, n=4)

    def decoder(blob: bytes):
        if len(blob) % 2 == 0:
            raise OSError("truncated image")
        return [float(len(blob))]

    rows = mm.extract_features(df, extractor=decoder).collect()
    assert any(not r["decode_ok"] for r in rows)
    assert any(r["decode_ok"] for r in rows)
    assert len(rows) == 4


def test_frame_sample_plan_stays_inside_clip(spark):
    from goodtables_pandas_py_spark.extensions import multimodal as mm

    df = spark.createDataFrame(
        [(1, ("video", None, None, None, 2000, 2000))],
        "media_id long, media_meta struct<media_type:string,mime:string,"
        "width:int,height:int,duration_ms:bigint,n_bytes:bigint>",
    )
    ts = sorted(
        r["frame_ts_ms"]
        for r in mm.frame_sample_plan(df, every_ms=1000).collect()
    )
    assert ts == [0, 1000]          # 2000 == duration: excluded
    import pytest as _pytest

    with _pytest.raises(ValueError, match="every_ms"):
        mm.frame_sample_plan(df, every_ms=0)


def test_release_diff_statuses(spark):
    from goodtables_pandas_py_spark.extensions.pipeline import (
        release_diff,
        release_diff_summary,
    )

    old = spark.createDataFrame(
        [(1, "a", "s1"), (2, "b", "s1"), (3, "c", "s2"), (4, None, "s2")],
        "doc_id: long, text: string, source: string",
    )
    new = spark.createDataFrame(
        [(2, "b", "s1"), (3, "C", "s2"), (4, None, "s2"), (5, "e", "s1")],
        "doc_id: long, text: string, source: string",
    )
    got = {r["doc_id"]: r["status"] for r in release_diff(old, new).collect()}
    assert got == {
        1: "removed", 2: "unchanged", 3: "changed",
        4: "unchanged", 5: "added",
    }
    summ = {
        r["status"]: r["n"]
        for r in release_diff_summary(old, new).collect()
    }
    assert summ == {"added": 1, "removed": 1, "changed": 1, "unchanged": 2}
    by = {
        (r["source"], r["status"]): r["n"]
        for r in release_diff_summary(old, new, by=["source"]).collect()
    }
    # removed row 1 has no new-side source: falls back to old's s1
    assert by[("s1", "removed")] == 1
    assert by[("s2", "changed")] == 1


def test_release_diff_null_sentinel_and_position(spark):
    """null vs the string 'null' differ; swapping values across
    columns differs (xxhash64 skips null args, so these need the
    sentinel/prefix construction to hold)."""
    from goodtables_pandas_py_spark.extensions.pipeline import release_diff

    old = spark.createDataFrame(
        [(1, None, "x"), (2, "x", None)], "doc_id: long, a: string, b: string"
    )
    new = spark.createDataFrame(
        [(1, "null", "x"), (2, None, "x")], "doc_id: long, a: string, b: string"
    )
    got = {r["doc_id"]: r["status"] for r in release_diff(old, new).collect()}
    assert got == {1: "changed", 2: "changed"}


def test_release_diff_duckdb_parity(spark, tmp_path):
    """Statuses match a DuckDB full-outer raw-value comparison on a
    mixed add/remove/change/unchange population."""
    import duckdb

    from goodtables_pandas_py_spark.extensions.pipeline import release_diff

    rows_old = [(i, f"t{i}", float(i)) for i in range(0, 80)]
    rows_new = (
        [(i, f"t{i}", float(i)) for i in range(20, 60)]          # unchanged
        + [(i, f"T{i}", float(i)) for i in range(60, 80)]        # changed
        + [(i, f"t{i}", float(i)) for i in range(80, 100)]       # added
    )
    old = spark.createDataFrame(rows_old, "doc_id: long, text: string, w: double")
    new = spark.createDataFrame(rows_new, "doc_id: long, text: string, w: double")
    old.write.mode("overwrite").parquet(str(tmp_path / "old.parquet"))
    new.write.mode("overwrite").parquet(str(tmp_path / "new.parquet"))
    got = {
        r["doc_id"]: r["status"]
        for r in release_diff(old, new).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW o AS SELECT * FROM '{tmp_path}/old.parquet/*.parquet'"
    )
    con.execute(
        f"CREATE VIEW n AS SELECT * FROM '{tmp_path}/new.parquet/*.parquet'"
    )
    exp = dict(con.execute(
        """SELECT COALESCE(o.doc_id, n.doc_id) AS id,
                  CASE WHEN o.doc_id IS NULL THEN 'added'
                       WHEN n.doc_id IS NULL THEN 'removed'
                       WHEN o.text IS NOT DISTINCT FROM n.text
                        AND o.w IS NOT DISTINCT FROM n.w THEN 'unchanged'
                       ELSE 'changed' END AS status
           FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id"""
    ).fetchall())
    assert got == exp


def test_release_diff_requires_comparable_columns(spark):
    import pytest as _pytest

    from goodtables_pandas_py_spark.extensions.pipeline import release_diff

    old = spark.createDataFrame([(1, "a")], "doc_id: long, only_old: string")
    new = spark.createDataFrame([(1, "b")], "doc_id: long, only_new: string")
    with _pytest.raises(ValueError, match="no columns to compare"):
        release_diff(old, new)
    with _pytest.raises(ValueError, match="lacks columns"):
        release_diff(old, new, compare_cols=["only_new"])


def test_sniff_image_meta_real_headers(spark):
    """Real container headers parse to real dimensions: PNG/GIF/BMP
    fixed offsets, JPEG SOF scan past APP0; junk stays null-typed."""
    import struct
    import zlib

    from goodtables_pandas_py_spark.extensions.multimodal import (
        sniff_image_meta,
    )

    def tiny_png(w, h):
        ihdr = struct.pack(">II", w, h) + b"\x08\x06\x00\x00\x00"
        chunk = b"IHDR" + ihdr
        return (
            b"\x89PNG\r\n\x1a\n"
            + struct.pack(">I", len(ihdr))
            + chunk
            + struct.pack(">I", zlib.crc32(chunk))
        )

    def tiny_gif(w, h):
        return b"GIF89a" + struct.pack("<HH", w, h) + b"\x00\x00\x00"

    def tiny_bmp(w, h):
        # 14-byte file header + BITMAPINFOHEADER with signed dims
        return (
            b"BM" + b"\x00" * 16
            + struct.pack("<ii", w, -h)  # top-down bitmap: negative h
            + b"\x00" * 8
        )

    def tiny_jpeg(w, h):
        app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
        sof0 = (
            b"\xff\xc0" + struct.pack(">H", 11) + b"\x08"
            + struct.pack(">HH", h, w) + b"\x01\x11\x00"
        )
        return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"

    rows = [
        (1, tiny_png(640, 480)),
        (2, tiny_gif(13, 7)),
        (3, tiny_bmp(800, 600)),
        (4, tiny_jpeg(1024, 768)),
        (5, b"not an image at all"),
        (6, None),
    ]
    from pyspark.sql import types as T

    df = spark.createDataFrame(
        rows,
        T.StructType([
            T.StructField("media_id", T.LongType()),
            T.StructField("blob", T.BinaryType()),
        ]),
    )
    got = {
        r["media_id"]: (
            r["media_meta"]["mime"],
            r["media_meta"]["width"],
            r["media_meta"]["height"],
            r["media_meta"]["media_type"],
            r["media_meta"]["n_bytes"],
        )
        for r in sniff_image_meta(df).collect()
    }
    assert got[1] == ("image/png", 640, 480, "image", len(rows[0][1]))
    assert got[2] == ("image/gif", 13, 7, "image", len(rows[1][1]))
    assert got[3] == ("image/bmp", 800, 600, "image", len(rows[2][1]))
    assert got[4] == ("image/jpeg", 1024, 768, "image", len(rows[3][1]))
    assert got[5] == (None, None, None, None, 19)
    assert got[6][:4] == (None, None, None, None)


def test_sniff_media_meta_wav(spark):
    """RIFF/WAVE chunk walk: sample-rate/byte-rate from fmt, duration
    from data size; word-aligned odd chunks; truncated RIFF -> nulls."""
    import struct

    from goodtables_pandas_py_spark.extensions.multimodal import (
        sniff_media_meta,
    )

    def tiny_wav(rate, channels, n_data, extra_first=False):
        fmt = (
            b"fmt " + struct.pack("<I", 16)
            + struct.pack("<HHIIHH", 1, channels, rate,
                          rate * channels * 2, channels * 2, 16)
        )
        data = b"data" + struct.pack("<I", n_data) + b"\x00" * n_data
        junk = b"JUNK" + struct.pack("<I", 3) + b"abc\x00"  # odd, padded
        body = (junk if extra_first else b"") + fmt + data
        return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body

    rows = [
        (1, tiny_wav(16000, 1, 32000)),              # 1s mono 16k s16
        (2, tiny_wav(8000, 2, 8000, extra_first=True)),  # 0.25s stereo
        (3, b"RIFF\x00\x00\x00\x00NOPE"),            # not WAVE
    ]
    from pyspark.sql import types as T

    df = spark.createDataFrame(
        rows,
        T.StructType([
            T.StructField("media_id", T.LongType()),
            T.StructField("blob", T.BinaryType()),
        ]),
    )
    got = {
        r["media_id"]: (
            r["media_meta"]["media_type"],
            r["media_meta"]["mime"],
            r["media_meta"]["duration_ms"],
        )
        for r in sniff_media_meta(df).collect()
    }
    assert got[1] == ("audio", "audio/wav", 1000)
    assert got[2] == ("audio", "audio/wav", 250)
    assert got[3] == (None, None, None)


# --- X3c: semantic dedup (SemDeDup) ----------------------------------------


def _semdedup_df(spark):
    # two well-separated clusters; a1/a2 are near-dups (cos ~ 0.989),
    # a3 is in cluster 0 but below the 0.95 threshold vs a1/a2
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),        # a1: centroid_cos 1.0
        (2, [0.98, 0.15, 0.0, 0.0]),      # a2: dup of a1, ccos ~0.988
        (3, [0.8, 0.6, 0.0, 0.0]),        # a3: distinct (cos 0.80 to a1, ~0.88 to a2)
        (4, [0.0, 1.0, 0.0, 0.0]),        # b1
        (5, [0.0, 0.9, 0.43, 0.0]),       # b2: cos 0.90 to b1, distinct
    ]
    return spark.createDataFrame(rows, "doc_id long, embedding array<double>")


_SEM_CENTS = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]


def test_semantic_dedup_keep_far(spark):
    """SemDeDup survivorship: within the duplicate group the member
    FARTHEST from the centroid survives (the paper's diversity rule);
    non-duplicates all survive."""
    df = _semdedup_df(spark)
    audit = dedup.semantic_dedup_audit(
        df, threshold=0.95, centroids=_SEM_CENTS, keep="far"
    )
    rows = {r["doc_id"]: r for r in audit.collect()}
    assert len(rows) == 5
    # a1 (ccos 1.0) dropped, a2 (ccos ~0.988 < 1.0) kept
    assert rows[1]["kept"] is False and rows[2]["kept"] is True
    assert rows[1]["component"] == rows[2]["component"] == 1  # min id
    assert rows[1]["cluster"] == rows[2]["cluster"] == 0
    for i in (3, 4, 5):
        assert rows[i]["kept"] is True
    assert rows[4]["cluster"] == 1
    assert rows[1]["centroid_cos"] == pytest.approx(1.0)
    # end-to-end: df minus dropped, schema unchanged
    kept = dedup.semantic_dedup(
        df, threshold=0.95, centroids=_SEM_CENTS, keep="far"
    )
    assert kept.columns == df.columns
    assert sorted(r["doc_id"] for r in kept.collect()) == [2, 3, 4, 5]


def test_semantic_dedup_min_id_and_salting(spark):
    """keep='min_id' keeps the smallest id; a max_cluster below the
    cluster size forces the hash-salt split and still completes with
    at least one survivor per duplicate group."""
    df = _semdedup_df(spark)
    kept = dedup.semantic_dedup(
        df, threshold=0.95, centroids=_SEM_CENTS, keep="min_id"
    )
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 3, 4, 5]
    # salted: sub-blocks may separate the dup pair (recall trade), but
    # every input row appears exactly once in the audit and >= 4 survive
    audit = dedup.semantic_dedup_audit(
        df, threshold=0.95, centroids=_SEM_CENTS, max_cluster=2
    )
    rows = audit.collect()
    assert sorted(r["doc_id"] for r in rows) == [1, 2, 3, 4, 5]
    assert sum(r["kept"] for r in rows) >= 4


def test_semantic_dedup_null_ragged_kept(spark):
    """Null/ragged vectors are near-dups of nothing: kept, null
    cluster (the embedding_near_dups posture)."""
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.99, 0.1, 0.0, 0.0]),
        (3, None),
        (4, [1.0, 0.0]),  # ragged
    ]
    df = spark.createDataFrame(rows, "doc_id long, embedding array<double>")
    audit = dedup.semantic_dedup_audit(
        df, threshold=0.95, centroids=_SEM_CENTS
    )
    got = {r["doc_id"]: r for r in audit.collect()}
    assert len(got) == 4
    assert got[3]["kept"] is True and got[3]["cluster"] is None
    assert got[4]["kept"] is True and got[4]["cluster"] is None
    # the real dup pair still resolved
    assert {got[1]["kept"], got[2]["kept"]} == {True, False}


def test_semantic_dedup_preassigned_no_training(spark, monkeypatch):
    """The 100 TB call shape: with centroids= and a stored ivf_cid
    column, semantic_dedup launches zero training and zero
    re-assignment jobs (both poisoned to prove it)."""
    df = _semdedup_df(spark)
    assigned, cents = similarity.ivf_assign(
        df, vec_col="embedding", nlist=2, refine=1
    )

    def _boom(*a, **k):
        raise AssertionError("semantic_dedup retrained/re-assigned")

    monkeypatch.setattr(similarity, "_centroid_rows", _boom)
    monkeypatch.setattr(similarity, "_nearest_cid", _boom)
    audit = dedup.semantic_dedup_audit(
        assigned, threshold=0.95, centroids=cents
    )
    rows = audit.collect()
    assert sorted(r["doc_id"] for r in rows) == [1, 2, 3, 4, 5]
    # exactly one of the dup pair dropped
    dropped = [r["doc_id"] for r in rows if not r["kept"]]
    assert len(dropped) == 1 and dropped[0] in (1, 2)


def test_semantic_dedup_empty_and_all_null(spark):
    df = spark.createDataFrame(
        [(1, None)], "doc_id long, embedding array<double>"
    )
    audit = dedup.semantic_dedup_audit(df, centroids=_SEM_CENTS)
    rows = audit.collect()
    assert len(rows) == 1 and rows[0]["kept"] is True
    empty = df.limit(0)
    assert dedup.semantic_dedup_audit(empty, centroids=_SEM_CENTS).count() == 0


def test_ivf_train_cap_samples_training_not_assignment(spark):
    """With train_cap below the table size, centroid fitting runs on a
    deterministic hash-sample but ASSIGNMENT still labels every row;
    quality stays usable (own-vector recall intact)."""
    import numpy as np
    from goodtables_pandas_py_spark.extensions import similarity as xsim

    rng = np.random.RandomState(11)
    vecs = rng.standard_normal((1000, 8))
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(1000)],
        "vec_id long, embedding array<double>",
    )
    assigned, cents = xsim.ivf_assign(df, nlist=4, refine=1, train_cap=200)
    assert len(cents) == 4
    assert assigned.where("ivf_cid is null").count() == 0
    assert assigned.count() == 1000
    # deterministic: same cap -> same centroids
    _, cents2 = xsim.ivf_assign(df, nlist=4, refine=1, train_cap=200)
    assert cents == cents2
    q = [float(x) for x in vecs[7]]
    out = xsim.ivf_topk(assigned, q, k=3, centroids=cents).collect()
    assert out[0]["vec_id"] == 7


# --- chunk_text -------------------------------------------------------------


def test_chunk_text_disjoint_and_overlap(spark):
    """Default stride = disjoint cover; smaller stride = sliding
    windows; final partial window carries the remainder; chunks
    reassemble the document exactly (disjoint case)."""
    doc = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame([(1, doc)], "doc_id long, text string")

    out = {r["chunk_id"]: r for r in
           text.chunk_text(df, max_tokens=4).collect()}
    assert sorted(out) == [0, 1, 2]
    assert out[0]["chunk_text"] == "w0 w1 w2 w3"
    assert out[2]["chunk_text"] == "w8 w9" and out[2]["n_tokens"] == 2
    assert " ".join(out[i]["chunk_text"] for i in sorted(out)) == doc

    over = {r["chunk_id"]: r for r in
            text.chunk_text(df, max_tokens=6, stride=2).collect()}
    # starts 0,2: [0..6),[2..8)? no — last start covers the end:
    # ceil((10-6)/2)*2 = 4 -> starts 0,2,4
    assert sorted(over) == [0, 1, 2]
    assert over[0]["chunk_text"].startswith("w0 w1")
    assert over[2]["chunk_text"] == "w4 w5 w6 w7 w8 w9"
    assert all(r["n_tokens"] == 6 for r in over.values())


def test_chunk_text_edges(spark):
    """Short/empty/null docs and invalid params."""
    df = spark.createDataFrame(
        [(1, "a b"), (2, ""), (3, None), (4, "   "), (5, "solo")],
        "doc_id long, text string",
    )
    rows = text.chunk_text(df, max_tokens=4).collect()
    got = {(r["doc_id"], r["chunk_id"]): r for r in rows}
    assert set(got) == {(1, 0), (5, 0)}  # empty/null/blank yield nothing
    assert got[(1, 0)]["chunk_text"] == "a b" and got[(1, 0)]["n_tokens"] == 2
    # a doc exactly max_tokens long yields ONE chunk, no empty suffix
    df2 = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    assert text.chunk_text(df2, max_tokens=4).count() == 1
    import pytest as _pytest

    with _pytest.raises(ValueError, match="stride"):
        text.chunk_text(df, max_tokens=4, stride=5)
    with _pytest.raises(ValueError, match="max_tokens"):
        text.chunk_text(df, max_tokens=0)


# --- X2c: exact-substring span dedup (spans.py) ---------------------------


def _spans_df(spark):
    """Corpus with a known shared 6-token run, an intra-doc repeat,
    and clean docs."""
    shared = "alpha beta gamma delta epsilon zeta"
    rows = [
        (1, f"{shared} one two three"),
        (2, f"zero {shared} tail tokens here"),
        (3, "completely unrelated text with no duplicate runs at all"),
        (4, f"rep rep2 rep3 rep4 rep5 rep6 filler rep rep2 rep3 rep4 rep5 rep6"),
        (5, ""),
        (6, None),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dup_spans_cross_and_intra_doc(spark):
    """A k-window shared by two docs is found in both at the right
    token offsets; a window repeated WITHIN one doc counts toward
    min_count (corpus-scope semantics); clean/empty/null docs yield
    no spans."""
    from goodtables_pandas_py_spark.extensions import spans as xspans

    got = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in xspans.dup_spans(_spans_df(spark), k=6).collect()
    }
    # doc1 tokens 0..6, doc2 tokens 1..7 share the 6-token run;
    # doc4 repeats its 6-token run at 0 and 7
    assert got == {(1, 0, 6), (2, 1, 7), (4, 0, 6), (4, 7, 13)}


def test_dup_spans_merges_overlapping_windows(spark):
    """A duplicated run LONGER than k yields one merged span, not
    L-k+1 window rows; contiguous spans merge too."""
    from goodtables_pandas_py_spark.extensions import spans as xspans

    run = " ".join(f"t{i}" for i in range(10))  # 10-token shared run
    df = spark.createDataFrame(
        [(1, f"{run} x y z"), (2, f"a b {run}")],
        "doc_id long, text string",
    )
    got = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in xspans.dup_spans(df, k=4).collect()
    }
    assert got == {(1, 0, 10), (2, 2, 12)}


def test_mask_dup_spans_rebuilds_text(spark):
    """Masking removes exactly the duplicated tokens from every
    occurrence, keeps other columns, and leaves clean docs' token
    streams untouched; null text stays null."""
    from goodtables_pandas_py_spark.extensions import spans as xspans

    df = _spans_df(spark)
    out = {r["doc_id"]: r["text"] for r in
           xspans.mask_dup_spans(df, k=6).collect()}
    assert out[1] == "one two three"
    assert out[2] == "zero tail tokens here"
    assert out[3] == "completely unrelated text with no duplicate runs at all"
    assert out[4] == "filler"
    assert out[5] == "" and out[6] is None
    # precomputed spans are accepted verbatim
    spans = xspans.dup_spans(df, k=6)
    out2 = xspans.mask_dup_spans(df, spans=spans).collect()
    assert {r["doc_id"]: r["text"] for r in out2} == out


def test_dup_spans_verify_kills_hash_collisions(spark):
    """verify=True recounts on exact strings: the verified span set
    is a subset of the hash-only one, and on collision-free data the
    two agree (the superset/subset contract the docstring states)."""
    from goodtables_pandas_py_spark.extensions import spans as xspans

    df = _spans_df(spark)
    v = {(r["doc_id"], r["span_start"], r["span_end"])
         for r in xspans.dup_spans(df, k=6, verify=True).collect()}
    h = {(r["doc_id"], r["span_start"], r["span_end"])
         for r in xspans.dup_spans(df, k=6, verify=False).collect()}
    assert v == h  # no collisions in a 20-token corpus
    import pytest as _pytest

    with _pytest.raises(ValueError, match="min_count"):
        xspans.dup_spans(df, min_count=1)
    with _pytest.raises(ValueError, match="k must"):
        xspans.window_hashes(df, k=0)


def test_unigram_logprob_self_scored(spark):
    """Self-trained unigram cross-entropy: exact milli-nat sums match
    a hand computation; rarer tokens raise xent; zero-token docs
    surface with n_tokens=0 and null scores."""
    import math

    df = spark.createDataFrame(
        [(1, "a a a a"), (2, "a a b b"), (3, "c d"), (4, ""), (5, None)],
        "doc_id long, text string",
    )
    # corpus counts: a=6, b=2, c=1, d=1, N=10
    rows = {r["doc_id"]: r for r in text.unigram_logprob(df).collect()}
    m = lambda c: math.floor((math.log(10.0) - math.log(float(c))) * 1000 + 0.5)
    assert rows[1]["n_tokens"] == 4 and rows[1]["xent_milli"] == 4 * m(6)
    assert rows[2]["xent_milli"] == 2 * m(6) + 2 * m(2)
    assert rows[3]["xent_milli"] == 2 * m(1)
    assert rows[1]["xent"] < rows[2]["xent"] < rows[3]["xent"]
    assert rows[4]["n_tokens"] == 0 and rows[4]["xent"] is None
    assert rows[5]["n_tokens"] == 0 and rows[5]["xent_milli"] is None


def test_unigram_logprob_external_freqs_and_oov(spark):
    """Scoring against an external reference table: OOV tokens score
    as count 1 (max surprise); the head-vocab broadcast path and the
    shuffled tail path produce identical totals (head_vocab=1 forces
    most tokens down the tail path)."""
    import math

    ref = spark.createDataFrame(
        [("the", 90), ("cat", 9), ("sat", 1)], "token string, n long"
    )
    df = spark.createDataFrame(
        [(1, "the cat sat"), (2, "the zyzzyva")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in
           text.unigram_logprob(df, freqs=ref).collect()}
    m = lambda c: math.floor((math.log(100.0) - math.log(float(c))) * 1000 + 0.5)
    assert out[1]["xent_milli"] == m(90) + m(9) + m(1)
    assert out[2]["xent_milli"] == m(90) + m(1)  # zyzzyva -> OOV -> count 1
    narrow = {r["doc_id"]: r["xent_milli"] for r in
              text.unigram_logprob(df, freqs=ref, head_vocab=1).collect()}
    assert narrow == {k: v["xent_milli"] for k, v in out.items()}


# --- X7d: DSIR importance resampling (dsir.py) -----------------------------


def test_dsir_logweights_favor_target_like_docs(spark):
    """Self-evident direction check: docs drawn from the target slice
    score higher than off-target docs; weights are exact integers,
    stable across partitionings; zero-feature docs get null weights."""
    from goodtables_pandas_py_spark.extensions import dsir as xdsir

    rows = [(i, "the cat sat on the mat", "tgt") for i in range(6)]
    rows += [(10 + i, "zzz qqq vvv kkk jjj www", "other") for i in range(6)]
    rows += [(99, "", "other"), (100, None, "other")]
    df = spark.createDataFrame(rows, "doc_id long, text string, grp string")
    target = df.where(F.col("grp") == "tgt")
    w = xdsir.dsir_logweights(df, target, num_buckets=256)
    got = {r["doc_id"]: r for r in w.collect()}
    assert got[0]["logw_milli"] > got[10]["logw_milli"]
    assert got[99]["n_feats"] == 0 and got[99]["logw_milli"] is None
    assert got[100]["logw"] is None
    # bag semantics: "the" twice and the bigrams all count
    assert got[0]["n_feats"] == 6 + 5
    # partitioning-independence (integer milli sums)
    w2 = {r["doc_id"]: r["logw_milli"]
          for r in xdsir.dsir_logweights(
              df.repartition(13), target, num_buckets=256).collect()}
    assert w2 == {k: v["logw_milli"] for k, v in got.items()}


def test_dsir_sample_deterministic_and_weighted(spark):
    """Gumbel-top-k: deterministic across partitionings and engines
    (md5-derived noise), biased toward target-like docs, k exact;
    fraction path returns ~fraction of rows; zero-feature docs are
    never selected; bad args raise."""
    from goodtables_pandas_py_spark.extensions import dsir as xdsir

    rows = [(i, "the cat sat on the mat plus word%d" % i, "tgt")
            for i in range(20)]
    rows += [(100 + i, "zzz qqq vvv kkk jjj www uuu%d" % i, "other")
             for i in range(20)]
    rows += [(999, "", "other")]
    df = spark.createDataFrame(rows, "doc_id long, text string, grp string")
    target = df.where(F.col("grp") == "tgt")
    s1 = sorted(r["doc_id"] for r in
                xdsir.dsir_sample(df, target, k=10, num_buckets=256).collect())
    s2 = sorted(r["doc_id"] for r in
                xdsir.dsir_sample(df.repartition(7), target, k=10,
                                  num_buckets=256).collect())
    assert s1 == s2 and len(s1) == 10 and 999 not in s1
    n_target_like = sum(1 for i in s1 if i < 100)
    assert n_target_like >= 7  # importance weights dominate the noise
    import pytest as _pytest

    with _pytest.raises(ValueError, match="exactly one"):
        xdsir.dsir_sample(df, target)
    with _pytest.raises(ValueError, match="exactly one"):
        xdsir.dsir_sample(df, target, k=5, fraction=0.5)
    fr = xdsir.dsir_sample(df, target, fraction=0.25, num_buckets=256)
    assert 5 <= fr.count() <= 16  # ~10 of 41, quantile-cut approximate


def test_prepare_corpus_span_dedup_stage(spark):
    """span_dedup_k adds the ExactSubstr stage AFTER document-level
    near-dedup: a substring shared by two otherwise-distinct
    survivors is cut from both; a doc emptied by the cut is dropped;
    the audit reports the stage count."""
    from goodtables_pandas_py_spark.extensions.pipeline import prepare_corpus

    shared = " ".join(f"sharedtok{i}" for i in range(8))
    uniq1 = " ".join(f"aa{i} bb{i} unique one body text here" for i in range(3))
    uniq2 = " ".join(f"cc{i} dd{i} another body entirely differs" for i in range(3))
    rows = [
        (1, f"{uniq1} {shared}", "en"),
        (2, f"{shared} {uniq2}", "en"),
        (3, shared, "en"),  # pure duplicate text -> emptied -> dropped
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    prep = prepare_corpus(
        df, dedup_threshold=0.95, span_dedup_k=8, audit=True,
        min_tokens=1, max_tokens=10_000,
    )
    kept = {r["doc_id"]: r["text"] for r in prep.kept.collect()}
    assert set(kept) == {1, 2}
    for t in kept.values():
        assert shared not in t
    assert kept[1].startswith("aa0") and "unique" in kept[1]
    assert prep.n_after_span_mask == 2 and prep.n_after_dedup == 3


def test_bigram_logprob_self_trained(spark):
    """Stupid-backoff bigram xent, self-trained: exact milli-nat sums
    match hand computation (first token = unigram, later = bigram
    conditional; backoff dead by construction); empty/null docs
    surface with zero tokens and null scores."""
    import math

    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a c"), (3, ""), (4, None)],
        "doc_id long, text string",
    )
    # corpus: a=3 b=2 c=1, N=6; bigrams (a,b)=2 (b,a)=1 (a,c)=1
    rows = {r["doc_id"]: r for r in text.bigram_logprob(df).collect()}
    ln, m = math.log, lambda x: math.floor(x * 1000 + 0.5)
    assert rows[1]["xent_milli"] == (
        m(ln(6) - ln(3)) + m(ln(3) - ln(2)) + m(ln(2) - ln(1))
        + m(ln(3) - ln(2))
    )
    assert rows[2]["xent_milli"] == m(ln(6) - ln(3)) + m(ln(3) - ln(1))
    assert rows[3]["n_tokens"] == 0 and rows[3]["xent_milli"] is None
    assert rows[4]["xent"] is None
    # partitioning-independence of the integer sums
    again = {r["doc_id"]: r["xent_milli"]
             for r in text.bigram_logprob(df.repartition(7)).collect()}
    assert again == {k: v["xent_milli"] for k, v in rows.items()}


def test_bigram_logprob_backoff_with_external_counts(spark):
    """Against EXTERNAL count tables, unseen bigrams back off to
    0.4 * c(cur)/N and OOV tokens to count 1 — both milli-exact; the
    head_vocab=1 narrow-broadcast path gives identical totals."""
    import math

    uni = spark.createDataFrame(
        [("a", 3), ("b", 2), ("c", 1)], "token string, n long"
    )
    bi = spark.createDataFrame(
        [("a", "b", 2), ("b", "a", 1), ("a", "c", 1)],
        "prev string, cur string, n long",
    )
    df = spark.createDataFrame([(9, "a z b")], "doc_id long, text string")
    ln, m = math.log, lambda x: math.floor(x * 1000 + 0.5)
    lnb = -ln(0.4)
    want = (
        m(ln(6) - ln(3))                 # first token 'a': unigram
        + m(ln(6) - ln(1) + lnb)         # (a,z): z OOV -> backoff c=1
        + m(ln(6) - ln(2) + lnb)         # (z,b): unseen bigram -> backoff
    )
    got = text.bigram_logprob(df, uni_counts=uni, bi_counts=bi).collect()[0]
    assert got["xent_milli"] == want and got["n_tokens"] == 3
    narrow = text.bigram_logprob(
        df, uni_counts=uni, bi_counts=bi, head_vocab=1
    ).collect()[0]
    assert narrow["xent_milli"] == want


def test_bigram_logprob_oov_prev_with_known_bigram_backs_off(spark):
    """Model-consistency guard (review r5): a bigram present in
    bi_counts whose PREDECESSOR is missing from uni_counts (mutually
    inconsistent external tables) must score through the backoff
    branch — never a null milli that F.sum would silently skip,
    underreporting xent while n_tokens still counts the token."""
    import math

    uni = spark.createDataFrame(
        [("a", 3), ("b", 2)], "token string, n long"
    )
    bi = spark.createDataFrame(
        [("a", "z", 1), ("z", "b", 1)], "prev string, cur string, n long"
    )
    df = spark.createDataFrame([(1, "a z b")], "doc_id long, text string")
    got = text.bigram_logprob(df, uni_counts=uni, bi_counts=bi).collect()[0]
    ln, m = math.log, lambda x: math.floor(x * 1000 + 0.5)
    lnb = -ln(0.4)
    # N=5; first 'a': uni. (a,z): bigram known, prev 'a' known -> cond
    # ln(c1(a))-ln(c2)=ln3-ln1. (z,b): bigram known but prev 'z' OOV
    # -> BACKOFF ln5-ln(c1(b))+lnb, not null
    want = m(ln(5) - ln(3)) + m(ln(3) - ln(1)) + m(ln(5) - ln(2) + lnb)
    assert got["xent_milli"] == want and got["n_tokens"] == 3


@pytest.mark.slow
def test_prepare_corpus_truncate_lineage_same_result(spark):
    """r6: truncate_lineage cuts the logical plan at the dedup and
    span-mask boundaries without changing a single row; the output
    plan must NOT contain the dedup machinery (the point of the cut)."""
    from goodtables_pandas_py_spark.extensions.pipeline import prepare_corpus

    rows = [
        (i, f"document number {i} with shared boilerplate tail "
            "the quick brown fox jumps over the lazy dog again and again")
        for i in range(8)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    plain = prepare_corpus(df, dedup_threshold=0.5, span_dedup_k=5)
    cut = prepare_corpus(
        df, dedup_threshold=0.5, span_dedup_k=5, truncate_lineage=True
    )
    a = sorted((r["doc_id"], r["text"]) for r in plain.kept.collect())
    b = sorted((r["doc_id"], r["text"]) for r in cut.kept.collect())
    assert a == b
    plan = cut.kept._jdf.queryExecution().optimizedPlan().toString()
    assert "xxhash64" not in plan, plan[:2000]  # dedup tree is gone


def test_mp4_and_webm_sniffing(spark):
    """r6: video metadata — ISO BMFF box walk (mvhd v0/v1 duration),
    WebM by EBML magic; sniff feeds frame_sample_plan real durations."""
    import struct as _s

    from goodtables_pandas_py_spark.extensions.multimodal import (
        _parse_mp4_header,
        frame_sample_plan,
        sniff_media_meta,
    )
    from pyspark.sql import types as T

    def box(btype, payload):
        return _s.pack(">I", 8 + len(payload)) + btype + payload

    def mp4(version, scale, dur, largesize=False):
        if version == 0:
            mvhd = bytes([0, 0, 0, 0]) + bytes(8) + _s.pack(">II", scale, dur)
            mvhd += bytes(80)
        else:
            mvhd = bytes([1, 0, 0, 0]) + bytes(16) + _s.pack(">IQ", scale, dur)
            mvhd += bytes(80)
        moov = box(b"moov", box(b"mvhd", mvhd))
        if largesize:
            inner = box(b"mvhd", mvhd)
            moov = _s.pack(">I", 1) + b"moov" + _s.pack(">Q", 16 + len(inner)) + inner
        return box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2") + moov

    assert _parse_mp4_header(mp4(0, 1000, 7500)) == ("video/mp4", 7500)
    assert _parse_mp4_header(mp4(1, 600, 1200)) == ("video/mp4", 2000)
    assert _parse_mp4_header(mp4(0, 1000, 7500, largesize=True)) == (
        "video/mp4", 7500,
    )
    # ftyp with no moov: mime known, duration unknown
    assert _parse_mp4_header(
        box(b"ftyp", b"isom\x00\x00\x02\x00")
    ) == ("video/mp4", None)
    assert _parse_mp4_header(b"nope") == (None, None)
    assert _parse_mp4_header(None) == (None, None)

    rows = [
        (1, mp4(0, 1000, 4000)),
        (2, b"\x1a\x45\xdf\xa3rest-of-webm"),
        (3, b"not media"),
    ]
    schema = T.StructType([
        T.StructField("media_id", T.LongType()),
        T.StructField("blob", T.BinaryType()),
    ])
    sniffed = sniff_media_meta(spark.createDataFrame(rows, schema))
    got = {r["media_id"]: r["media_meta"] for r in sniffed.collect()}
    assert got[1]["media_type"] == "video" and got[1]["mime"] == "video/mp4"
    assert got[1]["duration_ms"] == 4000
    assert got[2]["mime"] == "video/webm" and got[2]["duration_ms"] is None
    assert got[3]["media_type"] is None
    # the sniffed duration drives the frame task plan end-to-end
    frames = frame_sample_plan(
        sniffed.where(F.col("media_id") == 1), every_ms=1000
    ).collect()
    assert [r["frame_ts_ms"] for r in frames] == [0, 1000, 2000, 3000]


# ------------------------------------------ versioned releases (r7)


def test_versioned_release_swap_retention_and_concurrent_reader(
    spark, tmp_path
):
    """r7 atomic-swap release sink (VERDICT r6 item 7): immutable
    version dirs + a last-swapped CURRENT pointer. The concurrent-
    reader contract: a frame opened against v1 BEFORE a publish still
    reads v1's rows AFTER it; retention prunes old versions but never
    the pointer's target."""
    from goodtables_pandas_py_spark.extensions.pipeline import (
        list_release_versions,
        read_release,
        write_release_version,
    )

    root = str(tmp_path / "rel")
    v1_rows = [(1, "a", "train"), (2, "b", "test")]
    df1 = spark.createDataFrame(
        v1_rows, "doc_id long, text string, split string"
    )
    m1 = write_release_version(df1, root)
    assert m1["version"] == "v00000001"
    reader_v1, man1 = read_release(spark, root)
    assert man1["version"] == "v00000001"

    # publish v2 while the v1 reader is still open
    df2 = spark.createDataFrame(
        [(3, "c", "train")], "doc_id long, text string, split string"
    )
    m2 = write_release_version(df2, root, keep_versions=2)
    assert m2["version"] == "v00000002"
    # the pre-swap reader still sees v1's immutable snapshot
    assert sorted(r["doc_id"] for r in reader_v1.collect()) == [1, 2]
    # a fresh resolve sees v2
    reader_v2, man2 = read_release(spark, root)
    assert man2["version"] == "v00000002"
    assert [r["doc_id"] for r in reader_v2.collect()] == [3]

    # v3 with keep_versions=2 prunes v1; v2 stays readable by name
    df3 = spark.createDataFrame(
        [(4, "d", "test")], "doc_id long, text string, split string"
    )
    write_release_version(df3, root, keep_versions=2)
    assert list_release_versions(spark, root) == [
        "v00000002", "v00000003",
    ]
    _, man2b = read_release(spark, root, version="v00000002")
    assert man2b["version"] == "v00000002"
    with pytest.raises(FileNotFoundError, match="v00000001"):
        read_release(spark, root, version="v00000001")

    # a crashed writer's partial dir (no manifest) is never exposed:
    # CURRENT still resolves v3, and the next publish skips past it
    import os

    os.makedirs(os.path.join(root, "versions", "v00000007"))
    _, man_cur = read_release(spark, root)
    assert man_cur["version"] == "v00000003"
    m8 = write_release_version(df1, root)
    assert m8["version"] == "v00000008"  # max existing + 1

    # nothing published -> clean miss
    with pytest.raises(FileNotFoundError, match="CURRENT"):
        read_release(spark, str(tmp_path / "empty"))


def test_retention_ignores_orphan_dirs(spark, tmp_path):
    """r7 review fix: a crashed writer's orphan version dir must not
    consume a keep_versions slot — the previous PUBLISHED version
    keeps its reader-grace window."""
    import os

    from goodtables_pandas_py_spark.extensions.pipeline import (
        list_release_versions,
        read_release,
        write_release_version,
    )

    root = str(tmp_path / "rel")
    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    write_release_version(df, root)            # v1 (published)
    write_release_version(df, root)            # v2 (published)
    os.makedirs(os.path.join(root, "versions", "v00000007"))  # orphan
    write_release_version(df, root, keep_versions=2)  # v8
    vs = list_release_versions(spark, root)
    # v2 (the previous published version) survives; v1 pruned; the
    # orphan is left alone
    assert "v00000002" in vs and "v00000001" not in vs
    assert "v00000007" in vs and "v00000008" in vs
    _, man = read_release(spark, root, version="v00000002")
    assert man["version"] == "v00000002"


def test_release_increment_reuses_unchanged_partitions(spark, tmp_path):
    """r8 incremental publish (VERDICT r7 item 7): version N+1 reuses
    the current version's unchanged partitions via hardlink and
    rewrites only the changed ones; readers see exactly what a full
    write would have produced."""
    import os

    from goodtables_pandas_py_spark.extensions.pipeline import (
        read_release,
        write_release_increment,
        write_release_version,
    )

    root = str(tmp_path / "rel")
    schema = "doc_id long, text string, split string"
    v1_rows = [
        (1, "a", "train"), (2, "b", "train"), (3, "c", "train"),
        (4, "d", "val"), (5, "e", "val"),
        (6, "f", "test"), (7, "g", "test"),
    ]
    m1 = write_release_version(spark.createDataFrame(v1_rows, schema), root)
    assert set(m1["partition_fingerprints"]) == {"train", "val", "test"}

    # v2: val gains a row; train rows arrive in a DIFFERENT order
    # (fingerprint is order-insensitive); test unchanged
    v2_rows = [
        (5, "e", "val"), (4, "d", "val"), (8, "h", "val"),
        (3, "c", "train"), (1, "a", "train"), (2, "b", "train"),
        (6, "f", "test"), (7, "g", "test"),
    ]
    df2 = spark.createDataFrame(v2_rows, schema)
    m2 = write_release_increment(df2, root)
    assert m2["version"] == "v00000002"
    inc = m2["incremental"]
    assert inc["base_version"] == "v00000001"
    assert inc["reused"] == ["test", "train"]
    assert inc["rewritten"] == ["val"]
    assert inc["removed"] == []

    # reused partition files are HARDLINKS of v1's (same inode)
    v1_train = os.path.join(root, "versions/v00000001/data.parquet/split=train")
    v2_train = os.path.join(root, "versions/v00000002/data.parquet/split=train")
    v1_inodes = {
        f: os.stat(os.path.join(v1_train, f)).st_ino
        for f in os.listdir(v1_train) if f.endswith(".parquet")
    }
    assert v1_inodes
    for f, ino in v1_inodes.items():
        assert os.stat(os.path.join(v2_train, f)).st_ino == ino

    # reader output identical to a full write of the same frame
    full_root = str(tmp_path / "rel_full")
    write_release_version(df2, full_root)
    got, man = read_release(spark, root)
    want, _ = read_release(spark, full_root)
    key = lambda r: (r["doc_id"], r["text"], r["split"])  # noqa: E731
    assert sorted(got.collect(), key=key) == sorted(want.collect(), key=key)
    assert man["n_rows"] == 8 and man["row_counts"]["val"] == 3
    # fingerprints survive the link so the NEXT increment can reuse
    assert man["partition_fingerprints"]["test"] == (
        m1["partition_fingerprints"]["test"]
    )

    # v3: drop test entirely, everything else untouched -> train AND
    # val reused (val's v2 fingerprint), test removed
    df3 = df2.filter("split <> 'test'")
    m3 = write_release_increment(df3, root)
    assert m3["incremental"]["reused"] == ["train", "val"]
    assert m3["incremental"]["rewritten"] == []
    assert m3["incremental"]["removed"] == ["test"]
    got3, _ = read_release(spark, root)
    assert sorted(r["doc_id"] for r in got3.collect()) == [1, 2, 3, 4, 5, 8]


def test_release_increment_null_split_always_rewrites(spark, tmp_path):
    from goodtables_pandas_py_spark.extensions.pipeline import (
        read_release,
        write_release_increment,
        write_release_version,
    )

    root = str(tmp_path / "rel")
    schema = "doc_id long, split string"
    df = spark.createDataFrame([(1, "train"), (2, None)], schema)
    write_release_version(df, root)
    m2 = write_release_increment(df, root)
    assert m2["incremental"]["reused"] == ["train"]
    assert m2["incremental"]["rewritten"] == ["__null__"]
    got, _ = read_release(spark, root)
    assert sorted(
        (r["doc_id"], r["split"]) for r in got.collect()
    ) == [(1, "train"), (2, None)]


def test_release_increment_fallbacks_and_retention(spark, tmp_path):
    """No prior publish, missing fingerprints (pre-r8 manifest), or an
    unpartitioned frame all fall back to the full path; keep_versions
    retention behaves exactly as on the full path."""
    import json
    import os

    from goodtables_pandas_py_spark.extensions.pipeline import (
        list_release_versions,
        read_release,
        write_release_increment,
    )

    root = str(tmp_path / "rel")
    schema = "doc_id long, split string"
    df = spark.createDataFrame([(1, "train"), (2, "val")], schema)
    m1 = write_release_increment(df, root)  # nothing published yet
    assert m1["version"] == "v00000001" and "incremental" not in m1

    # strip fingerprints to simulate a pre-r8 manifest -> full write
    mpath = os.path.join(root, "versions/v00000001/manifest.json")
    man = json.load(open(mpath))
    del man["partition_fingerprints"]
    json.dump(man, open(mpath, "w"))
    m2 = write_release_increment(df, root)
    assert m2["version"] == "v00000002" and "incremental" not in m2

    # unpartitioned frame -> full write
    m3 = write_release_increment(df.drop("split"), root, split_col="split")
    assert "incremental" not in m3

    # retention on the increment path: v4 as increment of v3?  v3 is
    # unpartitioned so v4 falls back too; re-seed partitioned then
    # increment with keep_versions=2
    write_release_increment(df, root)                     # v4 full
    m5 = write_release_increment(df, root, keep_versions=2)  # v5 reuses
    assert m5["incremental"]["reused"] == ["train", "val"]
    assert list_release_versions(spark, root) == ["v00000004", "v00000005"]
    # pruning v1-v3 must not break v5's hardlinked files
    got, _ = read_release(spark, root)
    assert sorted(r["doc_id"] for r in got.collect()) == [1, 2]


def test_release_changes_prunes_unchanged_partitions(spark, tmp_path):
    """r8: release_changes diffs two published versions reading ONLY
    the partitions whose manifest fingerprints differ — proven by
    inputFiles(), not trusted."""
    from goodtables_pandas_py_spark.extensions.pipeline import (
        release_changes,
        write_release_increment,
        write_release_version,
    )

    root = str(tmp_path / "rel")
    schema = "doc_id long, text string, split string"
    v1 = [
        (1, "a", "train"), (2, "b", "train"), (3, "c", "train"),
        (4, "d", "val"), (5, "e", "val"),
        (6, "f", "test"), (7, "g", "test"),
    ]
    write_release_version(spark.createDataFrame(v1, schema), root)
    v2 = v1 + [(8, "h", "val")]
    write_release_increment(spark.createDataFrame(v2, schema), root)

    changes = release_changes(spark, root)
    got = sorted((r["doc_id"], r["status"]) for r in changes.collect())
    assert got == [(8, "added")]
    # pruning reached the scans: every FileScan carries a partition
    # filter on the changed split (Catalyst simplifies the cast-isin
    # into a bare partition equality)
    plan = changes._jdf.queryExecution().executedPlan().toString()
    scans = [l for l in plan.splitlines() if "FileScan" in l]
    assert scans
    for line in scans:
        assert "PartitionFilters" in line and "= val" in line, line

    # v3: edit one train row + move doc 6 test -> train; val untouched
    v3 = [
        (1, "a2", "train"), (2, "b", "train"), (3, "c", "train"),
        (6, "f", "train"),
        (4, "d", "val"), (5, "e", "val"),
        (7, "g", "test"), (8, "h", "val"),
    ]
    write_release_increment(spark.createDataFrame(v3, schema), root)
    ch3 = release_changes(spark, root)
    got3 = sorted((r["doc_id"], r["status"]) for r in ch3.collect())
    # 1 edited, 6 moved partitions (split participates in the row
    # fingerprint) — both 'changed'; the val partition is pruned out
    # of every scan
    assert got3 == [(1, "changed"), (6, "changed")]
    plan3 = ch3._jdf.queryExecution().executedPlan().toString()
    for line in (l for l in plan3.splitlines() if "FileScan" in l):
        assert "PartitionFilters" in line and "val" not in line, line

    # explicit version pair spanning two increments
    ch13 = release_changes(
        spark, root, from_version="v00000001", to_version="v00000003"
    )
    got13 = sorted((r["doc_id"], r["status"]) for r in ch13.collect())
    assert got13 == [(1, "changed"), (6, "changed"), (8, "added")]


def test_release_changes_falls_back_without_fingerprints(
    spark, tmp_path
):
    import json
    import os

    from goodtables_pandas_py_spark.extensions.pipeline import (
        release_changes,
        write_release_version,
    )

    root = str(tmp_path / "rel")
    schema = "doc_id long, split string"
    write_release_version(
        spark.createDataFrame([(1, "a"), (2, "b")], schema), root
    )
    write_release_version(
        spark.createDataFrame([(1, "a"), (3, "b")], schema), root
    )
    # strip v1's fingerprints (pre-r8 manifest) -> full-scan fallback
    mpath = os.path.join(root, "versions/v00000001/manifest.json")
    man = json.load(open(mpath))
    del man["partition_fingerprints"]
    json.dump(man, open(mpath, "w"))
    got = sorted(
        (r["doc_id"], r["status"])
        for r in release_changes(spark, root).collect()
    )
    assert got == [(2, "removed"), (3, "added")]


def test_release_increment_daily_append_composition(spark, tmp_path):
    """The 100 TB operating pattern the increment exists for: a corpus
    partitioned by ingest day receives one new day per publish — every
    publish rewrites exactly ONE partition and hardlinks the rest, and
    the changes feed between any two versions reads only the new days.
    """
    from goodtables_pandas_py_spark.extensions.pipeline import (
        read_release,
        release_changes,
        write_release_increment,
    )

    root = str(tmp_path / "rel")
    schema = "doc_id long, text string, split string"

    def day(n, k):
        return [
            (n * 1000 + i, f"doc{n}-{i}", f"d{n:02d}") for i in range(k)
        ]

    corpus = day(1, 40)
    write_release_increment(
        spark.createDataFrame(corpus, schema), root
    )  # v1 full (nothing published yet)
    for n, k in [(2, 30), (3, 20)]:
        corpus = corpus + day(n, k)
        m = write_release_increment(
            spark.createDataFrame(corpus, schema), root
        )
        inc = m["incremental"]
        assert inc["rewritten"] == [f"d{n:02d}"], inc
        assert inc["removed"] == [] and len(inc["reused"]) == n - 1, inc
    got, man = read_release(spark, root)
    assert got.count() == 90 and man["n_rows"] == 90
    ch = release_changes(spark, root, from_version="v00000001")
    assert ch.count() == 50  # days 2+3 added
    assert {r["status"] for r in ch.collect()} == {"added"}


def test_partition_fingerprint_is_order_and_layout_invariant(spark):
    """The increment's reuse decision rests on _fingerprint_agg being
    a pure function of the row MULTISET: row order, partitioning, and
    duplicate rows must all be reflected faithfully."""
    from goodtables_pandas_py_spark.extensions.pipeline import (
        _fingerprint_agg,
    )

    rows = [
        (1, "a", 1.5), (2, "b", None), (3, None, 0.0),
        (2, "b", None),  # duplicate row: must count twice
    ]
    schema = "id long, s string, x double"

    def fp(data, parts):
        df = spark.createDataFrame(data, schema).repartition(parts)
        r = df.agg(*_fingerprint_agg(["id", "s", "x"])).collect()[0]
        return (r["n"], int(r["fp"]))

    base = fp(rows, 2)
    assert fp(list(reversed(rows)), 5) == base
    assert fp(rows[2:] + rows[:2], 1) == base
    # dropping one copy of the duplicate changes (n, fp)
    assert fp(rows[:3], 2) != base
    # changing a single value changes fp at equal n
    mutated = [(1, "a", 1.5), (2, "b", None), (3, None, 0.25),
               (2, "b", None)]
    n2, f2 = fp(mutated, 2)
    assert n2 == base[0] and f2 != base[1]
    # null vs absent-from-hash trap: a null column must still be
    # distinguishable from a different null layout
    swapped = [(1, None, 1.5), (2, "b", None), (3, "a", 0.0),
               (2, "b", None)]
    assert fp(swapped, 2) != base


def test_partition_fingerprint_sees_null_shifts(spark):
    """xxhash64 skips null ARGUMENTS, so raw-column hashing would make
    ("x", null) == (null, "x") in same-typed columns — a value
    shifting across a null between releases would reuse a stale
    partition. The sentinel rendering must keep them apart."""
    from goodtables_pandas_py_spark.extensions.pipeline import (
        _fingerprint_agg,
    )

    schema = "id long, s1 string, s2 string"

    def fp(data):
        r = (
            spark.createDataFrame(data, schema)
            .agg(*_fingerprint_agg(["id", "s1", "s2"]))
            .collect()[0]
        )
        return int(r["fp"])

    assert fp([(1, "x", None)]) != fp([(1, None, "x")])
    # and the sentinel itself must not collide with a literal value
    assert fp([(1, " null", None)]) != fp([(1, None, None)])
    assert fp([(1, "v1", None)]) != fp([(1, None, "v1")])


def test_release_fingerprint_opt_out(spark, tmp_path):
    """fingerprint=False publishes a counts-only manifest (cheaper
    readback agg); a later increment then falls back to a full write
    instead of failing."""
    from goodtables_pandas_py_spark.extensions.pipeline import (
        write_release_increment,
        write_release_version,
    )

    root = str(tmp_path / "rel")
    df = spark.createDataFrame(
        [(1, "train"), (2, "val")], "doc_id long, split string"
    )
    m1 = write_release_version(df, root, fingerprint=False)
    assert m1["partition_fingerprints"] == {}
    assert m1["row_counts"] == {"train": 1, "val": 1}
    m2 = write_release_increment(df, root)
    assert m2["version"] == "v00000002" and "incremental" not in m2
    assert m2["partition_fingerprints"]  # full path re-enables them


def test_release_append_cost_tracks_batch(spark, tmp_path):
    """write_release_append: touched partitions rewrite as
    (pruned current read) UNION batch; untouched partitions carry
    their manifest entries verbatim — and the resulting manifest is
    EXACTLY what a full rescan would produce (proven by a follow-up
    increment over the recomputed corpus reusing every partition)."""
    from goodtables_pandas_py_spark.extensions.pipeline import (
        read_release,
        write_release_append,
        write_release_increment,
        write_release_version,
    )

    root = str(tmp_path / "rel")
    schema = "doc_id long, text string, split string"
    base = [
        (1, "a", "train"), (2, "b", "train"),
        (3, "c", "val"), (4, "d", "test"),
    ]
    write_release_version(spark.createDataFrame(base, schema), root)

    batch = [(5, "e", "val"), (6, "f", "new")]
    m2 = write_release_append(spark.createDataFrame(batch, schema), root)
    inc = m2["incremental"]
    assert inc["append"] is True
    assert inc["rewritten"] == ["new", "val"]
    assert inc["reused"] == ["test", "train"]
    got, man = read_release(spark, root)
    assert sorted(r["doc_id"] for r in got.collect()) == [1, 2, 3, 4, 5, 6]
    assert man["row_counts"]["val"] == 2 and man["row_counts"]["new"] == 1
    assert man["n_rows"] == 6

    # manifest-consistency proof: an increment over the full corpus
    # recomputes every fingerprint from scratch — if append's merged
    # manifest (carried entries + pruned readback) were wrong in any
    # partition, that partition would show up as rewritten here
    full = spark.createDataFrame(base + batch, schema)
    m3 = write_release_increment(full, root)
    assert m3["incremental"]["rewritten"] == [], m3["incremental"]
    assert m3["incremental"]["reused"] == ["new", "test", "train", "val"]

    # empty batch: no-op, returns the current manifest
    m4 = write_release_append(
        spark.createDataFrame([], schema), root
    )
    assert m4["version"] == m3["version"]

    # appending to an unpartitioned / fingerprint-less release refuses
    root2 = str(tmp_path / "rel2")
    write_release_version(
        spark.createDataFrame(base, schema), root2, fingerprint=False
    )
    with pytest.raises(ValueError, match="fingerprinted"):
        write_release_append(spark.createDataFrame(batch, schema), root2)


def test_release_append_reads_only_touched_partitions(spark, tmp_path):
    """The current-version read inside an append is partition-pruned
    to the batch's splits — plan-asserted, not trusted."""
    from goodtables_pandas_py_spark.extensions.pipeline import (
        write_release_append,
        write_release_version,
    )

    root = str(tmp_path / "rel")
    schema = "doc_id long, split string"
    write_release_version(
        spark.createDataFrame(
            [(1, "train"), (2, "val"), (3, "test")], schema
        ),
        root,
    )
    # capture the executed plans of the jobs the append runs by
    # checking the final data layout + manifest instead: the pruned
    # read is asserted via the merged frame's own query plan
    import pyspark.sql.functions as F  # noqa: F401

    from goodtables_pandas_py_spark.extensions.pipeline import (
        read_release,
    )

    cur, _ = read_release(spark, root)
    batch_df = spark.createDataFrame([(9, "val")], schema)
    vals = ["val"]
    cond = F.col("split").cast("string").isin(vals)
    merged = cur.select(*batch_df.columns).where(cond).unionByName(
        batch_df
    )
    plan = merged._jdf.queryExecution().executedPlan().toString()
    merged.collect()
    scans = [l for l in plan.splitlines() if "FileScan" in l]
    assert scans and all(
        "PartitionFilters: [" in l and "val" in l for l in scans
    ), plan
    # and the real API produces the same content
    m = write_release_append(batch_df, root)
    assert m["incremental"]["rewritten"] == ["val"]
    got, _ = read_release(spark, root)
    assert got.where("split = 'val'").count() == 2


def test_release_increment_nonstring_split_columns(spark, tmp_path):
    """r8 review regressions: (a) an INT split with partial reuse must
    not mix int and str manifest keys (json.dumps(sort_keys=True)
    raised TypeError); (b) a BOOLEAN split must locate its hive dirs
    ('true', not Python's 'True') for reuse."""
    from goodtables_pandas_py_spark.extensions.pipeline import (
        read_release,
        write_release_append,
        write_release_increment,
        write_release_version,
    )

    # (a) int split: keep 10, change 20
    root = str(tmp_path / "rel_int")
    schema = "doc_id long, split int"
    base = [(1, 10), (2, 10), (3, 20)]
    write_release_version(spark.createDataFrame(base, schema), root)
    df2 = spark.createDataFrame(base + [(4, 20)], schema)
    m2 = write_release_increment(df2, root)
    assert m2["incremental"]["reused"] == ["10"]
    assert m2["incremental"]["rewritten"] == ["20"]
    assert m2["row_counts"] == {"10": 2, "20": 2}
    got, _ = read_release(spark, root)
    assert got.count() == 4

    # (b) boolean split: reuse both partitions via increment + append
    root2 = str(tmp_path / "rel_bool")
    bschema = "doc_id long, split boolean"
    bbase = [(1, True), (2, False)]
    write_release_version(spark.createDataFrame(bbase, bschema), root2)
    m3 = write_release_increment(
        spark.createDataFrame(bbase, bschema), root2
    )
    assert sorted(m3["incremental"]["reused"]) == ["false", "true"]
    m4 = write_release_append(
        spark.createDataFrame([(3, True)], bschema), root2
    )
    assert m4["incremental"]["reused"] == ["false"]
    assert m4["incremental"]["rewritten"] == ["true"]
    got2, man2 = read_release(spark, root2)
    assert got2.count() == 3 and man2["row_counts"] == {
        "true": 2, "false": 1,
    }


def test_release_append_refuses_schema_drift(spark, tmp_path):
    from goodtables_pandas_py_spark.extensions.pipeline import (
        write_release_append,
        write_release_version,
    )

    root = str(tmp_path / "rel")
    write_release_version(
        spark.createDataFrame(
            [(1, "x", "train")], "doc_id long, lang string, split string"
        ),
        root,
    )
    with pytest.raises(ValueError, match="columns"):
        write_release_append(
            spark.createDataFrame(
                [(2, "train")], "doc_id long, split string"
            ),
            root,
        )


def test_part_key_matches_spark_string_cast(spark):
    """_part_key (the group-key rendering of splits.py) agrees with
    Spark's cast-to-string for strings, integers, booleans, a short
    double and dates — the forms a budgets dict or curriculum manifest
    key takes. Release manifests take their keys from Spark itself."""
    import datetime as dt

    from goodtables_pandas_py_spark.extensions.splits import _part_key

    cases = [
        ("train", "string"),
        (7, "int"),
        (-3, "bigint"),
        (True, "boolean"),
        (False, "boolean"),
        (1.5, "double"),
        (dt.date(2024, 2, 29), "date"),
    ]
    for val, typ in cases:
        rendered = (
            spark.createDataFrame([(val,)], f"v {typ}")
            .selectExpr("cast(v as string) as s")
            .first()["s"]
        )
        assert _part_key(val) == rendered, (val, typ, rendered)
    assert _part_key(None) == "__null__"


def test_release_rollback(spark, tmp_path):
    """rollback_release: atomic pointer swap to an older published
    version; the next increment builds on the rolled-back manifest
    and version numbers keep increasing."""
    from goodtables_pandas_py_spark.extensions.pipeline import (
        read_release,
        rollback_release,
        write_release_increment,
        write_release_version,
    )

    root = str(tmp_path / "rel")
    schema = "doc_id long, split string"
    v1_df = spark.createDataFrame([(1, "train"), (2, "val")], schema)
    write_release_version(v1_df, root)
    write_release_version(
        spark.createDataFrame([(9, "train")], schema), root
    )  # the "bad" v2
    man = rollback_release(spark, root, "v00000001")
    assert man["version"] == "v00000001"
    got, m = read_release(spark, root)
    assert sorted(r["doc_id"] for r in got.collect()) == [1, 2]
    assert m["version"] == "v00000001"
    # next increment: based on v1's manifest, becomes v3
    m3 = write_release_increment(v1_df, root)
    assert m3["version"] == "v00000003"
    assert m3["incremental"]["base_version"] == "v00000001"
    assert m3["incremental"]["rewritten"] == []
    # unknown / unpublished versions refuse
    with pytest.raises(FileNotFoundError):
        rollback_release(spark, root, "v00000042")


def test_write_release_merge_upserts_touched_partitions_only(
    spark, tmp_path
):
    """write_release_merge (r9, VERDICT r8 item 2): matched ids
    replaced, new ids inserted, delete ids removed; ONLY partitions
    containing touched keys rewrite (manifest-asserted) and the
    result equals a full rewrite exactly (proven by a follow-up
    increment over the expected corpus reusing every partition)."""
    from goodtables_pandas_py_spark.extensions.pipeline import (
        read_release,
        write_release_increment,
        write_release_merge,
        write_release_version,
    )

    root = str(tmp_path / "rel")
    schema = "doc_id long, text string, split string"
    base = [
        (1, "a", "train"), (2, "b", "train"), (3, "c", "train"),
        (4, "d", "val"), (5, "e", "test"), (6, "f", "test"),
    ]
    write_release_version(spark.createDataFrame(base, schema), root)

    # upsert: id 2 changed, id 7 new (both 'train'); delete id 6
    updates = spark.createDataFrame(
        [(2, "B!", "train"), (7, "g", "train")], schema
    )
    deletes = spark.createDataFrame(
        [(6, "test")], "doc_id long, split string"
    )
    m2 = write_release_merge(updates, root, deletes=deletes)
    inc = m2["incremental"]
    assert inc["merge"] is True
    assert inc["rewritten"] == ["test", "train"]
    assert inc["reused"] == ["val"]
    assert inc["removed"] == []
    got, man = read_release(spark, root)
    expect = [
        (1, "a", "train"), (2, "B!", "train"), (3, "c", "train"),
        (4, "d", "val"), (5, "e", "test"), (7, "g", "train"),
    ]
    assert sorted(
        (r["doc_id"], r["text"], r["split"]) for r in got.collect()
    ) == sorted(expect)
    assert man["n_rows"] == 6

    # byte-for-byte-equivalent proof: an increment over the expected
    # corpus recomputes every fingerprint — any divergence in the
    # merged partitions would surface as a rewrite here
    m3 = write_release_increment(
        spark.createDataFrame(expect, schema), root
    )
    assert m3["incremental"]["rewritten"] == [], m3["incremental"]
    assert m3["incremental"]["reused"] == ["test", "train", "val"]

    # untouched partition's files are HARDLINKED forward, not copied
    import os

    v2 = os.path.join(root, "versions", m2["version"], "data.parquet")
    val_dir = os.path.join(v2, "split=val")
    links = [
        os.stat(os.path.join(val_dir, f)).st_nlink
        for f in os.listdir(val_dir)
        if f.endswith(".parquet")
    ]
    assert links and all(n >= 2 for n in links), links


def test_write_release_merge_replay_is_noop_and_contracts(
    spark, tmp_path
):
    """Replaying the SAME merge publishes nothing (idempotence = the
    foreachBatch replay story: fingerprints match, no version bump);
    duplicate/null update ids, schema drift, missing base, and a
    delete-everything partition all behave per contract; opt-in
    id-migration check catches a moved id."""
    import pytest as _pytest

    from goodtables_pandas_py_spark.extensions.pipeline import (
        list_release_versions,
        read_release,
        write_release_merge,
        write_release_version,
    )

    root = str(tmp_path / "rel")
    schema = "doc_id long, text string, split string"
    base = [
        (1, "a", "train"), (2, "b", "train"),
        (3, "c", "val"), (4, "d", "test"),
    ]
    with _pytest.raises(ValueError, match="nothing published"):
        write_release_merge(
            spark.createDataFrame(base, schema), str(tmp_path / "none")
        )
    write_release_version(spark.createDataFrame(base, schema), root)

    updates = spark.createDataFrame([(2, "B!", "train")], schema)
    m2 = write_release_merge(updates, root)
    assert m2["incremental"]["merge"] is True
    # replay: same updates -> same fingerprints -> no publish
    m3 = write_release_merge(updates, root)
    assert m3["version"] == m2["version"]
    assert list_release_versions(spark, root) == ["v00000001", "v00000002"]

    # duplicate update ids refuse
    with _pytest.raises(ValueError, match="not unique"):
        write_release_merge(
            spark.createDataFrame(
                [(9, "x", "train"), (9, "y", "train")], schema
            ),
            root,
        )
    # schema drift refuses
    with _pytest.raises(ValueError, match="columns"):
        write_release_merge(
            spark.createDataFrame(
                [(9, "train")], "doc_id long, split string"
            ),
            root,
        )
    # deleting a partition's every row removes the partition
    deletes = spark.createDataFrame(
        [(4, "test")], "doc_id long, split string"
    )
    m4 = write_release_merge(
        spark.createDataFrame([], schema), root, deletes=deletes
    )
    assert m4["incremental"]["removed"] == ["test"]
    got, man = read_release(spark, root)
    assert sorted(r["doc_id"] for r in got.collect()) == [1, 2, 3]
    assert "test" not in man["row_counts"]

    # id migration: id 3 lives in 'val'; an update claiming 'train'
    # passes silently by default (documented) but the opt-in check
    # catches it
    moved = spark.createDataFrame([(3, "c2", "train")], schema)
    with _pytest.raises(ValueError, match="split must not change"):
        write_release_merge(moved, root, check_id_migration=True)


def test_release_concurrent_publishers_conflict_loudly(spark, tmp_path):
    """The r9 concurrent-writer guard (VERDICT r8 item 3): two
    interleaved publishers — the loser gets ReleaseConflictError at
    claim or swap time, the winner's version survives intact, and
    the pointer never regresses. Simulated by interleaving the
    publish steps the way two processes would race them."""
    import pytest as _pytest

    from goodtables_pandas_py_spark.extensions.pipeline import (
        ReleaseConflictError,
        _claim_version,
        _next_version_name,
        _verify_base_and_swap,
        read_release,
        write_release_append,
        write_release_version,
    )

    root = str(tmp_path / "rel")
    schema = "doc_id long, text string, split string"
    write_release_version(
        spark.createDataFrame([(1, "a", "train")], schema), root
    )

    # race 1: both compute the same next version; B claims first ->
    # A's claim raises before any data is written
    vname = _next_version_name(spark, root)
    _claim_version(spark, root, vname)  # publisher B
    with _pytest.raises(ReleaseConflictError, match="already claimed"):
        _claim_version(spark, root, vname)  # publisher A loses

    # race 2: A starts from base v1, B publishes v3 meanwhile ->
    # A's swap detects the moved pointer and raises; B's version
    # stays CURRENT
    base = "v00000001"
    write_release_append(  # publisher B lands (v3: v2 is the orphan)
        spark.createDataFrame([(2, "b", "val")], schema), root
    )
    _, man_b = read_release(spark, root)
    a_v = _next_version_name(spark, root)
    _claim_version(spark, root, a_v)
    with _pytest.raises(ReleaseConflictError, match="moved"):
        _verify_base_and_swap(spark, root, a_v, base)
    _, man_after = read_release(spark, root)
    assert man_after["version"] == man_b["version"]
    got, _ = read_release(spark, root)
    assert sorted(r["doc_id"] for r in got.collect()) == [1, 2]


def test_release_conflict_abandons_loser_dir(spark, tmp_path, monkeypatch):
    """ADVICE r9 (medium): a publish that loses the pointer race must
    not leave a manifest-complete version dir — everything downstream
    (release_changes, rollback, retention, release_history, vacuum)
    defines 'published' as manifest-present, so the abandoned dir
    would look published forever. The full publish path (not the raw
    guard) is exercised: publisher B lands BETWEEN A's manifest
    finalize and A's swap, via a finalize hook."""
    import pytest as _pytest

    from goodtables_pandas_py_spark.extensions import pipeline as pl

    root = str(tmp_path / "rel")
    schema = "doc_id long, text string, split string"
    pl.write_release_version(
        spark.createDataFrame([(1, "a", "train")], schema), root
    )

    orig_fin = pl._finalize_release_manifest
    state = {"fired": False}

    def fin_then_interleave(*a, **k):
        man = orig_fin(*a, **k)
        if not state["fired"]:
            state["fired"] = True  # guard: B's publish recurses here
            pl.write_release_version(
                spark.createDataFrame([(9, "winner", "train")], schema),
                root,
            )
        return man

    monkeypatch.setattr(pl, "_finalize_release_manifest", fin_then_interleave)
    with _pytest.raises(pl.ReleaseConflictError, match="moved"):
        pl.write_release_append(
            spark.createDataFrame([(2, "loser", "val")], schema), root
        )
    monkeypatch.undo()

    # the loser's dir is gone entirely — not published-looking, not
    # even a vacuumable remnant (best-effort cleanup ran to the end)
    hist = {
        r["version"]: r
        for r in pl.release_history(spark, root).collect()
    }
    assert all(r["published"] for r in hist.values())
    got, man = pl.read_release(spark, root)
    assert man["version"] == max(hist)
    assert sorted(r["doc_id"] for r in got.collect()) == [9]
    # retention / changes / rollback see only real versions
    assert pl.vacuum_release_orphans(spark, root, grace_seconds=0) == []


def test_release_swap_fault_injection(spark, tmp_path, monkeypatch):
    """VERDICT r9 item 3: the pointer swap under a hostile filesystem.
    Three interleavings — rename RAISES, rename LIES (claims success,
    wrote a different pointer), and a crash between claim and swap —
    must each end in a clean version or a typed error plus a
    recoverable root, never a silently corrupt release."""
    import pytest as _pytest

    from goodtables_pandas_py_spark.extensions import pipeline as pl

    schema = "doc_id long, text string, split string"

    # --- rename raises: publish dies, CURRENT unchanged, loser dir
    # abandoned, retry succeeds
    root = str(tmp_path / "r1")
    pl.write_release_version(
        spark.createDataFrame([(1, "a", "train")], schema), root
    )

    def broken_swap(*a, **k):
        raise IOError("simulated non-atomic rename failure")

    monkeypatch.setattr(pl, "_swap_pointer", broken_swap)
    with _pytest.raises(IOError, match="simulated"):
        pl.write_release_append(
            spark.createDataFrame([(2, "b", "val")], schema), root
        )
    monkeypatch.undo()
    got, man = pl.read_release(spark, root)
    assert man["version"] == "v00000001"
    assert [r["doc_id"] for r in got.collect()] == [1]
    assert all(
        r["published"]
        for r in pl.release_history(spark, root).collect()
    )
    m2 = pl.write_release_append(  # retry lands cleanly
        spark.createDataFrame([(2, "b", "val")], schema), root
    )
    assert pl.read_release(spark, root)[1]["version"] == m2["version"]

    # --- rename lies: swap "succeeds" but CURRENT holds something
    # else -> read-after-write check raises, rollback recovers
    root = str(tmp_path / "r2")
    pl.write_release_version(
        spark.createDataFrame([(1, "a", "train")], schema), root
    )
    real_swap = pl._swap_pointer

    def lying_swap(fs_spark, rt, version):
        real_swap(fs_spark, rt, "vGARBAGE")  # wrote the wrong thing

    monkeypatch.setattr(pl, "_swap_pointer", lying_swap)
    with _pytest.raises(pl.ReleaseConflictError, match="overwritten"):
        pl.write_release_append(
            spark.createDataFrame([(2, "b", "val")], schema), root
        )
    monkeypatch.undo()
    # pointer IS corrupt now (detection, not prevention, is the
    # guarantee for a lying rename) — the recovery recipe restores it
    man = pl.rollback_release(spark, root, "v00000001")
    assert man["version"] == "v00000001"
    got, man = pl.read_release(spark, root)
    assert [r["doc_id"] for r in got.collect()] == [1]

    # --- crash between claim and swap: claimed dir with no manifest;
    # vacuum honors the grace period, then reclaims at grace 0
    root = str(tmp_path / "r3")
    pl.write_release_version(
        spark.createDataFrame([(1, "a", "train")], schema), root
    )

    def crashing_write(*a, **k):
        raise RuntimeError("simulated executor crash mid-write")

    import goodtables_pandas_py_spark.sources as _sources

    # pipeline imports write_partitioned from ..sources at call time
    monkeypatch.setattr(_sources, "write_partitioned", crashing_write)
    with _pytest.raises(RuntimeError, match="mid-write"):
        pl.write_release_increment(
            spark.createDataFrame(
                [(1, "a", "train"), (2, "b", "train")], schema
            ),
            root,
        )
    monkeypatch.undo()
    # the orphan consumed a number above CURRENT -> never vacuumed
    # (may be in flight); publish past it, then vacuum with grace
    assert pl.vacuum_release_orphans(spark, root, grace_seconds=0) == []
    pl.write_release_version(
        spark.createDataFrame([(3, "c", "train")], schema), root
    )
    # fresh claim: default grace protects a possibly-live writer
    assert pl.vacuum_release_orphans(spark, root) == []
    assert pl.vacuum_release_orphans(spark, root, grace_seconds=0) == [
        "v00000002"
    ]
    assert pl.list_release_versions(spark, root) == [
        "v00000001", "v00000003",
    ]


def test_release_finalize_requires_live_claim(spark, tmp_path):
    """ADVICE r9: a writer whose claimed dir was vacuumed mid-write
    must die at finalize time instead of re-creating the dir with a
    manifest (an un-vacuumable phantom)."""
    import pytest as _pytest

    from goodtables_pandas_py_spark import storage
    from goodtables_pandas_py_spark.extensions import pipeline as pl

    root = str(tmp_path / "rel")
    schema = "doc_id long, text string, split string"
    df = spark.createDataFrame([(1, "a", "train")], schema)
    vdir = f"{root}/versions/v00000001"
    pl._claim_version(spark, root, "v00000001")
    storage.delete(spark, f"{vdir}/.CLAIM")  # the racing vacuum
    with _pytest.raises(pl.ReleaseConflictError, match="claim file"):
        pl.write_release(df, vdir, require_claim=True)


def test_merge_id_migration_catches_null_split(spark, tmp_path):
    """ADVICE r9: an update id living in the hive NULL partition must
    not escape check_id_migration — ~isin() is NULL (not false) for a
    null split, which silently dropped those rows from the untouched
    scan before the coalesce fix."""
    import pytest as _pytest

    from goodtables_pandas_py_spark.extensions import pipeline as pl

    root = str(tmp_path / "rel")
    schema = "doc_id long, text string, split string"
    base = [(1, "a", None), (2, "b", "train")]
    pl.write_release_version(spark.createDataFrame(base, schema), root)
    # id 1 lives in the null partition; the update claims 'train'
    moved = spark.createDataFrame([(1, "a2", "train")], schema)
    with _pytest.raises(ValueError, match="split must not change"):
        pl.write_release_merge(moved, root, check_id_migration=True)


def test_release_schema_evolution_add_column(spark, tmp_path):
    """allow_new_columns=True (r9): a wider append/merge batch evolves
    the release schema — rewritten partitions carry the new column,
    hardlinked ones read back with NULLs (manifest-schema scan), and
    dropping columns is still refused."""
    import pytest as _pytest

    from goodtables_pandas_py_spark.extensions.pipeline import (
        read_release,
        write_release_append,
        write_release_merge,
        write_release_version,
    )

    root = str(tmp_path / "rel")
    schema = "doc_id long, text string, split string"
    base = [
        (1, "a", "train"), (2, "b", "train"), (3, "c", "val"),
    ]
    write_release_version(spark.createDataFrame(base, schema), root)

    wider = "doc_id long, text string, split string, score double"
    batch = spark.createDataFrame([(4, "d", "val", 0.9)], wider)
    # default refuses, with the evolve hint
    with _pytest.raises(ValueError, match="allow_new_columns"):
        write_release_append(batch, root)
    m2 = write_release_append(batch, root, allow_new_columns=True)
    assert m2["incremental"]["new_columns"] == ["score"]
    got, man = read_release(spark, root)
    rows = {r["doc_id"]: r["score"] for r in got.collect()}
    # evolved column: value on the batch row, NULL backfill elsewhere
    # (including rows of the REWRITTEN 'val' partition and the
    # hardlinked 'train' one)
    assert rows == {1: None, 2: None, 3: None, 4: 0.9}
    assert sorted(f["name"] for f in man["schema"]["fields"]) == [
        "doc_id", "score", "split", "text",
    ]

    # merge with a second new column; dropping 'score' refuses
    wider2 = wider + ", lang string"
    upd = spark.createDataFrame([(2, "B", "train", 0.5, "en")], wider2)
    m3 = write_release_merge(
        upd, root, allow_new_columns=True
    )
    assert m3["incremental"]["new_columns"] == ["lang"]
    got3, _ = read_release(spark, root)
    r2 = {r["doc_id"]: (r["text"], r["score"], r["lang"])
          for r in got3.collect()}
    assert r2[2] == ("B", 0.5, "en")
    assert r2[4] == ("d", 0.9, None)
    assert r2[1] == ("a", None, None)
    narrower = spark.createDataFrame([(9, "x", "train")], schema)
    with _pytest.raises(ValueError, match="columns"):
        write_release_merge(narrower, root, allow_new_columns=True)


def test_compact_release_version_proves_equality(spark, tmp_path):
    """compact_release_version (r9): fragmented partitions rewrite to
    one file each, untouched ones hardlink, content fingerprints must
    MATCH the current manifest (the equality proof), and a no-op
    compaction publishes nothing."""
    import os

    from goodtables_pandas_py_spark.extensions.pipeline import (
        compact_release_version,
        read_release,
        write_release_append,
        write_release_version,
    )

    root = str(tmp_path / "rel")
    schema = "doc_id long, text string, split string"
    write_release_version(
        spark.createDataFrame(
            [(1, "a", "train"), (2, "b", "val")], schema
        ),
        root,
    )
    # five appends fragment 'train' into many files
    for i in range(5):
        write_release_append(
            spark.createDataFrame([(10 + i, f"t{i}", "train")], schema),
            root,
        )
    got0, man0 = read_release(spark, root)
    before = sorted(
        (r["doc_id"], r["text"], r["split"]) for r in got0.collect()
    )

    man = compact_release_version(spark, root)
    assert man["incremental"]["compaction"] is True
    assert "train" in man["incremental"]["rewritten"]
    # compacted partition: exactly one parquet file
    vdir = os.path.join(root, "versions", man["version"], "data.parquet")
    n_files = [
        f
        for f in os.listdir(os.path.join(vdir, "split=train"))
        if f.endswith(".parquet")
    ]
    assert len(n_files) == 1, n_files
    # content identical, fingerprints carried/matched
    got, _ = read_release(spark, root)
    after = sorted(
        (r["doc_id"], r["text"], r["split"]) for r in got.collect()
    )
    assert after == before
    assert man["partition_fingerprints"] == man0["partition_fingerprints"]

    # already compact -> no-op, no version bump
    man2 = compact_release_version(spark, root)
    assert man2["version"] == man["version"]


def test_vacuum_release_orphans(spark, tmp_path):
    """vacuum_release_orphans (r9): unpublished dirs at or below
    CURRENT's number are deleted (crashed writers, lost races);
    higher-numbered ones (a publish possibly in flight) and published
    versions are kept."""
    import os

    from goodtables_pandas_py_spark.extensions.pipeline import (
        _claim_version,
        list_release_versions,
        read_release,
        vacuum_release_orphans,
        write_release_version,
    )

    root = str(tmp_path / "rel")
    schema = "doc_id long, split string"
    write_release_version(
        spark.createDataFrame([(1, "train")], schema), root
    )  # v1 published
    _claim_version(spark, root, "v00000002")  # crashed writer
    write_release_version(
        spark.createDataFrame([(2, "train")], schema), root
    )  # v3 published (orphan advanced the counter)
    _claim_version(spark, root, "v00000004")  # in-flight publisher

    # default grace protects the freshly-claimed dir (ADVICE r9: a
    # live writer that lost the counter race looks exactly like this)
    assert vacuum_release_orphans(spark, root) == []
    deleted = vacuum_release_orphans(spark, root, grace_seconds=0)
    assert deleted == ["v00000002"]
    assert list_release_versions(spark, root) == [
        "v00000001", "v00000003", "v00000004",
    ]
    got, man = read_release(spark, root)
    assert man["version"] == "v00000003" and got.count() == 1
    # idempotent
    assert vacuum_release_orphans(spark, root, grace_seconds=0) == []
    assert vacuum_release_orphans(spark, str(tmp_path / "none")) == []
    assert os.path.isdir(os.path.join(root, "versions", "v00000004"))


from hypothesis import HealthCheck, given, settings, strategies as st


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=50),      # id
            st.sampled_from(["a", "b", "c"]),            # split
            st.text(min_size=0, max_size=6),             # payload
        ),
        min_size=1, max_size=25, unique_by=lambda t: t[0],
    ),
    st.data(),
)
@pytest.mark.slow
def test_write_release_merge_property_matches_python(
    spark, tmp_path_factory, base_rows, data
):
    """MERGE ≡ the dict-upsert a user means by it, on arbitrary data:
    for random base/updates/deletes (ids' splits held stable, the
    documented contract), read_release(after merge) equals a pure-
    Python apply of the same operations. Also re-proves idempotence:
    replaying the merge publishes nothing."""
    from goodtables_pandas_py_spark.extensions.pipeline import (
        list_release_versions,
        read_release,
        write_release_merge,
        write_release_version,
    )

    split_of = {i: s for i, s, _ in base_rows}
    base_ids = sorted(split_of)
    upd_ids = data.draw(
        st.lists(st.sampled_from(base_ids), max_size=5, unique=True)
    )
    new_ids = data.draw(
        st.lists(
            st.integers(min_value=100, max_value=120),
            max_size=3, unique=True,
        )
    )
    del_ids = data.draw(
        st.lists(
            st.sampled_from(base_ids), max_size=5, unique=True
        )
    )
    del_ids = [i for i in del_ids if i not in upd_ids]
    updates = [(i, split_of[i], f"rev{i}") for i in upd_ids] + [
        (i, data.draw(st.sampled_from(["a", "b", "c"])), f"new{i}")
        for i in new_ids
    ]
    if not updates and not del_ids:
        return

    schema = "doc_id long, split string, text string"
    root = str(tmp_path_factory.mktemp("mergeprop") / "rel")
    write_release_version(
        spark.createDataFrame(
            [(i, s, t) for i, s, t in base_rows], schema
        ),
        root,
    )
    upd_df = spark.createDataFrame(
        [(i, s, t) for i, s, t in updates], schema
    ) if updates else spark.createDataFrame([], schema)
    del_df = (
        spark.createDataFrame(
            [(i, split_of[i]) for i in del_ids],
            "doc_id long, split string",
        )
        if del_ids
        else None
    )
    write_release_merge(upd_df, root, deletes=del_df)

    expected = {i: (s, t) for i, s, t in base_rows}
    for i in del_ids:
        expected.pop(i, None)
    for i, s, t in updates:
        expected[i] = (s, t)
    got, _ = read_release(spark, root)
    assert {
        r["doc_id"]: (r["split"], r["text"]) for r in got.collect()
    } == expected

    # idempotence on arbitrary data
    before = list_release_versions(spark, root)
    write_release_merge(upd_df, root, deletes=del_df)
    assert list_release_versions(spark, root) == before


def test_release_history_audit_view(spark, tmp_path):
    """release_history (r9): one row per version dir with kind /
    published / current / base links — metadata only."""
    from goodtables_pandas_py_spark.extensions.pipeline import (
        _claim_version,
        release_history,
        write_release_append,
        write_release_merge,
        write_release_version,
    )

    root = str(tmp_path / "rel")
    schema = "doc_id long, text string, split string"
    write_release_version(
        spark.createDataFrame([(1, "a", "train")], schema), root
    )
    write_release_append(
        spark.createDataFrame([(2, "b", "val")], schema), root
    )
    write_release_merge(
        spark.createDataFrame([(1, "A", "train")], schema), root
    )
    _claim_version(spark, root, "v00000009")  # crashed writer

    hist = {r["version"]: r for r in release_history(spark, root).collect()}
    assert hist["v00000001"]["kind"] == "full"
    assert hist["v00000002"]["kind"] == "append"
    assert hist["v00000003"]["kind"] == "merge"
    assert hist["v00000003"]["current"] is True
    assert hist["v00000003"]["base_version"] == "v00000002"
    assert hist["v00000003"]["n_rows"] == 2
    assert hist["v00000009"]["kind"] == "unpublished"
    assert hist["v00000009"]["published"] is False
    assert sum(1 for r in hist.values() if r["current"]) == 1


def test_write_release_merge_reads_only_touched_partitions(
    spark, tmp_path
):
    """The current-version read inside a merge is partition-pruned to
    the batch's splits — plan-asserted on the same frame shape the
    merge builds (the append test's methodology)."""
    from pyspark.sql.types import StructType

    from goodtables_pandas_py_spark.extensions.pipeline import (
        read_release,
        write_release_merge,
        write_release_version,
    )

    root = str(tmp_path / "rel")
    schema = "doc_id long, text string, split string"
    write_release_version(
        spark.createDataFrame(
            [(1, "a", "train"), (2, "b", "val"), (3, "c", "test")],
            schema,
        ),
        root,
    )
    cur, man = read_release(spark, root)
    updates = spark.createDataFrame([(2, "B", "val")], schema)
    cond = F.col("split").cast("string").isin(["val"])
    pruned = (
        cur.select(*updates.columns)
        .where(cond)
        .join(updates.select("doc_id").distinct(), "doc_id", "left_anti")
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    pruned.collect()
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert scans and all(
        "PartitionFilters: [" in ln and "val" in ln for ln in scans
    ), plan
    # and the real API rewrites only 'val'
    m = write_release_merge(updates, root)
    assert m["incremental"]["rewritten"] == ["val"]
    assert m["incremental"]["reused"] == ["test", "train"]


def test_release_merge_and_append_work_on_emptied_release(
    spark, tmp_path
):
    """An EMPTIED release ({} fingerprints, n_rows 0 — every row
    merged/deleted away) must still accept merges and appends, or the
    corpus is stranded at zero rows forever (hypothesis r9 found the
    refusal via delete-everything + replay)."""
    from goodtables_pandas_py_spark.extensions.pipeline import (
        read_release,
        write_release_append,
        write_release_merge,
        write_release_version,
    )

    root = str(tmp_path / "rel")
    schema = "doc_id long, split string, text string"
    write_release_version(
        spark.createDataFrame([(0, "a", "x")], schema), root
    )
    # delete the only row -> empty v2
    m2 = write_release_merge(
        spark.createDataFrame([], schema),
        root,
        deletes=spark.createDataFrame(
            [(0, "a")], "doc_id long, split string"
        ),
    )
    assert m2["n_rows"] == 0
    got, _ = read_release(spark, root)
    assert got.count() == 0
    # replaying the emptying merge publishes nothing
    m2b = write_release_merge(
        spark.createDataFrame([], schema),
        root,
        deletes=spark.createDataFrame(
            [(0, "a")], "doc_id long, split string"
        ),
    )
    assert m2b["version"] == m2["version"]
    # the corpus is not stranded: merge-inserts and appends both work
    m3 = write_release_merge(
        spark.createDataFrame([(5, "b", "y")], schema), root
    )
    assert m3["n_rows"] == 1
    m4 = write_release_append(
        spark.createDataFrame([(6, "b", "z")], schema), root
    )
    assert m4["n_rows"] == 2


def _rewrite_manifest(path: str, man: dict) -> None:
    """Overwrite a library-written manifest.json."""
    import json

    with open(path, "w") as fh:
        fh.write(json.dumps(man))


_DIVERGING_SPLITS = [
    # (split type, value Python's str() renders unlike Spark, other)
    ("double", 1e-05, 2.5),
    ("double", 1e20, 2.5),
    ("float", 0.1, 2.5),
    ("timestamp", "2024-01-01 00:00:00.5", "2024-01-02 00:00:00"),
]


@pytest.mark.parametrize(
    "typ,val,other", _DIVERGING_SPLITS,
    ids=["double-1e-05", "double-1e20", "float-0.1", "timestamp-frac"],
)
def test_release_keys_follow_spark_rendering(
    spark, tmp_path, typ, val, other
):
    """A split value whose Python str() differs from Spark's string
    cast ('1e-05' vs '1.0E-5'): an unchanged increment must reuse
    every partition (it raised 'directory is missing'), and appending
    one row must keep every earlier row (the prune predicate missed
    the partition, so the rewrite silently dropped its rows)."""
    from goodtables_pandas_py_spark.extensions.pipeline import (
        read_release,
        write_release_append,
        write_release_increment,
        write_release_version,
    )

    root = str(tmp_path / "rel")
    schema = "doc_id long, text string, split_raw string"
    rows = [(i, f"t{i}", str(val if i % 2 else other)) for i in range(20)]

    def frame(data):
        return spark.createDataFrame(data, schema).select(
            "doc_id", "text", F.col("split_raw").cast(typ).alias("split")
        )

    df = frame(rows)
    m1 = write_release_version(df, root)
    assert m1["n_rows"] == 20 and len(m1["row_counts"]) == 2
    m2 = write_release_increment(df, root)
    assert m2["incremental"]["rewritten"] == []
    assert m2["incremental"]["reused"] == sorted(m1["row_counts"])
    m3 = write_release_append(frame([(99, "new", str(val))]), root)
    assert m3["n_rows"] == 21
    got, _ = read_release(spark, root)
    assert got.count() == 21
    assert sorted(m3["row_counts"].values()) == [10, 11]


def test_release_stale_manifest_keys_rewrite_or_fail_loudly(
    spark, tmp_path
):
    """A release published before manifest keys followed Spark's
    rendering carries a key ('1e-05') that names no directory
    ('split=1.0E-5'). An increment rewrites that partition; an append
    refuses loudly — neither drops a row."""
    import os

    from goodtables_pandas_py_spark.extensions.pipeline import (
        list_release_versions,
        read_release,
        write_release_append,
        write_release_increment,
        write_release_version,
    )

    root = str(tmp_path / "rel")
    rows = [(i, 1e-05 if i % 2 else 2.5) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, split double")
    m1 = write_release_version(df, root)
    path = os.path.join(root, "versions", m1["version"], "manifest.json")
    stale = {"1.0E-5": "1e-05", "2.5": "2.5"}
    for field in ("row_counts", "partition_fingerprints"):
        m1[field] = {stale[k]: v for k, v in m1[field].items()}
    _rewrite_manifest(path, m1)

    batch = spark.createDataFrame([(99, 2.5)], "doc_id long, split double")
    with pytest.raises(OSError, match="1e-05"):
        write_release_append(batch, root)
    # refused before the claim: no orphan version dir is left behind
    assert list_release_versions(spark, root) == [m1["version"]]
    got, man = read_release(spark, root)
    assert man["version"] == m1["version"] and got.count() == 20

    m2 = write_release_increment(df, root)
    assert m2["incremental"]["reused"] == ["2.5"]
    assert m2["incremental"]["rewritten"] == ["1.0E-5"]
    assert m2["incremental"]["removed"] == ["1e-05"]
    assert read_release(spark, root)[0].count() == 20


def test_compact_emptied_release_is_noop(spark, tmp_path):
    """An emptied release (n_rows 0, {} fingerprints) is fingerprinted
    for compaction too: nothing is fragmented, so compaction returns
    the current manifest instead of refusing it."""
    from goodtables_pandas_py_spark.extensions import pipeline as pl

    root = str(tmp_path / "rel")
    schema = "doc_id long, split string, text string"
    pl.write_release_version(
        spark.createDataFrame([(0, "a", "x"), (1, "b", "y")], schema), root
    )
    m2 = pl.write_release_merge(
        spark.createDataFrame([], schema),
        root,
        deletes=spark.createDataFrame(
            [(0, "a"), (1, "b")], "doc_id long, split string"
        ),
    )
    assert m2["n_rows"] == 0 and m2["partition_fingerprints"] == {}
    assert pl.compact_release_version(spark, root)["version"] == m2["version"]
    assert pl.read_release(spark, root)[1]["version"] == m2["version"]


def test_compact_release_equality_proof_aborts(
    spark, tmp_path, monkeypatch
):
    """The compaction equality proof is falsifiable: a rewrite that
    changes one compacted partition must raise before the swap, leave
    CURRENT where it was, abandon the new version dir entirely (no
    manifest, no directory), and let the next compaction publish."""
    import os

    import goodtables_pandas_py_spark.sources as _sources
    from goodtables_pandas_py_spark.extensions import pipeline as pl

    root = str(tmp_path / "rel")
    schema = "doc_id long, text string, split string"
    pl.write_release_version(
        spark.createDataFrame([(1, "a", "train"), (2, "b", "val")], schema),
        root,
    )
    for i in range(2):  # fragment 'train'
        pl.write_release_append(
            spark.createDataFrame([(10 + i, f"t{i}", "train")], schema),
            root,
        )
    cur = pl.read_release(spark, root)[1]["version"]
    real_write = _sources.write_partitioned

    def corrupting_write(df, path, cols, *a, **k):
        bad = df.withColumn("text", F.concat(F.col("text"), F.lit("!")))
        return real_write(bad, path, cols, *a, **k)

    monkeypatch.setattr(_sources, "write_partitioned", corrupting_write)
    with pytest.raises(RuntimeError, match="changed its content fingerprint"):
        pl.compact_release_version(spark, root)
    monkeypatch.undo()

    assert pl.read_release(spark, root)[1]["version"] == cur
    assert pl.list_release_versions(spark, root)[-1] == cur
    abandoned = f"v{int(cur[1:]) + 1:08d}"
    assert not os.path.exists(os.path.join(root, "versions", abandoned))
    hist = pl.release_history(spark, root).collect()
    assert all(r["published"] for r in hist)
    man = pl.compact_release_version(spark, root)
    assert man["incremental"]["rewritten"] == ["train"]
    assert pl.read_release(spark, root)[1]["version"] == man["version"]


@pytest.mark.parametrize(
    "kind",
    ["version", "increment", "append", "merge", "compact", "migrate"],
)
def test_release_publishers_lose_moved_pointer_race(
    spark, tmp_path, monkeypatch, kind
):
    """Every release publisher loses a moved-pointer race the same
    way: a winner publishes between the loser's manifest finalize and
    its swap; the loser raises ReleaseConflictError ('moved'), the
    winner stays CURRENT, and nothing is left for vacuum."""
    from goodtables_pandas_py_spark.extensions import pipeline as pl

    schema = "doc_id long, text string, split string"

    def df(rows):
        return spark.createDataFrame(rows, schema)

    # each runs on a base whose 'train' partition holds two files
    publish = {
        "version": lambda r: pl.write_release_version(
            df([(5, "e", "val")]), r),
        "increment": lambda r: pl.write_release_increment(
            df([(1, "a", "train"), (3, "c", "train"), (5, "e", "val")]), r),
        "append": lambda r: pl.write_release_append(
            df([(5, "e", "val")]), r),
        "merge": lambda r: pl.write_release_merge(df([(2, "B", "val")]), r),
        "compact": lambda r: pl.compact_release_version(spark, r),
        "migrate": lambda r: pl.migrate_release_schema(
            spark, r, drop=["text"]),
    }[kind]
    root = str(tmp_path / "rel")
    pl.write_release_version(df([(1, "a", "train"), (2, "b", "val")]), root)
    pl.write_release_append(df([(3, "c", "train")]), root)

    orig_fin = pl._finalize_release_manifest
    state = {"winner": None}

    def fin_then_interleave(*a, **k):
        man = orig_fin(*a, **k)
        if state["winner"] is None:
            state["winner"] = "pending"  # B's publish recurses here
            state["winner"] = pl.write_release_version(
                spark.createDataFrame([(9, "winner", "train")], schema),
                root,
            )["version"]
        return man

    monkeypatch.setattr(pl, "_finalize_release_manifest", fin_then_interleave)
    with pytest.raises(pl.ReleaseConflictError, match="moved"):
        publish(root)
    monkeypatch.undo()

    got, man = pl.read_release(spark, root)
    assert man["version"] == state["winner"]
    assert [r["doc_id"] for r in got.collect()] == [9]
    assert all(r["published"] for r in pl.release_history(spark, root).collect())
    assert pl.vacuum_release_orphans(spark, root, grace_seconds=0) == []


def test_migrate_release_schema_round_trip(spark, tmp_path):
    """migrate_release_schema (r10, VERDICT r9 item 9): drop + rename
    + lossless retype in one publish of kind 'migrate'; content of
    untouched columns proven byte-equal by the operator's own
    fingerprint verify (on by default), the base version stays
    readable, and rollback is the undo."""
    from goodtables_pandas_py_spark.extensions.pipeline import (
        migrate_release_schema,
        read_release,
        release_history,
        rollback_release,
        write_release_version,
    )

    root = str(tmp_path / "rel")
    schema = "doc_id int, split string, text string, tmp_flag string"
    rows = [(i, "train" if i % 2 else "val", f"t{i}", "x") for i in range(20)]
    write_release_version(spark.createDataFrame(rows, schema), root)

    man = migrate_release_schema(
        spark,
        root,
        drop=["tmp_flag"],
        rename={"text": "body"},
        retype={"doc_id": "long"},
    )
    assert man["version"] == "v00000002"
    mig = man["incremental"]["migrate"]
    assert mig == {
        "drop": ["tmp_flag"],
        "rename": {"text": "body"},
        "retype": {"doc_id": "long"},
        "cast_nulls": {},
    }
    got, m = read_release(spark, root)
    assert sorted(got.columns) == ["body", "doc_id", "split"]
    assert dict(got.dtypes)["doc_id"] == "bigint"
    assert sorted((r["doc_id"], r["body"]) for r in got.collect()) == [
        (i, f"t{i}") for i in range(20)
    ]
    # every partition rewrote — nothing hardlinks through a projection
    assert man["incremental"]["reused"] == []
    assert sorted(man["incremental"]["rewritten"]) == ["train", "val"]
    # audit view shows the kind; base version still readable + undo
    hist = {r["version"]: r["kind"] for r in release_history(spark, root).collect()}
    assert hist["v00000002"] == "migrate"
    old_df, _ = read_release(spark, root, version="v00000001")
    assert "tmp_flag" in old_df.columns
    rollback_release(spark, root, "v00000001")
    back, _ = read_release(spark, root)
    assert "text" in back.columns


def test_migrate_release_schema_refusals(spark, tmp_path):
    """Every refusal is loud and CURRENT never moves: no-op call,
    unknown column, partition column, drop+rename overlap, rename
    collision, identity rename, already-that-type, and a lossy cast
    without allow_lossy."""
    from goodtables_pandas_py_spark.extensions.pipeline import (
        migrate_release_schema,
        read_release,
        write_release_version,
    )

    root = str(tmp_path / "rel")
    schema = "doc_id long, split string, score double, text string"
    write_release_version(
        spark.createDataFrame([(1, "a", 0.5, "t")], schema), root
    )

    cases = [
        (dict(), "nothing to migrate"),
        (dict(drop=["nope"]), "do not exist"),
        (dict(drop=["split"]), "partition column"),
        (dict(rename={"split": "part"}), "partition column"),
        (dict(drop=["text"], rename={"text": "body"}), "both dropped"),
        (dict(rename={"text": "score"}), "collision"),
        (dict(rename={"text": "text"}), "identity"),
        (dict(retype={"score": "double"}), "already"),
        (dict(retype={"score": "integer"}), "allow_lossy"),
        (dict(retype={"doc_id": "double"}), "allow_lossy"),
    ]
    for kwargs, msg in cases:
        with pytest.raises(ValueError, match=msg):
            migrate_release_schema(spark, root, **kwargs)
    _, m = read_release(spark, root)
    assert m["version"] == "v00000001"


def test_migrate_release_schema_lossy_counts_cast_nulls(spark, tmp_path):
    """allow_lossy=True accepts a narrowing/parsing cast but AUDITS
    it: rows whose value cannot cast land as NULL and their count is
    recorded per column in the manifest — silent loss is impossible
    to miss. Lossless rows keep their exact values."""
    from goodtables_pandas_py_spark.extensions.pipeline import (
        migrate_release_schema,
        read_release,
        write_release_version,
    )

    root = str(tmp_path / "rel")
    schema = "doc_id long, split string, n_str string"
    rows = [(1, "a", "10"), (2, "a", "not-a-number"), (3, "b", "30"),
            (4, "b", None)]
    write_release_version(spark.createDataFrame(rows, schema), root)

    man = migrate_release_schema(
        spark, root, retype={"n_str": "long"}, allow_lossy=True
    )
    # only the unparseable NON-null value counts — a source NULL is
    # not a cast failure
    assert man["incremental"]["migrate"]["cast_nulls"] == {"n_str": 1}
    got, _ = read_release(spark, root)
    vals = {r["doc_id"]: r["n_str"] for r in got.collect()}
    assert vals == {1: 10, 2: None, 3: 30, 4: None}


def test_migrate_release_schema_verify_catches_corruption(
    spark, tmp_path, monkeypatch
):
    """The untouched-column fingerprint verify is falsifiable: corrupt
    the rewrite (monkeypatch the projection to perturb a column the
    caller did NOT touch) and the operator must abandon the new
    version — CURRENT unchanged, no manifest-complete phantom left."""
    import goodtables_pandas_py_spark.extensions.pipeline as pl

    root = str(tmp_path / "rel")
    schema = "doc_id long, split string, text string, junk string"
    write_release_version = pl.write_release_version
    write_release_version(
        spark.createDataFrame(
            [(i, "a", f"t{i}", "j") for i in range(10)], schema
        ),
        root,
    )

    real_write_release = pl.write_release

    def corrupting_write_release(df, out_dir, **kw):
        # flip one untouched column's content between projection and
        # disk — models a buggy writer / torn rewrite
        bad = df.withColumn(
            "text", F.concat(F.col("text"), F.lit("!CORRUPT"))
        )
        return real_write_release(bad, out_dir, **kw)

    monkeypatch.setattr(pl, "write_release", corrupting_write_release)
    with pytest.raises(RuntimeError, match="fingerprint mismatch"):
        pl.migrate_release_schema(spark, root, drop=["junk"])
    monkeypatch.undo()

    cur, m = pl.read_release(spark, root)
    assert m["version"] == "v00000001"
    assert not (cur.where(F.col("text").contains("CORRUPT")).count())
    # the abandoned version dir is gone (or at least unpublished)
    hist = pl.release_history(spark, root).collect()
    assert all(
        r["version"] == "v00000001" or not r["published"] for r in hist
    )
    # and the root still publishes cleanly afterwards (the abandoned
    # dir was deleted, so its version NUMBER may be reissued)
    man = pl.migrate_release_schema(spark, root, drop=["junk"])
    cur2, m2 = pl.read_release(spark, root)
    assert m2["version"] == man["version"]
    assert "junk" not in cur2.columns


def test_migrate_release_schema_loses_race_cleanly(spark, tmp_path):
    """A publisher that lands between migrate's claim and its pointer
    swap must win: migrate raises ReleaseConflictError, CURRENT stays
    on the interloper's version, and the loser leaves no
    manifest-complete phantom behind."""
    import goodtables_pandas_py_spark.extensions.pipeline as pl

    root = str(tmp_path / "rel")
    schema = "doc_id long, split string, junk string"
    pl.write_release_version(
        spark.createDataFrame([(1, "a", "j"), (2, "b", "j")], schema),
        root,
    )

    real_finalize = pl._finalize_release_manifest

    def finalize_then_interlope(*args, **kwargs):
        man = real_finalize(*args, **kwargs)
        # interloper publishes AFTER the migrate wrote its data but
        # BEFORE its pointer swap — classic lost race
        if not getattr(finalize_then_interlope, "_fired", False):
            finalize_then_interlope._fired = True
            pl._swap_pointer(spark, root, "v00000099")
        return man

    # fabricate the interloper's version dir so rollback-style reads
    # of CURRENT still resolve
    import json as _json
    import os as _os

    v99 = f"{root}/versions/v00000099"
    _os.makedirs(v99, exist_ok=True)
    pl.write_release(
        spark.createDataFrame([(9, "a", "j")], schema),
        v99,
        split_col="split",
        manifest_extra={"version": "v00000099"},
    )

    orig = pl._finalize_release_manifest
    pl._finalize_release_manifest = finalize_then_interlope
    try:
        with pytest.raises(pl.ReleaseConflictError):
            pl.migrate_release_schema(
                spark, root, drop=["junk"], verify_untouched=False
            )
    finally:
        pl._finalize_release_manifest = orig

    assert pl._current(spark, root) == "v00000099"
    # no published phantom besides v1 and the interloper
    hist = pl.release_history(spark, root).collect()
    published = sorted(r["version"] for r in hist if r["published"])
    assert published == ["v00000001", "v00000099"]


def test_migrate_release_schema_non_partitioned(spark, tmp_path):
    """A release written without a split column migrates the same
    way — the projection applies to the single 'all' partition."""
    from goodtables_pandas_py_spark.extensions.pipeline import (
        migrate_release_schema,
        read_release,
        write_release_version,
    )

    root = str(tmp_path / "rel")
    write_release_version(
        spark.createDataFrame(
            [(1, "x", "drop-me"), (2, "y", "drop-me")],
            "doc_id long, text string, junk string",
        ),
        root,
        split_col=None,
    )
    man = migrate_release_schema(
        spark, root, drop=["junk"], rename={"text": "body"}
    )
    assert man["incremental"]["migrate"]["drop"] == ["junk"]
    got, m = read_release(spark, root)
    assert sorted(got.columns) == ["body", "doc_id"]
    assert got.count() == 2


def test_migrate_release_schema_normalizes_type_aliases(spark, tmp_path):
    """DDL aliases ('bigint', 'int') normalize to typeName spellings
    before the lossless-table lookup: an identity cast is refused AS
    identity (not as lossy), and short->int is recognized lossless."""
    from goodtables_pandas_py_spark.extensions.pipeline import (
        migrate_release_schema,
        read_release,
        write_release_version,
    )

    root = str(tmp_path / "rel")
    write_release_version(
        spark.createDataFrame(
            [(1, "a", 7)], "doc_id long, split string, n short"
        ),
        root,
    )
    with pytest.raises(ValueError, match="already long"):
        migrate_release_schema(spark, root, retype={"doc_id": "bigint"})
    man = migrate_release_schema(spark, root, retype={"n": "int"})
    assert man["incremental"]["migrate"]["cast_nulls"] == {}
    got, _ = read_release(spark, root)
    assert dict(got.dtypes)["n"] == "int"


def test_post_swap_pointer_loss_keeps_published_dir(
    spark, tmp_path, monkeypatch
):
    """r10 review fix: when the pointer swap SUCCEEDS and is then
    overwritten before the read-after-write check, the loser was
    briefly CURRENT — a reader may hold it and the winner may have
    based on it — so its version dir must STAY (published, not
    current), unlike a pre-swap base-check loss."""
    import goodtables_pandas_py_spark.extensions.pipeline as pl

    root = str(tmp_path / "rel")
    schema = "doc_id long, split string"
    pl.write_release_version(
        spark.createDataFrame([(1, "a")], schema), root
    )

    real_swap = pl._swap_pointer
    state = {"fired": False}

    def swap_then_overwrite(fs, r, version):
        real_swap(fs, r, version)
        if not state["fired"] and version == "v00000002":
            state["fired"] = True
            # a faster publisher overwrites immediately after our
            # successful swap
            real_swap(fs, r, "v00000042")

    monkeypatch.setattr(pl, "_swap_pointer", swap_then_overwrite)
    with pytest.raises(pl.ReleaseConflictError, match="briefly CURRENT"):
        pl.write_release_version(
            spark.createDataFrame([(2, "a")], schema), root
        )
    monkeypatch.undo()

    # the loser's dir SURVIVES, manifest-complete (it was published)
    assert pl._manifest(spark, root, "v00000002") is not None
    hist = {
        r["version"]: (r["published"], r["current"])
        for r in pl.release_history(spark, root).collect()
    }
    assert hist["v00000002"] == (True, False)


def test_r10_extension_review_fixes(spark):
    """Batch of r10 review fixes over the extension surface, each
    previously a silent wrong answer or a crash:

    - semantic_dedup_audit: NULL-cid rows (centroid-dim mismatch /
      pre-assigned null ivf_cid) are PASSTHROUGH, not dropped — the
      one-row-per-input-row contract holds, and a dim-mismatched
      centroids argument no longer makes semantic_dedup a silent
      no-op (every row is kept, visibly unclustered).
    - the gating dim is the MODAL one, so a ragged FIRST row cannot
      reclassify the majority as ragged — in semantic_dedup_audit,
      embedding_near_dups, similarity_join and both knn_join methods.
    - ivf_topk refuses a query whose length differs from the
      centroids' instead of ranking probes on a zip-truncated
      distance.
    - remove_boilerplate_lines preserves NULL text as NULL.
    - exact_dedup keep-path survives a column name containing a dot.
    """
    from goodtables_pandas_py_spark.extensions.dedup import (
        exact_dedup,
        semantic_dedup,
        semantic_dedup_audit,
    )
    from goodtables_pandas_py_spark.extensions.similarity import ivf_topk

    # ragged FIRST row + modal majority: majority must still cluster
    rows = [(0, [1.0, 2.0])]  # 2-dim stray listed first
    rows += [(i, [float(i % 3), 1.0, 2.0, 3.0]) for i in range(1, 13)]
    df = spark.createDataFrame(rows, "doc_id long, embedding array<double>")
    audit = semantic_dedup_audit(df, nlist=2, threshold=0.999)
    got = {r["doc_id"]: r for r in audit.collect()}
    assert len(got) == 13  # one row per input row
    assert got[0]["cluster"] is None and got[0]["kept"]  # ragged stray
    clustered = [r for r in got.values() if r["cluster"] is not None]
    assert len(clustered) == 12  # the modal majority clustered

    # the same rule for every entry that takes no dim: a 3-wide FIRST
    # vector does not pin the width of the 4-wide majority
    from goodtables_pandas_py_spark.extensions.dedup import (
        embedding_near_dups,
    )
    from goodtables_pandas_py_spark.extensions.similarity import (
        knn_join,
        similarity_join,
    )

    vdf = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),  # 3-dim stray listed first
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [1.0, 0.1, 0.0, 0.0]),
            (3, [1.0, 0.0, 0.2, 0.0]),
            (4, [0.1, 0.0, 0.0, 1.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    true_pairs = {(1, 2), (1, 3), (2, 3)}
    near = embedding_near_dups(vdf, threshold=0.9, max_bucket=None)
    assert {(r["id_a"], r["id_b"]) for r in near.collect()} == true_pairs
    sj = similarity_join(vdf, vdf, k=2).where(F.col("cosine") >= 0.9)
    assert {(r["left_id"], r["right_id"]) for r in sj.collect()} == {
        p for a, b in true_pairs for p in ((a, b), (b, a))
    }
    knn = {
        method: sorted(
            (r["left_id"], r["right_id"],
             None if r["cosine"] is None else round(r["cosine"], 9))
            for r in knn_join(vdf, vdf, k=2, method=method).collect()
        )
        for method in ("blocked", "loop")
    }
    assert knn["blocked"] == knn["loop"]
    assert [(q, r) for q, r, _ in knn["loop"]] == [
        (0, 1), (0, 2), (1, 2), (1, 3), (2, 1), (2, 3),
        (3, 1), (3, 2), (4, 1), (4, 2),
    ]
    # the stray scores nothing; every modal-width pair is scored
    assert [c is None for q, _, c in knn["loop"]] == [
        q == 0 for q, _, _ in knn["loop"]
    ]

    # centroid-dim mismatch: keeps everything VISIBLY (null cluster)
    audit2 = semantic_dedup_audit(
        df.where(F.col("doc_id") > 0), centroids=[[1.0, 0.0]]
    )
    rows2 = audit2.collect()
    assert len(rows2) == 12
    assert all(r["kept"] and r["cluster"] is None for r in rows2)
    assert semantic_dedup(
        df.where(F.col("doc_id") > 0), centroids=[[1.0, 0.0]]
    ).count() == 12

    # ivf_topk dim guard
    with pytest.raises(ValueError, match="dims"):
        ivf_topk(
            df.where(F.col("doc_id") > 0),
            query=[1.0, 0.0],
            centroids=[[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]],
        )

    # boilerplate: NULL text stays NULL (not rewritten to '')
    from goodtables_pandas_py_spark.extensions.text import (
        remove_boilerplate_lines,
    )

    tdf = spark.createDataFrame(
        [(1, "keep me\nBANNER LINE HERE!"), (2, None),
         (3, "also keep\nBANNER LINE HERE!"), (4, "BANNER LINE HERE!")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["text"]
        for r in remove_boilerplate_lines(tdf, max_docs=2).collect()
    }
    assert out[2] is None
    assert out[1] == "keep me" and out[3] == "also keep"
    assert 4 not in out  # pure-boilerplate doc dropped

    # exact_dedup with a dotted column name on the keep path
    ddf = spark.createDataFrame(
        [("a", 1, "x"), ("a", 0, "y"), ("b", 5, "z")],
        ["k", "ts", "meta.source"],
    )
    surv = exact_dedup(ddf, cols=["k"], keep="ts").collect()
    got_meta = {r["k"]: r["meta.source"] for r in surv}
    assert got_meta == {"a": "y", "b": "z"}  # min ts survives


def test_cacheutil_tolerates_stash_named_column(spark):
    """r11 review regression: the stash was read with getattr, which
    falls through to DataFrame.__getattr__ COLUMN resolution — a frame
    with a column literally named '_gt_persisted' handed back a Column
    (not iterable) and broke the 'safe to call unconditionally'
    contract. The stash now lives in __dict__ directly."""
    from pyspark.sql import functions as F

    from goodtables_pandas_py_spark.cacheutil import (
        attach_persisted,
        unpersist_scan_state,
    )

    df = spark.range(3).withColumn("_gt_persisted", F.lit(1))
    assert unpersist_scan_state(df) == 0           # no-op, no crash
    inter = spark.range(2).persist()
    out = attach_persisted(df, inter)
    assert out.columns == ["id", "_gt_persisted"]  # plan untouched
    assert unpersist_scan_state(out) == 1


def test_dsir_persists_are_attached_for_release(spark):
    """r11 review: dsir_logweights' count-table persists and
    dsir_sample's fraction-path keyed frame now ride the cacheutil
    contract so callers can release them."""
    from goodtables_pandas_py_spark.cacheutil import unpersist_scan_state
    from goodtables_pandas_py_spark.extensions.dsir import (
        dsir_logweights,
        dsir_sample,
    )

    df = spark.createDataFrame(
        [(i, f"doc about topic {i % 3} words") for i in range(12)],
        "doc_id long, text string",
    )
    target = spark.createDataFrame(
        [(0, "doc about topic 0 words"), (1, "topic 0 again")],
        "doc_id long, text string",
    )
    w = dsir_logweights(df, target, num_buckets=64)
    assert w.count() == 12
    assert unpersist_scan_state(w) == 2      # tc + rc released

    sampled = dsir_sample(df, target, fraction=0.5, num_buckets=64)
    n = sampled.count()
    assert 1 <= n <= 12
    assert unpersist_scan_state(sampled) >= 1  # keyed (+ tc/rc if nested)


def test_fingerprint_scheme_versioning(spark, tmp_path):
    """r11: _fingerprint_agg scheme 2 (per-column hash, no string
    render) is recorded in manifests as fp_scheme, and a publish onto
    a LEGACY (scheme-1 / unmarked) release compares — and keeps
    writing — scheme 1, so pre-r11 chains never misread an unchanged
    partition as changed."""
    import json
    import os

    from goodtables_pandas_py_spark.extensions.pipeline import (
        _fingerprint_agg,
        write_release_increment,
        write_release_version,
    )
    from goodtables_pandas_py_spark.extensions.splits import _part_key

    schema = "doc_id long, text string, split string"
    rows = [
        (1, "a", "train"), (2, "b", "train"),
        (3, None, "val"), (4, "d", "val"),
    ]
    df = spark.createDataFrame(rows, schema)

    # fresh chain: scheme 2 recorded; unchanged increment reuses all
    root = str(tmp_path / "fresh")
    m1 = write_release_version(df, root)
    assert m1["fp_scheme"] == 2
    m2 = write_release_increment(df, root)
    assert m2["fp_scheme"] == 2
    assert m2["incremental"]["rewritten"] == []
    assert sorted(m2["incremental"]["reused"]) == ["train", "val"]

    # legacy chain: strip the marker and downgrade the stored fps to
    # the scheme-1 expression (what an r8-r10 library wrote)
    root2 = str(tmp_path / "legacy")
    m1 = write_release_version(df, root2)
    man_path = os.path.join(root2, "versions", m1["version"], "manifest.json")
    man = json.loads(open(man_path).read())
    del man["fp_scheme"]
    legacy = {}
    for r in df.groupBy("split").agg(
        *_fingerprint_agg(df.columns, scheme=1)
    ).collect():
        legacy[_part_key(r["split"])] = {
            "n": int(r["n"]), "fp": str(int(r["fp"])),
        }
    man["partition_fingerprints"] = legacy
    open(man_path, "w").write(json.dumps(man))

    # unchanged increment onto the legacy base must still reuse ALL
    # partitions (compare ran with scheme 1), and the chain stays
    # scheme 1 so ITS next publish compares consistently too
    m2 = write_release_increment(df, root2)
    assert m2["incremental"]["rewritten"] == []
    assert sorted(m2["incremental"]["reused"]) == ["train", "val"]
    assert m2["fp_scheme"] == 1


def test_fingerprint_scheme2_map_column_fallback(spark, tmp_path):
    """r12 (ADVICE r11): xxhash64 rejects MapType anywhere in a column
    type, so scheme 2 used to raise AnalysisException on the public
    release-write path for map-bearing tables (scheme 1's string
    render worked). Such columns now fall back per column to hashing
    the scheme-1 sentinel render: publish succeeds, unchanged
    increments reuse every partition, and a changed map value still
    rewrites its partition."""
    from goodtables_pandas_py_spark.extensions.pipeline import (
        write_release_increment,
        write_release_version,
    )

    schema = "doc_id long, meta map<string,string>, split string"
    df = spark.createDataFrame(
        [(1, {"a": "x"}, "train"), (2, {"b": "y"}, "val")], schema
    )
    root = str(tmp_path / "maprel")
    m1 = write_release_version(df, root)
    assert m1["fp_scheme"] == 2
    assert sorted(m1["row_counts"]) == ["train", "val"]

    # identical content: both partitions reuse (fingerprints compare)
    m2 = write_release_increment(df, root)
    assert m2["incremental"]["rewritten"] == []
    assert sorted(m2["incremental"]["reused"]) == ["train", "val"]

    # change only the val row's MAP value: exactly val rewrites —
    # the fallback hash sees map content, not just the other columns
    df2 = spark.createDataFrame(
        [(1, {"a": "x"}, "train"), (2, {"b": "z"}, "val")], schema
    )
    m3 = write_release_increment(df2, root)
    assert m3["incremental"]["rewritten"] == ["val"]
    assert m3["incremental"]["reused"] == ["train"]
