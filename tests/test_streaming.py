"""Streaming validation tests (X5): file-source micro-batch streams
with availableNow trigger + memory sink; results asserted against the
batch twin of each query (expression reuse is the design, so batch
equivalence IS the correctness criterion)."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from goodtables_pandas_py_spark import streaming as xstream
from goodtables_pandas_py_spark.schema import TableSchema


@pytest.fixture(scope="module")
def event_stream_dir(spark):
    """Typed events written as parquet for readStream."""
    d = tempfile.mkdtemp(prefix="gt-stream-")
    rows = []
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    for i in range(200):
        rows.append(
            (
                i,
                base + dt.timedelta(minutes=i * 3),
                i % 7,
                ["click", "view", "purchase"][i % 3],
                float(i % 50) - 5.0,  # negatives violate minimum=0
            )
        )
    # event-time columns must be TIMESTAMP (LTZ) — Spark rejects
    # watermarks on TIMESTAMP_NTZ; session tz is UTC so wall == UTC
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long,"
        " event_type string, value double"
    )
    df.coalesce(2).write.mode("overwrite").parquet(d)
    return d


SCHEMA = TableSchema.from_descriptor(
    {
        "fields": [
            {"name": "event_id", "type": "integer", "constraints": {"required": True}},
            {"name": "event_type", "type": "string",
             "constraints": {"enum": ["click", "view", "purchase", "signup"]}},
            {"name": "value", "type": "number", "constraints": {"minimum": 0}},
        ]
    }
)


def _run_stream(spark, stream_df, name: str):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def test_stream_error_rate_windows_match_batch(spark, event_stream_dir):
    batch = spark.read.parquet(event_stream_dir)
    stream = (
        spark.readStream.schema(batch.schema).parquet(event_stream_dir)
    )
    checked = xstream.validate_stream(stream, SCHEMA)
    windowed = xstream.error_rate_windows(
        checked, "ts", "60 minutes", watermark="0 seconds"
    )
    got = _run_stream(spark, windowed, "err_windows").collect()

    batch_checked = xstream.validate_stream(batch, SCHEMA)
    expected = (
        batch_checked.groupBy(F.window("ts", "60 minutes").alias("window"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_if(F.col("__viol__value__minimum")).alias("n_value__minimum"),
        )
        .collect()
    )
    gmap = {r["window"]["start"]: (r["n_rows"], r["n_value__minimum"]) for r in got}
    emap = {r["window"]["start"]: (r["n_rows"], r["n_value__minimum"]) for r in expected}
    assert gmap == emap
    assert sum(v[1] for v in emap.values()) > 0  # violations actually present


def test_stream_sessions_match_batch(spark, event_stream_dir):
    batch = spark.read.parquet(event_stream_dir)
    stream = spark.readStream.schema(batch.schema).parquet(event_stream_dir)
    sess = xstream.session_event_counts(stream, "ts", "user_id", gap="10 minutes")
    got = _run_stream(spark, sess, "sessions")
    g = got.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"), F.sum("n_events").alias("n_events")
    )
    e = (
        batch.groupBy(F.session_window("ts", "10 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_sessions"), F.sum("n").alias("n_events"))
    )
    assert sorted(map(tuple, g.collect())) == sorted(map(tuple, e.collect()))


def test_stream_batch_equivalence_on_sf0001_events(spark, tmp_path):
    """The 'same compiled expressions' claim, certified end-to-end on
    REAL testdata (VERDICT r4 §next 6): the registry batch queries
    x5_events_window / x5_sessions and a file-source STREAM through
    the shared rollup functions must produce exactly the same rows at
    sf0.001. The events table is staged once with an LTZ ts (Spark
    requires TIMESTAMP, not NTZ, for stream event time; UTC session →
    identical wall times)."""
    from goodtables_pandas_py_spark.queries import QUERIES, t
    from goodtables_pandas_py_spark.streaming.validate import (
        session_event_counts,
        windowed_event_rollup,
    )

    sf = "/root/testdata/sf0.001"
    staged = str(tmp_path / "events_ltz")
    t(spark, sf, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    ).write.parquet(staged)
    schema = spark.read.parquet(staged).schema
    stream = spark.readStream.schema(schema).parquet(staged)

    got_w = _run_stream(spark, windowed_event_rollup(stream), "ew_sf0001")
    want_w = QUERIES["x5_events_window"](spark, sf)
    assert sorted(map(tuple, got_w.collect())) == sorted(
        map(tuple, want_w.collect())
    )

    # sessions: the stateful session_window agg streams (shared fn);
    # the trivial per-user rollup runs on the sink — streaming cannot
    # chain two stateful aggregations
    sess = session_event_counts(
        spark.readStream.schema(schema).parquet(staged),
        "ts",
        "user_id",
        gap="30 minutes",
        watermark="2 hours",
    )
    sunk = _run_stream(spark, sess, "sess_sf0001")
    got_s = sunk.groupBy(F.col("user_id").cast("bigint").alias("user_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        F.sum("n_events").cast("bigint").alias("n_events"),
        F.max("n_events").cast("bigint").alias("largest_session"),
    )
    # r7: x5_sessions is a labeled-row merge; the streaming twin is
    # its 'window' arm (same session_window semantics)
    want_s = (
        QUERIES["x5_sessions"](spark, sf)
        .where(F.col("kind") == "window")
        .drop("kind")
    )
    assert sorted(map(tuple, got_s.collect())) == sorted(
        map(tuple, want_s.collect())
    )


def test_stream_fk_foreach_batch(spark, event_stream_dir):
    batch = spark.read.parquet(event_stream_dir)
    stream = spark.readStream.schema(batch.schema).parquet(event_stream_dir)
    parent = spark.createDataFrame([(i,) for i in range(5)], "user_id long")

    seen: list[int] = []

    def on_viol(viol, batch_id):
        seen.extend(r["user_id"] for r in viol.collect())

    handler = xstream.fk_check_foreach_batch(
        parent, ["user_id"], ["user_id"], on_viol
    )
    q = (
        stream.writeStream.foreachBatch(handler)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # users 5 and 6 missing from parent
    assert sorted(set(seen)) == [5, 6]


def test_stateful_dedup_counts_across_batches(spark, tmp_path):
    """applyInPandasWithState: per-key state must survive micro-batch
    boundaries — two parquet files processed as TWO micro-batches
    (maxFilesPerTrigger=1), duplicate keys spanning both."""
    d = str(tmp_path / "dup-stream")
    # batch 1: ids a,a,b   batch 2: ids a,c,c,c
    spark.createDataFrame(
        [("a",), ("a",), ("b",)], "k string"
    ).coalesce(1).write.mode("overwrite").parquet(d)
    spark.createDataFrame(
        [("a",), ("c",), ("c",), ("c",)], "k string"
    ).coalesce(1).write.mode("append").parquet(d)

    stream = (
        spark.readStream.schema("k string")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    out = xstream.dedup_counts_stream(stream, "k")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_state")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.table("dedup_state").collect()

    # update-mode sink appends one row per (key, batch) it appeared in;
    # the LAST row per key carries the lifetime totals
    last = {}
    for r in rows:
        last[r["key"]] = (r["total_seen"], r["n_new"], r["n_dup"])
    totals = {k: v[0] for k, v in last.items()}
    assert totals == {"a": 3, "b": 1, "c": 3}
    # n_new only fires in the key's FIRST batch
    news = {}
    for r in rows:
        news[r["key"]] = news.get(r["key"], 0) + r["n_new"]
    assert news == {"a": 1, "b": 1, "c": 1}
    # per-key suppressed duplicates across the whole stream
    dups = {}
    for r in rows:
        dups[r["key"]] = dups.get(r["key"], 0) + r["n_dup"]
    assert dups == {"a": 2, "b": 0, "c": 2}
    # state really crossed batches: key 'a' appears in 2 output rows
    assert sum(1 for r in rows if r["key"] == "a") == 2


def test_clean_corpus_runs_on_stream(spark, tmp_path):
    """clean_corpus is stateless Column algebra, so the SAME call
    works over readStream (append mode, no watermark needed) and
    must produce exactly the batch decision for every document."""
    from goodtables_pandas_py_spark.extensions.text import clean_corpus

    from tests.conftest import SF_DIR

    batch = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    staged = str(tmp_path / "docs")
    batch.write.parquet(staged)

    stream = spark.readStream.schema(batch.schema).parquet(staged)
    q = (
        clean_corpus(stream, with_reasons=True)
        .writeStream.format("memory")
        .queryName("clean_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"]: (r["keep"], tuple(r["drop_reasons"]))
        for r in spark.table("clean_stream").collect()
    }
    want = {
        r["doc_id"]: (r["keep"], tuple(r["drop_reasons"]))
        for r in clean_corpus(batch, with_reasons=True).collect()
    }
    assert got == want and len(got) == batch.count()


def test_incremental_near_dedup_foreach_batch(spark, tmp_path):
    """Streaming ingestion dedup: batch docs near-duplicating the
    EXISTING corpus drop; intra-batch near-dup groups keep the min
    id; unique docs survive. Corpus index built once via
    banded_signatures (the persistable shape)."""
    from goodtables_pandas_py_spark.extensions.dedup import (
        banded_signatures,
    )
    from goodtables_pandas_py_spark.streaming import (
        incremental_near_dedup_foreach_batch,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    other = "totally different words nothing shared here at all friend " * 5
    corpus = spark.createDataFrame(
        [(1, base)], "doc_id long, text string"
    )
    corpus_banded = banded_signatures(corpus)

    fresh = "completely novel content about spark adaptive execution " * 5
    batch_rows = [
        (10, base.replace("gamma", "GAMMA", 1)),  # near-dup of corpus 1
        (11, other),                               # new cluster, min id
        (12, other.replace("friend", "FRIEND", 1)),  # near-dup of 11
        (13, fresh),                               # unique
    ]
    staged = str(tmp_path / "incoming")
    spark.createDataFrame(
        batch_rows, "doc_id long, text string"
    ).write.parquet(staged)

    kept_ids: list[set] = []
    handler = incremental_near_dedup_foreach_batch(
        corpus, corpus_banded,
        lambda kept, bid: kept_ids.append(
            {r["doc_id"] for r in kept.collect()}
        ),
        threshold=0.5,
    )
    stream = spark.readStream.schema(
        "doc_id long, text string"
    ).parquet(staged)
    q = (
        stream.writeStream.foreachBatch(handler)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = set().union(*kept_ids) if kept_ids else set()
    assert got == {11, 13}


def test_incremental_embedding_dedup_foreach_batch(spark, tmp_path):
    """Embedding twin of the incremental text dedup: batch vectors
    near-duplicating the corpus (cosine >= threshold) drop; intra-batch
    near-dup groups keep the min id; null vectors pass through."""
    from goodtables_pandas_py_spark.extensions.dedup import (
        embedding_banded_signatures,
    )
    from goodtables_pandas_py_spark.streaming import (
        incremental_embedding_dedup_foreach_batch,
    )

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    corpus_banded = embedding_banded_signatures(
        corpus, num_bands=8, planes_per_band=4
    )

    batch_rows = [
        (10, [0.999, 0.01, 0.0, 0.0]),   # near-dup of corpus 1
        (11, [0.0, 1.0, 0.0, 0.0]),      # new direction, min id
        (12, [0.0, 0.999, 0.02, 0.0]),   # near-dup of 11
        (13, [0.0, 0.0, 1.0, 0.0]),      # unique
        (14, None),                      # null vector passes through
    ]
    staged = str(tmp_path / "vecs")
    spark.createDataFrame(
        batch_rows, "vec_id long, embedding array<double>"
    ).write.parquet(staged)

    kept_ids: list[set] = []
    handler = incremental_embedding_dedup_foreach_batch(
        corpus, corpus_banded,
        lambda kept, bid: kept_ids.append(
            {r["vec_id"] for r in kept.collect()}
        ),
        threshold=0.99, num_bands=8, planes_per_band=4,
    )
    stream = spark.readStream.schema(
        "vec_id long, embedding array<double>"
    ).parquet(staged)
    q = (
        stream.writeStream.foreachBatch(handler)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = set().union(*kept_ids) if kept_ids else set()
    assert got == {11, 13, 14}


@pytest.mark.slow
def test_incremental_dedup_growing_corpus_across_batches(spark, tmp_path):
    """The full ingestion protocol: on_kept appends survivors to the
    corpus store, corpus args are CALLABLES re-resolved per batch —
    so a batch-2 doc near-duplicating a batch-1 SURVIVOR drops, which
    a static corpus snapshot would miss."""
    from goodtables_pandas_py_spark.extensions.dedup import (
        banded_signatures,
    )
    from goodtables_pandas_py_spark.streaming import (
        incremental_near_dedup_foreach_batch,
    )

    seed_doc = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    corpus_dir = str(tmp_path / "corpus")
    spark.createDataFrame(
        [(1, seed_doc)], "doc_id long, text string"
    ).write.parquet(corpus_dir)

    novel = "fresh new content about adaptive query execution plans " * 5
    incoming = str(tmp_path / "incoming")
    # file 1 → batch 1: a novel doc (survives, joins the corpus)
    spark.createDataFrame(
        [(10, novel)], "doc_id long, text string"
    ).coalesce(1).write.parquet(incoming)
    # file 2 → batch 2: near-dup of batch 1's survivor + one unique
    unique2 = "entirely separate subject matter goes right here folks " * 5
    spark.createDataFrame(
        [(20, novel.replace("fresh", "FRESH", 1)), (21, unique2)],
        "doc_id long, text string",
    ).coalesce(1).write.mode("append").parquet(incoming)

    corpus = lambda: spark.read.parquet(corpus_dir)  # noqa: E731

    kept_log: dict[int, set] = {}

    def on_kept(kept, batch_id):
        rows = kept.collect()
        kept_log[batch_id] = {r["doc_id"] for r in rows}
        if rows:  # grow the corpus store
            spark.createDataFrame(
                rows, kept.schema
            ).write.mode("append").parquet(corpus_dir)

    handler = incremental_near_dedup_foreach_batch(
        corpus, lambda: banded_signatures(corpus()), on_kept,
        threshold=0.5,
    )
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(incoming)
    )
    q = (
        stream.writeStream.foreachBatch(handler)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    all_kept = set().union(*kept_log.values()) if kept_log else set()
    assert 10 in all_kept          # novel doc survived batch 1
    assert 20 not in all_kept      # dup of batch-1 survivor dropped
    assert 21 in all_kept          # unique batch-2 doc survived
    # corpus store ends with seed + the two survivors
    final = {
        r["doc_id"] for r in spark.read.parquet(corpus_dir).collect()
    }
    assert final == {1, 10, 21}


def test_hash_split_runs_on_stream(spark, tmp_path):
    """hash_split is stateless map-only Column algebra, so the SAME
    call assigns splits at streaming ingestion (append mode, no
    watermark, no state) and must agree with the batch assignment
    row-for-row — a pipeline can route train/val/test from the
    ingest stream without a second pass."""
    from goodtables_pandas_py_spark.extensions.splits import hash_split

    from tests.conftest import SF_DIR

    batch = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    staged = str(tmp_path / "docs_split")
    batch.write.parquet(staged)

    stream = spark.readStream.schema(batch.schema).parquet(staged)
    q = (
        hash_split(stream, "doc_id", salt="r5")
        .select("doc_id", "split")
        .writeStream.format("memory")
        .queryName("split_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"]: r["split"]
        for r in spark.table("split_stream").collect()
    }
    want = {
        r["doc_id"]: r["split"]
        for r in hash_split(batch, "doc_id", salt="r5")
        .select("doc_id", "split")
        .collect()
    }
    assert got == want and len(got) == batch.count()


def test_streaming_decontamination_foreach_batch(spark, tmp_path):
    """Streaming ingestion decontamination: each micro-batch anti-joins
    against contaminated_ids vs a STATIC eval set — the eval n-grams
    broadcast per batch, no stream-stream join, no state. Batch docs
    containing an eval doc drop; clean docs pass."""
    from pyspark.sql import functions as F

    from goodtables_pandas_py_spark.extensions.decontam import (
        contaminated_ids,
    )

    evals = spark.createDataFrame(
        [(100, "quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    batch_rows = [
        (1, "intro text then the quick brown fox jumps over the lazy dog"),
        (2, "completely unrelated discussion of catalyst optimizer rules"),
    ]
    staged = str(tmp_path / "incoming_decontam")
    spark.createDataFrame(
        batch_rows, "doc_id long, text string"
    ).write.parquet(staged)

    kept_ids: list[set] = []

    def handler(batch_df, batch_id):
        drop = contaminated_ids(batch_df, evals, ngram=3, min_ratio=0.9)
        kept = batch_df.join(
            drop, batch_df["doc_id"] == F.col("corpus_id"), "left_anti"
        )
        kept_ids.append({r["doc_id"] for r in kept.collect()})

    stream = spark.readStream.schema(
        "doc_id long, text string"
    ).parquet(staged)
    q = (
        stream.writeStream.foreachBatch(handler)
        .trigger(availableNow=True)
        .start()
    )
    finished = q.awaitTermination(120)
    if not finished:
        q.stop()  # don't leak a running query into the shared session
    assert finished, "stream did not finish within the timeout"
    got = set().union(*kept_ids) if kept_ids else set()
    assert got == {2}


def test_stream_asof_enrich_foreach_batch(spark, event_stream_dir):
    """Streamed events as-of-enriched against a static dimension per
    micro-batch: results must equal the batch asof_join on the full
    data (state never lives in the stream)."""
    from goodtables_pandas_py_spark.extensions.temporal import asof_join

    batch = spark.read.parquet(event_stream_dir)
    stream = spark.readStream.schema(batch.schema).parquet(event_stream_dir)
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    dim = spark.createDataFrame(
        [
            (u, base + dt.timedelta(minutes=m), float(m))
            for u in range(7)
            for m in (0, 300)
        ],
        "user_id long, ts timestamp, tier double",
    )

    got: dict[int, float | None] = {}

    def on_batch(enriched, batch_id):
        for r in enriched.collect():
            got[r["event_id"]] = r["tier_right"]

    handler = xstream.asof_enrich_foreach_batch(
        dim, by=["user_id"], on_batch=on_batch
    )
    q = (
        stream.writeStream.foreachBatch(handler)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    want = {
        r["event_id"]: r["tier_right"]
        for r in asof_join(batch, dim, by=["user_id"]).collect()
    }
    assert got == want
    assert len(got) == 200 and set(want.values()) == {0.0, 300.0}


def test_validate_stream_raises_on_missing_schema_fields(spark, event_stream_dir):
    """Producer-side schema drift must fail at plan time, not
    validate clean forever (batch reports missing-header here)."""
    batch = spark.read.parquet(event_stream_dir).drop("value")
    stream = spark.readStream.schema(batch.schema).parquet(event_stream_dir)
    with pytest.raises(ValueError, match="missing-header"):
        xstream.validate_stream(stream, SCHEMA)
    # explicit opt-in still allows partial validation
    checked = xstream.validate_stream(
        stream, SCHEMA, allow_missing_fields=True
    )
    assert not any("value" in c for c in checked.columns if "__viol__" in c)


def test_embedding_corpus_dedup_pins_index_dim(spark):
    """A malformed leading batch vector must not disable corpus dedup
    when the index-build dim is pinned explicitly."""
    from goodtables_pandas_py_spark.extensions.dedup import (
        embedding_banded_signatures,
    )
    from goodtables_pandas_py_spark.streaming.dedup import (
        embedding_dedup_batch_against_corpus,
    )

    corpus = spark.createDataFrame(
        [(100, [1.0, 0.0]), (101, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    index = embedding_banded_signatures(corpus, dim=2)
    batch = spark.createDataFrame(
        [(1, [9.9, 9.9, 9.9]),            # malformed 3-dim leads
         (2, [1.0, 0.0])],                 # exact dup of corpus 100
        "vec_id long, embedding array<double>",
    ).coalesce(1)
    kept = embedding_dedup_batch_against_corpus(
        batch, corpus, index, threshold=0.99, dim=2
    )
    ids = {r["vec_id"] for r in kept.collect()}
    assert 2 not in ids            # corpus dup dropped
    assert 1 in ids                # ragged row passes through


def test_batch_kernels_with_empty_corpus_keep_what_the_batch_path_keeps(
    spark,
):
    """Against an empty corpus only the intra-batch arm can drop, and
    it runs the batch operators' own pairing and verify kernels: the
    text kernel keeps exactly near_dedup(batch, policy="greedy"), the
    embedding kernel exactly the rows embedding_near_dups' greedy drop
    (every id_b) leaves."""
    from goodtables_pandas_py_spark.cacheutil import unpersist_scan_state
    from goodtables_pandas_py_spark.extensions.dedup import (
        banded_signatures,
        embedding_banded_signatures,
        embedding_near_dups,
        near_dedup,
    )
    from goodtables_pandas_py_spark.streaming.dedup import (
        dedup_batch_against_corpus,
        embedding_dedup_batch_against_corpus,
    )

    from tests.conftest import SF_DIR

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    none = docs.limit(0)
    got = dedup_batch_against_corpus(
        docs, none, banded_signatures(none), threshold=0.5
    )
    want = near_dedup(docs, threshold=0.5, policy="greedy")
    ids = [r["doc_id"] for r in got.select("doc_id").collect()]
    unpersist_scan_state(got)
    assert len(ids) < docs.count()  # the arm really drops something
    assert sorted(ids) == sorted(
        r["doc_id"] for r in want.select("doc_id").collect()
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    bands = dict(num_bands=16, planes_per_band=4)
    none = emb.limit(0)
    got = embedding_dedup_batch_against_corpus(
        emb, none, embedding_banded_signatures(none, **bands),
        threshold=0.45, **bands,
    )
    drop = {
        r["id_b"]
        for r in embedding_near_dups(emb, threshold=0.45, **bands).collect()
    }
    assert drop
    kept = [r["vec_id"] for r in got.select("vec_id").collect()]
    unpersist_scan_state(got)
    assert sorted(kept) == sorted(
        r["vec_id"] for r in emb.select("vec_id").collect()
        if r["vec_id"] not in drop
    )


def test_chunk_text_runs_on_stream(spark, tmp_path):
    """chunk_text is stateless map-only Column algebra (sequence +
    slice + posexplode), so the SAME call chunks documents at
    streaming ingestion and must agree with the batch chunks
    row-for-row — RAG/embedding prep can ride the ingest stream."""
    from goodtables_pandas_py_spark.extensions.text import chunk_text

    from tests.conftest import SF_DIR

    batch = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    staged = str(tmp_path / "docs_chunk")
    batch.write.parquet(staged)

    stream = spark.readStream.schema(batch.schema).parquet(staged)
    q = (
        chunk_text(stream, max_tokens=64, stride=32)
        .writeStream.format("memory")
        .queryName("chunk_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["doc_id"], r["chunk_id"]): (r["chunk_text"], r["n_tokens"])
        for r in spark.table("chunk_stream").collect()
    }
    want = {
        (r["doc_id"], r["chunk_id"]): (r["chunk_text"], r["n_tokens"])
        for r in chunk_text(batch, max_tokens=64, stride=32).collect()
    }
    assert got == want and len(got) > 0


def test_streaming_scores_match_batch(spark, tmp_path):
    """Stream-batch score equivalence for the X4/X7 scorers: fit the
    unigram and DSIR models ONCE in batch, score the same documents
    through a file-source stream via the foreachBatch handlers, and
    assert every per-doc integer milli-nat score is BIT-IDENTICAL to
    the batch computation (the exact-integer contract makes this a
    strict equality, not a tolerance check)."""
    from goodtables_pandas_py_spark.extensions import dsir as xdsir
    from goodtables_pandas_py_spark.extensions import text as xtext
    from goodtables_pandas_py_spark.streaming.score import (
        dsir_score_foreach_batch,
        unigram_score_foreach_batch,
    )

    from tests.conftest import SF_DIR

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    staged = str(tmp_path / "docs_score")
    docs.write.parquet(staged)

    # fit once in batch
    freqs = xtext.token_frequencies(docs).persist()
    target = docs.where("lang = 'en'")
    tc = xdsir.bucket_counts(target, num_buckets=512)
    rc = xdsir.bucket_counts(docs, num_buckets=512)
    model, nt, nr = xdsir.dsir_logratio_model(tc, rc, num_buckets=512)
    model = model.persist()

    want_uni = {r["doc_id"]: (r["n_tokens"], r["xent_milli"])
                for r in xtext.unigram_logprob(docs, freqs=freqs).collect()}
    want_dsir = {r["doc_id"]: (r["n_feats"], r["logw_milli"])
                 for r in xdsir.dsir_score(
                     docs, model, nt, nr, num_buckets=512).collect()}

    got_uni: dict = {}
    got_dsir: dict = {}

    def sink_uni(df, _bid):
        got_uni.update(
            {r["doc_id"]: (r["n_tokens"], r["xent_milli"])
             for r in df.collect()}
        )

    def sink_dsir(df, _bid):
        got_dsir.update(
            {r["doc_id"]: (r["n_feats"], r["logw_milli"])
             for r in df.collect()}
        )

    stream = spark.readStream.schema(docs.schema).parquet(staged)
    q1 = (
        stream.writeStream.foreachBatch(
            unigram_score_foreach_batch(freqs, sink_uni)
        ).trigger(availableNow=True).start()
    )
    q1.awaitTermination(120)
    q2 = (
        stream.writeStream.foreachBatch(
            dsir_score_foreach_batch((model, nt, nr), sink_dsir,
                                     num_buckets=512)
        ).trigger(availableNow=True).start()
    )
    q2.awaitTermination(120)

    assert got_uni == want_uni and len(got_uni) > 0
    assert got_dsir == want_dsir and len(got_dsir) > 0


def test_streaming_bigram_scores_match_batch(spark, tmp_path):
    """Stream-batch equivalence for the bigram LM scorer: fit both
    count tables once in batch, score the documents through a
    file-source stream, assert bit-identical per-doc milli-nat sums
    (persist=False inside the handler must not change values)."""
    from goodtables_pandas_py_spark.extensions import text as xtext
    from goodtables_pandas_py_spark.streaming.score import (
        bigram_score_foreach_batch,
    )

    from tests.conftest import SF_DIR

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    staged = str(tmp_path / "docs_bigram")
    docs.write.parquet(staged)

    uni = xtext.token_frequencies(docs).persist()
    bi = xtext.bigram_counts(docs).persist()
    want = {r["doc_id"]: (r["n_tokens"], r["xent_milli"])
            for r in xtext.bigram_logprob(
                docs, uni_counts=uni, bi_counts=bi).collect()}

    got: dict = {}

    def sink(df, _bid):
        got.update({r["doc_id"]: (r["n_tokens"], r["xent_milli"])
                    for r in df.collect()})

    stream = spark.readStream.schema(docs.schema).parquet(staged)
    q = (
        stream.writeStream.foreachBatch(
            bigram_score_foreach_batch((uni, bi), sink)
        ).trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    assert got == want and len(got) > 0


def test_validate_stream_typed_fast_path_matches_batch(spark, tmp_path):
    """r6: a TYPED stream with assume_typed=False takes the same
    per-column fast path as the batch engine — no re-parse in the
    micro-batch projection — and every mask column is row-identical to
    the batch engine's own (_compile_table) masks on the same data: a
    typed fast path, a string column with parse errors, and a double
    column holding NaN where "NaN" is a declared missing token (a
    rendition the fast path must null like the lexical path)."""
    import datetime as dt

    from goodtables_pandas_py_spark.schema import Field, TableSchema
    from goodtables_pandas_py_spark.streaming.validate import validate_stream
    from goodtables_pandas_py_spark.validate import _compile_table

    rows = [
        (1, 10.0, dt.datetime(2024, 1, 1), "ok", "5", 1.5),
        (2, -5.0, dt.datetime(2024, 2, 2), "bad-enum", "x", float("nan")),
        (3, None, None, "ok", None, None),
    ]
    batch = spark.createDataFrame(
        rows,
        "id long, amount double, at timestamp_ntz, status string, "
        "qty string, ratio double",
    )
    staged = str(tmp_path / "typed_stream")
    batch.write.parquet(staged)
    schema = TableSchema(
        fields=[
            Field("id", type="integer", constraints={"required": True}),
            Field("amount", type="number", constraints={"minimum": 0}),
            Field("at", type="datetime"),
            Field("status", type="string",
                  constraints={"enum": ["ok"]}),
            Field("qty", type="integer", constraints={"minimum": 0}),
            Field("ratio", type="number", constraints={"required": True}),
        ],
        missing_values=["", "NaN"],
    )
    stream = spark.readStream.schema(batch.schema).parquet(staged)
    out = validate_stream(stream, schema, assume_typed=False)
    q = (
        out.writeStream.format("memory")
        .queryName("typed_fp_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    got = {
        r["id"]: r.asDict()
        for r in spark.sql("SELECT * FROM typed_fp_stream").collect()
    }
    assert len(got) == 3
    # typed columns cannot mis-parse
    for r in got.values():
        assert r["__bad__id"] is False and r["__bad__amount"] is False
        assert r["__bad__ratio"] is False
    assert got[2]["__viol__amount__minimum"] is True
    assert got[2]["__viol__status__enum"] is True
    assert got[1]["__viol__status__enum"] is False
    assert got[3]["__viol__id__required"] is False  # id present
    assert [got[i]["__bad__qty"] for i in (1, 2, 3)] == [False, True, False]
    # NaN is the declared missing token: as missing as a null
    assert [got[i]["__viol__ratio__required"] for i in (1, 2, 3)] == [
        False, True, True,
    ]
    # the batch engine's twin: _compile_table's mask columns
    wide, _, _ = _compile_table(batch, schema, assume_typed=False)
    mask_cols = [c for c in wide.columns if c.startswith(("__viol__", "__bad__"))]
    assert sorted(mask_cols) == sorted(
        c for c in out.columns if c.startswith(("__viol__", "__bad__"))
    )
    bt = {r["id"]: r.asDict() for r in wide.select("id", *mask_cols).collect()}
    for i in (1, 2, 3):
        for c in mask_cols:
            assert got[i][c] == bt[i][c], (i, c)


# ------------------------------------- continuous releases (r8)


def test_streaming_release_publish_appends(spark, tmp_path):
    """release_publish_foreach_batch (staging-free): one file per
    micro-batch (maxFilesPerTrigger=1) -> one append-publish per
    batch; untouched splits hardlink forward, the final CURRENT holds
    the whole stream, and a replayed batch id is a no-op."""
    import json
    import os

    from goodtables_pandas_py_spark.extensions.pipeline import (
        read_release,
        release_publish_foreach_batch,
    )

    src = str(tmp_path / "src")
    root = str(tmp_path / "rel")
    schema = "doc_id long, text string, split string"
    # three source files = three micro-batches; each touches ONE split
    waves = [
        [(i, f"t{i}", "train") for i in range(10)],
        [(100 + i, f"v{i}", "val") for i in range(5)],
        [(200 + i, f"w{i}", "train") for i in range(3)],
    ]
    for n, rows in enumerate(waves):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            f"{src}/wave{n}"
        )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/wave*")
    )
    # stream_id is REQUIRED (ADVICE r8): the None default made the
    # fresh-checkpoint-skips-data mode the silent default
    import pytest as _pytest

    with _pytest.raises(ValueError, match="stream_id is required"):
        release_publish_foreach_batch(root)
    handler = release_publish_foreach_batch(root, stream_id="ckpt1")
    q = (
        stream.writeStream.foreachBatch(handler)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got, man = read_release(spark, root)
    assert got.count() == 18
    assert man["row_counts"]["train"] == 13
    assert man["row_counts"]["val"] == 5
    versions = sorted(
        d
        for d in os.listdir(os.path.join(root, "versions"))
        if d.startswith("v")
    )
    assert len(versions) == 3
    # every post-v1 publish was an append that reused some untouched
    # split and rewrote exactly the batch's split
    for v in versions[1:]:
        m = json.load(
            open(os.path.join(root, "versions", v, "manifest.json"))
        )
        inc = m["incremental"]
        assert inc.get("append") is True
        assert len(inc["rewritten"]) == 1 and inc["reused"], inc

    # replayed batch id (at-least-once) is a NO-OP: no new version,
    # same content
    tb = man["through_batch_id"]
    replay = spark.createDataFrame(waves[0], schema)
    handler(replay, 0)
    assert tb >= 0
    got2, man2 = read_release(spark, root)
    assert man2["version"] == man["version"]
    assert got2.count() == 18

    # a DIFFERENT stream lineage (fresh checkpoint restarting at
    # batch 0) must NOT be skipped by the stored through_batch_id
    fresh = release_publish_foreach_batch(root, stream_id="ckpt2")
    with _pytest.warns(UserWarning, match="replay protection"):
        fresh(
            spark.createDataFrame([(900, "x", "val")], schema), 0
        )
    got3, man3 = read_release(spark, root)
    assert got3.count() == 19
    assert man3["stream_id"] == "ckpt2"


def test_streaming_release_merge_upserts(spark, tmp_path):
    """release_merge_foreach_batch (r9): micro-batches UPSERT into the
    release — revised ids replace their rows instead of duplicating
    (the append handler's failure mode for in-place revisions), and a
    replayed batch publishes nothing because merge is idempotent."""
    import os

    from goodtables_pandas_py_spark.extensions.pipeline import (
        read_release,
        release_merge_foreach_batch,
    )

    src = str(tmp_path / "src")
    root = str(tmp_path / "rel")
    schema = "doc_id long, text string, split string"
    waves = [
        [(1, "a0", "train"), (2, "b0", "train"), (3, "c0", "val")],
        [(2, "b1", "train"), (4, "d0", "val")],  # revises id 2
        [(1, "a2", "train")],  # revises id 1
    ]
    for n, rows in enumerate(waves):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            f"{src}/wave{n}"
        )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/wave*")
    )
    handler = release_merge_foreach_batch(root)
    q = (
        stream.writeStream.foreachBatch(handler)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got, man = read_release(spark, root)
    assert sorted(
        (r["doc_id"], r["text"]) for r in got.collect()
    ) == [(1, "a2"), (2, "b1"), (3, "c0"), (4, "d0")]
    assert man["n_rows"] == 4

    versions = sorted(
        d
        for d in os.listdir(os.path.join(root, "versions"))
        if d.startswith("v")
    )
    n_before = len(versions)
    # replayed batch: merge fingerprints match CURRENT -> no publish
    handler(spark.createDataFrame(waves[1], schema), 1)
    got2, man2 = read_release(spark, root)
    assert man2["version"] == man["version"]
    versions2 = sorted(
        d
        for d in os.listdir(os.path.join(root, "versions"))
        if d.startswith("v")
    )
    assert len(versions2) == n_before
    assert got2.count() == 4


def test_embedding_intra_batch_dedup_pins_index_dim(spark):
    """r11 review regression (reproduced live): the intra-batch arm
    called embedding_near_dups, which had no dim parameter and
    re-probed dim from the batch — a malformed leading vector nulled
    every correct signature and let an EXACT intra-batch duplicate
    survive despite the pinned dim. The arm now self-joins the same
    dim-pinned signature frame the corpus arm uses."""
    from goodtables_pandas_py_spark.extensions.dedup import (
        embedding_banded_signatures,
    )
    from goodtables_pandas_py_spark.streaming.dedup import (
        embedding_dedup_batch_against_corpus,
    )

    corpus = spark.createDataFrame(
        [(100, [0.0] * 7 + [1.0])], "vec_id long, embedding array<double>"
    )
    index = embedding_banded_signatures(corpus, dim=8)
    batch = spark.createDataFrame(
        [(1, [0.1, 0.2]),              # malformed 2-dim leads
         (10, [1.0] * 8),
         (11, [1.0] * 8)],             # exact dup of 10 (cosine 1.0)
        "vec_id long, embedding array<double>",
    ).coalesce(1)
    kept = embedding_dedup_batch_against_corpus(
        batch, corpus, index, threshold=0.9, dim=8
    )
    ids = {r["vec_id"] for r in kept.collect()}
    assert ids == {1, 10}              # 11 dropped as intra-batch dup


def test_dedup_batch_attaches_releasable_scan_state(spark):
    """The batch kernels persist their signature/set frames for the
    handler's duration and attach them for release — the attachment
    must be present and unpersist_scan_state must release it."""
    from goodtables_pandas_py_spark.cacheutil import unpersist_scan_state
    from goodtables_pandas_py_spark.extensions.dedup import (
        banded_signatures,
    )
    from goodtables_pandas_py_spark.streaming.dedup import (
        dedup_batch_against_corpus,
    )

    corpus = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    index = banded_signatures(corpus)
    batch = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "completely unrelated text about spark plans")],
        "doc_id long, text string",
    )
    kept = dedup_batch_against_corpus(batch, corpus, index, threshold=0.5)
    assert {r["doc_id"] for r in kept.collect()} == {2}
    assert unpersist_scan_state(kept) == 2   # banded + sets released
