"""Incremental near-duplicate filtering for streaming ingestion
(X5/X2 composition): every micro-batch of NEW documents is deduped
against (a) a prebuilt corpus LSH index and (b) itself, and only the
survivors reach the caller's sink.

Why not a stream-stream or stream-static join plan: near-dedup needs
candidate generation + exact verify + anti-join — a multi-stage plan
per batch — and the corpus index must be REUSED, not rebuilt. So the
operator is a ``foreachBatch`` handler (the same shape as
validate.fk_check_foreach_batch): each micro-batch runs a bounded
batch plan against static corpus tables. The per-batch plan itself is
a PUBLIC pure function (:func:`dedup_batch_against_corpus` /
:func:`embedding_dedup_batch_against_corpus`) — the same call serves
nightly incremental batch jobs, and the plan guard tests it directly.

100 TB posture:
- the corpus index is ``dedup.banded_signatures(corpus)`` written
  ONCE with ``sources.write_bucketed(banded, t, ["band", "bh"])`` —
  each batch's lookup is then a bucket-co-located equi-join: the
  corpus index never re-shuffles, and only buckets the batch actually
  hits are read;
- verify joins fetch text for CANDIDATE corpus ids only (never a
  corpus scan);
- per-batch state is the batch itself — nothing accumulates in the
  stream; growing the corpus (appending kept docs + their index rows
  between batches) is the caller's append-only write, kept outside
  the handler so retried batches stay idempotent.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cacheutil import attach_persisted, unpersist_scan_state
from ..extensions.dedup import (
    banded_signatures,
    cap_buckets,
    hashed_set_jaccard,
    hashed_shingle_sets,
)


def dedup_batch_against_corpus(
    batch: DataFrame,
    corpus_docs: DataFrame,
    corpus_banded: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    num_hashes: int = 64,
    num_bands: int = 16,
    shingle_k: int = 3,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Drop ``batch`` rows that near-duplicate the EXISTING corpus or
    a smaller-id row of the same batch; returns the survivors
    (schema unchanged, lazy). The incremental-ingestion kernel — used
    per micro-batch by :func:`incremental_near_dedup_foreach_batch`
    and directly by nightly append jobs.

    ``corpus_docs``: the existing corpus (``id_col``, ``text_col``) —
    only candidate rows are ever fetched from it. ``corpus_banded``:
    its prebuilt index from :func:`...dedup.banded_signatures` (same
    num_hashes/num_bands/shingle_k as passed here — signatures must
    come from the same hash family). ``max_bucket`` caps HOT corpus
    buckets per lookup (boilerplate guard, same policy as
    minhash_candidates).

    Semantics: a batch doc is dropped iff its exact shingle-Jaccard
    with a corpus doc or a smaller-id batch doc ≥ ``threshold``
    (LSH-candidates-then-verify, so precision is exact and recall is
    the banding guarantee). Batch docs that near-dup only EACH OTHER
    keep exactly the min id — same greedy policy as ``near_dedup``.

    The batch's banded signatures and hashed shingle sets are built
    ONCE and PERSISTED for the handler's duration — they feed four and
    three plan consumers respectively (corpus lookup + intra-batch
    self-join; corpus verify + both intra verify sides), and on the
    hot streaming path the unpersisted form re-ran the dominant
    normalize→shingle→hash pipeline ~7× per micro-batch. Both frames
    are attached to the returned plan: release them after
    materializing with ``cacheutil.unpersist_scan_state(kept)`` (the
    foreachBatch wrapper does this for you)."""
    new_banded = banded_signatures(
        batch, id_col, text_col, num_hashes, num_bands, shingle_k
    ).persist()
    # restrict the corpus index to the buckets THIS batch hits before
    # any counting: a full-index groupBy per micro-batch re-aggregated
    # the whole corpus; the semi-join keeps bucket sizes exact for the
    # hit buckets (all corpus rows of those buckets survive it) and,
    # on a (band, bh)-bucketed index table, becomes bucket pruning
    hit_buckets = new_banded.select("band", "bh").distinct()
    hit = cap_buckets(
        corpus_banded.withColumnRenamed("id", "cid").join(
            F.broadcast(hit_buckets), ["band", "bh"], "left_semi"
        ),
        ["band", "bh"],
        max_bucket,
        min_bucket=1,
    )
    cands = (
        new_banded.join(hit, ["band", "bh"])
        .select(F.col("id"), F.col("cid"))
        .distinct()
    )
    new_sets = hashed_shingle_sets(batch, id_col, text_col, shingle_k).persist()
    # shingle only the corpus docs that are actually candidates —
    # shingling the full corpus per batch contradicted the
    # "only candidate rows are ever fetched" contract
    cand_cids = cands.select(F.col("cid").alias(id_col)).distinct()
    corpus_sets = hashed_shingle_sets(
        corpus_docs.join(cand_cids, id_col, "left_semi"),
        id_col, text_col, shingle_k,
    ).withColumnsRenamed({"id": "cid", "s": "cs"})
    jac = hashed_set_jaccard(F.col("s"), F.col("cs"))
    dup_of_corpus = (
        cands.join(new_sets, "id")
        .join(corpus_sets, "cid")
        .where(jac >= threshold)
        .select(F.col("id").alias(id_col))
        .distinct()
    )
    # intra-batch arm from the SAME persisted signatures and sets —
    # calling minhash_dedup_pairs here rebuilt the banded pipeline and
    # the shingle sets from scratch (~4 more signature builds per
    # batch). The self-join pair set within capped (band, bh) buckets
    # is identical to minhash_candidates' collect_list pairing, and
    # the verify payload is the same hashed-set frame, so the drop set
    # is bit-identical to the previous minhash_dedup_pairs arm.
    capped = cap_buckets(new_banded, ["band", "bh"], max_bucket)
    intra_cands = (
        capped.select(F.col("id").alias("id_a"), "band", "bh")
        .join(capped.select(F.col("id").alias("id_b"), "band", "bh"),
              ["band", "bh"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # the ONE shared verify formula (hashed_set_jaccard) — both sets
    # come from hashed_shingle_sets (array_distinct'd), so |∪| via
    # array_union here equals the corpus arm exactly and the two
    # verify semantics cannot fork (r11 review)
    intra_jac = hashed_set_jaccard(F.col("s_a"), F.col("s_b"))
    intra_drops = (
        intra_cands
        .join(new_sets.withColumnsRenamed({"id": "id_a", "s": "s_a"}), "id_a")
        .join(new_sets.withColumnsRenamed({"id": "id_b", "s": "s_b"}), "id_b")
        .where(intra_jac >= threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    drops = dup_of_corpus.unionByName(intra_drops).distinct()
    kept = batch.join(drops, id_col, "left_anti")
    return attach_persisted(kept, new_banded, new_sets)


def _resolve(df_or_fn):
    """Corpus arguments may be DataFrames (static corpus) or zero-arg
    callables returning DataFrames — a GROWING corpus needs the
    callable form: a plain ``spark.read.parquet(path)`` DataFrame
    snapshots its file listing at creation, so corpus rows appended by
    ``on_kept`` between micro-batches would be invisible to later
    batches. A callable re-resolves the path each batch."""
    return df_or_fn() if callable(df_or_fn) else df_or_fn


def incremental_near_dedup_foreach_batch(
    corpus_docs: DataFrame | Callable[[], DataFrame],
    corpus_banded: DataFrame | Callable[[], DataFrame],
    on_kept: Callable[[DataFrame, int], None],
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    num_hashes: int = 64,
    num_bands: int = 16,
    shingle_k: int = 3,
    max_bucket: int | None = 1000,
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` wrapper over :func:`dedup_batch_against_corpus`:
    each micro-batch's survivors go to ``on_kept(kept_df, batch_id)``.
    The batch is persisted for the handler's duration — its rows feed
    the signature pipeline, the verify join, and the anti-join.

    ``corpus_docs`` / ``corpus_banded`` accept zero-arg callables for
    a GROWING corpus (re-resolved per batch — see :func:`_resolve`);
    with plain DataFrames the corpus is the fixed snapshot taken at
    handler build time, and intra-stream dedup happens only within
    each batch."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        batch = batch_df.persist()
        kept = None
        try:
            kept = dedup_batch_against_corpus(
                batch, _resolve(corpus_docs), _resolve(corpus_banded),
                id_col, text_col,
                threshold, num_hashes, num_bands, shingle_k, max_bucket,
            )
            on_kept(kept, batch_id)
        finally:
            if kept is not None:
                unpersist_scan_state(kept)
            batch.unpersist()

    return handle


def embedding_dedup_batch_against_corpus(
    batch: DataFrame,
    corpus_vecs: DataFrame,
    corpus_banded: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    num_bands: int = 32,
    planes_per_band: int = 16,
    seed: int = 42,
    max_bucket: int | None = 1000,
    dim: int | None = None,
) -> DataFrame:
    """The embedding twin of :func:`dedup_batch_against_corpus`: drop
    ``batch`` vectors whose exact cosine ≥ ``threshold`` against (a)
    the existing corpus — candidates from a prebuilt
    ``dedup.embedding_banded_signatures`` index (write it bucketed by
    (band, sig); lookups then join co-located) — or (b) a smaller-id
    vector in the same batch (greedy, same policy as
    ``embedding_near_dups``). Null vectors pass through (near-dups of
    nothing). Vectors are fetched from ``corpus_vecs`` for candidate
    ids only; LSH parameters must match the index build (seed-derived
    hyperplanes).

    The batch's banded signatures are built ONCE with the pinned
    ``dim`` and PERSISTED for the handler's duration — the intra-batch
    arm self-joins the SAME frame (the previous ``embedding_near_dups``
    call re-probed dim from the batch, so a malformed leading vector
    disabled intra-batch dedup even when ``dim`` was passed, and
    rebuilt the signature matmul from scratch). The frame is attached
    to the returned plan: release after materializing with
    ``cacheutil.unpersist_scan_state(kept)`` (the foreachBatch wrapper
    does this for you)."""
    from ..extensions.dedup import embedding_banded_signatures
    from ..extensions.similarity import _modal_dim, cosine

    nn = batch.where(F.col(vec_col).isNotNull())
    if dim is None:
        # the BATCH's modal width is a fallback: pass the corpus
        # index's build dim explicitly — a batch whose majority is
        # off-width would otherwise null every correct signature and
        # let near-dups of the corpus sail through
        dim = _modal_dim(nn, vec_col)
    if dim is None:
        return batch  # nothing scorable: keep all
    new_banded = embedding_banded_signatures(
        batch, id_col, vec_col, num_bands, planes_per_band, seed, dim=dim
    ).persist()
    # restrict the corpus index to the buckets THIS batch hits BEFORE
    # any counting — same fix as the text kernel above: without the
    # semi-join, cap_buckets' groupBy re-aggregates the ENTIRE corpus
    # index every micro-batch; with it (and a (band, sig)-bucketed
    # index table) the lookup prunes to hit buckets only, and bucket
    # sizes stay exact for those buckets (all their corpus rows
    # survive the semi-join)
    hit_buckets = new_banded.select("band", "sig").distinct()
    hit = cap_buckets(
        corpus_banded.withColumnRenamed("id", "cid").join(
            F.broadcast(hit_buckets), ["band", "sig"], "left_semi"
        ),
        ["band", "sig"],
        max_bucket,
        min_bucket=1,
    )
    cands = (
        new_banded.join(hit, ["band", "sig"]).select("id", "cid").distinct()
    )
    new_v = nn.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("nv"),
    )
    # fetch corpus vectors for CANDIDATE ids only — joining the full
    # corpus_vecs table scanned (and sort-merge-shuffled) the whole
    # vector corpus every micro-batch, exactly the per-batch corpus
    # re-scan the module contract rules out (same shape as the text
    # kernel's corpus_docs semi-join above; the candidate id set is
    # batch-bounded, so AQE broadcasts it)
    cand_cids = cands.select(F.col("cid").alias(id_col)).distinct()
    corpus_v = (
        corpus_vecs.join(cand_cids, id_col, "left_semi")
        .select(
            F.col(id_col).alias("cid"),
            F.col(vec_col).cast("array<double>").alias("cv"),
        )
    )
    dup_of_corpus = (
        cands.join(new_v, "id")
        .join(corpus_v, "cid")
        .where(cosine(F.col("nv"), F.col("cv"), dim) >= threshold)
        .select(F.col("id").alias(id_col))
        .distinct()
    )
    # intra-batch arm from the SAME persisted, dim-pinned signatures —
    # identical pair set to embedding_near_dups (capped (band, sig)
    # self-join, id_a < id_b) but with the index's dim, not a re-probe
    capped = cap_buckets(new_banded, ["band", "sig"], max_bucket)
    intra_cands = (
        capped.select(F.col("id").alias("id_a"), "band", "sig")
        .join(capped.select(F.col("id").alias("id_b"), "band", "sig"),
              ["band", "sig"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    intra_drops = (
        intra_cands
        .join(new_v.withColumnsRenamed({"id": "id_a", "nv": "v_a"}), "id_a")
        .join(new_v.withColumnsRenamed({"id": "id_b", "nv": "v_b"}), "id_b")
        .where(cosine(F.col("v_a"), F.col("v_b"), dim) >= threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    drops = dup_of_corpus.unionByName(intra_drops).distinct()
    kept = batch.join(drops, id_col, "left_anti")
    return attach_persisted(kept, new_banded)


def incremental_embedding_dedup_foreach_batch(
    corpus_vecs: DataFrame | Callable[[], DataFrame],
    corpus_banded: DataFrame | Callable[[], DataFrame],
    on_kept: Callable[[DataFrame, int], None],
    id_col: str = "vec_id",
    dim: int | None = None,
    vec_col: str = "embedding",
    threshold: float = 0.95,
    num_bands: int = 32,
    planes_per_band: int = 16,
    seed: int = 42,
    max_bucket: int | None = 1000,
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` wrapper over
    :func:`embedding_dedup_batch_against_corpus` (see there for
    semantics); corpus arguments accept zero-arg callables for a
    growing corpus (see :func:`_resolve`)."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        batch = batch_df.persist()
        kept = None
        try:
            kept = embedding_dedup_batch_against_corpus(
                batch, _resolve(corpus_vecs), _resolve(corpus_banded),
                id_col, vec_col,
                threshold, num_bands, planes_per_band, seed, max_bucket,
                dim=dim,
            )
            on_kept(kept, batch_id)
        finally:
            if kept is not None:
                unpersist_scan_state(kept)
            batch.unpersist()

    return handle
