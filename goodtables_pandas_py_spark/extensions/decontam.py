"""Eval-set decontamination (SURVEY.md §2.9 X7 family — not in the
reference): find training documents that overlap a benchmark/eval set
by exact n-gram match, the standard contamination check an LLM data
pipeline runs before a release (report → drop or quarantine the
contaminated docs).

Design for the 100 TB corpus / small eval set asymmetry:

- the EVAL side (benchmarks: thousands of docs, not billions)
  shingles into distinct (eval_id, ngram) rows and is explicitly
  ``broadcast()`` — the join never shuffles the corpus;
- the CORPUS side is one explode of per-doc distinct n-grams: the
  scan-side cost is the same shingle machinery the MinHash pipeline
  uses (``dedup._doc_shingles`` — JVM transform/slice, whole-stage
  codegen, no UDF);
- the match aggregate is a map-side-combinable count per
  (corpus doc, eval doc): shuffle rows = matched n-grams only, which
  for an uncontaminated corpus is ~zero — cost concentrates exactly
  where contamination exists.

``contaminated_ids`` is the drop-set convenience for composing with
an anti-join (same pattern as ``dedup.near_dedup``). The fuzzy scan
(:func:`near_contamination_scan`) verifies its MinHash candidates
through dedup's shared verify join and shingle-set builder.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..cacheutil import attach_persisted, get_persisted
from .dedup import (
    _doc_shingles,
    _jaccard,
    _verified_pairs,
    banded_signatures,
    hashed_shingle_sets,
)


def ngram_sets(
    df: DataFrame, id_col: str, text_col: str, ngram: int
) -> DataFrame:
    """(id, g) rows: distinct space-joined word n-grams of the
    normalized text, per INPUT ROW (array_distinct — no shuffle; ids
    must be unique per row, the corpus contract at 100 TB), with each
    n-gram XXHASH64'D to a long. Shared by both sides of the scan so
    the match is exact by construction EITHER WAY — hashing just makes
    the join key a long: the broadcast eval map becomes Spark's
    specialized long-keyed hashed relation (~6× smaller than the
    8-word-string map — 8 B vs ~50 B per key — and long-equality
    probes), the n-gram counts are unchanged absent a 64-bit collision
    within one (corpus doc, eval doc) comparison (P ≈ s²·2⁻⁶⁵), and
    the oracle's exact string-side recompute (x7_contamination) would
    fail loudly on any flip."""
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array_distinct(_doc_shingles(F.col(text_col), ngram))
        ).alias("g"),
    ).select("id", F.xxhash64(F.col("g")).alias("g"))


def contamination_scan(
    corpus: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_id_col: str = "doc_id",
    eval_text_col: str = "text",
    ngram: int = 8,
    min_ratio: float = 0.0,
    min_matched: int = 1,
) -> DataFrame:
    """Report (corpus_id, eval_id, n_matched, n_eval, ratio) for every
    corpus document sharing ≥ ``min_matched`` distinct ``ngram``-word
    n-grams with an eval document, where ``ratio`` = matched / eval
    doc's distinct n-grams (1.0 = the eval doc is fully contained).

    ``ngram`` defaults to 8 — the common decontamination window
    (large enough that a match is quotation, not coincidence); lower
    it for short eval items. Filter with ``min_ratio`` for
    containment-style decisions, ``min_matched`` for any-overlap
    auditing.
    """
    # the eval side is small and broadcast anyway: a cross-row
    # distinct is cheap and makes multi-row-per-id eval sets (e.g.
    # prompt + answer rows sharing an id) count each n-gram once —
    # without it both n_eval and n_matched inflate and ratios skew.
    # The CORPUS side stays per-row distinct only (a global distinct
    # would shuffle 100 TB); corpus ids must be unique per row.
    ev = ngram_sets(eval_df, eval_id_col, eval_text_col, ngram).distinct()
    ev_sized = ev.groupBy(F.col("id").alias("eval_id")).agg(
        F.count(F.lit(1)).alias("n_eval")
    )
    co = ngram_sets(corpus, id_col, text_col, ngram).withColumnRenamed(
        "id", "corpus_id"
    )
    hits = (
        co.join(
            F.broadcast(ev.withColumnRenamed("id", "eval_id")), "g"
        )
        .groupBy("corpus_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("n_matched"))
    )
    out = hits.join(F.broadcast(ev_sized), "eval_id").select(
        "corpus_id",
        "eval_id",
        "n_matched",
        "n_eval",
        (F.col("n_matched") / F.col("n_eval")).alias("ratio"),
    )
    return out.where(
        (F.col("n_matched") >= min_matched) & (F.col("ratio") >= min_ratio)
    )


def contaminated_ids(
    corpus: DataFrame,
    eval_df: DataFrame,
    min_ratio: float = 0.5,
    **kwargs,
) -> DataFrame:
    """Distinct corpus ids whose overlap with ANY eval doc reaches
    ``min_ratio`` — the drop-set for an anti-join:

        clean = corpus.join(contaminated_ids(corpus, evals),
                            corpus.doc_id == F.col("corpus_id"),
                            "left_anti")
    """
    return (
        contamination_scan(corpus, eval_df, min_ratio=min_ratio, **kwargs)
        .select("corpus_id")
        .distinct()
    )


def near_contamination_scan(
    corpus: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_id_col: str = "doc_id",
    eval_text_col: str = "text",
    threshold: float = 0.7,
    num_hashes: int = 64,
    num_bands: int = 16,
    shingle_k: int = 3,
    max_broadcast_candidates: int = 5_000_000,
) -> DataFrame:
    """FUZZY decontamination (r9): (corpus_id, eval_id, jaccard) for
    every corpus document whose ``shingle_k``-word-shingle Jaccard
    with an eval document reaches ``threshold`` — the near-duplicate
    complement to :func:`contamination_scan`'s exact n-gram overlap.
    Exact overlap misses the paraphrased/lightly-edited benchmark
    copy (whitespace renormalized, one word swapped per sentence)
    that still leaks the answer; a Jaccard threshold catches it —
    the Llama-style "fuzzy decontam" pass.

    Same 100 TB asymmetry as the exact scan, MinHash-shaped:
    candidates come from the corpus's banded LSH signatures
    equi-joined against the BROADCAST eval banded signatures (the
    eval side is thousands of docs — its bands and shingle sets both
    broadcast; the corpus side never shuffles), then exact Jaccard
    verifies each candidate pair, with corpus shingle sets built ONLY
    for candidate docs (semi-join prune — an uncontaminated corpus
    re-shingles ~nothing). Precision is exact (verify step); recall
    is the banding guarantee at (num_hashes, num_bands) — the same
    S-curve as ``minhash_dedup_pairs``, whose hash family this
    shares."""
    ev_banded = banded_signatures(
        eval_df, eval_id_col, eval_text_col, num_hashes, num_bands,
        shingle_k,
    ).withColumnRenamed("id", "id_b")
    co_banded = banded_signatures(
        corpus, id_col, text_col, num_hashes, num_bands, shingle_k
    ).withColumnRenamed("id", "id_a")
    # (id_a, id_b) = (corpus doc, eval doc): the verify kernel's names
    cands = (
        co_banded.join(F.broadcast(ev_banded), ["band", "bh"])
        .select("id_a", "id_b")
        .distinct()
    )
    # the candidate set is bounded by corpus docs sharing a band with
    # the (tiny) eval side — in a sane pipeline that is the
    # contaminated sliver plus the banding FP rate, far below the
    # broadcast cap, so BOTH verify joins broadcast it and the corpus
    # never shuffles (a plain join here planned a SortMergeJoin that
    # would shuffle every corpus shingle set by id). The counted
    # guard keeps mass-contamination honest: past the cap the verify
    # falls back to shuffle joins — correct, costs one corpus
    # shuffle, and a corpus where >5M docs band-match a benchmark has
    # bigger problems than join strategy.
    n_cands = cands.persist().count()
    maybe_broadcast = (
        F.broadcast if n_cands <= max_broadcast_candidates else (lambda x: x)
    )
    co_sets = hashed_shingle_sets(corpus, id_col, text_col, shingle_k).join(
        maybe_broadcast(cands.select(F.col("id_a").alias("id")).distinct()),
        "id",
        "left_semi",
    )
    ev_sets = hashed_shingle_sets(
        eval_df, eval_id_col, eval_text_col, shingle_k
    )
    out = _verified_pairs(
        maybe_broadcast(cands), co_sets, F.broadcast(ev_sets),
        _jaccard(), F.col("jaccard") >= threshold,
    ).toDF("corpus_id", "eval_id", "jaccard")
    # the persisted candidate frame outlives this builder (the lazy
    # result consumes it in both verify joins) — hand its lifetime to
    # the caller instead of leaking it until session GC (ADVICE r9):
    # materialize, then cacheutil.unpersist_scan_state(result)
    return attach_persisted(out, cands)


def near_contaminated_ids(
    corpus: DataFrame,
    eval_df: DataFrame,
    threshold: float = 0.7,
    **kwargs,
) -> DataFrame:
    """Distinct corpus ids near-duplicating ANY eval doc at
    ``threshold`` — the fuzzy drop-set for an anti-join (compose with
    :func:`contaminated_ids` for belt-and-suspenders decontamination:
    exact catches verbatim quotation below near-dup length, fuzzy
    catches the paraphrased copy exact n-grams miss)."""
    scan = near_contamination_scan(
        corpus, eval_df, threshold=threshold, **kwargs
    )
    return attach_persisted(
        scan.select("corpus_id").distinct(),
        *get_persisted(scan),
    )
