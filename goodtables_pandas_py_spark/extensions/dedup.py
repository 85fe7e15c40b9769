"""Deduplication operators (X1/X2): exact, MinHash+LSH, SimHash,
n-gram Jaccard — the dedup ladder of a large-scale training-data
pipeline (SURVEY.md §2.9), all shuffle-conscious:

- exact:    one hash-groupBy on a fingerprint (map-side combine).
- minhash:  shingle → H minhashes → B bands → bucket-size count →
            semi-join to eligible buckets (hot-bucket cap, count-first)
            → within-bucket candidate pairs → exact Jaccard verify on
            per-doc shingle sets. Never an all-pairs join; the only
            row-bearing shuffles are the signature groupBy and the
            (tiny) candidate-bucket collect.
- simhash:  64-bit sign-sum fingerprint via aggregate() lambda —
            JVM-side; near-dups = equal 16-bit chunk buckets (Hamming
            LSH).
- embedding: random-hyperplane band signatures (similarity.py) →
            the same bucket pairing → exact cosine verify.

Every LSH family here, the streaming batch kernels
(streaming/dedup.py) and fuzzy decontamination (decontam.py) pair
buckets with ``_bucket_pairs`` and verify with ``_verified_pairs``:
one candidate-and-verify path, whatever the signature and score.
SimHash's payload is one long, so it rides through the pairing
inside the id and is scored there, with no verify join.

MinHash math (public): P[minhash_i(A)=minhash_i(B)] = J(A,B); banding
(b bands × r rows) matches pairs with J ≈ (1/b)^(1/r) threshold.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..cacheutil import attach_persisted, get_persisted
from .text import normalize_text, shingles, whitespace_tokens


def _doc_shingles(text: Column, k: int) -> Column:
    """The k-word shingles of a text column: normalize → whitespace
    tokens → shingles. The one shingling rule of every dedup signature
    (MinHash, SimHash) and verify set, and of decontamination's
    n-grams, so an index and its lookups always shingle alike."""
    return shingles(whitespace_tokens(normalize_text(text)), k)


# --- X1: exact dedup ------------------------------------------------------


def exact_dedup(
    df: DataFrame, cols: list[str] | None = None, keep: str | None = None
) -> DataFrame:
    """Drop exact duplicates on ``cols`` (all columns when None).
    ``keep`` names an ordering column: the row with the smallest
    (keep, rest-of-row) value survives deterministically.

    Skew posture: the keep-path is a MIN aggregate over a struct, not
    a window — partial (map-side) aggregation collapses hot duplicate
    groups before the shuffle, so a fingerprint that appears 10M times
    costs 10M comparisons but shuffles one row; the window+row_number
    formulation would sort all 10M copies in a single task."""
    if keep is None:
        return df.dropDuplicates(cols)

    def q(c: str):
        # backtick-quote names containing dots: a column literally
        # named "meta.source" would otherwise parse as a nested field
        # path at EVERY reference (r10 review)
        return F.col(f"`{c}`" if "." in c else c)

    key = cols or df.columns
    rest = [c for c in df.columns if c not in key]
    packed = F.struct(q(keep), *[q(c) for c in rest if c != keep])
    agg = df.groupBy(*[q(c) for c in key]).agg(F.min(packed).alias("__keep"))
    out_cols = [
        q(c) if c in key else F.col("__keep").getField(c).alias(c)
        for c in df.columns
    ]
    return agg.select(*out_cols)


def duplicate_groups(
    df: DataFrame, fingerprint: Column, id_col: str | None = None
) -> DataFrame:
    """Audit variant (A3): fingerprint groups with >1 member, with
    multiplicity — plus the surviving (min) id as ``keep_id`` when
    ``id_col`` is given (matching exact_dedup's min-survivorship)."""
    aggs = [F.count(F.lit(1)).alias("n")]
    if id_col is not None:
        aggs.append(F.min(F.col(id_col)).alias("keep_id"))
    return (
        df.select(fingerprint.alias("fp"),
                  *([F.col(id_col)] if id_col else []))
        .groupBy("fp")
        .agg(*aggs)
        .where(F.col("n") > 1)
    )


# --- X2: MinHash + LSH ----------------------------------------------------


def minhash_signature(
    text: Column, num_hashes: int = 64, shingle_k: int = 3
) -> Column:
    """Array of ``num_hashes`` minhashes over k-word shingles, as a
    single Column (hash family: xxhash64 salted per index — JVM
    built-in, no Python). Empty shingle set -> null signature.

    NOTE: higher-order-function lambdas evaluate interpreted (outside
    whole-stage codegen), so this per-row form costs
    O(shingles × hashes) interpreted ops. Fine for ad-hoc use; the
    scale path is ``minhash_signatures`` below (explode + codegen'd
    wide min-aggregate), which is what the candidate pipeline uses."""
    sh = _doc_shingles(text, shingle_k)
    sig = F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda h: F.array_min(F.transform(sh, lambda s: F.xxhash64(s, h))),
    )
    return F.when(F.size(sh) > 0, sig)


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_k: int = 3,
) -> DataFrame:
    """(id, sig: array<long>) via the codegen-friendly plan:
    explode(shingles) → groupBy(id) with ``num_hashes`` MIN aggregates
    (one salted xxhash64 each). The explode inflates rows ~shingle×,
    but map-side partial aggregation collapses to one row per (id ×
    partition) BEFORE the shuffle — shuffle volume is docs × H longs,
    independent of document length. All hashing runs inside
    WholeStageCodegen (vs interpreted HOF lambdas: ~40× faster on the
    documents table)."""
    sh = df.select(
        F.col(id_col).alias("id"),
        F.explode(_doc_shingles(F.col(text_col), shingle_k)).alias("s"),
    )
    aggs = [
        F.min(F.xxhash64(F.col("s"), F.lit(h))).alias(f"h{h}")
        for h in range(num_hashes)
    ]
    wide = sh.groupBy("id").agg(*aggs)
    return wide.select(
        "id", F.array(*[F.col(f"h{h}") for h in range(num_hashes)]).alias("sig")
    )


def lsh_bands(signature: Column, num_bands: int, rows_per_band: int) -> Column:
    """Band the signature: array of (band_index, band_hash) structs.
    band_hash folds the band's minhashes through xxhash64."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_bands - 1)),
        lambda b: F.struct(
            b.alias("band"),
            F.xxhash64(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.slice(signature, b * rows_per_band + 1, rows_per_band),
                        lambda x: x.cast("string"),
                    ),
                )
            ).alias("band_hash"),
        ),
    )


def banded_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    num_bands: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """The persistable LSH index side: one (``id``, ``band``, ``bh``)
    row per document per band — exactly the projection
    :func:`minhash_candidates` pairs, exposed so a corpus can
    build it ONCE and serve many lookups (the MinHash analogue of
    similarity.ann_assign). At 100 TB: write it with
    ``sources.write_bucketed(banded, t, ["band", "bh"])`` and every
    incremental batch joins against it bucket-co-located — no corpus
    re-scan, no corpus-side shuffle (streaming/dedup.py consumes this
    shape). Parameters must match between index build and lookup —
    signatures hash the same xxhash64 family either way."""
    if num_bands < 1 or num_bands > num_hashes:
        raise ValueError(
            f"num_bands={num_bands} must be in [1, num_hashes="
            f"{num_hashes}] (more bands than hashes would bucket "
            "every document together)"
        )
    if num_hashes % num_bands != 0:
        raise ValueError(
            f"num_hashes={num_hashes} must divide evenly into "
            f"num_bands={num_bands} bands — a remainder silently "
            "discards trailing hashes and shifts the effective "
            "Jaccard threshold"
        )
    rows = num_hashes // num_bands
    sigs = minhash_signatures(df, id_col, text_col, num_hashes, shingle_k)
    return (
        sigs.select(
            "id",
            F.explode(lsh_bands(F.col("sig"), num_bands, rows)).alias("b"),
        )
        .select(
            "id",
            F.col("b.band").alias("band"),
            F.col("b.band_hash").alias("bh"),
        )
    )


def minhash_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    num_bands: int = 16,
    shingle_k: int = 3,
    max_bucket: int = 1000,
    persist_banded: bool = False,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) sharing ≥1 LSH band.

    Plan shape: one scan → explode bands → bucket-SIZE aggregate
    (count only — map-side combinable, shuffles (band, hash, n)
    triples) → semi-join banded rows to the ELIGIBLE buckets (2 ≤ n ≤
    ``max_bucket``; the eligible set is duplicate buckets only, so AQE
    broadcasts it) → within-bucket pairing (:func:`_bucket_pairs`) over
    those rows alone.

    Skew posture (r4): sizes are counted BEFORE any list is built, so
    a hot boilerplate bucket (10M identical headers at 100 TB) costs
    one counter per map task and is dropped without ever materializing
    a 10M-element array in a single task — the previous shape
    collect_list'ed every bucket first and applied the cap after,
    which is exactly the OOM it existed to prevent. Bonus: the
    collect_list shuffle now carries only rows from candidate buckets
    (usually a small fraction of the corpus), not every (id, band)
    row.

    ``persist_banded``: the banded (id, band, hash) projection is
    consumed TWICE (bucket-size count, then join-back), so the whole
    signature pipeline — the dominant dedup cost — runs twice per
    action. True caches it (MEMORY_AND_DISK; docs × bands small rows,
    far smaller than the corpus) so the second consumer reads the
    cache; Spark's ContextCleaner drops it when the plan is released.
    Default False: at sf0.1 the recompute and the cache fill measure
    within noise of each other, and an unconditional persist inside a
    library function steals executor storage memory the caller didn't
    budget. At 100 TB, set it (or persist the signature table yourself
    upstream)."""
    banded = banded_signatures(
        df, id_col, text_col, num_hashes, num_bands, shingle_k
    )
    if persist_banded:
        banded = banded.persist(StorageLevel.MEMORY_AND_DISK)
    # a persisted banded frame's lifetime goes to the caller (cacheutil
    # contract, r12): a caller that materializes the result per rep can
    # release the cache between reps instead of re-reading rep 1's fill
    return attach_persisted(
        _bucket_pairs(banded, ["band", "bh"], max_bucket),
        *([banded] if persist_banded else []),
    )


def cap_buckets(
    df: DataFrame,
    keys: list[str],
    max_bucket: int | None,
    min_bucket: int = 2,
) -> DataFrame:
    """Skew guard for within-bucket pairing: keep only rows whose
    bucket (grouped by ``keys``) has between ``min_bucket`` and
    ``max_bucket`` members. The size pass is a COUNT aggregate
    (map-side combinable — shuffles one (keys, n) triple per bucket
    per map task, never the rows), and the eligible-bucket set is
    duplicate buckets only, so AQE broadcasts the semi-join back.

    A hot bucket (10M identical boilerplate docs at 100 TB) is thus
    dropped for the cost of a counter — it never materializes as a
    giant collect_list array or an n² join explosion. Dropping is the
    standard near-dup practice: a bucket that hot is boilerplate, and
    exact dedup (X1) catches it upstream. ``max_bucket=None`` disables
    the cap (exact-completeness harnesses); ``min_bucket=1`` keeps
    singleton buckets (left/right joins where the other side supplies
    the pair)."""
    if max_bucket is None:
        return df
    eligible = (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__n"))
        .where(
            (F.col("__n") >= min_bucket) & (F.col("__n") <= max_bucket)
        )
        .select(*keys)
    )
    return df.join(eligible, keys)


# --- the LSH candidate-and-verify kernels (see the module docstring) -----


def _bucket_pairs(
    banded: DataFrame, keys: list[str], max_bucket: int | None
) -> DataFrame:
    """The distinct (``id_a``, ``id_b``) pairs, ``id_a < id_b``, of
    ``banded`` rows (``id`` plus the bucket ``keys``) that share a
    bucket surviving :func:`cap_buckets`. ``id`` may be any orderable
    value whose first field is the row id (a struct carrying a small
    verify payload, as :func:`simhash_candidates` does).

    One collect_list per capped bucket, sorted and de-duplicated (an
    id repeated inside a bucket never pairs with itself); each id is
    then exploded with the SLICE AFTER it, so the n(n-1)/2 pairs leave
    the bucket one row at a time. No bucket builds its pairs as one
    array (an uncapped hot bucket of n ids would need an n²/2-element
    row) and there is no bucket self-join (measured 1.6x slower than
    this form on minhash_candidates). The dedup.candidates layer
    measures this form."""
    buckets = (
        cap_buckets(banded, keys, max_bucket)
        .groupBy(*keys)
        .agg(
            F.array_sort(F.array_distinct(F.collect_list("id"))).alias("ids")
        )
    )
    # a slice that starts past the end is empty, so the last id pairs
    # with nothing and no length clamp is needed
    return (
        buckets.select("ids", F.posexplode("ids").alias("i", "id_a"))
        .select(
            "id_a",
            F.explode(F.slice("ids", F.col("i") + 2, F.size("ids")))
            .alias("id_b"),
        )
        .distinct()
    )


def _verified_pairs(
    cands: DataFrame,
    payload_a: DataFrame,
    payload_b: DataFrame,
    score: Column,
    keep: Column,
) -> DataFrame:
    """Exact verify of candidate pairs: join each side's per-row
    payload (``id`` plus payload columns; side a's columns get the
    suffix ``_a`` and join on ``id_a``, side b's ``_b`` on ``id_b``),
    compute ``score`` — an aliased Column over the suffixed payload —
    and keep the (``id_a``, ``id_b``, score) rows where ``keep`` holds.

    Payloads are built once per ROW before the join (hashed shingle
    sets, vectors with their hoisted norm), so the pair side pays one
    set intersection or dot product per pair."""

    def side(payload: DataFrame, s: str) -> DataFrame:
        return payload.select(
            *[F.col(c).alias(f"{c}_{s}") for c in payload.columns]
        )

    return (
        cands.join(side(payload_a, "a"), "id_a")
        .join(side(payload_b, "b"), "id_b")
        .select("id_a", "id_b", score)
        .where(keep)
    )


def _jaccard() -> Column:
    """The text families' verify score over two :func:`hashed_shingle_sets`
    payloads."""
    return hashed_set_jaccard(F.col("s_a"), F.col("s_b")).alias("jaccard")


def _vector_payload(
    df: DataFrame, id_col: str, vec_col: str, dim: int
) -> DataFrame:
    """(``id``, ``v``, ``n``) per non-null vector: the embedding verify
    payload, cast to double ONCE per row with its norm hoisted out of
    the pair join, leaving one expanded dot and one divide per pair
    (measured 82 s → 9 s over the 1.28M-candidate uncapped
    embedding_near_dups sweep at sf0.1). Same arithmetic and ragged
    gate as the unhoisted cosine."""
    from .similarity import norm

    return df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).withColumn("n", norm(F.col("v"), dim))


def _cosine(dim: int) -> Column:
    """The embedding families' verify score over two
    :func:`_vector_payload` payloads (ragged rows score NULL)."""
    from .similarity import cosine

    return cosine(
        F.col("v_a"), F.col("v_b"), dim, norms=(F.col("n_a"), F.col("n_b"))
    ).alias("cosine")


def ngram_jaccard(
    a_tokens: Column, b_tokens: Column, k: int = 3
) -> Column:
    """Exact n-gram Jaccard similarity of two token arrays."""
    return hashed_set_jaccard(
        F.array_distinct(shingles(a_tokens, k)),
        F.array_distinct(shingles(b_tokens, k)),
    )


def hashed_shingle_sets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
) -> DataFrame:
    """xxhash64'd DISTINCT shingle sets — the exact-Jaccard verify
    payload: (``id``, ``s``: array<long>), one row per document. The
    candidate join ships 8 B/shingle and intersects longs; Jaccard is
    unchanged absent a 64-bit collision within one pair's sets
    (P ≈ s²·2⁻⁶⁵ per pair). The one shingle-set builder: every text
    verify (:func:`minhash_dedup_pairs`, the streaming batch kernel,
    ``decontam.near_contamination_scan``) and the registry's set sizes
    build their sets here, so the representations cannot drift."""
    return df.select(
        F.col(id_col).alias("id"),
        F.transform(
            F.array_distinct(_doc_shingles(F.col(text_col), shingle_k)),
            lambda sh: F.xxhash64(sh),
        ).alias("s"),
    )


def hashed_set_jaccard(sa: Column, sb: Column) -> Column:
    """Exact Jaccard over two DISTINCT sets (the
    :func:`hashed_shingle_sets` payload, or any array_distinct'd
    arrays): |∩|/|∪|, 0.0 for two empty sets. THE one formula — every
    text verify (through ``_jaccard``: batch, streaming and fuzzy
    decontam) and :func:`ngram_jaccard` use it, so their dedup
    semantics cannot fork (r11 review)."""
    inter = F.size(F.array_intersect(sa, sb))
    union = F.size(F.array_union(sa, sb))
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    num_hashes: int = 64,
    num_bands: int = 16,
    shingle_k: int = 3,
    persist_banded: bool = False,
    max_bucket: int | None = 1000,
    persist_sets: bool = False,
) -> DataFrame:
    """Near-dup pairs with exact-Jaccard verification ≥ threshold:
    LSH candidates (cheap, recall-oriented) → join back each doc's
    DISTINCT shingle set → exact Jaccard (precision). Returns
    (id_a, id_b, jaccard).

    The shingle sets are computed ONCE PER DOC before the candidate
    join (n shingle builds, not 2×pairs): on dup-heavy corpora — the
    whole point of dedup — a doc sits in hundreds of candidate pairs,
    and re-shingling per pair side (the pre-r4 shape, via
    ngram_jaccard on raw token arrays) multiplied the verify cost by
    the pair multiplicity. Found by the r4 10× scale probe: 100k docs
    with 20-way replica clusters went from DNF (>9 min) to seconds.

    The verify payload is HASHED: each distinct shingle string becomes
    one xxhash64 long, so the candidate join shuffles array<long>
    (8 B/shingle) instead of array<string> (~20-40 B for k-word
    n-grams) — the r5 60× probe identified verify-join shuffle volume
    (pairs × two set payloads) as the one above-linear scale entry,
    and the set ops themselves (array_intersect/union) compare longs
    instead of strings. Jaccard over hashed sets equals Jaccard over
    string sets unless two distinct shingles of the SAME candidate
    pair collide in 64 bits (P ≈ s²·2⁻⁶⁵ per pair, ~1e-12 at 10k
    shingles/doc) — and any such flip is caught by the registry's
    independent string-based recheck (x2_minhash_dedup
    jaccard_recheck_ok).

    ``persist_sets``: the hashed set frame is joined TWICE (id_a side,
    id_b side), so the normalize→tokenize→shingle→hash build runs
    twice per action. True caches it (MEMORY_AND_DISK, one array<long>
    row per doc) so the second join reads the cache — same contract
    and default rationale as ``persist_banded``: off by default
    because a library function shouldn't steal executor storage memory
    the caller didn't budget; set BOTH at 100 TB (or persist the
    signature/set tables yourself upstream)."""
    cands = minhash_candidates(
        df, id_col, text_col, num_hashes, num_bands, shingle_k,
        max_bucket=max_bucket, persist_banded=persist_banded,
    )
    sets = hashed_shingle_sets(df, id_col, text_col, shingle_k)
    if persist_sets:
        sets = sets.persist(StorageLevel.MEMORY_AND_DISK)
    out = _verified_pairs(
        cands, sets, sets, _jaccard(), F.col("jaccard") >= threshold
    )
    return attach_persisted(
        out,
        *(get_persisted(cands)),
        *([sets] if persist_sets else []),
    )


def pair_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over a pair list: returns (id, component)
    where ``component`` is the MIN id reachable from ``id`` — min-label
    propagation iterated to fixpoint with plain hash equi-joins (no
    GraphFrames dependency; VERDICT r4 §next 4).

    Scale shape: every iteration is (a) one equi-join (labels ⋈ edges)
    + one map-side-combinable MIN aggregate — one hop of neighbor
    propagation — and (b) one PATH-HALVING self-join
    (l(x) ← min(l(x), l(l(x))), the pointer-jumping step of classic
    distributed CC), all over the PAIR list — which for near-dup
    workloads is far smaller than the corpus. Halving makes the round
    count O(log diameter) instead of O(diameter): a 64-node chain
    converges in ~6 rounds where one-hop alone needs 63 (asserted in
    test_extensions). The lineage is truncated per iteration so the
    plan stays O(1) deep instead of compounding per round — with
    RELIABLE ``checkpoint()`` when the context has a checkpoint dir
    configured (``sc.setCheckpointDir``; executor loss mid-fixpoint
    recovers from storage), else executor-local ``localCheckpoint()``
    (fine on local[_]; docs/TUNING.md tells cluster deployments to
    set the dir). The fixpoint test is an empty-diff check per round,
    and hitting ``max_iter`` without convergence raises rather than
    silently returning partial labels."""
    sc = pairs.sparkSession.sparkContext
    reliable = sc.getCheckpointDir() is not None

    def _truncate(df: DataFrame) -> DataFrame:
        return df.checkpoint(eager=True) if reliable \
            else df.localCheckpoint()

    edges = pairs.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    ).where(F.col("src").isNotNull() & F.col("dst").isNotNull())
    edges = _truncate(
        edges.union(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct()
    )
    labels = _truncate(
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
    )
    for _ in range(max_iter):
        prop = (
            edges.join(
                labels.withColumnRenamed("id", "src"), "src"
            ).select(F.col("dst").alias("id"), "component")
        )
        hopped = (
            labels.unionByName(prop)
            .groupBy("id")
            .agg(F.min("component").alias("component"))
        )
        # path halving: follow the label's own label one step —
        # every component value is itself a node id (labels start as
        # self-ids and only node ids propagate), so the self-join hits
        parent = hopped.select(
            F.col("id").alias("component"), F.col("component").alias("gp")
        )
        new = _truncate(
            hopped.join(parent, "component", "left")
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce(F.col("gp"), F.col("component"))
                ).alias("component"),
            )
        )
        changed = (
            new.join(
                labels.withColumnRenamed("component", "old"), "id"
            )
            .where(F.col("component") != F.col("old"))
            .limit(1)
            .count()
        )
        labels = new
        if changed == 0:
            return labels
    raise RuntimeError(
        f"pair_components did not converge in {max_iter} iterations — "
        "component diameter exceeds max_iter; raise max_iter"
    )


def near_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    num_hashes: int = 64,
    num_bands: int = 16,
    shingle_k: int = 3,
    policy: str = "greedy",
    pairs: DataFrame | None = None,
    persist_banded: bool = False,
    persist_sets: bool = False,
) -> DataFrame:
    """End-to-end near-duplicate removal: keep one representative per
    near-dup group. Returns ``df`` minus the dropped rows, schema
    unchanged. ``pairs`` injects a precomputed verified pair list
    (id_a, id_b[, ...]) — e.g. to reuse one pair computation across
    policies, or to plug in simhash/embedding pairs; default builds
    MinHash+LSH pairs via :func:`minhash_dedup_pairs`.

    ``policy="greedy"`` (default): pairs come canonical (id_a < id_b)
    and every ``id_b`` is dropped — one broadcast-able DISTINCT drop
    set, one anti-join, no iteration. Within a fully-connected cluster
    exactly the min id survives. Under CHAINING (a~b, b~c, a≁c) both b
    and c drop even though c's only link was b — and conversely a
    star (1~3, 2~3) keeps BOTH 1 and 2 (only 3 drops), so greedy can
    keep two docs that share a near-dup neighbor.

    ``policy="cc"``: exact connected-components survivorship — the min
    id of each component survives, every other member drops (labels
    from :func:`pair_components`, a few equi-join rounds over the pair
    list). One representative per component even under chaining; more
    aggressive than greedy on stars (1~3, 2~3 keeps only 1). This is
    the documented MinHash-dedup chaining trade-off; pick per corpus.

    Either way the drop set is DISTINCT ids (≤ n rows, usually ≪):
    the anti-join broadcasts when small and stays a hash equi-join
    otherwise."""
    if pairs is None:
        pairs = minhash_dedup_pairs(
            df, id_col, text_col, threshold, num_hashes, num_bands, shingle_k,
            persist_banded=persist_banded, persist_sets=persist_sets,
        )
    if policy == "greedy":
        drop = pairs.select(F.col("id_b").alias(id_col)).distinct()
    elif policy == "cc":
        labels = pair_components(pairs)
        drop = labels.where(F.col("id") != F.col("component")).select(
            F.col("id").alias(id_col)
        )
    else:
        raise ValueError(f"unknown policy {policy!r}: use 'greedy' or 'cc'")
    return attach_persisted(
        df.join(drop, id_col, "left_anti"), *get_persisted(pairs)
    )


# --- X2b: SimHash ---------------------------------------------------------


def simhash64(text: Column, shingle_k: int = 2) -> Column:
    """64-bit SimHash, fully JVM-side: per-shingle xxhash64 → per-bit
    ±1 vote (getbit) → sign of the 64 sums. aggregate() threads a
    64-long vote array through the shingle array (no Python, no
    explode). ANSI-safe packing: two 32-bit halves built with
    acc*2+bit (max 2^32, no long overflow) then OR-shifted together."""
    feats = _doc_shingles(text, shingle_k)
    bits = F.sequence(F.lit(0), F.lit(63))
    votes = F.aggregate(
        feats,
        F.array_repeat(F.lit(0).cast("long"), 64),
        lambda acc, s: F.zip_with(
            acc,
            F.transform(bits, lambda b: F.getbit(F.xxhash64(s), b) * 2 - 1),
            lambda a, v: a + v,
        ),
    )

    def pack(half: Column) -> Column:
        # half: 32 votes, highest bit first after reverse
        return F.aggregate(
            F.reverse(half),
            F.lit(0).cast("long"),
            lambda acc, v: acc * 2 + F.when(v > 0, 1).otherwise(0),
        )

    lo = pack(F.slice(votes, 1, 32))
    hi = pack(F.slice(votes, 33, 32))
    fp = F.shiftleft(hi, 32).bitwiseOR(lo)
    return F.when(F.size(feats) > 0, fp)


def simhash_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 2,
) -> DataFrame:
    """(id, fp: long) — the codegen scale path (cf.
    ``minhash_signatures``): explode(shingles) → one xxhash64 per
    shingle row → 64 SUM(±1) aggregates (getbit) → literal-weight
    packing. Shuffle volume: docs × 64 longs after partial agg."""
    sh = df.select(
        F.col(id_col).alias("id"),
        F.explode(_doc_shingles(F.col(text_col), shingle_k)).alias("s"),
    ).select("id", F.xxhash64(F.col("s")).alias("h"))
    aggs = [
        F.sum(F.getbit(F.col("h"), F.lit(b)) * 2 - 1).alias(f"v{b}")
        for b in range(64)
    ]
    votes = sh.groupBy("id").agg(*aggs)

    def half(first: int) -> Column:
        # 32 votes packed with literal weights: max 2^32, no overflow
        return sum(
            (F.when(F.col(f"v{first + b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
             for b in range(32)),
            start=F.lit(0).cast("long"),
        ).cast("long")

    return votes.select(
        "id", F.shiftleft(half(32), 32).bitwiseOR(half(0)).alias("fp")
    )


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit fingerprints (bit_count of
    xor)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    shingle_k: int = 2,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Near-dup pairs by SimHash chunk-LSH: equal 16-bit chunk → same
    bucket (any pair within Hamming ≤ 3 shares ≥1 of 4 chunks —
    pigeonhole); verify Hamming ≤ max_hamming exactly. The 4×16-bit
    chunk LSH is COMPLETE only for max_hamming ≤ 3 (pigeonhole: 4+
    differing bits can straddle all four chunks), so larger values
    raise rather than silently missing qualifying pairs.

    ``max_bucket`` guards the bucket pairing against hot-chunk n²
    explosion (see :func:`cap_buckets`); pass None for the exact
    pigeonhole-completeness harness."""
    if max_hamming > 3:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the 4-chunk LSH's "
            "completeness bound (3): qualifying pairs could share no "
            "chunk and be silently missed"
        )
    fp = simhash_fingerprints(df, id_col, text_col, shingle_k)
    # the fingerprint rides through the pairing inside the id (a struct
    # ordered by id first): fp is computed once and needs no verify
    # join (joining it back to both sides doubled the uncapped cost)
    chunks = fp.select(
        F.struct("id", "fp").alias("id"),
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("fp"), c * 16).bitwiseAND(0xFFFF)
                    for c in range(4)
                ]
            )
        ).alias("chunk", "val"),
    )
    return (
        _bucket_pairs(chunks, ["chunk", "val"], max_bucket)
        .select(
            F.col("id_a.id").alias("id_a"),
            F.col("id_b.id").alias("id_b"),
            hamming64(F.col("id_a.fp"), F.col("id_b.fp")).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )


# --- embedding near-dup (X2c) ---------------------------------------------


def embedding_cosine_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_size: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """EXACT embedding-cosine pairs (id_a < id_b, cosine ≥ threshold):
    the brute-force baseline that ``embedding_near_dups`` approximates.

    ``dim`` (optional, r11): the asserted vector width. When given (and
    ≤ the codegen expansion cap) the per-pair dot product runs as an
    expanded whole-stage-codegen expression instead of the interpreted
    aggregate/zip_with HOF — same fold order, bit-identical cosines for
    width-``dim`` vectors — and any pair involving a vector of a
    DIFFERENT length yields NULL cosine (excluded by the threshold
    filter): the ragged gate of :func:`~.similarity.cosine`. Without
    ``dim`` the HOF fold runs; it scores same-width pairs of ANY width,
    while a pair of two different widths still yields NULL (zip_with
    pads the shorter vector with nulls) and is dropped.

    Without ``block_size`` this is an O(n²) nested-loop self-join —
    the small-table oracle path and the per-bucket verify kernel; at
    scale, call it only on LSH/IVF buckets, never the full table.

    With ``block_size=B`` the pair space is BOUNDED to same-block
    pairs (``id div B``) and the join becomes a shuffled hash
    equi-join on the block key: n/B blocks × B²/2 pairs ≈ n·B/2
    comparisons — linear in n for fixed B, so it survives on the
    benched registry path (VERDICT r3 §wrong 2; same cure as the
    same-``source`` bound applied to x2_minhash_pairs in r3). The
    result is still an exact-cosine statement about every pair it
    covers. Norms are computed once per row before the self-join
    (n norms, not n²)."""
    from .similarity import norm

    normed = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).withColumn("n", norm(F.col("v"), dim))
    if block_size is not None:
        normed = normed.withColumn(
            # contiguous-range blocking needs numeric ids (block
            # count scales with n, keeping the pair space linear); a
            # non-castable id must raise loudly, not NULL out of the
            # equi-join into a silently empty result — and a fixed
            # hash-block count would be quadratic, so there is no
            # honest fallback (use the banded-LSH path for string
            # ids). try_cast + the assert keeps ANSI mode happy.
            "blk",
            F.floor(
                F.coalesce(
                    F.expr("TRY_CAST(id AS BIGINT)"),
                    F.raise_error(F.concat(
                        F.lit(
                            "embedding_cosine_pairs: block_size "
                            "requires numeric-castable ids "
                            "(contiguous-range blocking); got id "
                        ),
                        F.col("id").cast("string"),
                        F.lit(" — use embedding_near_dups (banded "
                              "LSH) for arbitrary ids"),
                    )).cast("bigint"),
                ) / F.lit(int(block_size))
            ),
        )
    blk = ["blk"] if block_size is not None else []
    a, b = (
        normed.select(*[F.col(c).alias(f"{c}_{s}") for c in ("id", "v", "n")], *blk)
        for s in "ab"
    )
    if block_size is not None:
        joined = a.join(b, "blk").where(F.col("id_a") < F.col("id_b"))
    else:
        joined = a.join(b, F.col("id_a") < F.col("id_b"))
    return (
        joined.select("id_a", "id_b", _cosine(dim))
        .where(F.col("cosine") >= threshold)
    )


def embedding_banded_signatures(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_bands: int = 32,
    planes_per_band: int = 16,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """The persistable random-hyperplane LSH index side: one
    (``id``, ``band``, ``sig``) row per non-null vector per band —
    exactly the projection :func:`embedding_near_dups` pairs,
    exposed (mirroring the text-side :func:`banded_signatures`) so a
    vector corpus builds its index ONCE. At 100 TB write it with
    ``sources.write_bucketed(ex, t, ["band", "sig"])`` and each
    incremental batch joins bucket-co-located (streaming/dedup.py).
    Parameters (bands × planes, seed) must match between index build
    and lookup — the hyperplane family is seed-derived."""
    renamed = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    ).where(F.col("v").isNotNull())
    from .similarity import _modal_dim, rp_band_signatures

    if dim is None:
        dim = _modal_dim(renamed, "v")
        if dim is None:
            return renamed.select(
                "id",
                F.lit(0).alias("band"),
                F.lit(0).cast("long").alias("sig"),
            ).limit(0)

    return renamed.select(
        "id",
        F.posexplode(
            rp_band_signatures(F.col("v"), dim, num_bands, planes_per_band, seed)
        ).alias("band", "sig"),
    )


def embedding_near_dups(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    num_bands: int = 32,
    planes_per_band: int = 16,
    seed: int = 42,
    max_bucket: int | None = 1000,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs via BANDED random-hyperplane
    LSH + exact cosine verify (see similarity.py for the signature
    machinery).

    Banding (OR over ``num_bands`` independent ``planes_per_band``-bit
    buckets) is the standard LSH amplification trade: more bands →
    recall, more planes/band → precision. Defaults 32×16: a
    cosine-0.95 pair (θ≈18°, per-plane agreement p≈0.9) collides in a
    16-plane band with p^16 ≈ 18%, and in ≥1 of 32 bands with
    1-(1-0.18)^32 ≈ 99.8%; an UNRELATED pair (θ≈90°, p=0.5) collides
    with 32·2⁻¹⁶ ≈ 0.05% — so candidates stay ~linear in n. The r4
    scale probe showed why band WIDTH must scale with n: at 8-plane
    bands (2⁸ buckets), 40k vectors produced 29.5M distinct candidates
    (3% of ALL pairs — brute force in disguise); 16-plane bands cut
    that ~256×, and the Arrow-batched signature matmul makes the extra
    planes free. Candidates are deduped BEFORE the vectors are joined
    back, so the exact verify runs once per pair regardless of how
    many bands agree.

    ``max_bucket`` caps per-(band, sig) bucket size before the
    candidate pairing (hot-bucket n² guard, :func:`cap_buckets`);
    None disables it for exact-recall harnesses.

    Signatures for ALL bands come from one Arrow-batched matmul
    (similarity.rp_band_signatures — r4; the per-band interpreted-HOF
    form cost ~8s/band over 40k vectors and was recomputed per plan
    branch)."""
    # null vectors are near-dups of nothing: drop them up front (they
    # would hash to the all-zero signature and collide with bucket 0;
    # F.size(null) = -1 would also reach numpy as a negative shape in
    # the dim probe — ADVICE r3)
    renamed = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")).where(
        F.col("v").isNotNull()
    )
    from .similarity import _modal_dim

    if dim is None:
        # the modal width is a FALLBACK that costs one histogram job —
        # callers that know the build dim (streaming batch kernels,
        # index lookups) pass it explicitly
        dim = _modal_dim(renamed, "v")
    if dim is None:
        return renamed.select(
            F.col("id").alias("id_a"),
            F.col("id").alias("id_b"),
            F.lit(0.0).alias("cosine"),
        ).limit(0)
    ex = embedding_banded_signatures(
        df, id_col, vec_col, num_bands, planes_per_band, seed, dim=dim
    )
    vd = _vector_payload(df, id_col, vec_col, dim)
    return _verified_pairs(
        _bucket_pairs(ex, ["band", "sig"], max_bucket), vd, vd,
        _cosine(dim), F.col("cosine") >= threshold,
    )


# --- X3c: semantic dedup (SemDeDup) ----------------------------------------


def semantic_dedup_audit(
    df: DataFrame,
    id_col: str = "doc_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    nlist: int = 16,
    refine: int = 1,
    centroids: list[list[float]] | None = None,
    max_cluster: int = 4096,
    keep: str = "far",
) -> DataFrame:
    """SemDeDup-style semantic deduplication audit (Abbas et al. 2023,
    arXiv:2303.09540): k-means-cluster the embeddings, then find
    near-duplicate GROUPS within each cluster (pairwise cosine ≥
    ``threshold``, connected components) and keep one representative
    per group. Complements :func:`embedding_near_dups` (banded LSH):
    LSH is data-independent with engineered recall; SemDeDup adapts
    the candidate scope to the data distribution and never compares
    across clusters — the published trade for web-scale corpora.

    Returns one row per input row: ``(id_col, cluster, component,
    centroid_cos, kept)`` — ``component`` is the duplicate group's min
    id, ``centroid_cos`` the row's cosine to its cluster centroid,
    ``kept`` the survivorship verdict. Rows whose vector is null,
    empty, or ragged are KEPT with null cluster (near-dups of nothing;
    same null posture as embedding_near_dups).

    ``keep="far"`` follows the paper: within each duplicate group the
    member with the LOWEST centroid similarity survives (retaining the
    example that adds the most diversity); ties break to the lower id.
    ``keep="min_id"`` keeps the smallest id (deterministic, metric-free
    — matches near_dedup's survivorship).

    Scale shape: cluster assignment reuses :func:`~.similarity.ivf_assign`
    (pass ``centroids`` + a pre-assigned ``ivf_cid`` column to launch
    ZERO training jobs — the 100 TB call shape, same as ivf_topk); one
    small groupBy counts cluster sizes; clusters larger than
    ``max_cluster`` are hash-SALTED into sub-blocks (a documented
    recall trade on oversized clusters — raise ``nlist`` so clusters
    stay under the cap, the paper's regime); ONE shuffle groups rows
    by (cluster, salt); the per-group kernel is an Arrow-batched numpy
    matmul (n×dim @ dim×n, n ≤ max_cluster) + vectorized min-label
    propagation — O(n²) FLOPs per cluster by construction, never
    across clusters. The centroid matrix ships once per executor as a
    Spark broadcast (nlist × dim doubles)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from .similarity import _modal_dim, _unit_rows, ivf_assign

    if keep not in ("far", "min_id"):
        raise ValueError(f"keep must be 'far' or 'min_id', got {keep!r}")
    if max_cluster < 2:
        raise ValueError("max_cluster must be >= 2")

    id_type = df.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField(id_col, id_type),
            T.StructField("cluster", T.IntegerType()),
            T.StructField("component", id_type),
            T.StructField("centroid_cos", T.DoubleType()),
            T.StructField("kept", T.BooleanType()),
        ]
    )

    renamed = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    # the gating dimension: caller-supplied centroids DEFINE it (a
    # corpus that disagrees is the ragged side, not the centroids);
    # self-trained runs gate on the MODAL dim — the statistic the
    # trainer restricts itself to — never the first row's (r10 review:
    # a ragged first row reclassified the modal majority as ragged,
    # partition-order-dependently)
    dim = (
        len(centroids[0])
        if centroids
        else _modal_dim(renamed, "v")
    )

    def passthrough(rows: DataFrame) -> DataFrame:
        return rows.select(
            F.col("id").alias(id_col),
            F.lit(None).cast("int").alias("cluster"),
            F.col("id").alias("component"),
            F.lit(None).cast("double").alias("centroid_cos"),
            F.lit(True).alias("kept"),
        )

    if dim is None:  # empty input or no usable vectors: everything kept
        return passthrough(renamed)

    ok = F.col("v").isNotNull() & (F.size(F.col("v")) == dim)
    good, bad = renamed.where(ok), renamed.where(~ok | F.col("v").isNull())

    if centroids is not None and "ivf_cid" in df.columns:
        # pre-assigned serving shape: reuse the stored assignment
        assigned = df.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).cast("array<double>").alias("v"),
            F.col("ivf_cid").cast("int").alias("cid"),
        ).where(ok)
        cents = centroids
    elif centroids is None:
        adf, cents = ivf_assign(good, vec_col="v", nlist=nlist, refine=refine)
        assigned = adf.select(
            "id", "v", F.col("ivf_cid").cast("int").alias("cid")
        )
    else:
        # centroids given but no stored assignment: assign inline (no
        # training jobs — codegen argmin expression for small nlist,
        # Arrow-batched matmul past _ASSIGN_EXPR_MAX_NLIST)
        from .similarity import _with_assigned_cid

        cents = centroids
        # frame-level assign (r11): materializes the normalize once —
        # the expression form duplicates it dim × nlist times inside
        # the expanded argmin (Catalyst blowup); values identical
        assigned = _with_assigned_cid(
            good.select("id", "v"), "v", cents, out_col="cid"
        ).select("id", "v", F.col("cid").cast("int").alias("cid"))

    spark = df.sparkSession
    C = np.asarray(cents, dtype=np.float64)
    bc = spark.sparkContext.broadcast(_unit_rows(C))  # unit centroids
    thr = float(threshold)
    keep_far = keep == "far"

    # rows whose assignment came back NULL (pre-assigned tables with
    # null ivf_cid, or vectors outside the centroids' dimension) are
    # PASSTHROUGH, not silently dropped — the inner count-join below
    # would otherwise discard them and break the one-row-per-input-row
    # contract (r10 review fix: a centroid-dim mismatch used to make
    # semantic_dedup a silent no-op)
    stranded = assigned.where(F.col("cid").isNull())
    assigned = assigned.where(F.col("cid").isNotNull())

    # hash-salt oversized clusters into <= max_cluster sub-blocks: the
    # counts side is nlist rows -> broadcast hash join, no extra shuffle
    counts = assigned.groupBy("cid").agg(F.count(F.lit(1)).alias("__n"))
    salted = assigned.join(F.broadcast(counts), "cid").withColumn(
        "salt",
        F.pmod(
            F.xxhash64(F.col("id").cast("string")),
            F.greatest(F.ceil(F.col("__n") / max_cluster), F.lit(1)),
        ).cast("int"),
    ).drop("__n")

    def _kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("id", kind="stable").reset_index(drop=True)
        n = len(pdf)
        cid = int(pdf["cid"].iloc[0])
        V = np.stack(pdf["v"].to_numpy()).astype(np.float64)
        Vn = _unit_rows(V)
        Cn_b = bc.value
        ccos = Vn @ Cn_b[cid] if cid < len(Cn_b) else np.zeros(n)
        # float32 for the n×n similarity block: halves the kernel's
        # peak (the matmul output is the biggest allocation — 67 MB at
        # max_cluster=4096 vs 134 in float64); threshold comparisons
        # are ~1e-7-accurate, far inside any sane dedup threshold
        Vn32 = Vn.astype(np.float32)
        S = Vn32 @ Vn32.T
        adj = S >= thr
        np.fill_diagonal(adj, False)
        # vectorized min-label propagation over row index (rows are
        # id-sorted, so min index == min id); converges in O(graph
        # diameter) sweeps, each one O(n^2) numpy
        labels = np.arange(n)
        big = np.iinfo(np.int64).max
        while True:
            neigh = np.where(adj, labels[None, :], big).min(axis=1)
            new = np.minimum(labels, neigh)
            # two-hop: pull each row's label through its current root
            new = new[new]
            if np.array_equal(new, labels):
                break
            labels = new
        kept = np.zeros(n, dtype=bool)
        order = (
            np.lexsort((np.arange(n), ccos))  # min ccos, then min idx
            if keep_far
            else np.arange(n)
        )
        seen: set = set()
        for i in order:
            root = labels[i]
            if root not in seen:
                seen.add(root)
                kept[i] = True
        comp = pdf["id"].to_numpy()[labels]
        return pd.DataFrame(
            {
                id_col: pdf["id"],
                "cluster": np.full(n, cid, dtype=np.int32),
                "component": comp,
                "centroid_cos": ccos,
                "kept": kept,
            }
        )

    audited = salted.groupBy("cid", "salt").applyInPandas(
        _kernel, out_schema
    )
    return audited.unionByName(passthrough(bad)).unionByName(
        passthrough(stranded)
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    nlist: int = 16,
    refine: int = 1,
    centroids: list[list[float]] | None = None,
    max_cluster: int = 4096,
    keep: str = "far",
) -> DataFrame:
    """End-to-end SemDeDup: ``df`` minus semantically-duplicate rows,
    schema unchanged (the embedding analogue of :func:`near_dedup`).
    See :func:`semantic_dedup_audit` for the algorithm, survivorship
    options, and the 100 TB call shape; the drop set is DISTINCT ids
    (broadcast-able when small), applied with one anti-join."""
    audit = semantic_dedup_audit(
        df, id_col, vec_col, threshold, nlist, refine,
        centroids, max_cluster, keep,
    )
    drop = audit.where(~F.col("kept")).select(id_col).distinct()
    return df.join(drop, id_col, "left_anti")
