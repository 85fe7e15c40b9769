"""Similarity search over embedding columns (X3): brute-force cosine
top-k as the exact baseline, random-hyperplane LSH bucketing as the
scale path (SURVEY.md §2.9; distributed top-k literature: REPOSE,
ICDE 2021 — see PAPERS.md).

Vector math is three functions — :func:`dot`, :func:`norm` and
:func:`cosine` — that every scoring path shares, with one rule for
``dim``:

- ``dim=None``: the generic ``zip_with``/``aggregate`` HOF fold. Kept
  by LITERAL-QUERY scans (Catalyst folds the query-side norm, and the
  HOF form measured FASTER than the expansion there) and by the
  vecindex batch window (an expanded cosine inside its fused sort
  overflows janino, see ``vecindex.ivf_index_topk_batch``).
- ``dim`` given: the vector width is asserted. Up to
  ``_EXPAND_DIM_CAP`` the fold is expanded into explicit
  ``a[0]*b[0] + a[1]*b[1] + ...`` codegen arithmetic (r4: ~3.5× on
  the 1.2M-pair verify join), in the same left-associative order as
  the HOF fold, so values are bit-identical; above the cap it stays
  the HOF fold. At EVERY ``dim`` any vector whose length is not
  ``dim`` gives NULL (the ragged gate), never a prefix-truncated
  "plausible" value.
- ``cosine(..., norms=(na, nb))`` takes norms the caller hoisted per
  row (via ``norm(v, dim)``) ahead of a pair join, leaving one dot and
  one divide per pair.

Callers that must find "the" width of a column use :func:`_modal_dim`
(ties to the smaller width). Many-plane LSH signatures run as one
Arrow-batched numpy matmul (rp_band_signatures — ~10× over per-band
interpreted HOF lambdas).

Every cosine top-k here and in ``vecindex`` is one pipeline: probe →
candidates → score → :func:`_topk`. The probe is the only per-index
part (none, RP buckets, IVF centroids, persisted IVF lists; IVF
probes go through :func:`_probe_cids`). A literal query is scored by
:func:`_exact_topk`; a set of queries by the numpy block scorer
:func:`_block_topk`. :func:`_topk` owns the tie rule (cosine desc,
NULL last, id asc; a NaN score reads and ranks as NULL) and the
``k >= 1`` check (ValueError, raised before any job): one query's
top-k plans as TakeOrderedAndProject (per-partition heap + driver
merge of k·P rows — no full sort, no full shuffle), a top-k per left
row as a partial WindowGroupLimit.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Janino compiles expanded expressions fine up to a few hundred terms;
# past that the fold stays the HOF form (correct, just interpreted)
_EXPAND_DIM_CAP = 256


def _fold(a: Column, b: Column | None, dim: int | None) -> Column:
    """Σ a[i]·b[i] (Σ a[i]² when ``b`` is None), folded left to right:
    the HOF ``aggregate`` from 0.0 when ``dim`` is None or above the
    cap, else expanded at plan-build time so it runs INSIDE
    whole-stage codegen (HOF lambdas evaluate interpreted). Same
    sequential order both ways (0.0 + x ≡ x), so values are
    bit-identical. Ungated: the public kernels add the gate."""
    if dim is None or dim > _EXPAND_DIM_CAP:
        terms = (
            F.transform(a, lambda x: x * x)
            if b is None
            else F.zip_with(a, b, lambda x, y: x * y)
        )
        return F.aggregate(terms, F.lit(0.0), lambda acc, x: acc + x)
    b = a if b is None else b
    expr: Column | None = None
    for i in range(dim):
        term = a[i] * b[i]
        expr = term if expr is None else expr + term
    return F.lit(0.0) if expr is None else expr


def _gated(expr: Column, dim: int | None, *vecs: Column) -> Column:
    """``expr`` where every vector is ``dim`` long, else NULL; the
    identity when ``dim`` is None. The expansion only evaluates under
    the gate, so a short vector never hits an ANSI out-of-bounds."""
    if dim is None:
        return expr
    cond = F.size(vecs[0]) == dim
    for v in vecs[1:]:
        cond = cond & (F.size(v) == dim)
    return F.when(cond, expr)


def dot(a: Column, b: Column, dim: int | None = None) -> Column:
    """Dot product; see the module docstring for ``dim``."""
    return _gated(_fold(a, b, dim), dim, a, b)


def norm(v: Column, dim: int | None = None) -> Column:
    """L2 norm; see the module docstring for ``dim``."""
    return _gated(F.sqrt(_fold(v, None, dim)), dim, v)


def cosine(
    a: Column,
    b: Column,
    dim: int | None = None,
    norms: tuple[Column, Column] | None = None,
) -> Column:
    """Cosine similarity, 0.0 when either norm is 0; see the module
    docstring for ``dim``. ``norms=(na, nb)`` supplies the two norms
    (hoisted per row with :func:`norm` before a pair join)."""
    if norms is None:
        norms = (F.sqrt(_fold(a, None, dim)), F.sqrt(_fold(b, None, dim)))
    d = norms[0] * norms[1]
    raw = F.when(d > 0, _fold(a, b, dim) / d).otherwise(F.lit(0.0))
    return _gated(raw, dim, a, b)


def _check_k(k: int) -> None:
    """The one ``k`` rule of every top-k: ValueError unless k >= 1.
    Entry points that run a job before :func:`_topk` call it first."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")


def _topk(
    scored: DataFrame, k: int, id_col: str, by: list[str] | None = None
) -> DataFrame:
    """The best ``k`` rows of ``scored`` by its ``cosine`` column —
    overall, or per group of ``by`` — under the one tie rule: cosine
    desc, NULL last, then ``id_col`` asc. A NaN score (a NaN or inf
    vector element) reads and ranks as NULL, as it leaves Arrow from
    the numpy scorer; Spark alone would rank it above every cosine.
    Without ``by`` it is ``orderBy(...).limit(k)``, which plans as
    TakeOrderedAndProject; with ``by`` it is
    :func:`~.splits.top_k_per_group`'s row_number window, which plans
    as a partial WindowGroupLimit before the shuffle."""
    _check_k(k)
    c = F.col("cosine")
    scored = scored.withColumn("cosine", F.when(~F.isnan(c), c))
    if by is None:
        return scored.orderBy(F.col("cosine").desc(), F.col(id_col)).limit(k)
    from .splits import top_k_per_group

    return top_k_per_group(scored, by, "cosine", k, tiebreak=[id_col])


def _exact_topk(
    df: DataFrame, query: list[float], k: int, id_col: str, vec: Column
) -> DataFrame:
    """Score every row of ``df`` (already probe-filtered) against the
    literal ``query`` and keep the top k — the step every single-query
    top-k ends in. The query is a folded literal array, so the scan is
    codegen'd, and the cosine stays the HOF form: Catalyst folds the
    query-side norm to a constant, and measured throughput beats the
    expanded form there (the expansion wins only on array-vs-array
    JOINS — see the module docstring)."""
    q = F.array(*[F.lit(float(x)) for x in query])
    scored = df.select(F.col(id_col), cosine(vec, q).alias("cosine"))
    return _topk(scored, k, id_col)


def cosine_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force top-k by cosine to a literal query vector:
    :func:`_exact_topk` over the whole frame (no probe)."""
    return _exact_topk(
        df, query, k, id_col, F.col(vec_col).cast("array<double>")
    )


def _unit_rows(m: np.ndarray) -> np.ndarray:
    """Rows of ``m`` scaled to unit L2 norm; a zero row stays zero —
    it scores 0.0, like :func:`cosine`'s zero-norm branch. The one
    zero-norm rule of every numpy scoring site."""
    n = np.linalg.norm(m, axis=1)
    return m / np.where(n > 0, n, 1.0)[:, None]


# the rank of a NaN score: below every cosine, above an excluded pair
_NAN_RANK = -2.0


def _block_topk(
    q: np.ndarray,
    ids: np.ndarray,
    rows: np.ndarray,
    k: int,
    self_pairs: tuple | None = None,
):
    """Each query's local top-k over one block of candidates — the
    numpy scorer of :func:`knn_join` and the distributed IVF serve.
    ``q`` holds UNIT query rows; ``rows`` the candidate vectors in
    ascending ``ids`` order. ``self_pairs=(query rows, candidate
    rows)`` marks pairs that never match (a row and its own id).

    Returns (query row, candidate id, cosine) arrays with exactly
    min(k, scorable) rows per query, the best under cosine desc, id
    asc; the global :func:`_topk` window over every block's output
    is then exact. A NaN score (a NaN or inf element on either side)
    ranks as :func:`_topk` ranks it, as NULL: after every cosine, by
    id; it leaves Arrow as NULL. Selection: ``np.partition`` finds
    each query's k-th score, everything above it is kept, and only
    queries with ties AT that score cut the tied run by position
    (= by id). That measured as fast as the argpartition superset and
    3–5× faster than a stable argsort per query (CHANGES.md)."""
    r = _unit_rows(rows)
    s = q @ r.T  # nq × n
    # unit rows hold no inf, so only a NaN input makes a NaN score
    nan = np.isnan(s) if np.isnan(q).any() or np.isnan(r).any() else None
    if nan is not None:
        s[nan] = _NAN_RANK
    if self_pairs is not None:
        s[self_pairs] = -np.inf
    top = min(k, s.shape[1])
    kth = -np.partition(-s, top - 1, axis=1)[:, top - 1 : top]
    keep = s >= kth
    tied = np.nonzero(keep.sum(axis=1) > top)[0]
    if tied.size:
        sub, t = s[tied], kth[tied]
        gt, eq = sub > t, sub == t
        room = top - gt.sum(axis=1, keepdims=True)
        keep[tied] = gt | (eq & (np.cumsum(eq, axis=1) <= room))
    keep &= s > -np.inf
    qi, ci = np.nonzero(keep)
    sc = s[qi, ci]
    if nan is not None:
        sc[nan[qi, ci]] = np.nan
    return qi, ids[ci], sc


def _merge_topk(qi: np.ndarray, ids: np.ndarray, sc: np.ndarray, k: int):
    """Each query's best k of several :func:`_block_topk` outputs
    (concatenated), under the same order: cosine desc, NaN as NULL,
    id asc."""
    o = np.lexsort((ids, -np.where(np.isnan(sc), _NAN_RANK, sc), qi))
    sq = qi[o]
    # a row's rank in its query: its distance from the query's first row
    o = o[np.arange(len(o)) - np.searchsorted(sq, sq) < k]
    return qi[o], ids[o], sc[o]


def _modal_dim(df: DataFrame, vec_col: str):
    """MODAL non-empty vector length (ties to the smaller dim), or
    None when there is none — the one rule for "the" width of a vector
    column when the caller passes no ``dim``, and the statistic
    :func:`_centroid_rows` trains on. The first row's width would let
    one ragged leading vector reclassify the modal majority as ragged
    (every signature and score NULL), and ``.first()`` on an unordered
    frame makes that partition-order-dependent (r10 review). One tiny
    size-histogram agg."""
    row = (
        df.where(F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) > 0))
        .groupBy(F.size(F.col(vec_col)).alias("d"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("d"))
        .first()
    )
    return None if row is None else int(row["d"])


def rp_signature(
    df: DataFrame,
    vec_col: str,
    num_planes: int = 16,
    seed: int = 42,
    dim: int | None = None,
) -> Column:
    """Random-hyperplane (SimHash-for-vectors) LSH signature: sign
    bits of <v, r_i> packed into a long. Hyperplanes are deterministic
    (numpy RandomState(seed)) and folded into the plan as literals —
    broadcast-free, no fitting step (contrast MLlib's
    BucketedRandomProjectionLSH which must be fit). A vector that is
    null or not ``dim`` long gets a NULL signature, as in
    :func:`rp_band_signatures` (its dots are NULL, and packing them as
    0 bits would put every ragged row in bucket 0)."""
    import numpy as np

    if dim is None:
        dim = _modal_dim(df, vec_col)
        if dim is None:
            raise ValueError(
                "no non-empty vectors to probe; pass dim= explicitly"
            )
    rng = np.random.RandomState(seed)
    planes = rng.standard_normal((num_planes, dim))
    sig = F.lit(0).cast("long")
    for i in range(num_planes):
        r = F.array(*[F.lit(float(x)) for x in planes[i]])
        bit = F.when(dot(F.col(vec_col).cast("array<double>"), r) > 0, 1).otherwise(0)
        sig = sig.bitwiseOR(F.shiftleft(bit.cast("long"), i))
    return F.when(F.size(F.col(vec_col)) == dim, sig)


def rp_band_signatures(
    vec_col: Column,
    dim: int,
    num_bands: int,
    planes_per_band: int,
    seed: int = 42,
) -> Column:
    """All ``num_bands`` random-hyperplane band signatures in ONE
    Arrow-batched numpy matmul — returns array<long> of length
    ``num_bands``, matching :func:`rp_signature` per band with seed
    ``seed*1000 + b`` (same hyperplanes; BLAS may sum the dot in a
    different order than the sequential fold, so a sign bit could in
    principle differ for a vector lying numerically ON a hyperplane —
    irrelevant for LSH bucketing, where both variants are valid
    signatures of the same family). Rows whose vector is null, empty,
    or not ``dim`` long get a NULL signature array (callers posexplode,
    which drops those rows — the same fate as the null-vector
    pre-filter; previously a ragged batch crashed the whole job in
    np.stack, ADVICE r4).

    Why a pandas_udf when the module preaches Column algebra: the
    per-band form evaluates num_planes interpreted ``aggregate``/
    ``zip_with`` lambdas per row (HOFs run OUTSIDE whole-stage
    codegen), which the r4 scale probe measured at ~8s per band over
    40k×64-dim vectors — ~67s for 8 bands, recomputed per plan branch.
    One (batch × dim) @ (dim × total_planes) BLAS matmul does the
    whole thing in milliseconds; Arrow moves the batches. This is the
    sanctioned vectorized-UDF exception (SURVEY.md §7.2): a UDF beats
    interpreted HOFs ~50× here, while scalar Column code stays JVM.
    """
    from pyspark.sql.pandas.functions import pandas_udf

    all_planes = np.concatenate(
        [
            np.random.RandomState(seed * 1000 + b).standard_normal(
                (planes_per_band, dim)
            )
            for b in range(num_bands)
        ]
    )  # (num_bands * planes_per_band, dim)
    weights = (1 << np.arange(planes_per_band)).astype(np.int64)

    def _pack(mat: np.ndarray) -> np.ndarray:
        bits = (mat @ all_planes.T) > 0  # (batch, bands*planes)
        return (
            bits.reshape(len(mat), num_bands, planes_per_band) * weights
        ).sum(axis=2).astype(np.int64)

    @pandas_udf("array<long>")
    def _sigs(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        arrs = v.to_numpy()
        good = [
            i for i, a in enumerate(arrs) if a is not None and len(a) == dim
        ]
        if len(good) == len(arrs):  # fast path: clean batch
            return pd.Series(list(_pack(np.stack(arrs))))
        out = np.empty(len(arrs), dtype=object)
        if good:
            packed = _pack(
                np.stack([np.asarray(arrs[i], dtype=np.float64) for i in good])
            )
            for j, i in enumerate(good):
                out[i] = packed[j]
        return pd.Series(out)

    return _sigs(vec_col.cast("array<double>"))


def ann_assign(
    df: DataFrame,
    vec_col: str = "embedding",
    num_planes: int = 12,
    seed: int = 42,
    dim: int | None = None,
    sig_col: str = "ann_sig",
) -> DataFrame:
    """``df`` + a ``sig_col`` long column: the ``num_planes``-bit
    random-hyperplane LSH signature, computed by ONE Arrow-batched
    numpy matmul (:func:`rp_band_signatures` with a single band — the
    same hyperplane family the query side reproduces driver-side).

    This is the assign-once serving shape (the LSH analogue of
    ``ivf_assign``): at 100 TB run it once, persist with
    ``sources.write_bucketed(assigned, t, ["ann_sig"])`` (or partition
    by a signature prefix), and every subsequent :func:`ann_topk` call
    filters the STORED column — no signature recompute, no Python, and
    with a bucketed/partitioned table the filter becomes pruning
    (VERDICT r4 §next 1; contrast the pre-r5 shape, which re-ran one
    interpreted HOF fold per plane per row on every query)."""
    if dim is None:
        dim = _modal_dim(df, vec_col)
        if dim is None:
            raise ValueError(
                "no non-empty vectors to probe; pass dim= explicitly"
            )
    sig = rp_band_signatures(F.col(vec_col), dim, 1, num_planes, seed)
    return df.withColumn(sig_col, sig[0])


def ann_query_signature(
    query: list[float], num_planes: int = 12, seed: int = 42
) -> int:
    """Driver-side signature of a literal query vector under the SAME
    hyperplanes :func:`ann_assign` uses (band 0 of
    :func:`rp_band_signatures`: RandomState(seed*1000))."""
    planes = np.random.RandomState(seed * 1000).standard_normal(
        (num_planes, len(query))
    )
    bits = (planes @ np.asarray(query, dtype=np.float64)) > 0
    return int((bits * (1 << np.arange(num_planes))).sum())


def probe_signatures(
    qsig: int, num_planes: int, probe_hamming: int
) -> list[int]:
    """All signatures within Hamming ``probe_hamming`` of ``qsig`` —
    the multi-probe bucket set, enumerated driver-side
    (Σ C(num_planes, i) for i ≤ probe_hamming values)."""
    from itertools import combinations

    out = [qsig]
    for h in range(1, probe_hamming + 1):
        for bits in combinations(range(num_planes), h):
            m = 0
            for b in bits:
                m |= 1 << b
            out.append(qsig ^ m)
    return out


# past this many enumerated probe buckets, an IN-list stops being a
# pruning win and the bit_count(xor) filter is the better plan
_PROBE_ENUM_CAP = 4096


def ann_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 12,
    probe_hamming: int = 2,
    seed: int = 42,
    sig_col: str | None = None,
) -> DataFrame:
    """Approximate top-k: restrict the exact cosine to LSH buckets
    within ``probe_hamming`` of the query's bucket (multi-probe).

    Serving shapes:
    - ``sig_col`` names a PRECOMPUTED signature column (from
      :func:`ann_assign`, persisted/bucketed): the plan is a pure
      filter on the stored column — zero signature work per query.
      The probe set is enumerated into an IN-list
      (:func:`probe_signatures`) rather than a ``bit_count(xor) ≤ h``
      predicate: an In filter PUSHES DOWN to the source and prunes —
      bucket pruning on a ``write_bucketed(..., ["ann_sig"])`` table
      (set ``spark.sql.sources.bucketing.autoBucketedScan.enabled=
      false`` for filter-only queries, else the planner reverts to a
      plain scan; asserted in test_extensions), partition pruning on a
      signature-prefix layout, row-group skipping from parquet min/max
      everywhere else — while an arithmetic-on-column predicate forces
      a full scan. (Enumeration falls back to bit_count past ~4k probe
      buckets.)
    - otherwise the signature is computed inline via the one-matmul
      :func:`ann_assign` (still ~num_planes× cheaper than the pre-r5
      per-plane interpreted-HOF fold it replaced), and bit_count keeps
      the plan light — nothing to push down to.

    dim comes from the query vector (no probe job)."""
    from math import comb

    qsig = ann_query_signature(query, num_planes, seed)
    if sig_col is not None:
        if sig_col not in df.columns:
            raise ValueError(
                f"sig_col {sig_col!r} not in DataFrame; run ann_assign "
                "first (and persist it) or pass sig_col=None"
            )
        sigged = df
        n_probe = sum(comb(num_planes, h) for h in range(probe_hamming + 1))
        if n_probe <= _PROBE_ENUM_CAP:
            bucket_filter = F.col(sig_col).isin(
                probe_signatures(qsig, num_planes, probe_hamming)
            )
        else:
            bucket_filter = (
                F.bit_count(F.col(sig_col).bitwiseXOR(F.lit(qsig)))
                <= probe_hamming
            )
    else:
        sig_col = "__ann_sig"
        sigged = ann_assign(
            df, vec_col, num_planes, seed, dim=len(query), sig_col=sig_col
        )
        bucket_filter = (
            F.bit_count(F.col(sig_col).bitwiseXOR(F.lit(qsig))) <= probe_hamming
        )
    return _exact_topk(
        sigged.where(bucket_filter),
        query,
        k,
        id_col,
        F.col(vec_col).cast("array<double>"),
    )


def knn_join(
    left: DataFrame,
    right: DataFrame,
    k: int = 5,
    left_id: str = "vec_id",
    right_id: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "blocked",
    max_queries: int = 100_000,
) -> DataFrame:
    """EXACT top-k-per-left-row cosine join (excluding equal ids) —
    the exact counterpart that ``similarity_join`` (LSH-bucketed)
    approximates. Output columns ``(left_id, right_id, cosine)``;
    ties broken by right id ascending for determinism; right rows
    with null/ragged vectors score NULL and sort last (they pad the
    top-k only when fewer than k scorable rows exist), and a left row
    whose vector is null or not the left side's modal width scores
    NULL against every right row (its top-k is the k smallest right
    ids).

    ``method="blocked"`` (default, the scale path): the query side is
    collected to the driver (it is the SMALL side — bounded by
    ``max_queries``; q×dim doubles, ~50 MB at 100k×64) and shipped
    once per executor as a numpy matrix via a Spark broadcast. One
    ``mapInPandas`` pass over the item side scores each Arrow batch
    with :func:`_block_topk` (one BLAS matmul, batch rows sorted by
    id), merges the batches' answers with :func:`_merge_topk`, and
    emits each query's top-k in the partition — at most k rows per
    query per partition, however many batches it spans — plus the
    k+1 smallest ids of the partition's null-scoring rows as NULL
    pads; the global :func:`_topk` window (a partial WindowGroupLimit
    before its shuffle) makes the result exact. Work is O(n·q) FLOPs
    — inherent to exact kNN — but fully distributed, vectorized, and
    shuffle-light (candidates only, never n×q pairs). This replaces
    the r4 broadcast-nested-loop baseline (VERDICT r4 §wrong 2).

    ``method="loop"``: the legacy one-cross-join + window form
    (broadcast nested loop) — kept as an independent oracle twin for
    tests; never a scale path.

    At 100 TB with a LARGE query side, exact kNN is the wrong tool —
    use ``similarity_join`` (banded LSH) or ``ivf_topk`` partition
    pruning instead."""
    import heapq
    from collections import Counter

    _check_k(k)
    if method == "loop":
        return _knn_join_loop(left, right, k, left_id, right_id, vec_col)

    spark = right.sparkSession
    out_schema = T.StructType(
        [
            T.StructField("left_id", left.schema[left_id].dataType),
            T.StructField("right_id", right.schema[right_id].dataType),
            T.StructField("cosine", T.DoubleType()),
        ]
    )
    l_rows = (
        left.select(
            F.col(left_id).alias("lid"),
            F.col(vec_col).cast("array<double>").alias("lv"),
        )
        .limit(max_queries + 1)
        .collect()
    )
    if len(l_rows) > max_queries:
        raise ValueError(
            f"knn_join(method='blocked') query side exceeds max_queries="
            f"{max_queries}; use similarity_join/ivf_topk for large-left "
            "exact-free search, or raise max_queries explicitly"
        )
    if not l_rows:
        return spark.createDataFrame([], out_schema)

    # the modal width (ties to the smaller), as _modal_dim computes it
    # in the loop twin — counted here over the rows already collected
    widths = Counter(len(r["lv"]) for r in l_rows if r["lv"])
    dim = min(widths, key=lambda d: (-widths[d], d)) if widths else None
    good = [r for r in l_rows if r["lv"] and len(r["lv"]) == dim]
    qids = np.array([r["lid"] for r in good])
    q = _unit_rows(
        np.array([r["lv"] for r in good], dtype=np.float64).reshape(
            len(good), dim or 0
        )
    )
    bad_qids = [r["lid"] for r in l_rows if not (r["lv"] and len(r["lv"]) == dim)]
    bc = spark.sparkContext.broadcast((qids, q, bad_qids))

    def _scan(batches):
        qids_b, q_b, bad_b = bc.value
        qpos = {v: j for j, v in enumerate(qids_b.tolist())}
        # k+1 smallest ids of the null-scoring rows (pads for the
        # scorable queries) and of all rows (the unscorable queries'
        # whole answer); one of them may be the query itself
        null_pool: list = []
        all_pool: list = []
        best = None  # the partition's top-k per query so far
        for pdf in batches:
            rid = pdf.iloc[:, 0].values
            vec = pdf.iloc[:, 1].values
            ok = np.array([v is not None and len(v) == dim for v in vec], bool)
            null_pool = heapq.nsmallest(k + 1, [*null_pool, *rid[~ok].tolist()])
            if bad_b:
                all_pool = heapq.nsmallest(k + 1, [*all_pool, *rid.tolist()])
            if not (ok.any() and len(qids_b)):
                continue
            order = np.argsort(rid[ok], kind="stable")
            ids = rid[ok][order]
            # a row never matches its own id
            hit = np.nonzero(np.isin(ids, qids_b))[0]
            got = _block_topk(
                q_b,
                ids,
                np.stack(vec[ok][order]).astype(np.float64),
                k,
                ([qpos[ids[c]] for c in hit], hit),
            )
            if best is not None:
                got = _merge_topk(*map(np.concatenate, zip(best, got)), k)
            best = got
        if best is not None:
            qi, rr, sc = best
            yield pd.DataFrame(
                {"left_id": qids_b[qi], "right_id": rr, "cosine": sc}
            )
        pads = [
            (lid, rid)
            for lids, pool in ((qids_b.tolist(), null_pool), (bad_b, all_pool))
            for lid in lids
            for rid in [p for p in pool if p != lid][:k]
        ]
        if pads:
            yield pd.DataFrame(
                {
                    "left_id": [p[0] for p in pads],
                    "right_id": [p[1] for p in pads],
                    "cosine": [None] * len(pads),
                }
            )

    cand = right.select(
        F.col(right_id), F.col(vec_col).cast("array<double>")
    ).mapInPandas(_scan, out_schema)
    return _topk(cand, k, "right_id", by=["left_id"])


def _knn_join_loop(
    left: DataFrame,
    right: DataFrame,
    k: int,
    left_id: str,
    right_id: str,
    vec_col: str,
) -> DataFrame:
    """Legacy exact form: one broadcast cross join + window. Quadratic
    row expansion — bounded-input oracle twin only (see knn_join)."""
    l_df = left.select(
        F.col(left_id).alias("left_id"),
        F.col(vec_col).cast("array<double>").alias("lv"),
    )
    r_df = right.select(
        F.col(right_id).alias("right_id"),
        F.col(vec_col).cast("array<double>").alias("rv"),
    )
    # gated cosine at the left side's modal width. An all-null/empty
    # left has no width; the contract (null vectors score NULL,
    # docstring) then forces every score to NULL — the ungated HOF
    # cosine() would leak its otherwise(0.0) branch here and disagree
    # with the blocked path (found by the hypothesis blocked-vs-loop
    # equivalence test on vecs=[None,None])
    d = _modal_dim(l_df, "lv")
    score = (
        cosine(F.col("lv"), F.col("rv"), d)
        if d is not None
        else F.lit(None).cast("double")
    )
    scored = (
        l_df.join(F.broadcast(r_df), F.col("left_id") != F.col("right_id"))
        .select("left_id", "right_id", score.alias("cosine"))
    )
    return _topk(scored, k, "right_id", by=["left_id"])


def similarity_join(
    left: DataFrame,
    right: DataFrame,
    k: int = 5,
    left_id: str = "vec_id",
    right_id: str = "vec_id",
    vec_col: str = "embedding",
    num_bands: int = 32,
    planes_per_band: int = 12,
    seed: int = 42,
    max_bucket: int | None = None,
) -> DataFrame:
    """Approximate top-k-per-left-row similarity join via BANDED
    random-hyperplane LSH: candidates are pairs sharing ANY band's
    bucket (OR-amplification, same construction as
    dedup.embedding_near_dups), then exact cosine + rank within left
    id. Defaults 32×12: a cosine-0.9 pair (per-plane p≈0.856)
    collides per band with 0.856¹² ≈ 15.5% and in ≥1 of 32 bands with
    1-(1-0.155)^32 ≈ 99.5%; an unrelated pair with 32·2⁻¹² ≈ 0.8% —
    recall is engineered, not a coin flip (asserted in
    test_extensions), while candidates stay near-linear in |L|+|R|
    (the r4 probe showed narrow bands degenerate to brute force: at
    4-plane bands HALF of all random pairs collide). The signature
    matmul (rp_band_signatures) makes the extra planes free.

    ``max_bucket`` caps each side's per-(band, sig) bucket before the
    candidate join (|L_b|·|R_b| explosion guard — dedup.cap_buckets
    with min_bucket=1, since a singleton bucket on one side still
    pairs with the other). Default None: the top-k contract prefers
    full recall, and serving deployments set the cap explicitly.

    Plan shape: explode num_bands (band, sig) structs per row, bucket
    equi-join on (band, sig) — shuffles signature-size rows, never a
    cross join — dedup candidate id pairs BEFORE joining vectors back,
    so the exact cosine runs once per pair regardless of how many
    bands agree."""
    _check_k(k)
    # null vectors are similar to nothing: drop them up front — they
    # would otherwise hash to the all-zero signature (every sign test
    # falls through to 0), collide with bucket 0, and ride a null
    # cosine through the rank window (ADVICE r3; F.size(null) = -1
    # would also reach numpy as a negative shape in the dim probe)
    l_renamed = left.select(
        F.col(left_id).alias("left_id"), F.col(vec_col).alias("lv")
    ).where(F.col("lv").isNotNull())
    r_renamed = right.select(
        F.col(right_id).alias("right_id"), F.col(vec_col).alias("rv")
    ).where(F.col("rv").isNotNull())
    dim = _modal_dim(l_renamed, "lv")
    if dim is None:
        # empty-result schema takes each id's type from its own side
        return (
            l_renamed.select("left_id")
            .limit(0)
            .withColumn(
                "right_id",
                F.lit(None).cast(r_renamed.schema["right_id"].dataType),
            )
            .withColumn("cosine", F.lit(0.0))
        )

    def banded(df: DataFrame, vcol: str, out_id: str) -> DataFrame:
        # all bands from one Arrow-batched matmul (see
        # rp_band_signatures — the per-band interpreted-HOF form was
        # the r4 scale probe's bottleneck)
        return df.select(
            out_id,
            F.posexplode(
                rp_band_signatures(
                    F.col(vcol), dim, num_bands, planes_per_band, seed
                )
            ).alias("band", "sig"),
        )

    from .dedup import cap_buckets

    lb = cap_buckets(
        banded(l_renamed, "lv", "left_id"), ["band", "sig"], max_bucket, min_bucket=1
    )
    rb = cap_buckets(
        banded(r_renamed, "rv", "right_id"), ["band", "sig"], max_bucket, min_bucket=1
    )
    cands = (
        lb.join(rb, ["band", "sig"])
        .where(F.col("left_id") != F.col("right_id"))
        .select("left_id", "right_id")
        .distinct()
    )
    # per-row cast + norm hoisted out of the per-pair verify (r11,
    # guide §2.3) — bit-identical to the unhoisted cosine
    l_scored = l_renamed.select(
        "left_id", F.col("lv").cast("array<double>").alias("lv")
    ).withColumn("ln", norm(F.col("lv"), dim))
    r_scored = r_renamed.select(
        "right_id", F.col("rv").cast("array<double>").alias("rv")
    ).withColumn("rn", norm(F.col("rv"), dim))
    scored = (
        cands.join(l_scored, "left_id")
        .join(r_scored, "right_id")
        .select(
            "left_id",
            "right_id",
            cosine(
                F.col("lv"), F.col("rv"), dim, norms=(F.col("ln"), F.col("rn"))
            ).alias("cosine"),
        )
    )
    return _topk(scored, k, "right_id", by=["left_id"])


# --- IVF (inverted-file) ANN ----------------------------------------------


def _l2_normalized(vec: Column) -> Column:
    """Unit-length copy (zero vectors pass through unchanged). IVF
    probes by L2 distance but RANKS by cosine; on the unit sphere
    ||a-b||² = 2 - 2·cos, so normalizing for training/assignment
    makes the probe metric agree with the ranking metric — with
    unnormalized embeddings the top-cosine match could live in a
    never-probed list (systematic recall loss, not bounded
    approximation)."""
    n = norm(vec)
    return F.when(
        n > 0, F.transform(vec.cast("array<double>"), lambda x: x / n)
    ).otherwise(vec.cast("array<double>"))


def _centroid_rows(
    df: DataFrame,
    vec_col: str,
    nlist: int,
    refine: int = 1,
    train_cap: int | None = 131_072,
):
    """Coarse quantizer centroids over L2-NORMALIZED vectors (see
    :func:`_l2_normalized`): deterministic hash-sample seed +
    ``refine`` Lloyd iterations, all as DataFrame jobs (posexplode →
    per-dimension mean). Only the nlist×dim centroid matrix is ever
    collected — the training data never moves to the driver.

    ``train_cap`` bounds the TRAINING set: when the table exceeds it,
    Lloyd runs on a deterministic hash-sample of ~train_cap rows (the
    standard IVF practice — FAISS trains its quantizer on a bounded
    sample, ~39-256 points per centroid suffices statistically).
    Without the cap each refine pass posexplodes the ENTIRE table
    (n × dim rows through a shuffle) — at 100 TB that is a larger job
    than every query the index will ever serve. The final ASSIGNMENT
    still covers every row (ivf_assign); only centroid FITTING
    samples. None disables the cap.

    Dirty-corpus hygiene (r7, ADVICE): null/empty vectors are
    excluded from training up front, and the training set is further
    restricted to the MODAL vector dimension (one tiny size-histogram
    agg) so a ragged minority can neither seed a wrong-dim centroid
    nor shift a Lloyd mean. Rows outside the modal dim later assign a
    NULL cid (dropped/reported by the index writers)."""
    df = df.where(
        F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) > 0)
    )
    # ONE job for modal dim AND its row count (r12, guide §2.4): the
    # size histogram is a handful of rows, and its modal entry carries
    # exactly the count the train_cap branch used to re-derive with a
    # second full count() job. Modal pick replicates the former
    # orderBy(n DESC, d ASC).first() tie-break.
    hist = (
        df.groupBy(F.size(F.col(vec_col)).alias("d"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    if not hist:
        return []
    dim_row = min(hist, key=lambda r: (-int(r["n"]), int(r["d"])))
    df = df.where(F.size(F.col(vec_col)) == int(dim_row["d"]))
    if train_cap is not None and train_cap >= nlist:
        n = int(dim_row["n"])
        if n > train_cap:
            every = int(n // train_cap) + 1
            df = df.where(
                F.pmod(
                    F.xxhash64(F.col(vec_col).cast("array<string>")),
                    F.lit(every),
                )
                == 0
            )
    seed_rows = (
        df.select(
            _l2_normalized(F.col(vec_col)).alias("v"),
            F.xxhash64(F.col(vec_col).cast("array<string>")).alias("h"),
        )
        .orderBy("h")
        .limit(nlist)
        .select(F.monotonically_increasing_id().alias("cid"), "v")
    )
    cents = [list(r["v"]) for r in seed_rows.collect()]
    for _ in range(refine):
        # r11: on the expression fallback path, materialize the
        # normalized vector in its OWN projection before the argmin
        # (see _with_assigned_cid) — _nearest_cid references its input
        # per centroid, and inlining _l2_normalized there duplicates
        # the whole HOF subtree per reference. Values are identical:
        # same normalize expression, same argmin over it. The default
        # matmul path (else) normalizes inside the UDF in numpy.
        if len(cents) <= _ASSIGN_EXPR_MAX_NLIST:
            assigned = df.select(
                _l2_normalized(F.col(vec_col)).alias("v")
            ).select("v", _nearest_cid(F.col("v"), cents).alias("cid"))
        else:
            assigned = df.select(
                _l2_normalized(F.col(vec_col)).alias("v"),
                _assign_cids(F.col(vec_col), cents).alias("cid"),
            )
        # NOTE: no .where(cid.isNotNull()) here — the training frame
        # is already filtered to the modal dimension, so cid is never
        # null, and a filter ON the assign expression would force
        # Catalyst to evaluate the interpreted argmin twice per row
        # (measured 16x on the refine job, r7). Driver-side skip in
        # the dict below is the belt-and-braces.
        #
        # r12 (guide §2.4): collect the (cid, pos, mean) rows directly
        # — nlist × dim rows, a few KB — and assemble the centroid
        # arrays in Python. The former second-level groupBy(cid) with
        # collect_list + array_sort added one more exchange per refine
        # pass just to do that assembly on the cluster; the per-
        # dimension means (and therefore the centroids) are the exact
        # same floats either way.
        new = (
            assigned
            .select("cid", F.posexplode(F.col("v")).alias("pos", "x"))
            .groupBy("cid", "pos")
            .agg(F.avg("x").alias("m"))
        )
        got: dict = {}
        for r in new.collect():
            if r["cid"] is not None:
                got.setdefault(int(r["cid"]), {})[int(r["pos"])] = r["m"]
        cents = [
            [got[i][p] for p in sorted(got[i])] if i in got else c
            for i, c in enumerate(cents)
        ]
    return cents


def _nearest_cid(vec: Column, centroids: list[list[float]]) -> Column:
    """argmin_c ||v - c||² as a literal-folded expression: one struct
    per centroid (distance, cid), array_min picks the closest — all
    inside the plan, centroids behave like a broadcast.

    FALLBACK path only (r11): assignment now defaults to the
    Arrow-batched BLAS matmul in :func:`_assign_cids`
    (:data:`_ASSIGN_EXPR_MAX_NLIST` = 0) — measured 10.9 s → 0.9 s on
    the sf0.1 ivf_topk noop, because the HOF lambdas here evaluate
    interpreted, nlist × dim folds per row. Callers that re-enable
    this path must go through :func:`_with_assigned_cid`: each
    centroid references ``vec`` twice, and Catalyst inlines a
    non-trivial ``vec`` expression (e.g. the normalization) at every
    reference — including into filters pushed through the projection."""
    if not centroids:
        raise ValueError(
            "no centroids (empty training DataFrame?) — cannot assign"
        )
    v = vec.cast("array<double>")
    scored = []
    for cid, c in enumerate(centroids):
        lit = F.array(*[F.lit(float(x)) for x in c])
        d = F.aggregate(
            F.zip_with(v, lit, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        scored.append(F.struct(d.alias("d"), F.lit(cid).alias("cid")))
    # null/empty/ragged vectors must get a NULL cid, matching the
    # matmul path (r7, ADVICE): zip_with null-pads a length mismatch,
    # the fold then yields a null distance, and struct NULLS-FIRST
    # ordering would silently hand every garbage row to cid 0
    dim = len(centroids[0])
    return F.when(
        F.size(v) == dim, F.array_min(F.array(*scored))["cid"]
    ).otherwise(F.lit(None).cast("int"))


# past this many centroids assignment uses the literal-folded argmin
# EXPRESSION; at or below it (i.e. never, at 0) the Arrow-batched
# BLAS matmul. r11 measurement (guide §1/§4) dropped this from 16 to
# 0: the expression's HOF lambdas evaluate interpreted — nlist × dim
# folds per row (109 s for 80k×64-dim rows at nlist=40, r4; 10.9 s
# for the sf0.1 ivf_topk noop at nlist=16) — while one
# (batch × dim) @ (dim × nlist) matmul per Arrow batch does the same
# argmin in milliseconds (0.9 s on the same noop). A codegen-expanded
# expression form was tried and rejected: per-element expansion puts
# dim × nlist references of the input into the plan, and Catalyst
# inlines the normalization subtree at every reference wherever a
# filter is pushed through the projection (a 1.6 MB plan and a 380 s
# noop over 1.2k rows at sf0.001), plus ~12 s of fixed
# Janino-compile cost per distinct centroid set. Tie-break (lowest
# cid) is identical on both paths; assignments agree everywhere
# except ulp-level near-ties (oracle-verified at both check SFs).
_ASSIGN_EXPR_MAX_NLIST = 0


def _assign_cids(vec: Column, centroids: list[list[float]]) -> Column:
    """Nearest-centroid id for a RAW vector column (normalization
    happens inside — matching ``_nearest_cid(_l2_normalized(v), c)``):
    an Arrow-batched numpy matmul beyond
    :data:`_ASSIGN_EXPR_MAX_NLIST` (= 0, so always — see the
    constant's rationale), the literal argmin expression otherwise.
    Null/ragged/empty vectors get a NULL cid on BOTH paths (matmul
    skips them; the expression path gates the argmin on size(v)==dim
    — r7 fix: the bare HOF fold used to yield a null distance that
    struct NULLS-FIRST ordering resolved to cid 0).
    Ties break to the lowest cid on both paths (first argmin /
    lexicographic struct min); near-tie float divergence between the
    sequential fold and BLAS summation can pick either side of an
    exact tie — both are valid assignments of the same quantizer."""
    if not centroids:
        raise ValueError(
            "no centroids (empty training DataFrame?) — cannot assign"
        )
    if len(centroids) <= _ASSIGN_EXPR_MAX_NLIST:
        return _nearest_cid(_l2_normalized(vec), centroids)

    from pyspark.sql.pandas.functions import pandas_udf

    C = np.asarray(centroids, dtype=np.float64)  # nlist × dim
    c2 = (C * C).sum(axis=1)
    dim = C.shape[1]

    @pandas_udf("int")
    def _assign(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="Int32")
        arrs = v.to_numpy()
        good = [
            i for i, a in enumerate(arrs) if a is not None and len(a) == dim
        ]
        out = np.full(len(arrs), None, dtype=object)
        if good:
            V = np.stack(
                [np.asarray(arrs[i], dtype=np.float64) for i in good]
            )
            Vn = _unit_rows(V)
            # argmin ||v_n - c||² = argmin(c² - 2·v_n·c); first argmin
            # = lowest cid, matching the struct-min tiebreak
            cids = np.argmin(c2[None, :] - 2.0 * (Vn @ C.T), axis=1)
            for j, i in enumerate(good):
                out[i] = int(cids[j])
        return pd.Series(out)

    return _assign(vec.cast("array<double>"))


def _with_assigned_cid(
    df: DataFrame,
    vec_col: str,
    centroids: list[list[float]],
    out_col: str = "ivf_cid",
) -> DataFrame:
    """``df`` + ``out_col`` = :func:`_assign_cids` — the frame-level
    entry every assignment call site uses (r11). On the default
    matmul path this is a plain ``withColumn``. On the expression
    fallback path (``_ASSIGN_EXPR_MAX_NLIST`` raised above 0) it
    additionally materializes the L2 normalization in its own
    projection — each centroid distance references the normalized
    vector, and inlined it would be re-evaluated per reference
    (CollapseProject keeps a non-cheap multi-referenced alias in its
    own project) — and plants a pushdown barrier so a downstream
    filter on the cid cannot be substituted through the projection.
    Values are identical to ``withColumn(out, _assign_cids(vec))`` —
    same normalization, same argmin, same tie-break."""
    if not centroids or len(centroids) > _ASSIGN_EXPR_MAX_NLIST:
        return df.withColumn(out_col, _assign_cids(F.col(vec_col), centroids))
    tmp = f"__nvec_{out_col}"
    cid = _nearest_cid(F.col(tmp), centroids)
    # pushdown barrier (r11): serving filters the assigned cid
    # (ivf_topk's probe isin, semantic_dedup's validity gates), and
    # PushPredicateThroughNonJoin substitutes project aliases into a
    # pushed predicate with NO cost guard — the filter would land on
    # the scan carrying the argmin with the normalize subtree inlined
    # at every reference (measured on the per-element-expanded form:
    # a 1.6 MB physical plan and a 380 s noop on 1.2k rows at
    # sf0.001; the HOF form duplicates 2 × nlist references).
    # A value-neutral non-deterministic term marks the field
    # non-deterministic, which stops predicate pushdown and
    # CollapseProject at this projection; cid values are unchanged
    # (x + 0 ≡ x, NULL + 0 ≡ NULL). monotonically_increasing_id — not
    # rand(): the optimizer knows rand's [0,1) bounds and folds
    # always-true comparisons on it right back out (verified), while
    # mono_id×0 survives with the filter staying above the project.
    cid = cid + (F.monotonically_increasing_id() * F.lit(0)).cast("int")
    return (
        df.withColumn(tmp, _l2_normalized(F.col(vec_col)))
        .withColumn(out_col, cid)
        .drop(tmp)
    )


def ivf_assign(
    df: DataFrame,
    vec_col: str = "embedding",
    nlist: int = 16,
    refine: int = 1,
    train_cap: int | None = 131_072,
) -> tuple[DataFrame, list[list[float]]]:
    """(df + ``ivf_cid`` column, centroids). At 100 TB the assignment
    is computed once and the table is written partitioned/bucketed by
    ``ivf_cid`` so probes become partition pruning. Assignment runs
    via :func:`_assign_cids` (Arrow-batched BLAS matmul by default
    — see :data:`_ASSIGN_EXPR_MAX_NLIST`);
    centroid FITTING samples down to ``train_cap`` rows (see
    :func:`_centroid_rows`) while assignment covers every row."""
    cents = _centroid_rows(df, vec_col, nlist, refine, train_cap)
    return _with_assigned_cid(df, vec_col, cents), cents


def ivf_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 16,
    nprobe: int = 4,
    refine: int = 1,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF approximate top-k: exact cosine restricted to the ``nprobe``
    inverted lists nearest the query. Complements ``ann_topk`` (LSH):
    IVF adapts to the data distribution, LSH is data-independent.

    Pass ``centroids`` (from a prior ``ivf_assign``) to skip training
    entirely — the 100 TB call shape: train/assign ONCE, persist the
    table partitioned or bucketed by ``ivf_cid``, then serve every
    query as pure partition pruning + a bounded exact scan. When
    ``centroids`` is given and ``df`` already carries an ``ivf_cid``
    column (a pre-assigned table), the assignment expression is reused
    as-is and this function launches no training jobs at all (asserted
    in test_extensions)."""
    _check_k(k)
    if centroids is None:
        assigned, cents = ivf_assign(df, vec_col, nlist, refine)
    else:
        cents = centroids
        if "ivf_cid" in df.columns:
            assigned = df
        else:
            assigned = _with_assigned_cid(df, vec_col, cents)
    probes = _probe_cids(query, cents, nprobe)
    return _exact_topk(
        assigned.where(F.col("ivf_cid").isin(probes)),
        query,
        k,
        id_col,
        F.col(vec_col).cast("array<double>"),
    )


def _probe_cids(
    query: list[float], cents: list[list[float]], nprobe: int
) -> list[int]:
    """The ``nprobe`` inverted lists nearest ``query``, by squared L2
    distance in the normalized space the lists were built in, ties to
    the lower cid — the one driver-side IVF probe (``ivf_topk`` and
    the persisted-index serves). A query whose width is not the
    centroids' raises ValueError: ``zip`` would silently truncate the
    distance and rank probes on garbage, and the HOF cosine would
    null-pad every corpus vector — k arbitrary rows with NULL scores
    instead of an error."""
    if cents and len(query) != len(cents[0]):
        raise ValueError(
            f"query has {len(query)} dims but the centroids have "
            f"{len(cents[0])} — wrong index for this query"
        )
    qn = math.sqrt(sum(x * x for x in query))
    qv = [x / qn for x in query] if qn > 0 else list(query)
    dists = [
        (sum((q - c) ** 2 for q, c in zip(qv, cent)), cid)
        for cid, cent in enumerate(cents)
    ]
    return [cid for _, cid in sorted(dists)[:nprobe]]


# --- storage quantization -------------------------------------------------


def quantize_embedding(vec: Column, scale_to: float = 127.0) -> Column:
    """Symmetric per-vector int8 quantization for embedding STORAGE:
    struct(scale: float, q: array<tinyint>) with q[i] =
    round(v[i] / scale * 127), scale = max(|v|). 4× smaller than
    float32 (16× vs the float64 Spark arrays), which at 100 TB is the
    difference between an embedding table that fits the cluster and
    one that doesn't. Pure Column algebra (codegen) — quantize on
    write, :func:`dequantize_embedding` on read; cosine on the
    dequantized values is within ~1% of the original for typical
    embedding distributions (asserted in tests). Null/empty vectors
    quantize to null. ``scale_to`` must fit int8 (≤ 127) — larger
    values would wrap in the tinyint cast and silently flip the sign
    of the largest components."""
    if not 0 < scale_to <= 127:
        raise ValueError("scale_to must be in (0, 127]")
    mx = F.array_max(F.transform(vec, lambda x: F.abs(x)))
    safe = F.when(mx > 0, mx).otherwise(F.lit(1.0))
    q = F.transform(
        vec, lambda x: F.round(x / safe * scale_to).cast("tinyint")
    )
    return F.when(
        vec.isNotNull() & (F.size(vec) > 0),
        F.struct(safe.cast("float").alias("scale"), q.alias("q")),
    )


def dequantize_embedding(qstruct: Column, scale_to: float = 127.0) -> Column:
    """Inverse of :func:`quantize_embedding`: array<float> ≈ the
    original vector (quantization error ≤ scale/254 per component)."""
    return F.transform(
        qstruct["q"],
        lambda x: (
            x.cast("double") * qstruct["scale"] / F.lit(scale_to)
        ).cast("float"),
    )
