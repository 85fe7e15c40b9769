"""Dataset splitting & sequence packing for training-data pipelines
(SURVEY.md §2.9 family — not in the reference; the operations a
100 TB corpus needs between "cleaned/deduped" and "fed to a trainer").

Operators (splits and chunk-packing are pure Column algebra —
whole-stage codegen, zero UDFs, zero shuffles for the splits, one
window shuffle for chunk-packing; bin-packing is the one
Arrow-batched applyInPandas, because first-fit is inherently
sequential within a packing group):

- :func:`hash_split` — deterministic train/val/test assignment from a
  salted md5 of the id. Engine-portable by construction (md5 of the
  utf-8 string renders identically in Spark, DuckDB, Python), so the
  same row lands in the same split on ANY engine — reproducibility
  across reruns, engines, and cluster sizes, unlike ``randomSplit``
  (which is seed- AND partitioning-dependent).
- :func:`grouped_hash_split` — leakage-safe variant: near-duplicate
  documents must not straddle a train/eval boundary (a classic
  eval-contamination bug), so the split unit becomes the connected
  component of the near-dup pair graph (via
  :func:`~..dedup.pair_components`), not the document.
- :func:`sequence_offsets` — token-stream packing: lay documents
  end-to-end per stream and compute each document's token
  offset and the fixed-length training-sequence ids it spans
  (``first_seq``/``last_seq``). One window aggregate per stream key;
  at scale the stream key (``part_col``) keeps every window a
  partition-local sort instead of a single global one.
- :func:`pack_bins` — no-straddle first-fit-decreasing bin packing
  (whole documents + padding per sequence, the SFT convention):
  salted-hash shard into independent packing buckets, FFD per bucket
  in ``applyInPandas``.

Scale posture: hash_split is map-only (survives any scale-up
untouched); grouped_hash_split costs one broadcast-or-shuffle join
against the (pairs-sized, corpus-small) component map;
sequence_offsets shuffles once on the stream key — choose a key with
enough cardinality (source, shard, lang) and the sort stays local.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import pair_components

#: default corpus split
DEFAULT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}

_HEX_SPACE = 16**8  # we bucket on the first 8 hex chars of md5


def hash_bucket(id_col: Column, salt: str = "") -> Column:
    """First 8 hex chars of ``md5(salt || id)`` — a uniform,
    deterministic, engine-portable bucket label (lowercase hex, fixed
    width, so LEXICAL comparison == numeric comparison)."""
    rendered = F.concat(F.lit(salt), id_col.cast("string"))
    return F.substring(F.md5(rendered.cast("binary")), 1, 8)


def split_boundaries(
    weights: dict[str, float] | None = None,
) -> list[tuple[str, str | None]]:
    """Normalize ``weights`` into ``[(name, upper_hex_exclusive)]``;
    the last split's bound is ``None`` (it takes the remainder, so
    rounding never orphans a bucket)."""
    if weights is None:
        weights = DEFAULT_WEIGHTS
    if not weights:
        raise ValueError("weights must be non-empty")
    negative = {k: v for k, v in weights.items() if v < 0}
    if negative:
        raise ValueError(f"weights must be non-negative, got {negative}")
    total = float(sum(weights.values()))
    if total <= 0:
        raise ValueError("weights must sum to a positive number")
    out: list[tuple[str, str | None]] = []
    cum = 0.0
    names = list(weights)
    for name in names[:-1]:
        cum += weights[name] / total
        out.append((name, format(min(int(cum * _HEX_SPACE), _HEX_SPACE - 1), "08x")))
    out.append((names[-1], None))
    return out


def split_expr(
    id_col: Column, weights: dict[str, float] | None = None, salt: str = ""
) -> Column:
    """The split label as a Column — chained fixed-width hex
    comparisons over :func:`hash_bucket` (codegen; no UDF). A NULL
    id yields a NULL split (visible, filterable) — it must NOT
    silently ride the remainder split, which would concentrate the
    junkiest rows in one split (and ``hash_sample`` already treats
    null ids as non-members)."""
    bucket = hash_bucket(id_col, salt)
    bounds = split_boundaries(weights)
    expr = F.when(id_col.isNull(), F.lit(None).cast("string"))
    for name, hi in bounds[:-1]:
        expr = expr.when(bucket < F.lit(hi), F.lit(name))
    return expr.otherwise(F.lit(bounds[-1][0]))


def hash_split(
    df: DataFrame,
    id_col: str = "doc_id",
    weights: dict[str, float] | None = None,
    salt: str = "",
    split_col: str = "split",
) -> DataFrame:
    """Add a deterministic ``split_col`` ('train'/'val'/'test' by
    default) keyed on a salted hash of ``id_col``.

    Map-only: no shuffle, no job, survives any scale-up. ``salt``
    versions the assignment — changing it reshuffles every row's
    split, so pin it per dataset release.
    """
    return df.withColumn(split_col, split_expr(F.col(id_col), weights, salt))


def grouped_hash_split(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    weights: dict[str, float] | None = None,
    salt: str = "",
    split_col: str = "split",
    pair_cols: tuple[str, str] = ("id_a", "id_b"),
) -> DataFrame:
    """Leakage-safe :func:`hash_split`: all documents connected by
    ``pairs`` (e.g. the verified near-duplicate pairs from
    ``minhash_dedup_pairs`` / ``embedding_cosine_pairs``) land in the
    SAME split, because the hash is taken over the connected
    component's representative (its min id) rather than the document
    id. Documents in no pair hash on their own id — identical to
    plain ``hash_split`` for them.

    Cost at scale: ``pair_components`` over the PAIR list (corpus-small
    for near-dup workloads) + one left join of the corpus against the
    component map (component map ≪ corpus → broadcast-eligible; AQE
    picks it up when under threshold).
    """
    comp = (
        pair_components(pairs, *pair_cols)
        .withColumnRenamed("id", id_col)
        .withColumnRenamed("component", "__component")
    )
    joined = df.join(comp, id_col, "left")
    unit = F.coalesce(F.col("__component"), F.col(id_col))
    return joined.withColumn(split_col, split_expr(unit, weights, salt)).drop(
        "__component"
    )


def sequence_offsets(
    df: DataFrame,
    id_col: str = "doc_id",
    token_col: str = "n_tokens",
    budget: int = 2048,
    part_col: str | None = None,
    order_col: str | None = None,
) -> DataFrame:
    """Token-stream packing bookkeeping: documents are laid end-to-end
    (per ``part_col`` stream, ordered by ``order_col`` — default the
    id), and each gets

    - ``offset``    — its first token's position in the stream,
    - ``first_seq`` — index of the ``budget``-token training sequence
      its first token falls in,
    - ``last_seq``  — index of the sequence its last token falls in
      (== ``first_seq`` when the document fits in one sequence;
      documents LONGER than the remaining room straddle — the
      concat-then-chunk convention of LM pretraining, where sequence
      boundaries cut documents rather than padding them out).

    Deterministic given (stream key, order), and expressible as one
    windowed cumulative sum — both here and in ANSI SQL, which is what
    the registry oracle checks. ``part_col=None`` packs ONE global
    stream (single-partition window — fine for a shard, wrong for a
    100 TB corpus; pass a stream key and each window stays a
    partition-local sort after one hash shuffle).
    """
    if budget <= 0:
        raise ValueError("budget must be positive")
    order = order_col or id_col
    part = [part_col] if part_col else []
    w = (
        Window.partitionBy(*part)
        .orderBy(F.col(order))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tokens = F.col(token_col).cast("long")
    cum = F.sum(tokens).over(w)
    offset = (cum - tokens).alias("offset")
    first_seq = F.floor((cum - tokens) / budget).cast("long").alias("first_seq")
    last_seq = (
        F.when(tokens > 0, F.floor((cum - 1) / budget))
        .otherwise(F.floor((cum - tokens) / budget))
        .cast("long")
        .alias("last_seq")
    )
    return df.select("*", offset, first_seq, last_seq)


def pack_bins(
    df: DataFrame,
    id_col: str = "doc_id",
    token_col: str = "n_tokens",
    budget: int = 2048,
    num_buckets: int = 64,
    salt: str = "",
) -> DataFrame:
    """No-straddle bin packing: assign each document to a ``bin_id``
    such that every bin's token total stays within ``budget`` and no
    document is ever split — the packing an instruction-tuning /
    SFT loader wants (each sequence = whole documents + padding),
    complementing :func:`sequence_offsets`'s concat-then-chunk
    convention. Documents longer than ``budget`` get a dedicated bin
    and ``oversize=true`` (the caller decides: truncate, split
    upstream, or drop).

    Distributed shape: documents hash (salted md5, same family as
    :func:`hash_split`) into ``num_buckets`` independent packing
    groups; ONE shuffle on the bucket key, then first-fit-decreasing
    runs per bucket in an Arrow-batched ``applyInPandas`` (FFD is
    inherently sequential, so the parallel unit is the bucket, not
    the row — the classic shard-then-pack compromise; FFD within a
    bucket uses ≤ 11/9·OPT + 1 bins, and bucketing costs at most a
    few percent more padding for realistic doc/budget ratios).
    Deterministic: bucket from the salted hash, FFD order is
    (tokens desc, id), so reruns and engines agree. Size
    ``num_buckets`` so a bucket's rows fit one task comfortably
    (≈ corpus_rows / num_buckets; at 100 TB raise it — buckets are
    independent, so more buckets = more parallelism, slightly more
    padding).

    Returns ``df`` + ``bin_id`` (globally unique: bucket << 32 |
    local bin) + ``oversize``.
    """
    import pandas as pd

    if budget <= 0:
        raise ValueError("budget must be positive")
    if num_buckets <= 0:
        raise ValueError("num_buckets must be positive")

    from pyspark.sql import types as T

    # sentinel-render a null id before hashing (the training_shuffle /
    # select_token_budget convention): a null id would null the whole
    # hash->conv->pmod chain, Arrow renders the null bucket as NaN in
    # the kernel batch, and int(NaN) crashed the job (r10 review fix —
    # null-id rows now land deterministically in one bucket)
    sentinel_id = F.coalesce(
        F.col(id_col).cast("string"), F.lit("__gt_null_id__")
    )
    bucket = F.pmod(
        F.conv(hash_bucket(sentinel_id, salt), 16, 10).cast("long"),
        F.lit(num_buckets),
    ).alias("__bucket")
    # build a NEW StructType: df.schema returns the DataFrame's cached
    # schema object and StructType.add mutates in place — appending to
    # it would corrupt the caller's df.schema with phantom fields
    out_schema = T.StructType(
        list(df.schema.fields)
        + [
            T.StructField("bin_id", T.LongType()),
            T.StructField("oversize", T.BooleanType()),
        ]
    )

    id_name, tok_name = id_col, token_col

    def _ffd(pdf: pd.DataFrame) -> pd.DataFrame:
        b = int(pdf["__bucket"].iloc[0]) << 32
        order = pdf.sort_values(
            [tok_name, id_name], ascending=[False, True]
        ).index
        bins: list[int] = []  # remaining capacity per local bin
        bin_ids = pd.Series(0, index=pdf.index, dtype="int64")
        oversize = pd.Series(False, index=pdf.index, dtype="bool")
        for idx in order:
            raw = pdf.at[idx, tok_name]
            # Arrow renders a long column with nulls as float64 NaN in
            # the pandas batch; treat a null count as 0 tokens (the doc
            # joins a bin without consuming capacity) instead of
            # crashing the job
            n = 0 if pd.isna(raw) else int(raw)
            if n > budget:
                # -1 (not 0): a later zero-token doc satisfies
                # rem >= 0 and would ride the dedicated bin,
                # breaking the "oversize bins are alone" contract
                bins.append(-1)
                bin_ids.at[idx] = b | (len(bins) - 1)
                oversize.at[idx] = True
                continue
            for j, rem in enumerate(bins):
                if rem >= n:
                    bins[j] = rem - n
                    bin_ids.at[idx] = b | j
                    break
            else:
                bins.append(budget - n)
                bin_ids.at[idx] = b | (len(bins) - 1)
        out = pdf.drop(columns=["__bucket"]).copy()
        out["bin_id"] = bin_ids
        out["oversize"] = oversize
        return out

    return (
        df.withColumn("__bucket", bucket)
        .groupBy("__bucket")
        .applyInPandas(_ffd, schema=out_schema)
    )


def hash_sample(
    df: DataFrame,
    fraction: float,
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Deterministic ``fraction`` sample keyed on the salted id hash —
    the reproducible sibling of ``df.sample()`` (which is seed- and
    partitioning-dependent): the same row is in or out on any engine,
    cluster size, or rerun, and samples with the same salt NEST
    (a 1% sample is a subset of the 10% sample — shrink or grow a
    debug corpus without resampling). Map-only, no shuffle."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError("fraction must be in [0, 1]")
    units = int(fraction * _HEX_SPACE)
    if units >= _HEX_SPACE:
        return df
    # fixed 8-hex-char bound: units < 2^32 here, so the lexical
    # compare stays aligned (a 9-char bound would break it)
    bound = format(units, "08x")
    return df.where(hash_bucket(F.col(id_col), salt) < F.lit(bound))


def weighted_hash_sample(
    df: DataFrame,
    weight: Column,
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Deterministic per-row Bernoulli sample with row-specific keep
    probability ``weight`` (a Column in [0, 1] — e.g. a quality score,
    or a per-source rate joined on): keep row ⇔ hash(id) < weight.
    The quality-weighted corpus selection step ("sample high-quality
    docs preferentially") as a reproducible map-only filter — same
    decisions on any engine/rerun, and monotone in the weight: raising
    a row's weight can only ever ADD it to the sample, so curriculum
    re-weighting between releases yields nested-ish corpora instead of
    a full reshuffle. Weights outside [0, 1] clamp; a NULL weight
    means keep-probability 0 (the row is dropped) — ``coalesce`` a
    default rate upstream if rows missing from a joined rate table
    should survive."""
    w = F.least(
        F.greatest(F.coalesce(weight.cast("double"), F.lit(0.0)), F.lit(0.0)),
        F.lit(1.0),
    )
    frac = (
        F.conv(hash_bucket(F.col(id_col), salt), 16, 10).cast("double")
        / F.lit(float(_HEX_SPACE))
    )
    return df.where(frac < w)


def top_k_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    k: int,
    descending: bool = True,
    tiebreak: list[str] | None = None,
    prune_salts: int | None = None,
    keep_rank: str | None = None,
) -> DataFrame:
    """Keep the best ``k`` rows per group — the corpus-curation
    selection step ("top 10k docs per domain by quality score").
    One ranking window (`row_number`, so exactly ≤ k rows per group
    even on ties) over a single hash shuffle on ``group_cols``.

    ``tiebreak`` columns (e.g. a unique id) make the selection
    deterministic under equal scores — without them, tied rows at the
    cut are plan-order-dependent (documented, same as SQL).

    Hot-group posture: a window sorts each group inside ONE task, so
    a 10⁹-row group serializes on one core. ``prune_salts=S`` adds a
    pre-phase — row_number within (group, hash-salt-of-tiebreak) and
    keep ≤ k per salted subgroup — cutting the exact phase's input to
    ≤ k·S rows per group while provably preserving the answer: any
    row in the TRUE top-k is in the top-k of its own subgroup (fewer
    competitors there), so the prune never drops a winner. The salt
    hashes the tiebreak columns (required with ``prune_salts``) —
    deterministic, engine-portable, no RNG.

    ``keep_rank="col"`` keeps the selection's own 1-based rank as a
    column — callers that need it (e.g. profiling top_values) must
    NOT re-derive it with a second window, which would duplicate the
    sort and could silently diverge from the selection order (r11
    review).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if not group_cols:
        raise ValueError("group_cols must be non-empty")
    if prune_salts is not None and not tiebreak:
        raise ValueError(
            "prune_salts requires tiebreak columns (the salt hashes "
            "them; row-position salts would not be deterministic)"
        )
    order = [
        F.col(order_col).desc() if descending else F.col(order_col).asc(),
        *[F.col(t) for t in (tiebreak or [])],
    ]
    out = df
    if prune_salts is not None and prune_salts > 1:
        salt = F.pmod(
            F.xxhash64(*[F.col(t) for t in tiebreak]), F.lit(prune_salts)
        )
        w_pre = Window.partitionBy(
            *[F.col(c) for c in group_cols], F.col("__salt")
        ).orderBy(*order)
        out = (
            out.withColumn("__salt", salt)
            .withColumn("__prn", F.row_number().over(w_pre))
            .where(F.col("__prn") <= k)
            .drop("__salt", "__prn")
        )
    w = Window.partitionBy(*group_cols).orderBy(*order)
    rn = keep_rank if keep_rank is not None else "__rn"
    out = out.withColumn(rn, F.row_number().over(w)).where(
        F.col(rn) <= k
    )
    return out if keep_rank is not None else out.drop("__rn")


def mixture_rates(
    df: DataFrame,
    weights: dict,
    by: str = "source",
    total: int | None = None,
) -> dict:
    """Per-domain sampling rates that turn ``df`` into a corpus with
    the TARGET domain proportions ``weights`` (value → proportion;
    normalized here, so {"web": 2, "code": 1} works). One tiny
    count aggregate; everything else is driver arithmetic.

    ``total`` is the target output row count. Default: the LARGEST
    total reachable without repeating any row — min over domains of
    n_domain / weight_domain, the standard "one epoch of the scarcest
    domain" bound. Rates above 1 mean the domain must repeat
    (:func:`mixture_sample` handles that with ``allow_upsample``).
    Domains absent from ``weights`` (or weighted 0) rate to 0."""
    if not weights or any(w < 0 for w in weights.values()):
        raise ValueError("weights must be non-empty and non-negative")
    wsum = float(sum(weights.values()))
    if wsum <= 0:
        raise ValueError("weights sum to 0")
    norm = {k: w / wsum for k, w in weights.items()}
    counts = {
        r["k"]: r["n"]
        for r in df.groupBy(F.col(by).alias("k"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    missing = [k for k, w in norm.items() if w > 0 and not counts.get(k)]
    if missing:
        raise ValueError(
            f"domains {missing} have weight > 0 but no rows in {by!r}"
        )
    if total is None:
        total = int(min(counts[k] / w for k, w in norm.items() if w > 0))
    return {
        k: (norm.get(k, 0.0) * total / counts[k]) for k in counts
    }


def mixture_sample(
    df: DataFrame,
    weights: dict,
    by: str = "source",
    id_col: str = "doc_id",
    total: int | None = None,
    salt: str = "",
    allow_upsample: bool = False,
) -> DataFrame:
    """Deterministic domain-mixture sample: re-weight a corpus so each
    ``by`` domain contributes its ``weights`` proportion of the output
    — the data-mixing step of LLM corpus assembly (mixture weights per
    source/language are a published lever: e.g. the Pile's and
    LLaMA's per-source sampling proportions; DoReMi tunes them).

    Per-domain rates come from :func:`mixture_rates`; rows keep/drop
    by the salted id hash (same machinery as :func:`hash_sample`:
    reproducible on any engine/partitioning, and nested across
    compatible calls). With ``allow_upsample=False`` (default) any
    rate > 1 raises — pick a smaller ``total`` or allow repeats. With
    ``allow_upsample=True`` the output gains an ``epoch`` int column
    (0-based copy index): each row emits floor(rate) full copies plus
    one more with probability frac(rate) — deterministic per id, so a
    domain at rate 2.3 contributes each row 2 times plus a 30%
    hash-chosen third copy. Epoch explosion is a ``sequence`` explode
    (no shuffle; the only shuffle anywhere is the tiny count agg).

    Scale shape: counts agg (domains rows) → driver rates → literal
    CASE on ``by`` (no rate-table join needed below ~thousands of
    domains) → map-only filter/explode."""
    rates = mixture_rates(df, weights, by, total)
    if not allow_upsample:
        over = {k: round(r, 3) for k, r in rates.items() if r > 1.0}
        if over:
            raise ValueError(
                f"domains need upsampling (rate > 1): {over} — lower "
                "total= or pass allow_upsample=True"
            )
    # literal rate lookup: CASE chain over domain values (domains are
    # low-cardinality by contract; a broadcast-join rate table would
    # add a join for no pruning gain)
    rate: Column = F.lit(0.0)
    for k, r in rates.items():
        rate = F.when(F.col(by) == F.lit(k), F.lit(float(r))).otherwise(rate)
    frac = (
        F.conv(hash_bucket(F.col(id_col), salt), 16, 10).cast("double")
        / F.lit(float(_HEX_SPACE))
    )
    if not allow_upsample:
        return df.where(frac < rate)
    n_copies = (
        F.floor(rate) + F.when(frac < rate - F.floor(rate), 1).otherwise(0)
    ).cast("int")
    return (
        df.withColumn("__n", n_copies)
        .where(F.col("__n") > 0)
        .withColumn("epoch", F.explode(F.sequence(F.lit(0), F.col("__n") - 1)))
        .drop("__n")
    )


def quality_thresholds(
    df: DataFrame,
    score_col: str,
    n_bins: int = 10,
    relative_error: float = 1e-4,
) -> list[float]:
    """Fit curriculum bin thresholds: the (1/n .. (n-1)/n) quantiles
    of ``score_col`` via ONE Greenwald-Khanna sketch pass (never a
    global sort — at 100 TB an ntile window would be the single
    largest shuffle in the pipeline). Returns n_bins-1 ascending
    floats; ties in a mass-heavy score value may repeat a threshold
    (those bins are then empty — the honest representation of a
    score distribution with an atom)."""
    if n_bins < 2:
        raise ValueError(f"n_bins must be >= 2, got {n_bins}")
    probs = [i / n_bins for i in range(1, n_bins)]
    qs = df.where(F.col(score_col).isNotNull()).approxQuantile(
        score_col, probs, relative_error
    )
    return [float(q) for q in qs]


def quality_bins(
    df: DataFrame,
    score_col: str,
    n_bins: int = 10,
    thresholds: list[float] | None = None,
    bin_col: str = "quality_bin",
    relative_error: float = 1e-4,
) -> DataFrame:
    """Curriculum / quality binning: label each row with its score
    bin 1..n_bins (1 = lowest) — the standard precursor to
    quality-weighted sampling (compose with ``mixture_sample`` on the
    bin column) and curriculum ordering for LLM training data.

    Spark-first shape: thresholds come from :func:`quality_thresholds`
    (one sketch pass) or are PASSED IN (the serving shape — fit once
    on the corpus, bin any later batch or stream with literally zero
    extra jobs); the labeling itself is a codegen sum of
    ``score > t_i`` indicators over the literal thresholds — map-only,
    no shuffle, no join. Null scores get a null bin (they are not
    "worst", they are unscored). Threshold semantics: bin k holds
    scores in (t_{k-1}, t_k], so values equal to a threshold bin
    DOWNWARD, matching SQL ``width_bucket``-style conventions closely
    enough for a DuckDB twin to verify (tests)."""
    ts = (
        quality_thresholds(df, score_col, n_bins, relative_error)
        if thresholds is None
        else [float(t) for t in thresholds]
    )
    if sorted(ts) != ts:
        raise ValueError("thresholds must be ascending")
    c = F.col(score_col)
    bin_expr: Column = F.lit(1)
    for t in ts:
        bin_expr = bin_expr + F.when(c > F.lit(t), 1).otherwise(0)
    return df.withColumn(
        bin_col, F.when(c.isNotNull(), bin_expr).cast("int")
    )


def training_shuffle(
    df: DataFrame,
    id_col: str = "doc_id",
    salt: str = "",
    partitions: int | None = None,
    keep_key: bool = False,
) -> DataFrame:
    """Deterministic global pseudo-random reorder for training export
    (r8): the "shuffle the corpus before the trainer streams it" step,
    as a reproducible permutation instead of ``ORDER BY rand()``.

    Every row gets key ``xxhash64(salt || id)``; rows are hash-
    repartitioned on that key into ``partitions`` output partitions
    and sorted by it within each. Written to files and streamed back
    in file-NAME order with in-file row order — how training
    dataloaders consume a corpus — that is a fully shuffled,
    DETERMINISTIC traversal: same rows in the same order on any
    engine, cluster size, or rerun, so an interrupted export rerun
    or a reproduced training run gets the identical stream. (A Spark
    re-read of the files is NOT the contract: FilePartition packing
    orders files by size, not name.) A different ``salt`` is a fresh
    independent permutation (one per epoch).

    Scale shape: exactly ONE hash exchange + partition-local sort.
    Deliberately NOT ``repartitionByRange``/``orderBy`` — a range
    partitioner runs a separate sampling job over the input first and
    its boundaries depend on the sample, which breaks run-to-run
    determinism and doubles the scans; with uniform hash keys, hash
    partitioning gives the same balance for free. Global order is
    "scrambled sorted runs" (partition i holds keys hashing to i,
    sorted), which is exactly as shuffled as a true key-ordered
    traversal for training purposes — both are deterministic
    permutations independent of the content.

    Pin ``partitions`` explicitly for cross-cluster reproducibility
    (the default inherits the session's shuffle parallelism, which
    varies by deployment); the row->partition map depends on it.
    ``keep_key=True`` retains ``__shuffle_key`` for audits; by
    default it is dropped (dropping a column never reorders rows).
    Null ids render to a sentinel inside the key (``concat`` of a
    null would null the whole key and xxhash64 would collapse every
    null-id row onto the seed constant — one hot clump, same stream
    position every epoch); they still tie on the (key, id) sort, so
    their RELATIVE order is not pinned — unique ids are the real
    contract, as everywhere else in the release machinery."""
    key = F.xxhash64(
        F.concat(
            F.lit(salt),
            F.coalesce(
                F.concat(F.lit("v"), F.col(id_col).cast("string")),
                F.lit(" null"),
            ),
        )
    )
    out = df.withColumn("__shuffle_key", key)
    n = (
        partitions
        if partitions is not None
        else _session_shuffle_partitions(df.sparkSession)
    )
    out = out.repartition(n, F.col("__shuffle_key")).sortWithinPartitions(
        "__shuffle_key", id_col
    )
    return out if keep_key else out.drop("__shuffle_key")


def _session_shuffle_partitions(spark) -> int:
    """The session's shuffle parallelism as an int. Some deployments
    set ``spark.sql.shuffle.partitions`` to a non-numeric value
    ('auto' under Databricks AQE autotune — OSS Spark rejects it at
    ``conf.set`` time, managed forks don't), which must not crash a
    partitions DEFAULT (ADVICE r8): fall back to the context
    parallelism, then a fixed 200 (Spark Connect has no
    sparkContext)."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        try:
            return int(spark.sparkContext.defaultParallelism)
        except Exception:  # Spark Connect: no sparkContext
            return 200


def _part_key(value) -> str:
    """Canonical string key for a collected group VALUE: booleans
    render 'true'/'false' like Spark's ``cast(col as string)``, never
    Python's 'True'; null is the '__null__' sentinel; everything else
    is ``str()``. It matches Spark's rendering for strings, integers,
    booleans and dates, NOT for every type (doubles: '1e-05' vs
    Spark's '1.0E-5') — release manifests therefore take their keys
    from Spark itself (``pipeline._by_key``), never from here."""
    if value is None:
        return "__null__"
    if isinstance(value, bool):
        return "true" if value else "false"
    return str(value)


def _canonical_group_key(value) -> str:
    """Canonical string rendering of a group/bin value (:func:`_part_key`):
    what ``select_token_budget_by`` accepts as a budgets key and what
    ``write_curriculum`` records in its manifest — the same 'true' /
    'false' / '__null__' forms release manifest keys use for boolean
    and null splits."""
    return _part_key(value)


def _scored_row_filter(score_col: str, token_col: str) -> Column:
    """Rows eligible for budget selection: FINITE score and a
    non-null, non-negative, non-NaN token count. NaN must be excluded
    EXPLICITLY (ADVICE r8): it passes ``isNotNull``, Spark orders it
    ABOVE every real double (so ``NaN >= 0`` is true), and a NaN
    ``max(score)`` would null the bucket span and silently select
    (almost) nothing. ±Infinity is excluded for the same family of
    reasons (r9): an infinite ``lo``/``hi`` makes the bucket affine
    transform NaN for every FINITE score, ``least`` then null-skips
    them all into the top bucket, and the "no global sort" promise
    silently degrades into one whole-table boundary window — results
    stay correct but the scale contract dies. A sentinel score is not
    a score; rank real rows with real numbers."""
    score = F.col(score_col).cast("double")
    toks = F.col(token_col).cast("double")
    inf = F.lit(float("inf"))
    return (
        F.col(score_col).isNotNull()
        & ~F.isnan(score)
        & (F.abs(score) != inf)
        & F.col(token_col).isNotNull()
        & ~F.isnan(toks)
        & (F.col(token_col) >= 0)
    )


def select_token_budget(
    df: DataFrame,
    budget: int,
    score_col: str = "score",
    token_col: str = "n_tokens",
    id_col: str = "doc_id",
    salt: str = "",
    buckets: int = 10_000,
) -> DataFrame:
    """Select the BEST-scoring documents until their token counts fill
    ``budget`` (r8) — the "give me the top N-token corpus by quality"
    step of dataset curation, WITHOUT the global sort a naive
    ``ORDER BY score DESC`` + running-sum would plan (at 100 TB that
    window would be the single largest shuffle in the pipeline,
    exactly the trap :func:`quality_thresholds` documents).

    Shape: (1) one aggregate for score bounds + total tokens (early
    out when everything fits); (2) one aggregate summing tokens into
    ``buckets`` equal-width score buckets (driver gets ``buckets``
    rows, cumulates from the top, finds the boundary bucket); (3) the
    selection is then a pure FILTER for every bucket above the
    boundary, plus an exact running-sum window over ONLY the boundary
    bucket's rows (ordered score desc, salted-hash tiebreak —
    deterministic across engines and reruns) so the budget lands
    exactly, not at bucket granularity. Cost: two full scans + one
    filtered scan + a window over ~n/buckets rows; no global sort,
    no full-table shuffle.

    Selection rule: rows join in (score desc, hash) order while the
    RUNNING TOTAL INCLUDING the row stays <= budget; the first
    over-budget row (and everything after) is excluded, so the
    selection never exceeds ``budget`` (a document is never split).
    Equal-score rows therefore enter in salted-hash order — re-salt
    to rotate which ties make the cut. Null scores and null/negative
    token counts are excluded up front (unscored is not "worst", it
    is unscored; a negative count would corrupt the running sums).
    Deterministic given (data, budget, salt, buckets).
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    if buckets < 1:
        raise ValueError(f"buckets must be >= 1, got {buckets}")
    base = df.where(_scored_row_filter(score_col, token_col))
    head = base.agg(
        F.min(score_col).alias("lo"),
        F.max(score_col).alias("hi"),
        F.sum(F.col(token_col).cast("long")).alias("total"),
    ).collect()[0]
    if head["total"] is None:
        return base  # empty input: nothing to select
    if head["total"] <= budget:
        return base
    lo, hi = float(head["lo"]), float(head["hi"])
    span = hi - lo
    if span <= 0:
        buckets = 1  # single score atom: everything is the boundary
    bucket = (
        F.least(
            F.lit(buckets - 1),
            F.floor(
                (F.col(score_col).cast("double") - F.lit(lo))
                / F.lit(span if span > 0 else 1.0)
                * F.lit(buckets)
            ).cast("int"),
        )
    )
    hist = {
        r["b"]: r["t"]
        for r in base.groupBy(bucket.alias("b"))
        .agg(F.sum(F.col(token_col).cast("long")).alias("t"))
        .collect()
    }
    running = 0
    boundary = 0
    for b in sorted(hist, reverse=True):
        if running + hist[b] > budget:
            boundary = b
            break
        running += hist[b]
    else:
        # numerically unreachable (total > budget) — keep the guard
        boundary = min(hist) if hist else 0
    remaining = budget - running

    above = base.where(bucket > F.lit(boundary))
    tie_rank = F.xxhash64(
        F.concat(
            F.lit(salt),
            F.coalesce(
                F.concat(F.lit("v"), F.col(id_col).cast("string")),
                F.lit(" null"),
            ),
        )
    )
    w = (
        Window.orderBy(
            F.col(score_col).desc(), tie_rank.asc(), F.col(id_col)
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # the single-partition window runs over ONLY the boundary bucket
    # (~n/buckets rows) — bounded by construction, never the table
    edge = (
        base.where(bucket == F.lit(boundary))
        .withColumn(
            "__cum", F.sum(F.col(token_col).cast("long")).over(w)
        )
        .where(F.col("__cum") <= F.lit(remaining))
        .drop("__cum")
    )
    return above.unionByName(edge)


def select_token_budget_by(
    df: DataFrame,
    budgets: dict | int,
    by: str = "source",
    score_col: str = "score",
    token_col: str = "n_tokens",
    id_col: str = "doc_id",
    salt: str = "",
    buckets: int = 1024,
) -> DataFrame:
    """Per-GROUP :func:`select_token_budget` (r8): "the best docs per
    domain until each domain's token quota fills" — the per-source
    mixture quota step of corpus assembly, again without any global
    (or per-group ntile) sort.

    ``budgets`` is either one int applied to every group or a
    ``{group_value: budget}`` dict — groups ABSENT from the dict are
    DROPPED (an explicit quota list is the common contract; pass an
    int to keep every group). Group values render through the same
    canonical string form as the release machinery (None is not a
    group — null-``by`` rows are excluded, like null scores).

    Shape: one groupBy(``by``) aggregate for bounds/totals (driver
    rows = #groups — per-DOMAIN quotas, thousands at most); groups
    fitting their quota pass through whole; the rest get a per-group
    equal-width bucket histogram in ONE aggregate (driver rows ≤
    #groups × ``buckets`` occupied — size ``buckets`` to taste), a
    driver cumsum per group finds each boundary bucket, and the
    selection is a broadcast-joined filter plus ONE window
    partitioned BY GROUP over only the boundary-bucket rows. Never a
    full-table sort; the window's partitions are ~n_g/buckets rows.

    Per-group semantics identical to :func:`select_token_budget`
    (greedy prefix in (score desc, salted-hash) order, never over
    budget, deterministic)."""
    if buckets < 1:
        raise ValueError(f"buckets must be >= 1, got {buckets}")
    base = df.where(
        F.col(by).isNotNull() & _scored_row_filter(score_col, token_col)
    )
    heads = (
        base.groupBy(by)
        .agg(
            F.min(score_col).alias("lo"),
            F.max(score_col).alias("hi"),
            F.sum(F.col(token_col).cast("long")).alias("total"),
        )
        .collect()
    )

    def _budget_for(gval):
        if isinstance(budgets, dict):
            # look up the RAW typed value first, then its canonical
            # string rendering (_part_key: 'true' for True, str() for
            # the rest):
            # the docstring promises the canonical form works, and a
            # near-miss key must not silently drop a group (ADVICE r8)
            if gval in budgets:
                return budgets[gval]
            return budgets.get(_canonical_group_key(gval))
        return int(budgets)

    whole = []  # group values kept in full
    work = {}  # group value -> (lo, span, budget)
    matched_any = False
    for r in heads:
        b = _budget_for(r[by])
        if b is None:
            continue
        matched_any = True
        if b <= 0:
            raise ValueError(
                f"budget for group {r[by]!r} must be positive, got {b}"
            )
        if r["total"] <= b:
            whole.append(r[by])
        else:
            lo, hi = float(r["lo"]), float(r["hi"])
            work[r[by]] = (lo, hi - lo, b)
    if isinstance(budgets, dict) and heads and not matched_any:
        raise ValueError(
            "select_token_budget_by: no budgets key matched any group "
            f"of {by!r} (groups look like "
            f"{[r[by] for r in heads[:3]]!r}...) — keys are matched as "
            "raw values first, then canonical strings; a fully "
            "mismatched dict would silently select nothing"
        )
    if not work:
        return base.where(F.col(by).isin(whole)) if whole else base.where(
            F.lit(False)
        )

    spark = df.sparkSession
    bounds_df = F.broadcast(
        spark.createDataFrame(
            [(g, lo, span if span > 0 else 1.0) for g, (lo, span, _) in work.items()],
            df.select(by).schema.add("__lo", "double").add("__span", "double"),
        )
    )
    over = base.join(bounds_df, by)
    bucket = F.least(
        F.lit(buckets - 1),
        F.floor(
            (F.col(score_col).cast("double") - F.col("__lo"))
            / F.col("__span")
            * F.lit(buckets)
        ).cast("int"),
    )
    hist = (
        over.groupBy(F.col(by), bucket.alias("__b"))
        .agg(F.sum(F.col(token_col).cast("long")).alias("t"))
        .collect()
    )
    per_group: dict = {}
    for r in hist:
        per_group.setdefault(r[by], {})[r["__b"]] = r["t"]
    cuts = []  # (group, boundary bucket, remaining tokens at boundary)
    for g, gh in per_group.items():
        budget_g = work[g][2]
        running = 0
        boundary = min(gh)
        for b in sorted(gh, reverse=True):
            if running + gh[b] > budget_g:
                boundary = b
                break
            running += gh[b]
        cuts.append((g, boundary, budget_g - running))
    cuts_df = F.broadcast(
        spark.createDataFrame(
            cuts,
            df.select(by).schema.add("__boundary", "integer").add(
                "__remaining", "long"
            ),
        )
    )
    joined = over.join(cuts_df, by)
    above = joined.where(bucket > F.col("__boundary"))
    tie_rank = F.xxhash64(
        F.concat(
            F.lit(salt),
            F.coalesce(
                F.concat(F.lit("v"), F.col(id_col).cast("string")),
                F.lit(" null"),
            ),
        )
    )
    w = (
        Window.partitionBy(by)
        .orderBy(F.col(score_col).desc(), tie_rank.asc(), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    edge = (
        joined.where(bucket == F.col("__boundary"))
        .withColumn(
            "__cum", F.sum(F.col(token_col).cast("long")).over(w)
        )
        .where(F.col("__cum") <= F.col("__remaining"))
        .drop("__cum")
    )
    capped = above.unionByName(edge).drop(
        "__lo", "__span", "__boundary", "__remaining"
    )
    if whole:
        capped = base.where(F.col(by).isin(whole)).unionByName(capped)
    return capped


def write_curriculum(
    df: DataFrame,
    path: str,
    bin_col: str = "quality_bin",
    id_col: str = "doc_id",
    salt: str = "",
    partitions: int = 32,
) -> dict:
    """Write a curriculum-ordered training corpus (r8): one
    ``bin=<k>`` subdirectory per ascending ``bin_col`` value, each
    holding that bin's rows in a :func:`training_shuffle` order — a
    trainer streaming directories in name order and files in name
    order within each gets "easiest bin first, shuffled within bin"
    (or whatever ordering the bin labels encode; pair with
    :func:`quality_bins`). Deterministic end to end: bin assignment
    is the caller's column, within-bin order is the salted hash
    permutation.

    Scale shape: one job PER BIN (bins are a handful by construction
    — this loops quality grades, not ids), each a partition-pruned...
    rather, a filtered scan + ONE hash exchange; no global sort, no
    cross-bin shuffle. Zero-padded directory names keep lexical ==
    numeric order up to 10^6 bins. Null bins are SKIPPED (unscored
    is not a curriculum stage) and reported. Returns a manifest dict
    ``{bin value (string): row count}`` plus ``"__null__"`` count
    when any rows were skipped."""
    bins = [
        r[bin_col]
        for r in df.select(bin_col).distinct().collect()
    ]
    null_count = 0
    if any(b is None for b in bins):
        null_count = df.where(F.col(bin_col).isNull()).count()
        bins = [b for b in bins if b is not None]
    # bool is an int subclass: zero-padding True as 000001 would
    # collide with an int bin 1 in mixed-bin data, and a negative int
    # renders '-00001', breaking the documented lexical==numeric
    # directory ordering — render bools canonically, refuse negatives
    # (ADVICE r8; curriculum stages are ordinals by contract)
    for b in bins:
        if not isinstance(b, bool) and isinstance(b, int) and b < 0:
            raise ValueError(
                f"write_curriculum: negative int bin {b} would break "
                "the lexical==numeric directory-order contract — remap "
                "bins to non-negative ordinals"
            )
    manifest: dict = {}
    for b in sorted(bins):
        sub = training_shuffle(
            df.where(F.col(bin_col) == F.lit(b)),
            id_col=id_col,
            salt=f"{salt}|bin={b}",
            partitions=partitions,
        )
        if isinstance(b, bool):
            label = _canonical_group_key(b)
        elif isinstance(b, int):
            label = f"{int(b):06d}"
        else:
            label = str(b)
        sub.write.mode("overwrite").parquet(f"{path}/bin={label}")
        manifest[_canonical_group_key(b)] = df.where(
            F.col(bin_col) == F.lit(b)
        ).count()
    if null_count:
        manifest["__null__"] = null_count
    return manifest
