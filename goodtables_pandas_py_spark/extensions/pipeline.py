"""One-call corpus preparation: the composition a training-data
pipeline actually runs — quality filter → near-duplicate removal →
eval-set decontamination — with every stage's audit trail available
(SURVEY.md §2.9; composes :mod:`.text`, :mod:`.dedup` and
:mod:`.decontam`, adds no new Spark machinery).

Scale shape is the sum of its parts: the quality filter is a map-only
single scan (clean_corpus), dedup is banded-LSH candidates + bounded
verify (near_dedup), decontamination is a broadcast n-gram join
(corpus side never shuffles), and the filter runs FIRST so the
expensive signature pipeline only ever sees documents worth keeping —
on a boilerplate-heavy crawl the filter typically removes far more
rows than dedup, for a fraction of its cost.

The prepared corpus ships through the versioned release store below
(also used by :mod:`.vecindex` for IVF index versions). Each of its
decisions lives in one function: :func:`_publish` is the publish
protocol (claim the next version, write it, base-checked pointer
swap, retention), :func:`_current` / :func:`_manifest` are the only
pointer and manifest reads, and a partition's manifest key is Spark's
own string rendering of the split value (:func:`_by_key` computes it,
:func:`_key_filter` prunes by it), so keys, hive directory names and
prune predicates always agree. Every driver-side file operation goes
through :mod:`..storage`, whose backend the root's path picks: Python
``os`` for local roots, Hadoop ``FileSystem`` for other schemes.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, functions as F

from .. import storage
from .decontam import contaminated_ids
from .dedup import near_dedup
from .splits import top_k_per_group
from .text import clean_corpus


@dataclass
class CorpusPrep:
    """Result of :func:`prepare_corpus`.

    ``kept``: the cleaned, deduplicated documents (input schema).
    ``quality_audit``: every input row + ``keep`` + ``drop_reasons``
    (None unless ``audit=True``).
    ``n_input / n_after_quality / n_after_dedup``: stage row counts
    (None unless ``audit=True`` — counting costs a job per stage)."""

    kept: DataFrame
    quality_audit: DataFrame | None = None
    n_input: int | None = None
    n_after_quality: int | None = None
    n_after_dedup: int | None = None
    n_after_cap: int | None = None
    n_after_span_mask: int | None = None
    n_after_decontam: int | None = None


def prepare_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dedup_threshold: float = 0.7,
    dedup_policy: str = "greedy",
    persist_banded: bool = True,
    persist_sets: bool = True,
    span_dedup_k: int | None = None,
    eval_sets: DataFrame | None = None,
    decontam_ngram: int = 8,
    decontam_ratio: float = 0.5,
    fuzzy_decontam_threshold: float | None = None,
    cap_per_group: int | None = None,
    cap_group_cols: list[str] | None = None,
    cap_order_col: str | None = None,
    audit: bool = False,
    truncate_lineage: bool = False,
    **clean_kwargs,
) -> CorpusPrep:
    """Quality-filter, near-dedup, and (optionally) decontaminate a
    documents table in one call.

    ``clean_kwargs`` pass through to :func:`clean_corpus` (token
    bounds, language allowlist, ...); ``dedup_policy`` is
    ``"greedy"`` or ``"cc"`` (see :func:`near_dedup`).
    ``persist_banded``/``persist_sets`` default ON here — unlike the
    low-level library functions, this is the deployment entry point,
    and the banded signature projection and the hashed verify-set
    frame each always have two consumers (both knobs on measured
    1.85× on the 60× dedup probe, BASELINE.md §persist).

    ``span_dedup_k`` (optional) adds the ExactSubstr stage (Lee et
    al., arXiv:2107.06499 — see :func:`~.spans.mask_dup_spans`) after
    document-level near-dedup AND after the per-group cap: token
    spans of >= span_dedup_k tokens still duplicated across the
    shipping documents (boilerplate fragments, quotes, licenses) are
    cut from every occurrence, and documents left empty by the cut
    (pure-duplicate text) are dropped. The ordering is deliberate:
    post-dedup so masking sees genuine cross-document substring
    duplication (not whole-doc copies), post-cap so (a) duplication
    is counted over the corpus that SHIPS, and (b) the cap's
    ``cap_order_col`` ranks rows whose text no stage has mutated —
    masking first would leave a text-derived rank column (e.g.
    n_chars) stale and let boilerplate-inflated documents beat
    genuinely long ones for cap slots (review r5). Note the released
    text is still rebuilt, so refresh text-derived metadata columns
    before writing a release.

    ``cap_per_group`` keeps only the best ``cap_per_group`` rows per
    ``cap_group_cols`` group ordered by ``cap_order_col`` descending
    (domain balancing: "at most N docs per source, best first" — see
    :func:`~.splits.top_k_per_group`; tiebreak on ``id_col`` keeps it
    deterministic). Runs after dedup (so survivors are unique) and
    before decontamination (so the broadcast n-gram join scans the
    capped corpus).

    ``eval_sets`` (same ``id_col``/``text_col`` schema) drops every
    kept document whose exact ``decontam_ngram``-word overlap covers
    ≥ ``decontam_ratio`` of any eval document (see
    :func:`~.decontam.contaminated_ids`) — decontamination runs LAST
    so the broadcast n-gram join scans the already-shrunk corpus.
    ``fuzzy_decontam_threshold`` (r10) additionally drops documents
    whose 3-word-shingle Jaccard with any eval doc reaches the
    threshold (:func:`~.decontam.near_contaminated_ids` — the
    paraphrased-copy pass exact n-grams miss); both drop sets are
    unioned into ONE anti-join. Laziness caveat: the fuzzy scan's
    broadcast-vs-shuffle guard COUNTS its candidate frame, so merely
    constructing the prep with this flag runs one banded-signature
    job over the clean→dedup→cap→mask lineage (persist that lineage
    first, or turn the flag on only when ``kept`` will actually be
    materialized). The scan persists a bounded candidate frame
    internally; call :func:`~..cacheutil.unpersist_scan_state` on
    ``kept`` after materializing to release it in a long-lived
    session.

    ``audit=True`` additionally returns the per-row quality audit
    (keep + drop_reasons) and per-stage row counts. The audit frame is
    the thing to ``write_partitioned(..., ["keep"])`` when a 100 TB
    run needs "what did each rule cost us" answerable later without
    re-running the filter.

    ``truncate_lineage=True`` cuts the LOGICAL PLAN (localCheckpoint)
    after the two deepest stages — near-dedup (whose CC iterations
    build the tallest tree) and span masking (window-hash explodes).
    A persist caches data, not plans: every later action over the
    prepared corpus still pays Catalyst re-analysis of the full tree,
    and callers that JOIN the output with a derivative of itself
    (score joins, count joins) embed that tree 2-4× — measured as a
    minutes-long driver-side stall at a few HUNDRED rows in the
    example pipeline (r6; docs/TUNING.md anti-pattern). The knob
    trades laziness for bounded planning: data materializes at the
    cut. A real deployment writing the corpus artifact and reading it
    back gets the same effect plus a restart point.

    Lazy like everything else: without ``audit``,
    ``truncate_lineage``, or ``fuzzy_decontam_threshold`` (whose
    candidate guard counts — see above) no job runs until the caller
    acts on ``kept``."""
    clean_kwargs.pop("with_reasons", None)
    cleaned = clean_corpus(df, text_col=text_col, **clean_kwargs)
    deduped = near_dedup(
        cleaned,
        id_col=id_col,
        text_col=text_col,
        threshold=dedup_threshold,
        policy=dedup_policy,
        persist_banded=persist_banded,
        persist_sets=persist_sets,
    )
    if truncate_lineage:
        deduped = deduped.localCheckpoint()
    kept = deduped
    if cap_per_group is not None:
        if not cap_group_cols or cap_order_col is None:
            raise ValueError(
                "cap_per_group requires cap_group_cols and cap_order_col"
            )
        kept = top_k_per_group(
            kept, cap_group_cols, cap_order_col, cap_per_group,
            tiebreak=[id_col],
        )
    capped = kept
    if span_dedup_k is not None:
        from .spans import mask_dup_spans

        # drop only rows whose text became EMPTY after span masking;
        # null-text rows pass through untouched, matching
        # mask_dup_spans' own null-preserving contract (with default
        # clean_corpus settings nulls never reach this stage, but a
        # caller relaxing the quality stage keeps its rows — advisor r5)
        kept = mask_dup_spans(
            kept, id_col=id_col, text_col=text_col, k=span_dedup_k
        ).where(
            F.col(text_col).isNull() | (F.trim(F.col(text_col)) != "")
        )
        if truncate_lineage:
            kept = kept.localCheckpoint()
    span_masked = kept
    if eval_sets is not None:
        drop = contaminated_ids(
            span_masked,
            eval_sets,
            id_col=id_col,
            text_col=text_col,
            eval_id_col=id_col,
            eval_text_col=text_col,
            ngram=decontam_ngram,
            min_ratio=decontam_ratio,
        )
        held = []
        if fuzzy_decontam_threshold is not None:
            from ..cacheutil import attach_persisted, get_persisted
            from .decontam import near_contaminated_ids

            fuzzy_drop = near_contaminated_ids(
                span_masked,
                eval_sets,
                id_col=id_col,
                text_col=text_col,
                eval_id_col=id_col,
                eval_text_col=text_col,
                threshold=fuzzy_decontam_threshold,
            )
            held = get_persisted(fuzzy_drop)
            drop = drop.unionByName(fuzzy_drop).distinct()
        kept = span_masked.join(
            drop, span_masked[id_col] == drop["corpus_id"], "left_anti"
        )
        if held:
            kept = attach_persisted(kept, *held)
    if not audit:
        return CorpusPrep(kept=kept)
    quality_audit = clean_corpus(
        df, text_col=text_col, with_reasons=True, **clean_kwargs
    )
    return CorpusPrep(
        kept=kept,
        quality_audit=quality_audit,
        n_input=df.count(),
        n_after_quality=cleaned.count(),
        n_after_dedup=deduped.count(),
        n_after_span_mask=(
            span_masked.count() if span_dedup_k is not None else None
        ),
        n_after_cap=capped.count() if cap_per_group is not None else None,
        n_after_decontam=kept.count() if eval_sets is not None else None,
    )


def write_release(
    df: DataFrame,
    out_dir: str,
    split_col: str | None = "split",
    manifest_extra: dict | None = None,
    spark_for_fs=None,
    fingerprint: bool = True,
    require_claim: bool = False,
) -> dict:
    """Write a corpus release: parquet (hive-partitioned by
    ``split_col`` when the column exists — downstream trainers then
    prune to their split at the file level) plus a ``manifest.json``
    recording row counts per split, the schema, and any caller
    metadata (salts, thresholds, eval-set ids — everything needed to
    reproduce or audit the release). Returns the manifest dict.

    The manifest is driver-side by design: it holds per-release
    aggregates (a handful of rows), never data. Counts come from
    READING BACK the written parquet — exact for what's on disk (the
    upstream plan is not re-executed, so a non-deterministic or
    since-changed source can't make the manifest lie) and far cheaper
    than re-running the pipeline. The manifest writes through
    :mod:`..storage`: plain Python on a local ``out_dir``, the Hadoop
    FS API on any other scheme the cluster can reach (s3a://,
    hdfs://). ``spark_for_fs`` overrides the session used for the
    manifest's non-local FS access (mixed classic-Connect
    deployments); default is the frame's own session. Computed
    manifest keys WIN over ``manifest_extra`` collisions — it is an
    audit artifact."""
    import json

    from ..sources import write_partitioned

    spark = df.sparkSession
    data_path = f"{out_dir}/data.parquet"
    has_split = split_col is not None and split_col in df.columns
    if has_split:
        write_partitioned(df, data_path, [split_col])
    else:
        df.write.mode("overwrite").parquet(data_path)
    return _finalize_release_manifest(
        spark,
        spark_for_fs if spark_for_fs is not None else spark,
        out_dir,
        df.schema,
        split_col if has_split else None,
        manifest_extra,
        fingerprint=fingerprint,
        require_claim=require_claim,
    )


def _by_key(df: DataFrame, split_col: str, *aggs) -> dict:
    """Group ``df`` by ``split_col`` and collect one row of ``aggs``
    per partition, keyed by the partition's manifest key:
    ``coalesce(cast(split as string), '__null__')``. Spark renders the
    key, so it is the string hive names the partition's directory
    with and the one :func:`_key_filter` compares. Python's ``str()``
    differs for booleans ('True'), doubles ('1e-05' vs '1.0E-5'),
    floats and fractional timestamps — a key that names no directory
    makes the prune predicate miss the partition's existing rows.
    Keys are always strings, so ``json.dumps(sort_keys=True)`` never
    compares mixed key types."""
    key = F.coalesce(F.col(split_col).cast("string"), F.lit("__null__"))
    rows = df.groupBy(split_col).agg(*aggs).withColumn("__key", key)
    return {r["__key"]: r for r in rows.collect()}


def _key_filter(split_col: str, keys) -> Column:
    """Rows of the partitions with manifest keys ``keys``. Partition
    filters resolve driver-side against the catalog, so the cast
    costs nothing and the scan lists only matching directories (on a
    string split the cast is a no-op). A null split yields NULL, not
    false, unless '__null__' is among ``keys`` — negate through
    ``coalesce(..., False)``."""
    vals = [k for k in keys if k != "__null__"]
    cond = F.col(split_col).cast("string").isin(vals) if vals else F.lit(False)
    if "__null__" in keys:
        cond = cond | F.col(split_col).isNull()
    return cond


#: current fingerprint scheme, recorded in manifests as ``fp_scheme``.
#: Scheme 2 (r11) hashes each column to a long FIRST (xxhash64 of a
#: null input degenerates to the seed, so every column contributes
#: exactly one non-null long) and combines the longs positionally —
#: no string rendering. Scheme 1 (r8) rendered every cell to a
#: sentinel-prefixed string; it is kept so publishes onto releases
#: written before r11 compare against their stored fingerprints with
#: the identical expression (each publish inherits its BASE manifest's
#: scheme — a chain never mixes schemes).
FP_SCHEME = 2


def _xxhash64_rejects(dt) -> bool:
    """True when ``xxhash64`` refuses the type: MapType (unordered —
    hashing is ambiguous) or VariantType, at any nesting depth."""
    from pyspark.sql import types as T

    if isinstance(dt, T.MapType):
        return True
    if isinstance(dt, T.ArrayType):
        return _xxhash64_rejects(dt.elementType)
    if isinstance(dt, T.StructType):
        return any(_xxhash64_rejects(f.dataType) for f in dt.fields)
    return type(dt).__name__ == "VariantType"


def _fingerprint_agg(
    columns: list[str], scheme: int = FP_SCHEME, schema=None
) -> list:
    """Order-insensitive per-group content fingerprint: row count plus
    the decimal(38,0) SUM of xxhash64 over all columns (sorted by name
    so both sides of a compare build the identical expression).
    decimal(38,0) absorbs int64 hashes summed over ~1e18 rows without
    overflow; sum (not xor — Spark has no xor agg) keeps the compare a
    plain equality. A collision passing a CHANGED partition off as
    unchanged needs a 64-bit hash-sum collision at equal counts —
    negligible for release hygiene.

    Null-position safety (both schemes): Spark's xxhash64 SKIPS null
    arguments, so hashing raw columns together would make ("x", null)
    and (null, "x") in same-typed neighbours hash identically — a
    value shifting across a null between releases would silently pass
    the partition off as unchanged (caught by the r8 property test,
    fixed before first release).

    Scheme 2 (default, r11): hash each column separately —
    ``xxhash64(col)`` of a null is the bare seed, a non-null long, so
    every column occupies its position in the outer hash. Measured
    2.2x faster than scheme 1 (0.86 -> 0.39 s on the 600k x 5-col
    bench agg): no per-cell string rendering. Cost: the fingerprint
    sees PHYSICAL values, so a lossless retype (int->long) of
    identical data reads as changed and rewrites once — correctness
    never at stake, same one-publish-pays rule as schema evolution.

    Scheme 1 (legacy, r8): cells render to sentinel-prefixed strings
    ('v'+value vs ' null') before one combined hash — type-insensitive
    but pays a string render per cell.

    ``schema`` (r12, ADVICE r11): xxhash64 rejects MapType/VariantType
    anywhere in a column's type (AnalysisException unless the legacy
    allowHashOnMapType conf is set), so publishing a map-bearing table
    under scheme 2 failed where scheme 1's string render worked. With
    the frame's schema available, such columns fall back PER COLUMN to
    hashing the scheme-1 sentinel render — still one non-null long per
    column, so null-position safety holds. Both sides of a fingerprint
    compare pass their own frame's schema, which for the same logical
    table selects the same per-column expressions — fps stay
    comparable. Hashable columns keep the exact scheme-2 expression,
    so every previously-publishable table's fingerprints are
    unchanged."""
    if scheme == 1:
        parts = [
            F.coalesce(
                F.concat(F.lit("v"), F.col(c).cast("string")),
                F.lit(" null"),
            )
            for c in sorted(columns)
        ]
    else:
        unhashable = set()
        if schema is not None:
            unhashable = {
                f.name for f in schema.fields if _xxhash64_rejects(f.dataType)
            }
        parts = [
            F.xxhash64(
                F.coalesce(
                    F.concat(F.lit("v"), F.col(c).cast("string")),
                    F.lit(" null"),
                )
            )
            if c in unhashable
            else F.xxhash64(F.col(c))
            for c in sorted(columns)
        ]
    return [
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*parts).cast("decimal(38,0)")).alias("fp"),
    ]


def _finalize_release_manifest(
    spark,
    fs_spark,
    out_dir: str,
    schema,
    split_col: str | None,
    manifest_extra: dict | None,
    fingerprint: bool = True,
    known_fps: dict | None = None,
    require_claim: bool = False,
    fp_scheme: int = FP_SCHEME,
) -> dict:
    """Shared tail of every release write: read BACK what's on disk,
    compute per-split counts + content fingerprints in one scan, and
    write ``manifest.json``. Readback uses the frame's EXPLICIT schema
    so the hive partition column keeps its original type (inference
    would e.g. turn a string split "1" into an int and poison every
    future fingerprint compare).

    ``known_fps`` (r8): fingerprints the CALLER can prove — partitions
    whose files were hardlinked/copied verbatim from a prior version
    carry that version's manifest entries unchanged. The readback agg
    is then PARTITION-PRUNED to everything else, so an incremental
    publish's manifest costs a scan of the rewritten partitions only,
    not the corpus. Keys are manifest string keys ("__null__" for the
    hive default partition); values the usual {"n": int, "fp": str}.
    Only honored on the partitioned, fingerprint=True path.

    ``require_claim`` (r10, ADVICE r9): versioned publish paths pass
    True so the writer RE-VERIFIES its ``.CLAIM`` file right before
    the manifest lands — if a vacuum raced this writer and deleted
    the claimed dir mid-write, finalizing would silently re-create it
    WITH a manifest (an un-vacuumable phantom); instead the writer
    dies here with :class:`ReleaseConflictError`."""
    import json

    claim = f"{out_dir}/.CLAIM"
    if require_claim and storage.read_text(fs_spark, claim) is None:
        raise ReleaseConflictError(
            f"claim file vanished under {out_dir} before the manifest "
            "was finalized — the version dir was vacuumed or deleted "
            "while this publish was writing; re-run against the "
            "current base"
        )
    data_path = f"{out_dir}/data.parquet"
    try:
        back = spark.read.schema(schema).parquet(data_path)
    except Exception as exc:  # UNABLE_TO_INFER_SCHEMA
        # a partitioned overwrite of ZERO rows writes only _SUCCESS
        # (no parquet footers to infer from) — an empty release is a
        # legitimate dev/filtered-everything outcome and must still
        # produce a manifest, matching the non-partitioned branch
        # (whose empty part file reads back fine)
        if "UNABLE_TO_INFER_SCHEMA" not in str(exc):
            raise
        back = spark.createDataFrame([], schema)
    cols = [f.name for f in schema.fields]
    if not fingerprint:
        # counts-only: ~6x cheaper readback agg (measured +1.5s per
        # 600k x 12 cols — the casts+hash are per-cell CPU); the
        # manifest then cannot seed write_release_increment, which
        # falls back to a full rewrite. Opt out only for corpora
        # that never publish incrementally.
        if split_col is not None:
            counts = {
                k: r["n"]
                for k, r in _by_key(
                    back, split_col, F.count(F.lit(1)).alias("n")
                ).items()
            }
        else:
            counts = {"all": back.count()}
        fps = {}
    elif split_col is not None:
        if known_fps:
            # scan only the partitions the caller could NOT vouch
            # for (coalesce: a null split must not vanish from both)
            back = back.where(
                ~F.coalesce(_key_filter(split_col, known_fps), F.lit(False))
            )
        rows = _by_key(
            back, split_col,
            *_fingerprint_agg(cols, fp_scheme, schema=back.schema),
        )
        counts = {k: r["n"] for k, r in rows.items()}
        fps = {
            k: {"n": int(r["n"]), "fp": str(int(r["fp"]))}
            for k, r in rows.items()
        }
        for k, v in (known_fps or {}).items():
            counts[k] = int(v["n"])
            fps[k] = {"n": int(v["n"]), "fp": str(v["fp"])}
    else:
        row = back.agg(
            *_fingerprint_agg(cols, fp_scheme, schema=back.schema)
        ).collect()[0]
        counts = {"all": row["n"]}
        fps = (
            {"all": {"n": int(row["n"]), "fp": str(int(row["fp"]))}}
            if row["n"]
            else {}
        )
    manifest = {
        **(manifest_extra or {}),
        "row_counts": counts,
        "n_rows": int(sum(counts.values())),
        "schema": schema.jsonValue(),
        "partitioned_by": [split_col] if split_col is not None else [],
        "partition_fingerprints": fps,
        # which _fingerprint_agg expression produced fps — a future
        # publish onto this version must compare with the SAME scheme
        "fp_scheme": fp_scheme,
    }

    payload = json.dumps(manifest, indent=2, sort_keys=True)
    # re-check the claim AGAIN immediately before the manifest lands
    # (r10 review fix): the check at function entry fails fast, but
    # the fingerprint read-back above can run for minutes at corpus
    # scale — a vacuum racing THROUGH that window would delete the
    # claimed dir and this write would re-create it manifest-complete
    # (the exact un-vacuumable phantom the guard exists to prevent)
    if require_claim and storage.read_text(fs_spark, claim) is None:
        raise ReleaseConflictError(
            f"claim file vanished under {out_dir} during the manifest "
            "read-back — the version dir was vacuumed or deleted "
            "while this publish was scanning; re-run against the "
            "current base"
        )
    storage.write_text(fs_spark, f"{out_dir}/manifest.json", payload)
    return manifest


# ---------------------------------------------------------------------------
# versioned releases: atomic snapshot swap + retention (r7, VERDICT item 7).
# Every publisher — the six release ones here and the four IVF index
# ones in vecindex — goes through _publish (claim -> write ->
# base-checked swap -> retention) on ONE filesystem session; every
# pointer / manifest read goes through _current / _manifest.


class ReleaseConflictError(RuntimeError):
    """Another publisher raced this one (r9, VERDICT r8 item 3). The
    release sink is single-writer by contract; this error makes a
    lost race LOUD instead of last-writer-wins: either two writers
    claimed the same next version number (caught at claim time, before
    any data is written), or CURRENT moved between this publish's
    base read and its pointer swap (caught at swap time — the diff /
    append / merge was computed against a stale base). Recovery:
    re-read CURRENT and re-run the publish against the new base; the
    loser's version dir is un-published and deleted on the spot
    (:func:`_swap_or_abandon`, r10) — and if that best-effort cleanup
    is itself interrupted, the manifest-less remnant ages into
    :func:`vacuum_release_orphans` scope."""


def _current(fs_spark, root: str) -> str | None:
    """The version CURRENT points at, None when nothing is published.

    On a non-local root the pointer swap is delete-then-rename
    (:func:`storage.replace_text`), so a read can fall in the window
    with no CURRENT; a miss there is re-read a few times, 50 ms apart,
    before it counts as "nothing published". A local swap is
    ``os.replace``, never absent, so a local miss is final at once."""
    import time

    path = f"{root}/CURRENT"
    text = storage.read_text(fs_spark, path)
    if text is None and storage._local(fs_spark, root) is None:
        for _ in range(3):
            time.sleep(0.05)
            text = storage.read_text(fs_spark, path)
            if text is not None:
                break
    return text.strip() if text is not None else None


def _manifest(fs_spark, root: str, version: str) -> dict | None:
    """``version``'s parsed manifest, None when it is unpublished (a
    claimed or crashed dir), pruned, or never existed."""
    import json

    text = storage.read_text(
        fs_spark, f"{root}/versions/{version}/manifest.json"
    )
    return json.loads(text) if text is not None else None


def _publish(fs_spark, root: str, base: str | None, write, keep_versions):
    """The one publish protocol: claim the next version name, call
    ``write(vname, vdir) -> manifest``, swap CURRENT from ``base`` to
    it (:func:`_swap_or_abandon`), prune (:func:`_apply_retention`),
    and return the manifest. A ``write`` that raises leaves its
    claimed, manifest-less dir for :func:`vacuum_release_orphans` —
    nothing is deleted mid-write. The helpers are looked up as module
    globals at call time, so tests can intercept each step."""
    vname = _next_version_name(fs_spark, root)
    _claim_version(fs_spark, root, vname)
    manifest = write(vname, f"{root}/versions/{vname}")
    _swap_or_abandon(fs_spark, root, vname, base)
    _apply_retention(fs_spark, root, keep_versions, vname)
    return manifest


def _abandon(fs_spark, root: str, vname: str) -> None:
    """Un-publish a version that must never become visible: manifest
    first (the publishedness marker — an interrupted cleanup leaves a
    plain vacuumable orphan), then the dir. Only while a fresh read
    proves CURRENT does NOT point at ``vname`` — an error after a
    successful swap must never delete the version readers are on."""
    if _current(fs_spark, root) != vname:
        vdir = f"{root}/versions/{vname}"
        storage.delete(fs_spark, f"{vdir}/manifest.json")
        storage.delete(fs_spark, vdir, recursive=True)


def _claim_version(fs_spark, root: str, vname: str) -> None:
    """Claim ``vname`` by exclusive-creating its ``.CLAIM`` file — the
    fencing step of the concurrent-writer guard. Two publishers that
    both computed max(existing)+1 race here BEFORE writing any data:
    the loser gets :class:`ReleaseConflictError`. The claim is atomic
    where the store's exclusive create is (:func:`storage.create_exclusive`):
    ``O_EXCL`` on local roots, ``createNewFile`` on HDFS; object
    stores need an external lock. The claim file lives inside the
    version dir, so retention's recursive delete collects it and
    ``list_release_versions`` semantics are unchanged."""
    if not storage.create_exclusive(
        fs_spark, f"{root}/versions/{vname}/.CLAIM"
    ):
        raise ReleaseConflictError(
            f"version {vname} under {root} is already claimed by "
            "another publisher — the release sink is single-writer; "
            "re-read CURRENT and re-run against the new base"
        )


def _verify_base_and_swap(
    fs_spark, root: str, vname: str, base: str | None
) -> None:
    """Publish ``vname`` only if CURRENT still equals ``base`` (the
    pointer this publish read when it started): re-read before the
    swap, raise :class:`ReleaseConflictError` on movement — an
    increment/append/merge computed against a stale base must not
    overwrite the interleaved publish — then swap and re-read to
    verify this publish won (closes the check→swap window to a
    read-after-write check; with version claims already serializing
    same-number races, a silent lost swap would need two publishers
    racing DIFFERENT version numbers inside that sub-ms window and
    is detected here anyway)."""
    cur = _current(fs_spark, root)
    if cur != base:
        raise ReleaseConflictError(
            f"CURRENT under {root} moved from {base!r} to {cur!r} "
            f"while version {vname} was being written — this publish "
            "was computed against a stale base; re-read CURRENT and "
            "re-run (the losing version dir is deleted by the publish "
            "path; any interrupted remnant is vacuumable)"
        )
    _swap_pointer(fs_spark, root, vname)
    after = _current(fs_spark, root)
    if after != vname:
        # the swap SUCCEEDED and was then overwritten — this version
        # was briefly CURRENT: a reader may have resolved it, and the
        # overwriting publish may have taken it as its base, so the
        # loser's dir must NOT be cleaned up (r10 review fix —
        # _swap_or_abandon keys off this marker). It stays published
        # but not current, which is exactly what happened.
        exc = ReleaseConflictError(
            f"pointer swap for {vname} under {root} was overwritten "
            f"by a concurrent publish of {after!r} — {vname} was "
            "briefly CURRENT and remains a published, superseded "
            "version (not cleaned up: it may be the winner's base or "
            "a reader's snapshot)"
        )
        exc.was_published = True
        raise exc


def _swap_or_abandon(fs_spark, root: str, vname: str, base: str | None):
    """:func:`_verify_base_and_swap`, but a FAILED publish also
    un-publishes the loser's version dir before re-raising (ADVICE
    r9, medium). The manifest was already finalized when this runs —
    it must be, since readers define "published" as manifest-present
    — so without the cleanup a lost race would leave a
    manifest-complete but never-current dir that looks published
    forever: ``release_changes``' default from_version could pick it,
    ``rollback_release`` would accept it, retention would count it
    toward keep_versions, ``release_history`` would report it
    published, and :func:`vacuum_release_orphans` (which only removes
    manifest-LESS dirs) could never reclaim it.

    The cleanup is :func:`_abandon` (manifest first, only while
    CURRENT is not ``vname``) and best-effort: if even it fails, the
    orphan keeps its claim file and ages into
    :func:`vacuum_release_orphans` scope."""
    try:
        _verify_base_and_swap(fs_spark, root, vname, base)
    except Exception as exc:
        # post-swap losses keep their dir (r10 review fix): the
        # version WAS CURRENT for a moment — a reader may be mid-scan
        # on it and the overwriting publish may record it as base —
        # so only a publish that never became visible cleans up
        if not getattr(exc, "was_published", False):
            try:
                _abandon(fs_spark, root, vname)
            except Exception:
                pass
        raise


def _swap_pointer(spark, root: str, version: str) -> None:
    """Publish ``version`` by replacing the CURRENT pointer file
    (:func:`storage.replace_text`: the new content lands fully in
    CURRENT.tmp, then takes CURRENT's place). On local roots that is
    ``os.replace`` — atomic, CURRENT never absent. On Hadoop schemes
    it is delete-then-rename — on HDFS a sub-ms window with no
    CURRENT, in which a reader finds nothing published; plain object
    stores lack atomic rename — there, front this layout with a real
    table format (Delta/Iceberg) or a conditional-put pointer. This
    module is the documented offline stand-in (COVERAGE.md gap note):
    the LAYOUT (immutable version dirs + one tiny mutable pointer) is
    exactly the table-format idea, minus the jars."""
    storage.replace_text(spark, f"{root}/CURRENT", version)


def _next_version_name(fs_spark, root: str) -> str:
    """max(existing)+1 — orphan dirs from crashed writers advance the
    counter so a new publish never lands inside one."""
    existing = list_release_versions(fs_spark, root)
    return f"v{(int(existing[-1][1:]) + 1) if existing else 1:08d}"


def _reused_dirs(
    fs_spark, old_data: str, split_col: str, reused: list
) -> dict:
    """Directory name under ``old_data`` of each ``reused`` manifest
    key, from one listing. A key that names no directory raises here,
    before the caller claims a version or writes a byte."""
    if not reused:
        return {}
    old_dirs = _list_partition_dirs(fs_spark, old_data, split_col)
    missing = [k for k in reused if k not in old_dirs]
    if missing:
        raise IOError(
            f"partitions {missing!r} are in the base manifest but "
            f"their directories are missing under {old_data}"
        )
    return {k: old_dirs[k] for k in reused}


def _copy_reused_partitions(
    fs_spark, old_data: str, data_path: str, dirs: dict
) -> None:
    """Carry the base's partition ``dirs`` (:func:`_reused_dirs`)
    forward into ``data_path`` file-identical."""
    for name in dirs.values():
        storage.copy_tree(
            fs_spark,
            storage.child(old_data, name),
            storage.child(data_path, name),
        )


def _published_versions(fs_spark, root: str) -> list[str]:
    """Sorted versions with a manifest — the ones readers can open."""
    return [
        v
        for v in list_release_versions(fs_spark, root)
        if _manifest(fs_spark, root, v) is not None
    ]


def _apply_retention(
    fs_spark, root: str, keep_versions: int | None, vname: str
) -> None:
    """Prune all but the newest ``keep_versions`` PUBLISHED versions
    (manifest present — a crashed writer's orphan dir must not consume
    a retention slot, r7 review fix), never the one just published."""
    if keep_versions is None or keep_versions < 1:
        return
    for old_v in _published_versions(fs_spark, root)[:-keep_versions]:
        if old_v == vname:
            continue
        storage.delete(fs_spark, f"{root}/versions/{old_v}", recursive=True)


def write_release_version(
    df: DataFrame,
    root: str,
    split_col: str | None = "split",
    manifest_extra: dict | None = None,
    keep_versions: int | None = None,
    spark_for_fs=None,
    fingerprint: bool = True,
) -> dict:
    """Write an IMMUTABLE versioned release snapshot and publish it
    atomically:

    ``root/versions/v<8-digit>/``  — data.parquet + manifest.json
    ``root/CURRENT``               — tiny pointer file, swapped LAST

    Readers (:func:`read_release`) resolve CURRENT first and then
    only ever open a fully-written version directory, so a writer
    crash mid-snapshot leaves an orphan dir but can never expose a
    torn release; a reader that resolved v1 before a publish keeps
    reading v1's immutable files after it (asserted by the
    concurrent-reader test). Single-writer by contract, DETECTED by
    the r9 guard: a racing publisher loses at version-claim or
    pointer-swap time with :class:`ReleaseConflictError` instead of
    silently winning last (the IVF append path still needs external
    serialization).

    ``keep_versions=N`` prunes all but the newest N version dirs
    AFTER the swap — never the one CURRENT points to, and always
    leaving the pointer's target readable. Like a table format's
    VACUUM, pruning deletes files a still-running reader of that OLD
    version may be mid-scan on: size N to exceed the longest reader
    lifetime in publish cycles (N>=2 gives one full cycle of grace;
    the default None never prunes). Returns the manifest with
    ``version`` added.

    Concurrent publishers are DETECTED, not merged (r9): the next
    version number is claimed atomically before any data is written
    and CURRENT is re-checked against the base this publish started
    from before the swap — a lost race raises
    :class:`ReleaseConflictError` instead of last-writer-wins."""
    fs_spark = spark_for_fs or df.sparkSession

    def write(vname: str, vdir: str) -> dict:
        return write_release(
            df,
            vdir,
            split_col=split_col,
            manifest_extra={**(manifest_extra or {}), "version": vname},
            spark_for_fs=spark_for_fs,
            fingerprint=fingerprint,
            require_claim=True,
        )

    return _publish(
        fs_spark, root, _current(fs_spark, root), write, keep_versions
    )


def _require_fingerprinted(old: dict, split_col: str | None, fn: str):
    """Refuse a base release that cannot be extended partition by
    partition: it must be partitioned by ``split_col`` alone and carry
    fingerprints. An EMPTIED release (every row merged/deleted away)
    has {} fingerprints but IS fingerprinted — refusing it would
    strand the corpus at zero rows forever (hypothesis r9)."""
    if (
        split_col is None
        or old.get("partitioned_by") != [split_col]
        or (
            not old.get("partition_fingerprints")
            and old.get("n_rows", -1) != 0
        )
    ):
        raise ValueError(
            f"{fn} needs a fingerprinted release partitioned by one "
            f"split column that the frame carries (got {split_col!r}) — "
            "publish via write_release_version/increment first (or fix "
            "split_col)"
        )


def _delta_writer(
    spark, fs_spark, root: str, old: dict, schema, split_col: str,
    frame: DataFrame | None, extra: dict,
):
    """The ``write`` step of a publish built on the base version
    ``extra["incremental"]["base_version"]``: ``frame`` (None when no
    partition is rewritten) lands as the rewritten partitions, the
    ``reused`` ones are hardlinked forward with their manifest entries
    carried verbatim — so the readback agg scans only the rewritten
    partitions (r8: manifest cost ∝ changes, not corpus) — and
    ``extra`` plus the version name become the manifest's extra keys.
    Fingerprints use the base's scheme, so a chain never mixes
    schemes. The reused dirs are listed here, once, so a base manifest
    key that names no directory fails before the publish claims a
    version."""
    from ..sources import write_partitioned

    inc = extra["incremental"]
    old_data = f"{root}/versions/{inc['base_version']}/data.parquet"
    known = {k: old["partition_fingerprints"][k] for k in inc["reused"]}
    dirs = _reused_dirs(fs_spark, old_data, split_col, inc["reused"])

    def write(vname: str, vdir: str) -> dict:
        data_path = f"{vdir}/data.parquet"
        if frame is not None:
            write_partitioned(frame, data_path, [split_col])
        _copy_reused_partitions(fs_spark, old_data, data_path, dirs)
        return _finalize_release_manifest(
            spark,
            fs_spark,
            vdir,
            schema,
            split_col,
            {**extra, "version": vname},
            known_fps=known,
            require_claim=True,
            fp_scheme=int(old.get("fp_scheme", 1)),
        )

    return write


def _list_partition_dirs(spark, data_path: str, split_col: str) -> dict:
    """Map hive partition VALUE (as the manifest's string key;
    ``__null__`` for the default partition) -> directory NAME under
    ``data_path``. Listing only — no data read."""
    from urllib.parse import unquote

    prefix = f"{split_col}="
    out = {}
    for name, is_dir in storage.list_dir(spark, data_path):
        if not is_dir or not name.startswith(prefix):
            continue
        val = unquote(name[len(prefix):])
        out["__null__" if val == "__HIVE_DEFAULT_PARTITION__" else val] = name
    return out


def write_release_increment(
    df: DataFrame,
    root: str,
    split_col: str | None = "split",
    manifest_extra: dict | None = None,
    keep_versions: int | None = None,
    spark_for_fs=None,
) -> dict:
    """Publish version N+1 REUSING the current version's unchanged
    partitions instead of rewriting the full corpus — the offline
    approximation of a table format's MERGE/snapshot-reuse (r8,
    VERDICT r7 item 7).

    Mechanics: the current manifest carries per-partition content
    fingerprints (count + xxhash64 sum, recorded from the readback
    scan at publish time, so an increment never re-reads old data).
    One aggregation scan over the NEW frame computes the same
    fingerprints; partitions with equal (n, fp) are HARDLINKED
    (local) or FS-copied (remote) from the current version's
    immutable dir, and only changed/new partitions go through a
    Spark write. Partitions absent from the new frame are dropped.
    The result is indistinguishable to readers from a full
    :func:`write_release_version` publish — same layout, same
    manifest shape, same atomic CURRENT swap, same retention — plus
    an ``incremental`` audit block listing reused / rewritten /
    removed partition keys.

    At 100 TB this is the difference between a nightly publish
    rewriting the whole corpus and one rewriting the handful of
    partitions the pipeline actually touched: reuse is O(files)
    metadata work, and the Spark job scans/writes only
    ``df.filter(split IN changed)`` (partition-pruned at the source
    when the input is itself split-partitioned).

    Falls back to a full :func:`write_release_version` when nothing
    is published yet, the frame has no ``split_col``, or the current
    manifest predates fingerprints / used a different layout. Null
    splits always rewrite (no typed equality for the hive default
    partition). Single-writer, like the full path — a racing
    publisher raises :class:`ReleaseConflictError` (r9 guard)."""
    spark = df.sparkSession
    fs_spark = spark_for_fs if spark_for_fs is not None else spark
    cur = _current(fs_spark, root)
    has_split = split_col is not None and split_col in df.columns
    old = _manifest(fs_spark, root, cur) if cur is not None else None
    if (
        not has_split
        or old is None
        or old.get("partitioned_by") != [split_col]
        or not old.get("partition_fingerprints")
    ):
        return write_release_version(
            df, root, split_col, manifest_extra, keep_versions,
            spark_for_fs,
        )
    old_fps = old["partition_fingerprints"]
    # compare with the SAME expression that produced the stored fps
    fp_scheme = int(old.get("fp_scheme", 1))
    new_fps = {
        k: {"n": int(r["n"]), "fp": str(int(r["fp"]))}
        for k, r in _by_key(
            df, split_col,
            *_fingerprint_agg(df.columns, fp_scheme, schema=df.schema),
        ).items()
    }
    if not new_fps:
        # empty release: nothing to reuse or link — the full path
        # already handles the zero-row partitioned write + manifest
        return write_release_version(
            df, root, split_col, manifest_extra, keep_versions,
            spark_for_fs,
        )
    reused = sorted(
        k for k, v in new_fps.items()
        if k != "__null__" and old_fps.get(k) == v
    )
    rewritten = sorted(k for k in new_fps if k not in reused)
    write = _delta_writer(
        spark, fs_spark, root, old, df.schema, split_col,
        df.filter(_key_filter(split_col, rewritten)) if rewritten else None,
        {
            **(manifest_extra or {}),
            "incremental": {
                "base_version": cur,
                "reused": reused,
                "rewritten": rewritten,
                "removed": sorted(k for k in old_fps if k not in new_fps),
            },
        },
    )
    return _publish(fs_spark, root, cur, write, keep_versions)


def _check_release_schema(
    batch_cols: list[str], old_cols: list[str], allow_new_columns: bool,
    fn: str,
) -> list[str]:
    """Schema-drift policy shared by append/merge (r9): identical
    columns always pass; ``allow_new_columns=True`` additionally
    permits a WIDER batch (schema evolution — the new version's
    manifest schema becomes the union, rewritten partitions carry the
    new columns, hardlinked ones read back with NULLs via the
    manifest-schema scan in :func:`read_release`, exactly a table
    format's ADD COLUMN). Dropping columns is always refused — a
    narrower batch would fork the schema between rewritten and
    hardlinked partitions with data LOSS on the rewrite. Returns the
    batch's new columns ([] when none). One cost note, recorded in
    the manifest: reused partitions keep fingerprints computed over
    the OLD columns, so the next fingerprint-comparing publish
    (increment / merge no-op detection) sees them as changed and
    rewrites once — correctness is never at stake, one publish pays
    the evolution."""
    if sorted(batch_cols) == sorted(old_cols) or not old_cols:
        return []
    dropped = [c for c in old_cols if c not in set(batch_cols)]
    new_cols = [c for c in batch_cols if c not in set(old_cols)]
    if dropped or not allow_new_columns:
        hint = (
            " (pass allow_new_columns=True to evolve the schema with "
            "a wider batch)"
            if new_cols and not dropped
            else ""
        )
        raise ValueError(
            f"{fn}: batch columns {sorted(batch_cols)} != current "
            f"release columns {sorted(old_cols)} — align the batch "
            f"schema{hint}"
        )
    return new_cols


def _align_current_to_batch(
    current: DataFrame, batch_df: DataFrame
) -> DataFrame:
    """Project the current release onto the batch's (possibly wider)
    column set: existing columns pass through, evolved columns
    backfill as typed NULLs — the read-side half of ADD COLUMN."""
    have = set(current.columns)
    return current.select(
        *[
            F.col(c)
            if c in have
            else F.lit(None).cast(batch_df.schema[c].dataType).alias(c)
            for c in batch_df.columns
        ]
    )


def write_release_append(
    batch_df: DataFrame,
    root: str,
    split_col: str | None = "split",
    manifest_extra: dict | None = None,
    keep_versions: int | None = None,
    spark_for_fs=None,
    allow_new_columns: bool = False,
) -> dict:
    """Publish version N+1 = CURRENT ∪ ``batch_df`` with cost ∝ the
    BATCH, not the corpus (r8) — the append/ingest shape of the
    release sink, the offline equivalent of a table-format APPEND
    commit.

    Where :func:`write_release_increment` takes the caller's full
    corpus frame and fingerprint-scans it, this takes only the NEW
    rows: one fingerprint aggregation over the batch finds the
    touched partitions; untouched partitions hardlink forward with
    their manifest entries carried verbatim (no scan, no hash);
    touched partitions rewrite as (current rows of that partition —
    a PARTITION-PRUNED read of the immutable current version — union
    the batch's rows). The manifest readback prunes the same way. At
    100 TB a daily ingest therefore reads and writes ~the day's
    partitions; the other 364 days are O(files) metadata work, every
    publish still an atomic CURRENT swap with full-corpus manifests.

    Falls back to a full :func:`write_release_version` of the batch
    when nothing is published yet (the batch IS the corpus), and
    refuses when the current release predates fingerprints or is not
    partitioned by ``split_col`` — appending blind would silently
    drop the existing corpus. At-least-once callers must guard
    replays themselves (double-append = duplicate rows):
    :func:`release_publish_foreach_batch` does it with the
    manifest's ``through_batch_id``. Single-writer, like the rest of
    the sink — a racing publisher raises
    :class:`ReleaseConflictError` (r9 guard)."""
    spark = batch_df.sparkSession
    fs_spark = spark_for_fs if spark_for_fs is not None else spark
    cur = _current(fs_spark, root)
    old = _manifest(fs_spark, root, cur) if cur is not None else None
    if old is None:
        return write_release_version(
            batch_df, root, split_col, manifest_extra, keep_versions,
            spark_for_fs,
        )
    has_split = split_col is not None and split_col in batch_df.columns
    _require_fingerprinted(
        old, split_col if has_split else None, "write_release_append"
    )
    old_cols = sorted(
        f["name"] for f in old.get("schema", {}).get("fields", [])
    )
    new_cols = _check_release_schema(
        list(batch_df.columns), old_cols, allow_new_columns,
        "write_release_append",
    )
    touched = sorted(
        _by_key(batch_df, split_col, F.count(F.lit(1)).alias("n"))
    )
    if not touched:  # empty batch: nothing to publish
        return old
    # read the current version with the manifest's EXPLICIT schema:
    # hive partition-type inference has no boolean case (a split=true
    # dir comes back as string), and a coerced union would poison the
    # rewrite's types vs the hardlinked partitions
    from pyspark.sql.types import StructType

    current = spark.read.schema(
        StructType.fromJson(old["schema"])
    ).parquet(f"{root}/versions/{cur}/data.parquet")
    merged = _align_current_to_batch(current, batch_df).where(
        _key_filter(split_col, touched)
    ).unionByName(batch_df)
    write = _delta_writer(
        spark, fs_spark, root, old, batch_df.schema, split_col, merged,
        {
            **(manifest_extra or {}),
            "incremental": {
                "base_version": cur,
                "reused": sorted(
                    k for k in old["partition_fingerprints"]
                    if k not in touched
                ),
                "rewritten": touched,
                "removed": [],
                "append": True,
                **({"new_columns": new_cols} if new_cols else {}),
            },
        },
    )
    return _publish(fs_spark, root, cur, write, keep_versions)


def write_release_merge(
    updates: DataFrame,
    root: str,
    id_col: str = "doc_id",
    split_col: str | None = "split",
    deletes: DataFrame | None = None,
    check_id_migration: bool = False,
    manifest_extra: dict | None = None,
    keep_versions: int | None = None,
    spark_for_fs=None,
    allow_new_columns: bool = False,
) -> dict:
    """Publish version N+1 = CURRENT with ``updates`` UPSERTED by
    ``id_col`` (matched ids replaced, new ids inserted) and
    ``deletes``' ids removed — the emulated table-format ACID MERGE
    (r9, VERDICT r8 item 2): cost ∝ the partitions containing the
    touched KEYS, not the corpus.

    Where :func:`write_release_append` can only add rows and
    :func:`write_release_increment` needs the caller's FULL corpus
    frame, this takes just the changed rows: touched partitions are
    the distinct ``split_col`` values in ``updates``/``deletes`` (so
    both must carry the column); each is rewritten as (current rows
    of that partition whose id matches no update/delete — a
    PARTITION-PRUNED read of the immutable current version — union
    the update rows); every other partition hardlinks forward with
    its manifest entry carried verbatim, exactly like append. At
    100 TB a 1%-of-rows merge therefore reads and writes ~the
    partitions those rows live in; the rest is O(files) metadata.

    MERGE is IDEMPOTENT, which is its replay story (at-least-once
    foreachBatch callers need no batch-id guard): re-merging the same
    rows yields byte-identical partitions, detected by comparing the
    merged frame's fingerprints against the current manifest BEFORE
    writing — a no-op merge publishes nothing and returns the
    current manifest unchanged (one pruned aggregation scan, no
    version bump, no write).

    Contracts (all refused loudly, like append): a release must
    exist (nothing published → the updates are NOT the corpus — use
    write_release_version), it must be fingerprinted and partitioned
    by ``split_col``, update/delete schemas must match the release
    (a narrower updates frame would fork the schema between rewritten
    and hardlinked partitions), and ``updates`` must be unique by
    ``id_col`` (two updates for one id would both insert). One
    contract is the caller's: an id's ``split_col`` value must not
    change between releases — the old copy would survive in its
    untouched old partition while the update lands in the new one.
    ``check_id_migration=True`` verifies this with one column-pruned
    scan of the UNTOUCHED partitions' (id, split) pairs semi-joined
    against the update ids (O(corpus ids) read, zero shuffle of
    payloads — turn it on when ids CAN move, off when the pipeline
    pins split at creation). ``deletes`` needs only
    (``id_col``, ``split_col``). Single-writer with the same r9
    claim + base-check guard as every publish path."""
    from pyspark.sql.types import StructType

    spark = updates.sparkSession
    fs_spark = spark_for_fs if spark_for_fs is not None else spark
    cur = _current(fs_spark, root)
    if cur is None:
        raise ValueError(
            "write_release_merge: nothing published under "
            f"{root} — a merge needs a base release (publish via "
            "write_release_version first)"
        )
    old = _manifest(fs_spark, root, cur)
    if old is None:
        raise ValueError(
            f"write_release_merge: CURRENT points at {cur} but it has "
            f"no manifest under {root} — repair or rollback first"
        )
    if id_col not in updates.columns:
        raise ValueError(
            f"write_release_merge: updates lack id column {id_col!r}"
        )
    has_split = split_col is not None and split_col in updates.columns
    _require_fingerprinted(
        old, split_col if has_split else None, "write_release_merge"
    )
    old_cols = sorted(
        f["name"] for f in old.get("schema", {}).get("fields", [])
    )
    new_cols = _check_release_schema(
        list(updates.columns), old_cols, allow_new_columns,
        "write_release_merge",
    )
    if deletes is not None:
        missing = [
            c for c in (id_col, split_col) if c not in deletes.columns
        ]
        if missing:
            raise ValueError(
                f"write_release_merge: deletes lack columns {missing} "
                f"— it needs ({id_col!r}, {split_col!r})"
            )
    old_fps = old["partition_fingerprints"]

    # touched partitions + update-id uniqueness in ONE bounded pass
    # over the batch-sized updates frame (driver rows <= #partitions)
    upd_parts = _by_key(
        updates, split_col,
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(F.col(id_col)).alias("n_ids"),
        F.count_if(F.col(id_col).isNull()).alias("n_null"),
    )
    dups = [
        k for k, r in upd_parts.items()
        if r["n"] != r["n_ids"] or r["n_null"]
    ]
    if dups:
        raise ValueError(
            "write_release_merge: updates are not unique/non-null by "
            f"{id_col!r} in partitions {dups} — a duplicate "
            "or null update id would corrupt the upsert"
        )
    touched = set(upd_parts)
    if deletes is not None:
        touched |= set(
            _by_key(deletes, split_col, F.count(F.lit(1)).alias("n"))
        )
    if not touched:  # empty merge: nothing to publish
        return old

    current = spark.read.schema(
        StructType.fromJson(old["schema"])
    ).parquet(f"{root}/versions/{cur}/data.parquet")
    cond = _key_filter(split_col, touched)
    pruned = _align_current_to_batch(current, updates).where(cond)

    matched_ids = updates.select(id_col)
    if deletes is not None:
        matched_ids = matched_ids.unionByName(deletes.select(id_col))
    survivors = pruned.join(
        matched_ids.distinct(), id_col, "left_anti"
    )
    merged = survivors.unionByName(updates)

    if check_id_migration:
        # ~cond alone would DROP null-split rows when '__null__' is
        # not among the touched partitions: isin() is NULL (not
        # false) for a null split, and ~NULL = NULL filters the row
        # out — update ids living in the hive default partition would
        # silently escape the check (ADVICE r9)
        untouched = current.select(id_col, split_col).where(
            ~F.coalesce(cond, F.lit(False))
        )
        moved = (
            untouched.join(
                matched_ids.distinct(), id_col, "left_semi"
            )
            .limit(5)
            .collect()
        )
        if moved:
            raise ValueError(
                "write_release_merge: update/delete ids "
                f"{[r[id_col] for r in moved]} live in partitions the "
                "batch does not touch — an id's split must not change "
                "across a merge (delete+insert explicitly instead)"
            )

    # idempotent-replay fast path: fingerprint the would-be result of
    # every touched partition (one pruned agg over merged) and skip
    # the publish when nothing actually changes
    new_fps = {
        k: {"n": int(r["n"]), "fp": str(int(r["fp"]))}
        for k, r in _by_key(
            merged, split_col,
            *_fingerprint_agg(
                updates.columns, int(old.get("fp_scheme", 1)),
                schema=merged.schema,
            ),
        ).items()
    }
    if all(old_fps.get(k) == new_fps.get(k) for k in touched):
        return old
    write = _delta_writer(
        spark, fs_spark, root, old, updates.schema, split_col, merged,
        {
            **(manifest_extra or {}),
            "incremental": {
                "base_version": cur,
                "reused": sorted(k for k in old_fps if k not in touched),
                # a touched partition whose every row was deleted
                # vanishes from the new version — audit it as removed
                "rewritten": sorted(k for k in touched if k in new_fps),
                "removed": sorted(k for k in touched if k not in new_fps),
                "merge": True,
                **({"new_columns": new_cols} if new_cols else {}),
            },
        },
    )
    return _publish(fs_spark, root, cur, write, keep_versions)


def release_merge_foreach_batch(
    release_root: str,
    id_col: str = "doc_id",
    split_col: str | None = "split",
    keep_versions: int | None = None,
    manifest_extra: dict | None = None,
):
    """``foreachBatch`` handler publishing each micro-batch as an
    UPSERT into the current release via :func:`write_release_merge`
    (r9) — the streaming shape for corpora whose rows are REVISED in
    place (crawl re-fetches, re-scored documents), where
    :func:`release_publish_foreach_batch`'s append would duplicate
    ids.

    No batch-id replay guard is needed, BY CONSTRUCTION: merge is
    idempotent, so an at-least-once redelivery fingerprints to the
    already-current partitions and publishes nothing (no version
    bump). That also makes this handler safe to interleave with other
    publishers of the same root — each batch merges into whatever
    CURRENT it finds, and the r9 claim/base-check guard turns a
    genuine write-write race into a typed error instead of silent
    loss. The first batch against an empty root publishes itself as
    v1 (the batch is the corpus so far). foreachBatch serializes
    handler calls within one stream; empty batches are no-ops."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.head(1):
            return  # empty batch: nothing to merge
        if _current(batch_df.sparkSession, release_root) is None:
            write_release_version(
                batch_df,
                release_root,
                split_col=split_col,
                keep_versions=keep_versions,
                manifest_extra={
                    **(manifest_extra or {}),
                    "through_batch_id": int(batch_id),
                },
            )
            return
        write_release_merge(
            batch_df,
            release_root,
            id_col=id_col,
            split_col=split_col,
            keep_versions=keep_versions,
            manifest_extra={
                **(manifest_extra or {}),
                "through_batch_id": int(batch_id),
            },
        )

    return handle


def release_publish_foreach_batch(
    release_root: str,
    split_col: str | None = "split",
    keep_versions: int | None = None,
    manifest_extra: dict | None = None,
    stream_id: str | None = None,
):
    """``foreachBatch`` handler (same shape as
    ``vecindex.ivf_append_foreach_batch``): continuous corpus
    releases from a stream, with NO staging area. Each micro-batch
    publishes version N+1 = CURRENT ∪ batch through
    :func:`write_release_append` — cost ∝ the batch: untouched
    partitions hardlink forward with their manifest entries carried
    verbatim, and only the splits the batch touched are read (a
    partition-pruned scan of the immutable current version) and
    rewritten.

    Replay safety without staging slots: every publish records its
    ``through_batch_id``; foreachBatch is at-least-once, so a
    replayed batch whose id is <= the current manifest's recorded id
    is a NO-OP (the rows are already in CURRENT; appending them
    again would duplicate). Batch ids are scoped to the stream's
    CHECKPOINT — a stream restarted with a fresh checkpoint restarts
    at batch 0 — so ``stream_id`` is REQUIRED (any stable name for
    the checkpoint lineage; the checkpoint path is the natural
    choice): a publish stamped with a DIFFERENT stream_id ignores
    the stored through_batch_id instead of silently dropping data,
    and a ``None`` default would make that unsafe mode the silent
    default (ADVICE r8). When lineage differs the handler PUBLISHES
    (correct for a genuine fresh checkpoint) and warns — an
    interleaved non-stream publish disables replay protection for
    the next batch, so a replayed batch there appends duplicates.
    Publish cadence == batch cadence by design — size publishes with
    the stream trigger (``processingTime`` / ``availableNow``), not
    by skipping batches. foreachBatch serializes handler calls,
    which is the release sink's single-writer contract; readers
    always resolve an atomic CURRENT snapshot, and a crashed publish
    leaves an orphan version dir, never a torn release."""
    import warnings

    if stream_id is None:
        raise ValueError(
            "release_publish_foreach_batch: stream_id is required — "
            "pass a stable name for the stream's checkpoint lineage "
            "(the checkpointLocation path is the natural choice). "
            "Without it a stream restarted from a fresh checkpoint "
            "(batch ids reset to 0) would be silently skipped as "
            "already-published."
        )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        cur = _current(spark, release_root)
        if cur is not None:
            man = _manifest(spark, release_root, cur) or {}
            same_lineage = man.get("stream_id") == stream_id
            if same_lineage and int(
                man.get("through_batch_id", -1)
            ) >= batch_id:
                return  # replayed batch: already published
            if not same_lineage and "through_batch_id" in man:
                warnings.warn(
                    "release_publish_foreach_batch: current release "
                    f"was published by lineage {man.get('stream_id')!r}"
                    f", not {stream_id!r} — replay protection does not "
                    "apply to this batch (correct for a fresh "
                    "checkpoint; duplicate-prone if batches of THIS "
                    "lineage were already published and interleaved "
                    "with other publishers)",
                    stacklevel=2,
                )
        if not batch_df.head(1):
            return  # empty batch: nothing to append
        write_release_append(
            batch_df,
            release_root,
            split_col=split_col,
            keep_versions=keep_versions,
            manifest_extra={
                **(manifest_extra or {}),
                "through_batch_id": int(batch_id),
                "stream_id": stream_id,
            },
        )

    return handle


def list_release_versions(spark, root: str) -> list[str]:
    """Sorted version names under ``root/versions`` (fully-written or
    not — use the manifest's presence / CURRENT to judge
    publishability)."""
    return sorted(
        name
        for name, _ in storage.list_dir(spark, f"{root}/versions")
        if name.startswith("v") and name[1:].isdigit()
    )


def compact_release_version(
    spark,
    root: str,
    max_files_per_partition: int = 1,
    keep_versions: int | None = None,
) -> dict:
    """Publish version N+1 with every fragmented partition's files
    REWRITTEN into at most ``max_files_per_partition`` files — the
    table-format OPTIMIZE/compaction step (r9). Many small appends /
    merges leave partitions with one file per publish; at 100 TB that
    is a file-listing and open-cost tax on every reader, and parquet
    row groups too small for effective column-chunk encoding.

    Shape: partitions already at or under the target hardlink forward
    untouched (O(files) metadata); fragmented ones are read back
    (partition-pruned scan of the immutable current version) and
    rewritten via ONE job — ``repartition(split)`` lands each hive
    partition in one task, so each writes ``max_files...=1`` file
    (the default; higher targets split by records). CONTENT EQUALITY
    IS PROVEN, not assumed: the manifest readback recomputes each
    compacted partition's fingerprint, and a mismatch with the
    current manifest raises before the pointer swap — a compaction
    can never silently alter the corpus. No-op (nothing fragmented)
    publishes nothing and returns the current manifest. Single-writer
    with the same claim/base-check guard as every publish path."""
    from pyspark.sql.types import StructType

    cur = _current(spark, root)
    if cur is None:
        raise FileNotFoundError(
            f"no CURRENT pointer under {root} — nothing to compact"
        )
    old = _manifest(spark, root, cur)
    if old is None:
        raise ValueError(
            f"compact_release_version: {cur} has no readable manifest"
        )
    parts = old.get("partitioned_by") or []
    split_col = parts[0] if len(parts) == 1 else None
    # the equality proof compares per-partition fingerprints
    _require_fingerprinted(old, split_col, "compact_release_version")
    old_fps = old["partition_fingerprints"]
    old_data = f"{root}/versions/{cur}/data.parquet"

    counts = {
        key: sum(
            1
            for f, _ in storage.list_dir(
                spark, storage.child(old_data, name)
            )
            if f.endswith(".parquet")
        )
        for key, name in _list_partition_dirs(
            spark, old_data, split_col
        ).items()
    }
    fragmented = sorted(
        k for k, n in counts.items() if n > max_files_per_partition
    )
    if not fragmented:
        return old

    schema = StructType.fromJson(old["schema"])
    current = spark.read.schema(schema).parquet(old_data)
    # repartition on the split column: each hive partition lands in
    # one task -> one output file (no global sort, one exchange)
    write = _delta_writer(
        spark, spark, root, old, schema, split_col,
        current.where(_key_filter(split_col, fragmented)).repartition(
            F.col(split_col)
        ),
        {
            "incremental": {
                "base_version": cur,
                "reused": sorted(
                    k for k in old_fps if k not in fragmented
                ),
                "rewritten": fragmented,
                "removed": [],
                "compaction": True,
            },
        },
    )

    def proven(vname: str, vdir: str) -> dict:
        # the equality proof: a compaction that changed ANY
        # partition's content must die before readers can see it,
        # abandoned like a lost race (no published-looking dir left)
        manifest = write(vname, vdir)
        for k in fragmented:
            got = manifest["partition_fingerprints"].get(k)
            if got != old_fps.get(k):
                _abandon(spark, root, vname)
                raise RuntimeError(
                    f"compaction of partition {k!r} changed its content "
                    f"fingerprint ({old_fps.get(k)} -> {got}) — aborting "
                    f"before the pointer swap; {vname} was abandoned, "
                    "CURRENT is unchanged"
                )
        return manifest

    return _publish(spark, root, cur, proven, keep_versions)


def vacuum_release_orphans(
    spark, root: str, grace_seconds: float = 3600.0
) -> list[str]:
    """Delete version dirs that will never publish (r9): crashed
    writers and losers of the r9 concurrent-writer races leave
    claimed-but-unpublished dirs (no manifest.json) that consume
    storage and advance the version counter's floor. Safe deletion
    rule: an unpublished dir is removed only when its number is <=
    CURRENT's — a HIGHER-numbered orphan may be a publish IN FLIGHT
    right now (its claim exists, its manifest doesn't yet) — AND its
    ``.CLAIM`` is older than ``grace_seconds`` (ADVICE r9): a
    lower-or-equal-numbered dir can ALSO belong to a live writer
    (it claimed vN while CURRENT was vN-1, then an interleaved
    publisher swapped in vN+1 — that writer will lose its base check,
    but deleting its dir mid-write would turn the intended
    ReleaseConflictError into an arbitrary FS/Spark write error).
    Size the grace past the longest publish duration;
    ``grace_seconds=0`` restores unconditional deletion for offline
    cleanup when no publishers can be running. The writer-side
    backstop is the finalize-time claim re-check
    (``require_claim`` in :func:`_finalize_release_manifest`), which
    stops a vacuumed-mid-write publisher from re-creating the dir
    with a manifest. Published dirs are retention's job, never
    touched here. Returns the deleted version names."""
    import time

    cur = _current(spark, root)
    if cur is None:
        return []  # nothing published: every dir may be in flight
    deleted = []
    for v in list_release_versions(spark, root):
        if int(v[1:]) > int(cur[1:]):
            continue
        if _manifest(spark, root, v) is not None:
            continue
        vdir = f"{root}/versions/{v}"
        if grace_seconds > 0:
            # age by the claim file (the moment the writer fenced);
            # pre-claim-era or claim-less dirs age by the dir itself
            age_base = storage.mtime(spark, f"{vdir}/.CLAIM")
            if age_base is None:
                age_base = storage.mtime(spark, vdir)
            if age_base is not None and (
                time.time() - age_base
            ) < grace_seconds:
                continue
        storage.delete(spark, vdir, recursive=True)
        deleted.append(v)
    return deleted


def release_history(spark, root: str) -> DataFrame:
    """Audit view of a release root (r9): one row per version dir —
    name, published (manifest present), current (the pointer's
    target), row count, publish kind (full / increment / append /
    merge / migrate / compaction) and base version. Driver-side metadata only
    (tiny manifest reads, no data scan) returned as a DataFrame so it
    composes with the rest of the audit tooling; the row count is the
    manifest's, never a recount. The "what happened to this corpus"
    question a release consumer asks before trusting CURRENT."""
    cur = _current(spark, root)
    rows = []
    for v in list_release_versions(spark, root):
        man = _manifest(spark, root, v)
        if man is None:
            rows.append((v, False, v == cur, None, "unpublished", None))
            continue
        inc = man.get("incremental") or {}
        kind = (
            "compaction" if inc.get("compaction")
            else "merge" if inc.get("merge")
            else "append" if inc.get("append")
            else "migrate" if inc.get("migrate")
            else "increment" if inc
            else "full"
        )
        rows.append(
            (
                v,
                True,
                v == cur,
                int(man["n_rows"]) if "n_rows" in man else None,
                kind,
                inc.get("base_version"),
            )
        )
    return spark.createDataFrame(
        rows,
        "version string, published boolean, current boolean,"
        " n_rows long, kind string, base_version string",
    )


def rollback_release(spark, root: str, version: str) -> dict:
    """Point CURRENT back at an older PUBLISHED version — the undo
    for a bad publish (r8). Version dirs are immutable, so rollback
    is exactly the atomic pointer swap; nothing is rewritten, readers
    mid-scan on the bad version keep their snapshot, and the next
    :func:`write_release_increment`/:func:`write_release_append`
    builds on the rolled-back manifest (version NUMBERS keep
    increasing — the bad version's dir remains until retention prunes
    it, preserving the audit trail). Refuses unknown or pruned
    versions, and versions without a manifest (crashed writers).
    Returns the now-current manifest."""
    man = _manifest(spark, root, version)
    if man is None:
        raise FileNotFoundError(
            f"version {version} under {root} is unpublished, pruned, "
            "or never existed — nothing to roll back to"
        )
    _swap_pointer(spark, root, version)
    return man


# losslessly-castable Spark type pairs for migrate_release_schema:
# widening within a family never loses information; anything not
# listed needs allow_lossy=True. (long->double IS lossy past 2^53;
# float->string renders the float's exact value; date->timestamp is
# midnight-extension.)
_LOSSLESS_CASTS = {
    ("byte", "short"), ("byte", "integer"), ("byte", "long"),
    ("short", "integer"), ("short", "long"),
    ("integer", "long"),
    ("byte", "double"), ("short", "double"), ("integer", "double"),
    ("byte", "float"), ("short", "float"),
    ("float", "double"),
    ("date", "timestamp"),
}
_STRINGABLE = {
    "byte", "short", "integer", "long", "float", "double", "boolean",
    "date", "timestamp", "string",
}


def migrate_release_schema(
    spark,
    root: str,
    drop: list[str] | None = None,
    rename: dict[str, str] | None = None,
    retype: dict[str, str] | None = None,
    allow_lossy: bool = False,
    verify_untouched: bool = True,
    manifest_extra: dict | None = None,
    keep_versions: int | None = None,
    spark_for_fs=None,
) -> dict:
    """Publish CURRENT rewritten through a column projection — the
    schema migration ADD COLUMN cannot express (r10, VERDICT r9 item
    9): ``drop`` removes columns, ``rename`` maps old→new names,
    ``retype`` casts columns to new Spark type names. One new version
    of kind 'migrate'; the base version stays readable (rollback is
    the undo, same as every publish).

    This is the full-rewrite complement to ``allow_new_columns``:
    where ADD COLUMN hardlinks every untouched partition (old files
    read back with NULL backfill), drop/rename/retype change the
    bytes of every file, so every partition rewrites — cost ∝ the
    corpus, stated upfront rather than hidden. At 100 TB you run this
    rarely and deliberately; the claim + base-check publish guard
    makes it safe next to concurrent appends (the loser gets
    :class:`ReleaseConflictError`, never a half-migrated corpus).

    Refused loudly: unknown columns, collisions (renaming onto a
    surviving name, two sources renaming to one target), touching
    the partition column (its hive layout key IS the directory
    structure — repartition via write_release_version instead), a
    no-op call (nothing to migrate), and any ``retype`` cast not in
    the lossless table (family widenings, date→timestamp,
    atomic→string) unless ``allow_lossy=True``. Lossy casts record
    per-column introduced-NULL counts (cast failures) in the
    manifest's ``migrate.cast_nulls`` — one extra agg over only the
    retyped columns — so silent data loss is auditable, never
    invisible.

    ``verify_untouched=True`` (default) re-fingerprints the columns
    the migration did NOT touch (surviving, un-retyped columns,
    renamed ones compared under their new name) in the base and the
    new version and refuses to swap the pointer on any mismatch —
    the migration cannot corrupt what it did not change. Costs one
    extra column-pruned scan of each side; disable for very large
    corpora once the operator is trusted."""
    from pyspark.sql.types import StructType

    fs_spark = spark_for_fs or spark
    drop = list(drop or [])
    rename = dict(rename or {})
    retype = dict(retype or {})
    if not (drop or rename or retype):
        raise ValueError(
            "migrate_release_schema: no drop/rename/retype given — "
            "nothing to migrate"
        )

    cur = _current(fs_spark, root)
    if cur is None:
        raise FileNotFoundError(
            f"no CURRENT pointer under {root} — nothing published"
        )
    base_df, old_man = read_release(spark, root, version=cur)
    old_schema = StructType.fromJson(old_man["schema"])
    old_types = {f.name: f.dataType.typeName() for f in old_schema.fields}
    parts = old_man.get("partitioned_by") or []
    split_col = parts[0] if parts else None

    unknown = [
        c
        for c in {*drop, *rename, *retype}
        if c not in old_types
    ]
    if unknown:
        raise ValueError(
            f"migrate_release_schema: columns {sorted(unknown)} do not "
            f"exist in {cur} (schema: {sorted(old_types)})"
        )
    touched_split = [
        c for c in {*drop, *rename, *retype} if c == split_col
    ]
    if touched_split:
        raise ValueError(
            f"migrate_release_schema: {split_col!r} is the partition "
            "column — its value IS the hive directory layout; "
            "repartition through write_release_version instead"
        )
    dropped_and = [c for c in drop if c in rename or c in retype]
    if dropped_and:
        raise ValueError(
            "migrate_release_schema: columns "
            f"{sorted(dropped_and)} are both dropped and "
            "renamed/retyped — pick one"
        )
    identity = [c for c, n in rename.items() if c == n]
    if identity:
        raise ValueError(
            f"migrate_release_schema: identity renames {identity}"
        )
    surviving = [c for c in old_types if c not in drop]
    targets = [rename.get(c, c) for c in surviving]
    dup = sorted({t for t in targets if targets.count(t) > 1})
    if dup:
        raise ValueError(
            "migrate_release_schema: rename collision on "
            f"{dup} — two columns may not share a post-migration name"
        )

    def _norm_type(t: str) -> str:
        # users write DDL aliases ('bigint', 'int'); the lossless
        # table speaks DataType.typeName() ('long', 'integer') —
        # normalize through Spark's parser so an identity cast is
        # recognized as one instead of refused as lossy (r10 review)
        from pyspark.sql.types import _parse_datatype_string

        try:
            return _parse_datatype_string(t).typeName()
        except Exception:
            return t

    lossy = {}
    for c, new_raw in retype.items():
        old_t = old_types[c]
        new_t = _norm_type(new_raw)
        if old_t == new_t:
            raise ValueError(
                f"migrate_release_schema: {c!r} is already {new_t}"
            )
        if (old_t, new_t) in _LOSSLESS_CASTS or (
            new_t == "string" and old_t in _STRINGABLE
        ):
            continue
        lossy[c] = (old_t, new_t)
    if lossy and not allow_lossy:
        raise ValueError(
            "migrate_release_schema: casts "
            + ", ".join(
                f"{c}: {a}->{b}" for c, (a, b) in sorted(lossy.items())
            )
            + " can lose information — pass allow_lossy=True to "
            "accept (introduced NULLs are counted into the manifest)"
        )

    proj = []
    for c in surviving:
        col = F.col(c)
        if c in lossy:
            # ANSI mode (Spark 4 default) makes a failing cast THROW
            # mid-rewrite; try_cast is the documented semantics here —
            # unparseable values land as NULL and are counted below
            col = col.try_cast(retype[c])
        elif c in retype:
            col = col.cast(retype[c])
        proj.append(col.alias(rename.get(c, c)))
    migrated = base_df.select(*proj)

    cast_nulls = {}
    if lossy:
        # cast failures surface as NULL where the source was not:
        # count them in ONE column-pruned agg so the manifest records
        # exactly what the lossy flag cost
        aggs = [
            F.count_if(
                F.col(c).isNotNull()
                & F.col(c).try_cast(retype[c]).isNull()
            ).alias(c)
            for c in lossy
        ]
        row = base_df.agg(*aggs).collect()[0]
        cast_nulls = {c: int(row[c]) for c in lossy}

    untouched_new = sorted(
        rename.get(c, c) for c in surviving if c not in retype
    )

    def write(vname: str, vdir: str) -> dict:
        manifest = write_release(
            migrated,
            vdir,
            split_col=split_col,
            manifest_extra={
                **(manifest_extra or {}),
                "version": vname,
                "incremental": {
                    "base_version": cur,
                    "migrate": {
                        "drop": sorted(drop),
                        "rename": dict(sorted(rename.items())),
                        "retype": dict(sorted(retype.items())),
                        "cast_nulls": cast_nulls,
                    },
                    "reused": [],
                    "rewritten": sorted(
                        old_man.get("partition_fingerprints", {})
                    ),
                },
            },
            spark_for_fs=spark_for_fs,
            require_claim=True,
        )
        if not (verify_untouched and untouched_new):
            return manifest
        old_side = base_df.select(
            *[
                F.col(c).alias(rename.get(c, c))
                for c in surviving
                if c not in retype
            ]
        )
        new_side = read_release(spark, root, version=vname)[0].select(
            *untouched_new
        )

        def _fp(side):
            r = side.agg(
                *_fingerprint_agg(untouched_new, schema=side.schema)
            ).collect()[0]
            return int(r["n"]), None if r["fp"] is None else int(r["fp"])

        fp_old, fp_new = _fp(old_side), _fp(new_side)
        if fp_old != fp_new:
            # un-publish the bad rewrite BEFORE raising, same hygiene
            # as a lost pointer race; CURRENT never moved
            _abandon(fs_spark, root, vname)
            raise RuntimeError(
                "migrate_release_schema: untouched-column "
                f"fingerprint mismatch between {cur} and the "
                f"migrated rewrite (rows {fp_old[0]} vs "
                f"{fp_new[0]}) — the new version was abandoned, "
                "CURRENT is unchanged"
            )
        return manifest

    return _publish(fs_spark, root, cur, write, keep_versions)


def read_release(
    spark, root: str, version: str | None = None
) -> tuple[DataFrame, dict]:
    """Open a published release: resolve CURRENT (or an explicit
    ``version``), return (lazy DataFrame over that version's
    immutable data, its manifest). The returned frame keeps reading
    the same snapshot even if a new version is published afterwards —
    version dirs are never rewritten, only pruned by retention.

    The scan applies the MANIFEST's schema, not file inference (r9):
    after a schema evolution (``allow_new_columns``) a version mixes
    hardlinked old-schema files with rewritten wider ones, and an
    inferred read would pick one file's schema (or need mergeSchema's
    full footer sweep) — the manifest schema reads old files with
    NULL backfill for the new columns, exactly like a table format.
    It also pins partition-column types (hive inference has no
    boolean case — the r8 lesson)."""
    from pyspark.sql.types import StructType

    if version is None:
        version = _current(spark, root)
        if version is None:
            raise FileNotFoundError(
                f"no CURRENT pointer under {root} — nothing published"
            )
    manifest = _manifest(spark, root, version)
    if manifest is None:
        raise FileNotFoundError(
            f"version {version} has no manifest under {root} "
            "(unpublished or pruned)"
        )
    reader = spark.read
    if manifest.get("schema"):
        reader = reader.schema(StructType.fromJson(manifest["schema"]))
    return reader.parquet(f"{root}/versions/{version}/data.parquet"), manifest


def release_changes(
    spark,
    root: str,
    from_version: str | None = None,
    to_version: str | None = None,
    id_col: str = "doc_id",
    compare_cols: list[str] | None = None,
    status_col: str = "status",
) -> DataFrame:
    """Row-level CHANGES between two PUBLISHED release versions,
    scanning only partitions whose manifest fingerprints differ (r8 —
    the read-side payoff of the fingerprints
    :func:`write_release_increment` publishes with).

    Returns (``id_col``, ``status_col``) with status in
    ``added`` / ``removed`` / ``changed`` — a changes feed, so
    ``unchanged`` rows are omitted by construction (a partition whose
    fingerprint matched is PROVEN unchanged and never read at all; an
    id living in a pruned partition on one side cannot appear
    elsewhere on the other without changing both partitions'
    fingerprints, given the release contract of unique ids per
    version).

    ``to_version`` defaults to CURRENT; ``from_version`` defaults to
    the published version immediately before it. At 100 TB this turns
    "diff last night's release against tonight's" from two full-corpus
    scans into reads of exactly the partitions the pipeline touched —
    the manifest compare is driver-side and free. Releases published
    before fingerprints existed fall back to the full
    :func:`release_diff` scan (same output, filtered to changes)."""
    if to_version is None:
        to_version = _current(spark, root)
        if to_version is None:
            raise FileNotFoundError(
                f"no CURRENT pointer under {root} — nothing published"
            )
    if from_version is None:
        before = [
            v for v in _published_versions(spark, root) if v < to_version
        ]
        if not before:
            raise ValueError(
                f"no published version precedes {to_version} under "
                f"{root} — pass from_version explicitly"
            )
        from_version = before[-1]
    old_df, old_man = read_release(spark, root, from_version)
    new_df, new_man = read_release(spark, root, to_version)

    ofp = old_man.get("partition_fingerprints") or {}
    nfp = new_man.get("partition_fingerprints") or {}
    part_old = old_man.get("partitioned_by") or []
    part_new = new_man.get("partitioned_by") or []
    if ofp and nfp and part_old == part_new and len(part_old) == 1:
        split_col = part_old[0]
        changed = sorted(
            k for k in set(ofp) | set(nfp) if ofp.get(k) != nfp.get(k)
        )

        cond = _key_filter(split_col, changed)
        old_df, new_df = old_df.where(cond), new_df.where(cond)
    diff = release_diff(
        old_df, new_df, id_col=id_col, compare_cols=compare_cols,
        status_col=status_col,
    )
    return diff.where(F.col(status_col) != "unchanged")


def release_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    compare_cols: list[str] | None = None,
    status_col: str = "status",
) -> DataFrame:
    """Row-level diff between two corpus releases: one row per id seen
    in either release, with ``status_col`` one of ``added`` (id only
    in ``new``), ``removed`` (only in ``old``), ``changed`` (in both,
    ``compare_cols`` differ), ``unchanged``. Output columns:
    (``id_col``, ``status_col``) — join back to either release for
    payloads.

    The "what moved between v1 and v2" audit a dataset release process
    needs (pair with :func:`write_release`'s manifest: the manifest
    answers "how many per split", this answers "which rows").

    Scale shape: each side reduces to (id, fingerprint) — fingerprint
    = xxhash64 over the ``compare_cols`` (default: every shared non-id
    column, name-sorted so column order never changes the verdict) —
    then ONE full-outer hash equi-join on id. Shuffle volume is ids +
    8 B fingerprints, never row payloads; with both releases written
    bucketed by ``id_col`` (sources.write_bucketed) the join is
    co-located. A 64-bit fingerprint collision could mark a changed
    row ``unchanged`` (P ~ 2**-64 per row); exactness-critical audits
    pass an explicit single column and compare raw values themselves.

    ``id_col`` must be unique per row WITHIN each release (the corpus
    contract) — a duplicate id fans out in the join and inflates its
    statuses. Null ids never match each other in SQL joins, so both
    sides' null-id rows are dropped up front (counted nowhere) — a
    release with null ids should fail validation long before a
    diff."""
    if compare_cols is None:
        shared = [
            c for c in old.columns if c in set(new.columns) and c != id_col
        ]
        compare_cols = sorted(shared)
    if not compare_cols:
        raise ValueError(
            "no columns to compare: releases share no non-id columns "
            "and compare_cols was not given"
        )
    for side_name, side in (("old", old), ("new", new)):
        missing = [c for c in compare_cols if c not in side.columns]
        if missing:
            raise ValueError(f"{side_name} release lacks columns {missing}")

    def fingerprinted(df: DataFrame, fp_name: str) -> DataFrame:
        # string-render each column before hashing: the stable
        # cross-release representation (a long 1 and a double 1.0
        # stay distinct, as they would to a reader). Each column is a
        # SEPARATE xxhash64 argument, so there are no string
        # boundaries to confuse ("ab","c") with ("a","bc") -- but
        # Spark's xxhash64 SKIPS null arguments (a null contributes
        # nothing, so (null,"x") would collide with ("x",null)), so
        # nulls render to a sentinel and real values get a prefix
        # disjoint from it.
        parts = [
            F.coalesce(
                F.concat(F.lit("v"), F.col(c).cast("string")),
                F.lit(" null"),
            )
            for c in compare_cols
        ]
        return df.where(F.col(id_col).isNotNull()).select(
            F.col(id_col).alias("id"),
            F.xxhash64(*parts).alias(fp_name),
        )

    o = fingerprinted(old, "old_fp")
    n = fingerprinted(new, "new_fp")
    joined = o.join(n, "id", "full")
    status = (
        F.when(F.col("old_fp").isNull(), F.lit("added"))
        .when(F.col("new_fp").isNull(), F.lit("removed"))
        .when(F.col("old_fp") == F.col("new_fp"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return joined.select(F.col("id").alias(id_col), status.alias(status_col))


def release_diff_summary(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    compare_cols: list[str] | None = None,
    by: list[str] | None = None,
) -> DataFrame:
    """Aggregated :func:`release_diff`: (status, n) counts — with
    ``by`` columns (taken from ``new``, falling back to ``old`` for
    removed rows) prepended for per-source/per-split breakdowns."""
    d = release_diff(old, new, id_col, compare_cols)
    if not by:
        return d.groupBy("status").agg(
            F.count(F.lit(1)).cast("bigint").alias("n")
        )
    keyed = (
        d.join(
            new.select(
                id_col, *[F.col(c).alias(f"__n_{c}") for c in by]
            ),
            id_col, "left",
        )
        .join(old.select(id_col, *by), id_col, "left")
    )
    picked = [
        F.coalesce(F.col(f"__n_{c}"), F.col(c)).alias(c) for c in by
    ]
    return (
        keyed.select("status", *picked)
        .groupBy(*by, "status")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
