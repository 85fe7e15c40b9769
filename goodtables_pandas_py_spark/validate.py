"""Validation orchestrator — E1 lifecycle (SURVEY.md §3).

Compiles a Table Schema into Spark plans ([R validate.py::validate]
re-architected for Catalyst):

  (a) ONE projection producing typed columns + violation masks
      (parsing P1-P21 fused with constraints C1-C6 — single scan,
      SURVEY.md §4.3.1);
  (b) ONE wide aggregate over all masks (A1: counts);
  (c) ONE sample query per table (A2, only when a check failed): the
      pass that counts the violations also emits, per row, the
      offending (check, value[, row id]) entries, and one windowed
      top-k over them draws every violated check's values — the
      VALUE_SAMPLE_CAP smallest distinct values, or with row ids the
      rows with the lowest ids, so samples are deterministic. With a
      key cache the entries are cached beside the keys: worst case, a
      wholly invalid column, the cache holds each bad cell's string
      once (MEMORY_AND_DISK); sampling per check instead costs one
      full source re-scan and one distinct per violated check. Without
      a key cache the query re-scans the source once for all checks;
  (d) per-key groupBy jobs (K1/K2) and per-FK anti-joins (K3) over the
      persisted parsed DataFrame (SURVEY.md §4.3.2), each one task on
      one thread pool: validate_table's own, or in validate_package
      the one pool that also runs the tables and the anti-joins.

Each decision is made in one place: :func:`_compile_field` compiles a
field for batch and streaming alike, every key check goes through
``TableValidation.pending_keys``/``resolve_keys``, and the K1-K3 count
and sample share ``checks.keys._count_and_sample``.

The IR *is* the Catalyst logical plan; no custom IR (SURVEY.md §3).
"""

from __future__ import annotations

import json
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field as dc_field
from functools import reduce
from typing import Any

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.storagelevel import StorageLevel

from .checks.constraints import compile_constraints
from .checks.keys import (
    _free_name,
    check_foreign_key,
    check_primary_key,
    check_unique_key,
)
from .errors import VALUE_SAMPLE_CAP, Error
from .parsers import (
    apply_missing_values,
    missing_token_producible,
    parse_field,
    typed_fast_path,
)
from .profile import check_descriptor, descriptor_error_report
from .schema import (
    Field,
    Package,
    SchemaError,
    TableSchema,
    load_descriptor,
)
from .sources import (
    ensure_parallelism,
    read_resource_with_header,
    render_lexical,
)


@dataclass
class CustomCheck:
    """X6 plugin surface (SURVEY.md §2.9): a user-defined check that
    rides the SAME single-scan Observation pass as C1-C6 — plugging in
    a check adds zero extra Spark jobs.

    ``mask`` receives ``{field_name: typed Column}`` for every schema
    field present and returns a boolean Column that is TRUE where the
    row VIOLATES the check. Cross-field row checks (e.g.
    ``cols["start"] > cols["end"]``) are therefore first-class —
    a capability the reference lacks. The expression may be pure
    Column algebra (whole-stage codegen) or embed a ``pandas_udf``
    for arbitrary Python (Arrow-batched — never a row-at-a-time UDF).

    ``field`` labels the reported error; ``report`` (optional) picks
    the Column sampled into the error's ``values`` (defaults to the
    labeled field's parsed column)."""

    name: str  # error code in the report
    mask: Callable[[dict[str, Column]], Column]
    field: str | None = None
    report: Callable[[dict[str, Column]], Column] | None = None


@dataclass
class DatasetCheck:
    """Dataset-LEVEL statistics check (deequ-style unit test for
    data): an aggregate ``metric`` over the typed columns plus a
    driver-side ``ok`` verdict — "avg(price) within 10% of spec",
    "null fraction below 1e-4", "approx distinct count near expected".
    Row-level checks (C1-C6, :class:`CustomCheck`) convict individual
    cells; these convict the TABLE.

    ``metric`` receives ``{field_name: typed Column}`` (same contract
    as ``CustomCheck.mask``) and must return ONE aggregate expression
    — e.g. ``lambda c: F.avg(c["o_totalprice"])`` or
    ``F.approx_count_distinct(...)``. All dataset metrics ride the
    SAME single-scan Observation pass as the row-check counters:
    adding one adds zero Spark jobs. ``ok`` receives the computed
    value (None when the table is empty or the metric is
    all-null) and returns truthy for pass; a raising ``ok`` reports a
    dataset-error instead of crashing the run (report-not-raise).
    Failures surface as ``dataset-constraint`` errors carrying the
    metric value."""

    name: str  # constraint label in the report
    metric: Callable[[dict[str, Column]], Column]
    ok: Callable[[Any], bool]
    field: str = ""
    message: str = ""


#: descriptor-spec metric name -> aggregate builder over one column
_DATASET_METRICS: dict[str, Callable[[Column], Column]] = {
    "avg": F.avg,
    "sum": F.sum,
    "min": F.min,
    "max": F.max,
    "stddev": F.stddev,
    "count": F.count,
    "countDistinct": F.count_distinct,
    "nullFraction": lambda c: F.avg(
        F.when(c.isNull(), F.lit(1.0)).otherwise(F.lit(0.0))
    ),
}


def compile_dataset_checks(specs: list[dict]) -> list[DatasetCheck]:
    """Descriptor-driven :class:`DatasetCheck`\\s — the JSON-expressible
    subset, so table-level statistics checks work from a plain
    ``datapackage.json`` (resource key ``datasetChecks``, an engine
    extension) and therefore from the CLI, no Python lambdas needed::

        {"datasetChecks": [
          {"metric": "avg", "field": "amt", "min": 0, "max": 100},
          {"metric": "nullFraction", "field": "email", "max": 0.01},
          {"metric": "countDistinct", "field": "lang", "min": 2}
        ]}

    ``metric`` ∈ avg/sum/min/max/stddev/count/countDistinct/
    nullFraction over ``field``; ``min``/``max`` bound the value
    (either optional, at least one required). The verdict fails on a
    None metric (empty table / all-null column) unless the spec sets
    ``"allowNull": true``. ``name`` defaults to ``metric(field)``."""
    out: list[DatasetCheck] = []
    for spec in specs:
        metric = spec.get("metric")
        fld = spec.get("field")
        if metric not in _DATASET_METRICS:
            raise SchemaError(
                f"datasetChecks: unknown metric {metric!r} "
                f"(choose from {sorted(_DATASET_METRICS)})"
            )
        if not fld or not isinstance(fld, str):
            raise SchemaError(
                f"datasetChecks: metric {metric!r} needs a 'field'"
            )
        lo, hi = spec.get("min"), spec.get("max")
        if lo is None and hi is None:
            raise SchemaError(
                f"datasetChecks: {metric}({fld}) needs 'min' and/or 'max'"
            )
        allow_null = bool(spec.get("allowNull", False))
        agg = _DATASET_METRICS[metric]

        def _ok(v, lo=lo, hi=hi, allow_null=allow_null):
            if v is None:
                return allow_null
            return (lo is None or v >= lo) and (hi is None or v <= hi)

        bounds = []
        if lo is not None:
            bounds.append(f">= {lo}")
        if hi is not None:
            bounds.append(f"<= {hi}")
        out.append(
            DatasetCheck(
                name=spec.get("name") or f"{metric}({fld})",
                metric=(lambda cols, agg=agg, fld=fld: agg(cols[fld])),
                ok=_ok,
                field=fld,
                message=spec.get("message")
                or f"{metric}({fld}) must be {' and '.join(bounds)}",
            )
        )
    return out


@dataclass
class _CompiledCheck:
    """Internal: one countable mask with reporting metadata."""

    kind: str  # 'type' | 'constraint'
    field: str
    code: str
    constraint: object
    mask_col: str  # name of the boolean mask column in the wide DF
    report_col: str  # column to sample offending values from
    #: whether the check's offending values go into the table's one
    #: sample query (False for ``required``: its values are null by
    #: definition and report as ``[None]``, unless row ids are asked
    #: for)
    samples: bool = True


@dataclass
class TableValidation:
    """Result of one table's validation; ``parsed`` is the typed
    DataFrame (usable for downstream ETL — the reference's
    ``parse_table`` use-case E2)."""

    resource: str
    parsed: DataFrame
    row_count: int = 0
    errors: list[Error] = dc_field(default_factory=list)
    cached: DataFrame | None = None  # the persisted wide projection
    # key checks in flight (r11): (cols, kind, code, Future). Left
    # pending only on a caller-owned executor, so package-level FK
    # anti-joins can OVERLAP the PK/unique groupBys
    pending_keys: list = dc_field(default_factory=list)

    @property
    def valid(self) -> bool:
        if self.pending_keys:
            # deferred key checks still in flight: reading valid now
            # would silently ignore their verdicts (ADVICE r11)
            raise RuntimeError(
                "TableValidation.valid read with undrained key checks "
                "— call resolve_keys() first"
            )
        return not self.errors

    def resolve_keys(self) -> None:
        """Drain deferred key-check futures, appending their errors in
        declaration order (deterministic reports)."""
        for cols, kind, code, fut in self.pending_keys:
            res = fut.result()
            if not res.ok:
                err = res.to_error(self.resource, cols, kind)
                if code:
                    err.code = code  # field-level C2 code
                self.errors.append(err)
        self.pending_keys = []

    def key_view(self, cols: list[str]) -> DataFrame:
        """Cheapest DataFrame containing ``cols`` (cache when it
        covers them, else the recomputing typed projection)."""
        if self.cached is not None and set(cols) <= set(self.cached.columns):
            return self.cached
        return self.parsed

    def unpersist(self) -> None:
        if self.cached is not None:
            self.cached.unpersist()


def check_header(
    columns: list[str], schema: TableSchema, resource: str = ""
) -> list[Error]:
    """H1 ([goodtables data-quality-spec header codes], SURVEY.md
    §2.2): driver-side compare — no cluster job."""
    errors: list[Error] = []
    expected = schema.field_names
    seen: set[str] = set()
    dup = [c for c in columns if c in seen or seen.add(c)]  # order-preserving
    blank = [c for c in columns if not c or not c.strip()]
    missing = [c for c in expected if c not in columns]
    extra = [c for c in columns if c not in expected and c.strip()]
    if blank:
        errors.append(
            Error("blank-header", resource, values=blank, count=len(blank))
        )
    if dup:
        errors.append(
            Error("duplicate-header", resource, values=dup, count=len(dup))
        )
    if missing:
        errors.append(
            Error("missing-header", resource, values=missing, count=len(missing))
        )
    if extra:
        errors.append(
            Error("extra-header", resource, values=extra, count=len(extra))
        )
    if not (missing or extra or dup or blank):
        present = [c for c in columns if c in set(expected)]
        if present != [c for c in expected if c in set(columns)]:
            errors.append(
                Error(
                    "non-matching-header",
                    resource,
                    values=present,
                    count=1,
                )
            )
    return errors


def _compile_field(
    fld: Field,
    src_t: T.DataType,
    missing_values: list[str],
    assume_typed: bool,
) -> tuple[Column, Column | None, Column | None, list]:
    """One field's check expressions — the single definition batch
    (:func:`_compile_table`) and streaming (``validate_stream``) both
    run. Returns the parsed expression, the raw lexical column, the
    type-error mask and the compiled constraints; raw and mask are
    None under ``assume_typed`` (the column is trusted as typed).

    A string source column parses lexically. A TYPED source column
    (parquet/ORC, a user DataFrame) renders lexically for the raw and
    pattern surfaces, and when the render→parse roundtrip is a provable
    identity the parse itself is skipped (typed_fast_path, r6 — the
    rendition+parse used to be the bulk of the validation scan on wide
    columnar tables)."""
    if assume_typed:
        parsed = F.col(fld.name)
        return parsed, None, None, compile_constraints(fld, parsed, None)
    if isinstance(src_t, T.StringType):
        raw, fast = F.col(fld.name), None
    else:
        raw = render_lexical(F.col(fld.name), src_t)
        fast = typed_fast_path(fld, src_t)
    raw_missing = apply_missing_values(raw, missing_values)
    if fast is None:
        pf = parse_field(raw, fld, missing_values)
        parsed, bad = pf.parsed, pf.bad
    else:
        # a declared missing sentinel CAN equal a rendition (e.g. "NaN"
        # on a double column) — the lexical path nulls those values,
        # so must we
        collidable = [
            tok for tok in missing_values if missing_token_producible(src_t, tok)
        ]
        parsed = (
            F.when(raw.isin(*collidable), F.lit(None)).otherwise(fast)
            if collidable
            else fast
        )
        bad = F.lit(False)  # a typed value cannot mis-parse
    # constraints compose over the parsed EXPRESSION (not an alias
    # reference — aliases in the same select are not resolvable);
    # Catalyst's subexpression elimination dedups the shared parse.
    # (compile_constraints never emits 'unique' — C2 routes through the
    # key machinery, not the mask path)
    return parsed, raw, bad, compile_constraints(fld, parsed, raw_missing)


def _compile_table(
    df: DataFrame,
    schema: TableSchema,
    assume_typed: bool,
    custom_checks: list[CustomCheck] | None = None,
) -> tuple[DataFrame, list[_CompiledCheck], list[str]]:
    """Build the single-scan projection: typed columns + masks."""
    select_cols: list = []
    checks: list[_CompiledCheck] = []
    typed_names: list[str] = []
    parsed_exprs: dict[str, Column] = {}
    present = set(df.columns)

    if "__row_id" in present:
        select_cols.append(F.col("__row_id"))

    for fld in schema.fields:
        if fld.name not in present:
            continue  # reported by header check
        typed_names.append(fld.name)
        parsed_expr, raw_col, bad, constraints = _compile_field(
            fld, df.schema[fld.name].dataType, schema.missing_values,
            assume_typed,
        )
        parsed_exprs[fld.name] = parsed_expr
        if bad is None:
            select_cols.append(parsed_expr)
        else:
            select_cols.append(parsed_expr.alias(fld.name))
            bad_name = f"__bad__{fld.name}"
            select_cols.append(bad.alias(bad_name))
            raw_name = f"__raw__{fld.name}"
            select_cols.append(raw_col.alias(raw_name))
            checks.append(
                _CompiledCheck(
                    kind="type",
                    field=fld.name,
                    code="type-or-format-error",
                    constraint=f"{fld.type}/{fld.format}",
                    mask_col=bad_name,
                    report_col=raw_name,
                )
            )
        for cc in constraints:
            mask_name = f"__viol__{fld.name}__{cc.constraint}"
            select_cols.append(cc.mask.alias(mask_name))
            rep_name = f"__rep__{fld.name}__{cc.constraint}"
            select_cols.append(cc.report_col.alias(rep_name))
            checks.append(
                _CompiledCheck(
                    kind="constraint",
                    field=fld.name,
                    code=cc.code,
                    constraint=cc.constraint_value,
                    mask_col=mask_name,
                    report_col=rep_name,
                    samples=cc.constraint != "required",
                )
            )

    for i, uc in enumerate(custom_checks or []):
        mask_name = f"__custom__{i}"
        select_cols.append(uc.mask(dict(parsed_exprs)).alias(mask_name))
        rep_name = f"__customrep__{i}"
        if uc.report is not None:
            rep = uc.report(dict(parsed_exprs))
        elif uc.field is not None and uc.field in parsed_exprs:
            rep = parsed_exprs[uc.field]
        else:
            rep = F.lit(None).cast("string")
        select_cols.append(rep.alias(rep_name))
        checks.append(
            _CompiledCheck(
                kind="custom",
                field=uc.field or "",
                code=uc.name,
                constraint="custom",
                mask_col=mask_name,
                report_col=rep_name,
            )
        )

    return df.select(*select_cols), checks, typed_names


def _observable(df: DataFrame, metric: Column) -> bool:
    """Whether ``observe`` accepts ``metric``: it rejects DISTINCT
    aggregates (a countDistinct dataset metric). Analysis only, no
    job (``.schema`` forces it on a lazily analyzing Connect client)."""
    try:
        df.observe("__probe", metric).schema
    except AnalysisException as exc:
        if "DISTINCT" not in (exc.getCondition() or ""):
            raise
        return False
    return True


def _sample_entries(
    checks: list[_CompiledCheck], sampled: list[int], row_ids: bool
) -> Column:
    """Per row of the wide projection: the ``(c, v[, r])`` entries of
    the sampled checks it violates (check index, offending value as a
    string, row id), null on clean rows — only dirty rows build the
    array."""
    entries = [
        F.when(
            F.col(checks[i].mask_col),
            F.struct(
                F.lit(i).alias("c"),
                F.col(checks[i].report_col).cast(T.StringType()).alias("v"),
                *([F.col("__row_id").alias("r")] if row_ids else []),
            ),
        )
        for i in sampled
    ]
    dirty = reduce(Column.__or__, [F.col(checks[i].mask_col) for i in sampled])
    return F.when(dirty, F.array_compact(F.array(*entries)))


def _sample_query(src: DataFrame, col: str, row_ids: bool) -> DataFrame:
    """The table's one sample query over the entry column ``col``: per
    check, the VALUE_SAMPLE_CAP smallest distinct values (``n`` ranks
    them), or with ``row_ids`` the entries with the lowest row ids. The
    top-k is a row_number window, so Spark keeps at most the cap per
    check in each task (partial WindowGroupLimit) before the window's
    exchange: what a task ships there is bounded by the cap, not by the
    bad cells (the distinct's own exchange ships each task's distinct
    bad values once)."""
    e = src.select(F.inline(col))
    if not row_ids:
        e = e.distinct()
    order = F.col("r" if row_ids else "v")
    n = F.row_number().over(Window.partitionBy("c").orderBy(order))
    return e.withColumn("n", n).where(F.col("n") <= VALUE_SAMPLE_CAP)


def validate_table(
    df: DataFrame,
    schema: TableSchema,
    resource: str = "",
    assume_typed: bool = False,
    persist: bool = True,
    cache_cols: list[str] | None = None,
    header: list[str] | None = None,
    row_ids: bool = False,
    custom_checks: list[CustomCheck] | None = None,
    dataset_checks: list[DatasetCheck] | None = None,
    key_executor=None,
) -> TableValidation:
    """Validate one table (header + parse + constraints + PK/unique
    keys). FK checks live at package level (they need sibling tables).

    ``key_executor`` (r11, package-internal): a caller-owned
    ThreadPoolExecutor. PK/unique checks are always SUBMITTED to a
    pool; when one is given they are returned unresolved in
    ``TableValidation.pending_keys`` instead of being awaited here —
    ``validate_package`` then starts the FK anti-joins immediately
    (they only need the key cache, which is already filled) so FK jobs
    overlap the key groupBys, and must call ``resolve_keys()`` before
    reading ``errors``. Without one, a pool owned here runs them and
    is drained before returning.

    ``custom_checks`` (X6 plugin surface): extra :class:`CustomCheck`
    masks fused into the same single-scan pass as C1-C6.

    ``assume_typed=True`` skips parsing AND type checks wholesale
    (trust-the-caller mode). Otherwise columns may be strings (the
    CSV/NDJSON lexical path, parsed as before) or typed (parquet/ORC
    resources, user frames — r6): typed columns whose source type
    already is the parser's target skip the render→parse roundtrip
    via :func:`~.parsers.typed_fast_path` with the IDENTICAL report
    and values (equivalence-tested), and mismatched typed columns
    render lexically inline and parse like CSV text.

    ``cache_cols`` restricts the persisted projection to the columns
    downstream jobs actually re-traverse (key/FK fields — computed by
    ``validate_package``). Cache bytes then scale with the KEYS, not
    the full row width — the difference between caching 2 columns and
    2000 at 100 TB. ``None`` caches every typed column (standalone
    callers who go on to use ``.parsed``).

    ``header`` overrides ``df.columns`` for H1 — needed for CSV, where
    Spark mangles duplicate/blank header names before they reach the
    DataFrame (sources.sniff_csv_header recovers the raw row).

    ``row_ids=True`` attaches row positions to cell-level error samples
    (SURVEY.md D6/§4.3.4): each violated check then samples its
    offending rows with the lowest positions. Positions come from
    ``monotonically_increasing_id`` computed at ingest — stable for a
    fixed source layout; for parquet audit trails requiring exactness
    across re-reads, pre-attach ``__row_id`` from
    ``_metadata.row_index`` instead.
    """
    errors = check_header(
        df.columns if header is None else header, schema, resource
    )

    # attach row addresses BEFORE any repartition so they reflect the
    # source order (per-partition-offset encoded: stable addresses for
    # a fixed source layout; ordinal 0..n-1 only for single-partition
    # sources — global ordinals would cost an extra pass at scale)
    if row_ids and "__row_id" not in df.columns:
        df = df.withColumn("__row_id", F.monotonically_increasing_id())
    # under-split sources repartition BY THE PRIMARY KEY when one is
    # declared (r12, guide §2.4): the PK check's groupBy then reuses
    # the cache's partitioning instead of re-shuffling it, and the
    # hash repartition skips round-robin's retry-safety local sort.
    # A PK is unique by intent, so the hash spreads evenly; at real
    # scale (partitions >> cores) no repartition happens either way.
    df = ensure_parallelism(
        df,
        keys=[
            k for k in (schema.primary_key or []) if k in df.columns
        ] or None,
    )
    wide, checks, typed_names = _compile_table(
        df, schema, assume_typed, custom_checks
    )

    # --- (b) one pass: mask counts + cache materialization -----------
    # Observation metrics are computed WHILE rows stream into the
    # cache, so parsing + all C1-C6/type-error counting + cache fill is
    # literally one job over one scan (SURVEY.md §4.3.1; profiling:
    # persisting mask+raw columns tripled cache-write cost, so masks
    # live only inside the metrics expressions).
    aggs = [F.count(F.lit(1)).alias("__rows")]
    for i, ck in enumerate(checks):
        aggs.append(F.count_if(F.col(ck.mask_col)).alias(f"__c{i}"))

    # dataset-level metrics (DatasetCheck) ride the SAME pass: one
    # more aggregate expression each, zero extra jobs — except that
    # observe rejects DISTINCT aggregates, so next to a key cache
    # those run in one plain aggregate after the pass. A metric
    # builder that fails to compile (bad column name) reports instead
    # of raising, like every other descriptor-shaped problem.
    ds_checks = list(dataset_checks or [])
    ds_live: list[tuple[int, DatasetCheck]] = []
    unobservable: list[Column] = []
    if ds_checks:
        tcols = {n: F.col(n) for n in typed_names}
        for i, dck in enumerate(ds_checks):
            try:
                metric = dck.metric(tcols).alias(f"__ds{i}")
                (aggs if _observable(wide, metric) else unobservable).append(
                    metric
                )
                ds_live.append((i, dck))
            except Exception as exc:
                errors.append(
                    Error(
                        code="dataset-constraint",
                        resource=resource,
                        field=dck.field or None,
                        constraint=dck.name,
                        count=1,
                        message=(
                            f"dataset check {dck.name!r} metric failed "
                            f"to build: {exc}"
                        ),
                    )
                )

    cache_sel = [
        c
        for c in (typed_names if cache_cols is None else cache_cols)
        if c in typed_names
    ]
    # the sampled checks' offending values leave the pass as one
    # nullable entry column: cached next to the keys when there is a
    # key cache, else recomputed once by the sample query (step (c))
    sampled = [i for i, ck in enumerate(checks) if row_ids or ck.samples]
    entries_col = _free_name("__samples", typed_names)
    entries = (
        [_sample_entries(checks, sampled, row_ids).alias(entries_col)]
        if sampled
        else []
    )
    if persist and cache_sel:
        from pyspark.sql import Observation

        obs = Observation()
        wide_cached = (
            wide.observe(obs, *aggs)
            .select(*cache_sel, *entries)
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        n_rows = wide_cached.count()  # materializes cache + metrics
        row = obs.get
        if unobservable:  # one plain aggregate after the pass
            row.update(wide.agg(*unobservable).first().asDict())
        sample_src = wide_cached
    else:
        row = wide.agg(*aggs, *unobservable).first().asDict()
        n_rows = int(row["__rows"])
        wide_cached = None
        sample_src = wide.select(*entries)

    # dataset-level verdicts: driver-side on the observed metric values
    for idx, dck in ds_live:
        val = row.get(f"__ds{idx}")
        try:
            passed = bool(dck.ok(val))
            msg = ""
        except Exception as exc:
            passed = False
            msg = f"dataset check {dck.name!r} verdict raised: {exc}"
        if not passed:
            errors.append(
                Error(
                    code="dataset-constraint",
                    resource=resource,
                    field=dck.field or None,
                    constraint=dck.name,
                    values=[None if val is None else str(val)],
                    count=1,
                    message=msg
                    or dck.message
                    or (
                        f"dataset check {dck.name!r} failed: "
                        f"metric value {val!r}"
                    ),
                )
            )

    # --- (c) one sample query for all violated checks ----------------
    samples: dict[int, list] = {i: [] for i in sampled}
    if any(int(row[f"__c{i}"]) for i in sampled):
        got = _sample_query(sample_src, entries_col, row_ids).collect()
        for r in sorted(got, key=lambda r: r["n"]):
            samples[r["c"]].append(r)

    for i, ck in enumerate(checks):
        n = int(row[f"__c{i}"])
        if not n:
            continue
        if i in samples:
            values: list = list(dict.fromkeys(r["v"] for r in samples[i]))
            ids = [int(r["r"]) for r in samples[i]] if row_ids else []
        else:  # required without row addressing: values are null
            values, ids = [None], []
        errors.append(
            Error(
                code=ck.code,
                resource=resource,
                field=ck.field,
                constraint=ck.constraint if ck.kind == "constraint" else None,
                values=values,
                count=n,
                message=f"{ck.code} on {ck.field}: {n} rows",
                row_ids=ids,
            )
        )

    if wide_cached is not None and set(typed_names) <= set(wide_cached.columns):
        parsed = wide_cached.select(*typed_names)
    else:
        parsed = wide.select(*typed_names)

    tv = TableValidation(
        resource=resource,
        parsed=parsed,
        row_count=int(n_rows),
        errors=errors,
        cached=wide_cached,
    )

    # --- (d) key checks over the persisted key projection ------------
    def _key_cols_present(key_fields: list[str], kind: str) -> bool:
        """Key checks on columns absent from the table (missing CSV
        header, or Spark-mangled duplicate headers) must degrade to a
        schema-level error like H1 does — not crash the whole
        validation with an AnalysisException."""
        absent = [f for f in key_fields if f not in typed_names]
        if absent:
            errors.append(
                Error(
                    code="schema-error",
                    resource=resource,
                    field=",".join(key_fields),
                    constraint=kind,
                    values=absent,
                    count=len(absent),
                    message=f"{kind} field(s) missing from table: {absent}",
                )
            )
            return False
        return True

    key_tasks: list[tuple[list[str], str, str | None]] = []
    for fld in schema.fields:
        if fld.constraints.get("unique") and fld.name in typed_names:
            key_tasks.append(([fld.name], "unique", "unique-constraint"))
    if schema.primary_key and _key_cols_present(schema.primary_key, "primaryKey"):
        key_tasks.append((schema.primary_key, "primaryKey", None))
    for key in schema.unique_keys:
        if _key_cols_present(key, "uniqueKeys"):
            key_tasks.append((key, "uniqueKeys", None))
    # independent key checks run concurrently (threads only SUBMIT
    # jobs, so the PK groupBy overlaps the unique-key groupBys). On a
    # caller's executor they stay pending: validate_package launches
    # the FK anti-joins before draining them, so both job families
    # share the cluster. Without one, a pool owned here is drained
    # before returning. resolve_keys() appends errors in declaration
    # order either way, so reports stay deterministic.
    pool = key_executor or ThreadPoolExecutor(max_workers=4)
    tv.pending_keys = [
        (
            cols,
            kind,
            code,
            pool.submit(
                check_primary_key if kind == "primaryKey" else check_unique_key,
                tv.key_view(cols),
                cols,
            ),
        )
        for cols, kind, code in key_tasks
    ]
    if key_executor is None:
        with pool:
            tv.resolve_keys()
    return tv


def validate_package(
    spark: SparkSession,
    source,
    dataframes: dict[str, DataFrame] | None = None,
    assume_typed: bool = False,
    row_ids: bool = False,
    custom_checks: dict[str, list[CustomCheck]] | None = None,
    dataset_checks: dict[str, list[DatasetCheck]] | None = None,
) -> dict:
    """E1 public API ([R validate.py::validate]): validate a whole Data
    Package (descriptor path or dict). ``dataframes`` overrides
    resource paths with pre-loaded DataFrames (name-keyed) — the
    parquet/testdata path. ``custom_checks`` maps resource name →
    extra :class:`CustomCheck` list (X6 plugin surface), fused into
    that table's single validation scan; ``dataset_checks`` likewise
    maps resource name → :class:`DatasetCheck` list (aggregate
    statistics verdicts riding the same scan's Observation).

    Descriptor problems never raise here: the raw descriptor is
    profile-checked first ([R validate.py::validate] profile
    validation, SURVEY.md §1.4) and any violation — or a residual
    :class:`SchemaError` from cross-field invariants the profile
    can't express — returns a ``datapackage-error``/``schema-error``
    report with zero tables checked.
    """
    if isinstance(source, Package):
        package = source
    else:
        try:
            descriptor, base_dir = load_descriptor(source)
        except (json.JSONDecodeError, OSError, UnicodeDecodeError) as exc:
            # a missing/unreadable/non-JSON descriptor file is a
            # datapackage-error report, not an exception — the
            # docstring's report-not-raise promise (ADVICE r3)
            return descriptor_error_report(
                [
                    Error(
                        code="datapackage-error",
                        message=f"cannot load descriptor {source!r}: {exc}",
                        count=1,
                    )
                ]
            )
        profile_errors = check_descriptor(descriptor)
        if profile_errors:
            return descriptor_error_report(profile_errors)
        try:
            package = Package.from_descriptor(descriptor, base_dir=base_dir)
        except SchemaError as exc:
            return descriptor_error_report(
                [Error(code="schema-error", message=str(exc), count=1)]
            )

    # columns each resource's cache must hold = everything re-traversed
    # after the single validation scan: PK/unique keys, own FK child
    # fields, and fields OTHER resources' FKs reference here
    cache_need: dict[str, set[str]] = {}
    for res in package.resources:
        if res.schema is None:
            continue
        need = cache_need.setdefault(res.name, set())
        need.update(res.schema.primary_key or [])
        for key in res.schema.unique_keys:
            need.update(key)
        for fld in res.schema.fields:
            if fld.constraints.get("unique"):
                need.add(fld.name)
        for fk in res.schema.foreign_keys:
            need.update(fk.fields)
            parent = fk.reference_resource or res.name
            cache_need.setdefault(parent, set()).update(fk.reference_fields)

    validations: dict[str, TableValidation] = {}
    pending: list[tuple[str, DataFrame, TableSchema, list[str] | None]] = []
    # descriptor-declared dataset checks (resource key datasetChecks):
    # structurally validated at parse time, compiled here
    desc_ds = {
        res.name: compile_dataset_checks(res.dataset_checks)
        for res in package.resources
        if res.dataset_checks
    }
    for res in package.resources:
        if res.schema is None:
            # a schema-less attachment is skipped entirely — reading
            # it first would crash package validation on unsupported
            # formats (and waste loads) for a resource we discard
            continue
        header = None
        if dataframes and res.name in dataframes:
            df = dataframes[res.name]
        else:
            try:
                # H1 needs the RAW header row of a CSV: Spark mangles
                # duplicate and blank header names before df.columns
                # exists
                df, header = read_resource_with_header(spark, res)
            except Exception as exc:
                # an unreadable/malformed SOURCE (ragged inline rows,
                # empty inline list, unreachable path) is report
                # content, never an exception — validate_package's
                # contract (r10 review fix). The placeholder has ZERO
                # columns, so header check and FK references against
                # this resource degrade to structured errors too.
                validations[res.name] = TableValidation(
                    resource=res.name,
                    parsed=spark.createDataFrame([], T.StructType([])),
                    errors=[
                        Error(
                            code="source-error",
                            resource=res.name,
                            count=1,
                            message=f"cannot read resource: {exc}",
                        )
                    ],
                )
                continue
            # TYPED columnar formats (parquet/ORC) stay typed from r6:
            # _compile_table renders each column lexically ONLY where
            # a parse or pattern surface needs it, and skips the
            # render→parse roundtrip entirely for columns whose source
            # type already is the parser's target (typed_fast_path —
            # the roundtrip used to be the bulk of the scan). The
            # repartition still moves compact typed rows.
            # no pre-attach of __row_id here (r10 review fix): doing
            # it before validate_table runs check_header made every
            # parquet/ORC resource report the injected column as an
            # extra-header; validate_table attaches row ids AFTER the
            # header check and before ITS ensure_parallelism, which
            # preserves source order the same way
        pending.append((res.name, df, res.schema, header))

    # ONE pool runs every task of the package: table validations, their
    # key checks and the FK anti-joins. Each thread only *submits*
    # Spark jobs (job scheduling is thread-safe), so table B's scan
    # overlaps table A's aggregate, and the FK anti-joins — which only
    # need the key caches — overlap the PK/unique groupBys instead of
    # waiting for them (r11). One pool cannot deadlock: no task waits on
    # another task's future. A table task only submits its key checks
    # (validate_table(key_executor=pool) returns them pending) and this
    # thread drains them with resolve_keys(). The with block shuts the
    # pool down on any exit.
    with ThreadPoolExecutor(max_workers=8) as pool:
        futs = {
            name: pool.submit(
                validate_table,
                df,
                schema,
                resource=name,
                assume_typed=assume_typed,
                cache_cols=sorted(cache_need.get(name, set())),
                header=header,
                row_ids=row_ids,
                custom_checks=(custom_checks or {}).get(name),
                dataset_checks=desc_ds.get(name, [])
                + list((dataset_checks or {}).get(name) or []),
                key_executor=pool,
            )
            for name, df, schema, header in pending
        }
        for name, fut in futs.items():
            validations[name] = fut.result()

        # --- K3: foreign keys (cross-resource + self-referencing) ----
        # submitted before the deferred key checks are drained, so FK
        # jobs overlap the PK/unique groupBys. Degraded (non-job) FK
        # errors are queued and appended only after resolve_keys() so
        # the report keeps its historical order: header/parse → keys →
        # FK.
        fk_futs = []
        fk_degraded: list[tuple[TableValidation, Error]] = []
        for res in package.resources:
            if res.schema is None:
                continue
            child_v = validations[res.name]
            for fk in res.schema.foreign_keys:
                parent_name = fk.reference_resource or res.name  # "" = self
                parent_v = validations.get(parent_name)
                if parent_v is None:
                    fk_degraded.append((
                        child_v,
                        Error(
                            code="foreign-key-error",
                            resource=res.name,
                            field=",".join(fk.fields),
                            constraint="reference resource missing",
                            count=1,
                            message=(
                                f"unknown reference resource {parent_name!r}"
                            ),
                        ),
                    ))
                    continue
                absent_child = [
                    f for f in fk.fields if f not in child_v.parsed.columns
                ]
                absent_parent = [
                    f
                    for f in fk.reference_fields
                    if f not in parent_v.parsed.columns
                ]
                if absent_child or absent_parent:
                    # degrade like the unknown-resource case: a
                    # structured report error, never an
                    # AnalysisException mid-join
                    fk_degraded.append((
                        child_v,
                        Error(
                            code="foreign-key-error",
                            resource=res.name,
                            field=",".join(fk.fields),
                            constraint="reference fields missing",
                            values=absent_child + absent_parent,
                            count=1,
                            message=(
                                "foreign key fields missing: child "
                                f"{absent_child}, parent ({parent_name}) "
                                f"{absent_parent}"
                            ),
                        ),
                    ))
                    continue
                fk_futs.append((
                    res.name,
                    child_v,
                    fk,
                    parent_name,
                    pool.submit(
                        check_foreign_key,
                        child_v.key_view(fk.fields),
                        fk.fields,
                        parent_v.key_view(fk.reference_fields),
                        fk.reference_fields,
                    ),
                ))
        # drain the deferred PK/unique checks while the FK anti-joins
        # run; key errors land before FK errors, as they always did
        for v in validations.values():
            v.resolve_keys()
        for child_v, err in fk_degraded:
            child_v.errors.append(err)
        for name, child_v, fk, parent_name, fut in fk_futs:
            result = fut.result()
            if not result.ok:
                err = result.to_error(name, fk.fields, "foreignKey")
                err.message += f" (reference: {parent_name})"
                child_v.errors.append(err)

    report = assemble_report(validations)
    for v in validations.values():
        v.unpersist()
    return report


def assemble_report(validations: dict[str, TableValidation]) -> dict:
    """S4/D7: goodtables-style report dict ([R validate.py::validate,
    errors.py])."""
    tables = []
    total_errors = 0
    for name, v in validations.items():
        errs = [e.to_dict() for e in v.errors]
        total_errors += len(errs)
        tables.append(
            {
                "source": name,
                "valid": v.valid,
                "row-count": v.row_count,
                "error-count": len(errs),
                "errors": errs,
            }
        )
    return {
        "valid": total_errors == 0,
        "error-count": total_errors,
        "table-count": len(tables),
        "tables": tables,
    }


def partition_valid(
    df: DataFrame,
    schema: TableSchema,
    assume_typed: bool = False,
    custom_checks: list[CustomCheck] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Quarantine split (dead-letter pattern): route rows through the
    same single-scan check projection and return

    - ``valid``: rows passing every cell-level check, TYPED columns —
      ready for downstream ETL;
    - ``invalid``: offending rows with their RAW lexical columns (for
      repair/replay) plus ``__failed_checks: array<string>`` naming
      each violated check.

    Cell-level only (type + C1/C3-C6); key/uniqueness violations are
    set-level properties — use validate_table for those. One scan per
    output (or one total if the caller persists the wide projection);
    both outputs stay partition-parallel, nothing is collected.
    """
    wide, checks, typed_names = _compile_table(
        df, schema, assume_typed, custom_checks
    )
    raw_cols = [
        F.col(f"__raw__{c}").alias(c) if f"__raw__{c}" in wide.columns else F.col(c)
        for c in typed_names
    ]
    if not checks:
        # keep the invalid branch's schema IDENTICAL to the checked
        # path (raw columns + __failed_checks) so dead-letter sinks
        # can append either outcome without a schema mismatch
        empty_invalid = wide.select(
            *raw_cols,
            F.array().cast("array<string>").alias("__failed_checks"),
        ).limit(0)
        return wide.select(*typed_names), empty_invalid

    labels = F.array_compact(
        F.array(
            *[
                F.when(F.col(ck.mask_col), F.lit(f"{ck.field}:{ck.code}"))
                for ck in checks
            ]
        )
    )
    marked = wide.withColumn("__failed_checks", labels)
    any_bad = F.size(F.col("__failed_checks")) > 0
    valid = marked.where(~any_bad).select(*typed_names)
    invalid = marked.where(any_bad).select(*raw_cols, F.col("__failed_checks"))
    return valid, invalid
