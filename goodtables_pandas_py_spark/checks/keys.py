"""Table-level key checks K1-K3 (SURVEY.md §2.5, [R check.py]).

Each check runs on the *parsed* DataFrame (callers should persist it —
SURVEY.md §4.3.2) and returns bounded results: an exact violation count
plus a capped sample of offending key tuples (never an unbounded
collect — 100 TB posture, SURVEY.md §4.4). All three share one kernel,
:func:`_count_and_sample`; the sample is the VALUE_SAMPLE_CAP (20)
smallest violating tuples, so it does not depend on partitioning.

Null semantics (SURVEY.md §2.5 decisions, documented deviations none):
- K1 primary key: any-null component is a violation; duplicate tuples
  are violations. Spark ``groupBy`` groups nulls together, matching
  pandas ``duplicated()`` NaN==NaN behavior ([R check.py]).
- K3 foreign key: child rows with any-null component are SKIPPED (SQL
  MATCH SIMPLE; pandas merge matches NaN<->NaN, so the reference
  counts null tuples as satisfied — same observable outcome: neither
  reports them as violations).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field as dc_field
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..errors import VALUE_SAMPLE_CAP, Error


@dataclass
class KeyCheckResult:
    code: str
    count: int = 0
    values: list = dc_field(default_factory=list)

    @property
    def ok(self) -> bool:
        return self.count == 0

    def to_error(self, resource: str, field_names: list[str], constraint) -> Error:
        return Error(
            code=self.code,
            resource=resource,
            field=",".join(field_names),
            constraint=constraint,
            values=self.values,
            count=self.count,
            message=f"{self.code} on ({', '.join(field_names)}): "
            f"{self.count} violating rows",
        )


def _free_name(base: str, taken) -> str:
    """Internal alias guaranteed not to collide with a user field: a
    fixed '__' prefix defends against a field named 'n' but not one
    literally named '__n' (r10 review fix — that collision made the
    post-agg filter AMBIGUOUS_REFERENCE instead of reporting)."""
    name = base
    while name in taken:
        name = "_" + name
    return name


def _any(cols: list[str], test: Callable[[Column], Column]) -> Column:
    """``test`` of any key column: the null masks of K1 and K3."""
    return reduce(Column.__or__, [test(F.col(c)) for c in cols])


def _check_key_widths(
    child_fields: list[str], parent_fields: list[str], name: str = ""
) -> None:
    """Both FK kernels zip child with parent columns: a width mismatch
    would silently compare the wrong columns, so it raises."""
    if len(parent_fields) != len(child_fields):
        raise ValueError(
            f"foreign key {name or parent_fields!r}: parent key width "
            f"{len(parent_fields)} != child key width "
            f"{len(child_fields)} — a mismatched zip would silently "
            "compare the wrong columns"
        )


def _count_and_sample(
    code: str, viol: DataFrame, key: list[str], weight: Column
) -> KeyCheckResult:
    """Shared kernel of K1-K3: exact count plus bounded sample from the
    violating rows ``viol`` (usually tiny — violations only). ``viol``
    is persisted, so the count (the sum of ``weight`` over ``viol``, in
    one aggregate) pays the groupBy/anti-join shuffle once and the
    sample is a cache read, never a second shuffle or an unbounded
    collect (SURVEY.md §4.4). The sample is the VALUE_SAMPLE_CAP
    smallest key tuples — a per-task top-k over the cache, no exchange
    — so it does not depend on how the violations are partitioned.
    Worst case (everything violates) the persist spills to disk rather
    than recomputing."""
    viol = viol.persist()
    try:
        count = int(viol.agg(F.coalesce(F.sum(weight), F.lit(0))).first()[0])
        sample: list = []
        if count:
            sample = [
                tuple(r[c] for c in key)
                for r in viol.orderBy(*key).limit(VALUE_SAMPLE_CAP).collect()
            ]
        return KeyCheckResult(code=code, count=count, values=sample)
    finally:
        viol.unpersist()


def duplicate_keys_df(df: DataFrame, key: list[str]) -> DataFrame:
    """Shared kernel of K1/K2/C2: key tuples appearing more than once,
    with multiplicities (count column: ``_free_name('__n', key)``).
    One hash-aggregate shuffle on the key — partial (map-side)
    aggregation is automatic (SURVEY.md §4.2)."""
    n = _free_name("__n", key)
    return (
        df.groupBy(*key)
        .agg(F.count(F.lit(1)).alias(n))
        .where(F.col(n) > 1)
    )


def check_primary_key(df: DataFrame, key: list[str]) -> KeyCheckResult:
    """K1 ([R check.py::check_primary_key]): components non-null AND
    tuple unique. Counts null rows plus extra duplicate rows.

    One shuffle: group on the key tuple and keep the all-row weight of
    null groups and the extra rows of duplicate groups (vs the naive
    two passes — a scan-count for nulls plus a groupBy for dups). The
    any-null flag is DERIVED from the key columns after the aggregate
    (r12): it is constant within a key group, so grouping on it was
    redundant — and keying the groupBy on the bare tuple lets a frame
    already hash-partitioned by the PK (validate_table's cache) satisfy
    the distribution with no exchange at all (guide §2.4)."""
    n = _free_name("__n", key)
    isnull = _free_name("__isnull", key)
    viol = (
        df.groupBy(*key)
        .agg(F.count(F.lit(1)).alias(n))
        .select(_any(key, Column.isNull).alias(isnull), "*")
        .where(F.col(isnull) | (F.col(n) > 1))
    )
    # the filter keeps only null or n > 1 groups: a null group counts
    # all its rows, a duplicate group its extra ones
    weight = F.when(F.col(isnull), F.col(n)).otherwise(F.col(n) - 1)
    return _count_and_sample("primary-key-constraint", viol, key, weight)


def check_unique_key(df: DataFrame, key: list[str]) -> KeyCheckResult:
    """K2 ([R check.py::check_unique_keys]): tuple uniqueness only
    (null components allowed; null tuples can duplicate, matching
    pandas — Spark groupBy groups nulls identically)."""
    weight = F.col(_free_name("__n", key)) - 1
    return _count_and_sample(
        "unique-key-constraint", duplicate_keys_df(df, key), key, weight
    )


def foreign_key_violations_df(
    child: DataFrame,
    child_fields: list[str],
    parent: DataFrame,
    parent_fields: list[str],
    broadcast_parent: bool | None = None,
) -> DataFrame:
    """K3 kernel ([R check.py::check_foreign_keys]): DISTINCT child key
    tuples with no match in parent — a left ANTI join on distinct sets
    (violation *set*, not per-row; SURVEY.md §4.3.3).

    Scale notes: distinct() both sides first shrinks the shuffle to key
    cardinality; AQE converts to broadcast when the parent is small.
    ``broadcast_parent=True`` forces the hint for known dimension
    tables.

    Null semantics (pandas-reference parity): pandas ``merge`` matches
    NaN==NaN, so a PARTIALLY-null composite tuple like (1, null) is a
    violation unless the parent contains (1, null) too. We mirror that
    with a null-safe equality join (``<=>`` — still a hash-joinable
    equi-key) and skip only FULLY-null tuples (no information to
    check, matching the reference's NA-row drop)."""
    _check_key_widths(child_fields, parent_fields)
    left = (
        child.where(_any(child_fields, Column.isNotNull))
        .select(*child_fields)
        .distinct()
    )
    right = parent.select(
        *[F.col(p).alias(f"__ref_{i}") for i, p in enumerate(parent_fields)]
    ).distinct()
    if broadcast_parent:
        right = F.broadcast(right)
    cond = None
    for i, c in enumerate(child_fields):
        eq = left[c].eqNullSafe(right[f"__ref_{i}"])
        cond = eq if cond is None else (cond & eq)
    return left.join(right, cond, "left_anti")


def foreign_key_violations_multi(
    child: DataFrame,
    child_fields: list[str],
    parents: dict[str, tuple[DataFrame, list[str]]],
    broadcast_parent: bool | None = None,
    label_col: str = "fk",
) -> DataFrame:
    """Several FK checks against the SAME child key tuple in ONE pass:
    returns (``label_col``, *child_fields) — one row per (fk name,
    violating distinct child tuple).

    Why not N calls to :func:`foreign_key_violations_df` unioned:
    each call re-scans the child and re-runs the distinct aggregate —
    with a broadcast anti-join the child side has no exchange, so
    Spark's ReusedExchange cannot dedupe the scans and an N-FK check
    pays N full child scans (measured: the benched two-FK
    k3_fk_violations ran 2× a single check, the r4 "fk_anti_join
    drift"). Here the child is scanned and distinct'd ONCE, each
    parent probes it with a null-safe broadcast LEFT join (marker
    column), and one explode emits the per-FK violation rows — a
    single linear plan: scan → distinct → N broadcast hash joins →
    explode. At 100 TB that's N FK checks for one child shuffle.

    Null semantics identical to :func:`foreign_key_violations_df`:
    fully-null child tuples are skipped, partial nulls join null-safe
    (``<=>``)."""
    for name, (_, parent_fields) in parents.items():
        _check_key_widths(child_fields, parent_fields, name)
    keys = (
        child.where(_any(child_fields, Column.isNotNull))
        .select(*child_fields)
        .distinct()
    )
    markers = []
    joined = keys
    for idx, (name, (parent, parent_fields)) in enumerate(parents.items()):
        right = parent.select(
            *[
                F.col(p).alias(f"__ref{idx}_{i}")
                for i, p in enumerate(parent_fields)
            ],
            F.lit(1).alias(f"__hit{idx}"),
        ).dropDuplicates([f"__ref{idx}_{i}" for i in range(len(parent_fields))])
        if broadcast_parent:
            right = F.broadcast(right)
        cond = None
        for i, c in enumerate(child_fields):
            eq = joined[c].eqNullSafe(right[f"__ref{idx}_{i}"])
            cond = eq if cond is None else (cond & eq)
        joined = joined.join(right, cond, "left").drop(
            *[f"__ref{idx}_{i}" for i in range(len(parent_fields))]
        )
        markers.append(
            F.when(F.col(f"__hit{idx}").isNull(), F.lit(name))
        )
    out = joined.select(
        *child_fields,
        F.explode(
            F.filter(F.array(*markers), lambda x: x.isNotNull())
        ).alias(label_col),
    )
    return out.select(label_col, *child_fields)


def check_foreign_key(
    child: DataFrame,
    child_fields: list[str],
    parent: DataFrame,
    parent_fields: list[str],
    broadcast_parent: bool | None = None,
) -> KeyCheckResult:
    viol = foreign_key_violations_df(
        child, child_fields, parent, parent_fields, broadcast_parent
    )
    return _count_and_sample("foreign-key-error", viol, child_fields, F.lit(1))
