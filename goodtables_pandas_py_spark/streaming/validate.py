"""Streaming validation X5 (SURVEY.md §2.9): the SAME compiled check
expressions the batch engine uses (checks/constraints.py, parsers/)
applied over ``readStream`` sources, plus watermark-windowed error-rate
aggregation and micro-batch FK checks.

The reference is batch-only (SURVEY.md §1.1); this extension exists
because a 100 TB training-data pipeline validates data in flight.
Design:

- **Expression reuse**: a compiled mask Column is engine-agnostic —
  the identical Catalyst expression tree runs in both batch and
  micro-batch plans, so batch goldens certify streaming semantics. The
  reuse is one shared function: ``validate_stream`` and the batch
  ``_compile_table`` both build each field's parse, type-error mask
  and constraint masks with ``validate._compile_field``.
- **Watermarks** bound state for windowed aggregation; late rows
  beyond the watermark are dropped and accounted by the watermark
  policy, never buffered unboundedly.
- **FK checks** are NOT stream-stream joins (unbounded state,
  SURVEY.md §7.3.6): ``foreachBatch`` anti-joins each micro-batch
  against a (broadcast) parent snapshot.

Caveat: Spark requires event-time (watermark) columns to be
TIMESTAMP (LTZ), not TIMESTAMP_NTZ — cast NTZ event time with
``col.cast("timestamp")`` (identity wall-clock under the UTC session
timezone our entry points pin).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schema import TableSchema
from ..validate import _compile_field


def validate_stream(
    stream: DataFrame, schema: TableSchema, assume_typed: bool = True,
    allow_missing_fields: bool = False,
) -> DataFrame:
    """Augment a streaming DataFrame with one boolean ``__viol__*``
    column per check (same naming as the batch engine). Pure stateless
    projection — no shuffle, survives any output mode.

    Schema fields absent from the stream raise at PLAN TIME (the
    batch engine reports missing-header for the same situation —
    silently skipping would let producer-side schema drift validate
    clean forever, the exact failure streaming validation exists to
    catch). Pass ``allow_missing_fields=True`` to opt into partial
    validation of a narrower stream.
    """
    absent = [f.name for f in schema.fields if f.name not in stream.columns]
    if absent and not allow_missing_fields:
        raise ValueError(
            f"stream lacks schema fields {absent} (batch validation "
            "reports missing-header here); pass "
            "allow_missing_fields=True for partial validation"
        )
    cols = [F.col(c) for c in stream.columns]
    for fld in schema.fields:
        if fld.name not in stream.columns:
            continue
        _, _, bad, constraints = _compile_field(
            fld, stream.schema[fld.name].dataType, schema.missing_values,
            assume_typed,
        )
        if bad is not None:
            cols.append(bad.alias(f"__bad__{fld.name}"))
        for ck in constraints:
            cols.append(ck.mask.alias(f"__viol__{fld.name}__{ck.constraint}"))
    return stream.select(*cols)


def error_rate_windows(
    stream: DataFrame,
    ts_col: str,
    window_duration: str = "10 minutes",
    watermark: str = "30 minutes",
    group_by: list[str] | None = None,
) -> DataFrame:
    """Tumbling-window violation rates over a ``validate_stream``
    output: per window (and optional keys), total rows and per-check
    violation counts. Watermark bounds the aggregation state; output
    works in append mode once the watermark passes a window."""
    mask_cols = [c for c in stream.columns if c.startswith("__viol__")
                 or c.startswith("__bad__")]
    keys = [F.window(F.col(ts_col), window_duration).alias("window")] + [
        F.col(k) for k in (group_by or [])
    ]
    aggs = [F.count(F.lit(1)).alias("n_rows")] + [
        F.count_if(F.col(c)).alias(c.replace("__viol__", "n_").replace("__bad__", "n_bad_"))
        for c in mask_cols
    ]
    return stream.withWatermark(ts_col, watermark).groupBy(*keys).agg(*aggs)


def session_event_counts(
    stream: DataFrame,
    ts_col: str,
    user_col: str,
    gap: str = "30 minutes",
    watermark: str | None = "1 hour",
) -> DataFrame:
    """Session windows (gap-merged) per user — the stateful half of
    queries.py::x5_sessions, shared verbatim by both engines: the
    batch registry query calls it with ``watermark=None`` (a watermark
    is a stream-state concept) and layers the per-user rollup on top;
    a streaming caller keeps the watermark to bound state and applies
    the rollup to the sink (Structured Streaming does not chain two
    stateful aggregations). One function, one compiled expression
    tree — stream/batch equivalence is asserted end-to-end on real
    sf0.001 rows in test_streaming."""
    if watermark is not None:
        stream = stream.withWatermark(ts_col, watermark)
    return (
        stream
        .groupBy(F.session_window(F.col(ts_col), gap).alias("session"), F.col(user_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


def windowed_event_rollup(
    df: DataFrame,
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
    window_duration: str = "10 minutes",
) -> DataFrame:
    """The x5_events_window rollup — tumbling windows × event type,
    count + exact (decimal-summed) value total — as ONE function both
    engines execute: queries.py::x5_events_window runs it on the batch
    events table; a streaming caller runs the identical expression
    tree over readStream (add ``withWatermark`` upstream for append
    mode; a single aggregation, so it streams in complete mode as-is).
    The batch↔stream row-for-row equivalence this enables is asserted
    on real sf0.001 data in test_streaming (VERDICT r4 §next 6)."""
    win = F.window(F.col(ts_col), window_duration)
    return (
        df.groupBy(win.alias("w"), F.col(type_col).alias("event_type"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col(value_col).cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_val"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm").alias("win_start"),
            "event_type",
            "n",
            "sum_val",
        )
    )


def fk_check_foreach_batch(
    parent: DataFrame,
    child_fields: list[str],
    parent_fields: list[str],
    on_violations: Callable[[DataFrame, int], None],
    broadcast_parent: bool = True,
) -> Callable[[DataFrame, int], None]:
    """Build a ``foreachBatch`` function that anti-joins each
    micro-batch against a parent snapshot and hands violations to
    ``on_violations(viol_df, batch_id)``. ``broadcast_parent``
    defaults ON — dimension-sized parents are the norm and the hint
    avoids re-shuffling the parent every micro-batch — but it is a
    FORCED hint: pass ``False`` for fact-sized parents (hundreds of
    millions of keys), where a forced broadcast dies on
    broadcast-size/driver limits; the plain join lets AQE decide
    (r11 review — the knob existed on foreign_key_violations_df but
    was not exposed here). Keeps FK state out of the stream —
    micro-batch joins only (SURVEY.md §7.3.6)."""
    from ..checks.keys import foreign_key_violations_df

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        viol = foreign_key_violations_df(
            batch_df,
            child_fields,
            parent,
            parent_fields,
            broadcast_parent=broadcast_parent,
        )
        on_violations(viol, batch_id)

    return handle


def asof_enrich_foreach_batch(
    dimension: DataFrame,
    on_batch: Callable[[DataFrame, int], None],
    ts_col: str = "ts",
    by: list[str] | None = None,
    **asof_kwargs,
) -> Callable[[DataFrame, int], None]:
    """Build a ``foreachBatch`` function that as-of-enriches each
    micro-batch against a (slowly-changing) dimension snapshot:
    every event in the batch gets the latest dimension row at or
    before its timestamp (:func:`~..extensions.temporal.asof_join`),
    and the enriched frame goes to ``on_batch(enriched_df, batch_id)``
    — REQUIRED, since foreachBatch commits offsets whether or not
    anyone acts on the batch (a defaulted no-op callback would
    silently consume the stream).

    The streaming twin of the FK pattern above — state stays OUT of
    the stream: the as-of runs per micro-batch as one bounded
    union+window job (batch rows + dimension rows shuffled on ``by``),
    never as a stream-stream join with unbounded state. For large
    dimensions at high batch rates, pre-filter the snapshot to the
    keys seen recently or load it from a bucketed table
    (``sources.write_bucketed``) so the per-batch shuffle stays small.
    """
    from ..extensions.temporal import asof_join

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        on_batch(
            asof_join(batch_df, dimension, ts_col=ts_col, by=by,
                      **asof_kwargs),
            batch_id,
        )

    return handle
