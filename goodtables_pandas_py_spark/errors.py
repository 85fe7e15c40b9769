"""Error model (SURVEY.md §1.1 D6) — goodtables data-quality-spec codes.

The reference emits error dicts per check with the offending *distinct
values* rather than one error per cell ([R errors.py]); we mirror that
with a small driver-side dataclass plus an optional Spark DataFrame
rendering for audit sinks at scale (SURVEY.md §2.1 S4).
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field
from typing import Any

# goodtables data-quality-spec codes [SPEC data-quality-spec]
HEADER_CODES = {
    "blank-header",
    "duplicate-header",
    "missing-header",
    "extra-header",
    "non-matching-header",
}
VALUE_CODES = {
    "type-or-format-error",
    "required-constraint",
    "unique-constraint",
    "minimum-constraint",
    "maximum-constraint",
    "minimum-length-constraint",
    "maximum-length-constraint",
    "enumerable-constraint",
    "pattern-constraint",
}
KEY_CODES = {"primary-key-constraint", "unique-key-constraint", "foreign-key-error"}
#: table-level statistics verdicts (validate.DatasetCheck — an engine
#: extension; deequ-style aggregate unit tests, not in the goodtables
#: spec)
DATASET_CODES = {"dataset-constraint"}
#: descriptor-level codes: the descriptor itself failed its profile
#: ([R validate.py::validate] profile validation; goodtables codes)
SCHEMA_CODES = {"schema-error", "datapackage-error"}

#: cap on offending-value samples carried to the driver (SURVEY.md §2.6
#: A2 — the reference keeps the full list; unbounded collects are not
#: 100 TB-safe, so we cap and keep the exact count separately).
VALUE_SAMPLE_CAP = 20


@dataclass
class Error:
    """One typed error ([R errors.py] shape: code + message +
    substitutions)."""

    code: str
    resource: str = ""
    field: str | None = None
    constraint: Any = None
    values: list[Any] = dc_field(default_factory=list)
    count: int = 0
    message: str = ""
    #: sample of offending row positions (SURVEY.md D6; capped like
    #: values — row addressing is opt-in, see validate_table(row_ids=))
    row_ids: list[int] = dc_field(default_factory=list)

    def to_dict(self) -> dict[str, Any]:
        d: dict[str, Any] = {"code": self.code, "message": self.message or self.code}
        if self.resource:
            d["resource"] = self.resource
        if self.field is not None:
            d["field"] = self.field
        if self.constraint is not None:
            d["constraint"] = self.constraint
        if self.values:
            d["values"] = [_jsonable(v) for v in self.values]
        if self.row_ids:
            d["row-ids"] = list(self.row_ids)
        d["count"] = self.count
        return d


def _jsonable(v: Any) -> Any:
    import datetime as dt

    if isinstance(v, (dt.date, dt.datetime)):
        return v.isoformat()
    return v


def errors_to_spark_df(spark, errors: list[Error]):
    """Audit-trail rendering: errors as a DataFrame (writeable to
    parquet for 100 TB pipelines, SURVEY.md §2.1 S4)."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("code", T.StringType()),
            T.StructField("resource", T.StringType()),
            T.StructField("field", T.StringType()),
            T.StructField("constraint", T.StringType()),
            T.StructField("values", T.ArrayType(T.StringType())),
            T.StructField("count", T.LongType()),
            T.StructField("row_ids", T.ArrayType(T.LongType())),
        ]
    )
    rows = [
        (
            e.code,
            e.resource,
            e.field,
            None if e.constraint is None else str(e.constraint),
            # None placeholders (a required check samples no values)
            # must not become the literal string 'None' in the audit
            # table
            [str(_jsonable(v)) for v in e.values if v is not None],
            e.count,
            list(e.row_ids) if e.row_ids else None,
        )
        for e in errors
    ]
    return spark.createDataFrame(rows, schema)


def write_report_errors(spark, report: dict, path: str, mode: str = "overwrite") -> None:
    """S4 audit sink: persist every error in the report as parquet —
    the scale-safe artifact (value samples are already capped, so
    rows are small and bounded by check count, not data size).
    Covers BOTH per-table errors and package-level errors (descriptor
    failures put everything in report['errors'] with tables=[] —
    previously those wrote an empty audit trail, reading as a clean
    run for a package that failed outright). Row addresses collected
    via validate(row_ids=True) persist in the ``row_ids`` column."""

    def mk(e: dict, resource):
        return Error(
            code=e.get("code", ""),
            resource=resource,
            field=e.get("field"),
            constraint=None if e.get("constraint") is None else str(e["constraint"]),
            values=e.get("values", []),
            count=e.get("count", 0),
            message=e.get("message", ""),
            row_ids=e.get("row-ids") or [],
        )

    errors = [
        mk(e, tbl["source"])
        for tbl in report.get("tables", [])
        for e in tbl.get("errors", [])
    ] + [mk(e, None) for e in report.get("errors", [])]
    errors_to_spark_df(spark, errors).write.mode(mode).parquet(path)
