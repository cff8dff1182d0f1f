"""Ingest validation rule engine (SURVEY.md §3.2: the reference's
`ocdb/core/val/validator.py::Validator` + rule classes + config [U],
~1k LoC of row-at-a-time Python producing per-dataset issues and an
OK/WARNING/ERROR status).

Spark-first re-expression: a rule is a named Column *violation
predicate* plus severity and message; `validate` evaluates every rule
as one projection — the issues land in an `array<struct>` column and
the status is a `when` rollup. No Python in the loop: a million-row
file validates at scan speed inside whole-stage codegen.

Scale notes: validation is embarrassingly parallel (per-row), so the
only design requirement is staying in the JVM — which rules-as-Columns
gives for free. The reference's configurable rule set (JSON config)
maps to building the Rule list from config at plan time.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, functions as F

OK = "OK"
WARNING = "WARNING"
ERROR = "ERROR"


@dataclass(frozen=True)
class Rule:
    """One validation rule: `violated` is a Column that is true where
    the rule FAILS (reference: one rule class per check)."""

    name: str
    severity: str  # WARNING | ERROR
    violated: Column
    message: str

    def __post_init__(self):
        if self.severity not in (WARNING, ERROR):
            raise ValueError(f"severity must be WARNING or ERROR, got {self.severity!r}")


# ---- rule constructors mirroring the reference's configured checks ----


def required(col: str, severity: str = ERROR) -> Rule:
    """Field must be present (reference: required-field rule)."""
    return Rule(
        name=f"required_{col}",
        severity=severity,
        violated=F.col(col).isNull(),
        message=f"{col} is missing",
    )


def value_range(col: str, lo: float, hi: float, severity: str = ERROR) -> Rule:
    """Value must lie in [lo, hi] (reference: min/max record rules —
    the same check op84/op85 run as UDFs; here it's pure Column)."""
    return Rule(
        name=f"range_{col}",
        severity=severity,
        violated=F.col(col).isNotNull() & ~F.col(col).between(lo, hi),
        message=f"{col} outside [{lo}, {hi}]",
    )


def custom(name: str, violated: Column, message: str, severity: str = WARNING) -> Rule:
    return Rule(name=name, severity=severity, violated=violated, message=message)


# ------------------------------------------------------------- engine


_ISSUES_TYPE = "array<struct<rule:string,severity:string,message:string>>"


def validate(df: DataFrame, rules: list[Rule]) -> DataFrame:
    """Append `issues` (array<struct<rule,severity,message>>, empty when
    clean) and `status` (OK/WARNING/ERROR) columns — the reference's
    DatasetValidationResult, per row, in one codegen projection.

    `issues`/`status` are OUTPUT names: an input frame already
    carrying either would be silently clobbered (e.g. a submission's
    business `status` from the reference workflow), so that is a loud
    error at the boundary (round-13 review, the sinks.py guard
    pattern)."""
    clash = {"issues", "status"} & set(df.columns)
    if clash:
        raise ValueError(
            f"validate() writes output columns {sorted(clash)}; rename "
            "them on the input frame first"
        )
    issue_structs = [
        F.when(
            r.violated,
            F.struct(
                F.lit(r.name).alias("rule"),
                F.lit(r.severity).alias("severity"),
                F.lit(r.message).alias("message"),
            ),
        )
        for r in rules
    ]
    if issue_structs:
        issues = F.filter(F.array(*issue_structs), lambda x: x.isNotNull())
    else:
        # a dataset type configured with zero rules: F.array() would be
        # array<void>, which breaks the exists() field extraction below
        # and any parquet write of the column (round-13 review) — emit
        # a TYPED empty array instead
        issues = F.array().cast(_ISSUES_TYPE)
    has_error = F.exists(F.col("issues"), lambda x: x["severity"] == ERROR)
    has_warning = F.exists(F.col("issues"), lambda x: x["severity"] == WARNING)
    return df.withColumn("issues", issues).withColumn(
        "status",
        F.when(has_error, ERROR).when(has_warning, WARNING).otherwise(OK),
    )

