"""Validation rule engine tests (SURVEY.md §3.2 parity: one test per
rule kind + severity rollup, mirroring the reference's per-rule test
habit), including the end-to-end ingest→validate pipeline over the
SeaBASS fixture and a plan assertion that no Python UDF sneaks in."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from ocdb_server_spark.sources.seabass import FIXTURE, read_seabass
from ocdb_server_spark.validation import (
    ERROR,
    OK,
    WARNING,
    Rule,
    custom,
    required,
    validate,
    value_range,
)


def regex_match(col: str, pattern: str, severity: str = WARNING) -> Rule:
    """String must match the pattern (reference: format rules)."""
    return Rule(
        name=f"format_{col}",
        severity=severity,
        violated=F.col(col).isNotNull() & ~F.col(col).rlike(pattern),
        message=f"{col} does not match {pattern}",
    )


def status_rollup(validated, group_cols: list[str]):
    """Per-file/per-submission status (reference: a file's status is
    the worst of its records'): one map-side-partial aggregation."""
    worst = (
        F.when(F.max((F.col("status") == ERROR).cast("int")) == 1, ERROR)
        .when(F.max((F.col("status") == WARNING).cast("int")) == 1, WARNING)
        .otherwise(OK)
    )
    return validated.groupBy(*group_cols).agg(
        F.count("*").alias("n_records"),
        F.sum(F.size("issues")).alias("n_issues"),
        worst.alias("status"),
    )


@pytest.fixture(scope="module")
def frame(spark):
    return spark.createDataFrame(
        [
            (1, 10.0, "CR001"),
            (2, None, "CR002"),      # required violation (ERROR)
            (3, 999.0, "CR003"),     # range violation (ERROR)
            (4, 20.0, "bad id"),     # format violation (WARNING)
            (5, 999.0, "bad id"),    # range + format
        ],
        "id long, depth double, cruise string",
    )


@pytest.fixture(scope="module")
def rules(spark):
    # built lazily: Column construction needs an active SparkContext
    return [
        required("depth"),
        value_range("depth", 0.0, 100.0),
        regex_match("cruise", r"^CR\d+$"),
    ]


def test_issue_and_status_per_row(frame, rules):
    out = {r["id"]: r for r in validate(frame, rules).collect()}
    assert out[1]["status"] == OK and out[1]["issues"] == []
    assert out[2]["status"] == ERROR
    assert [i["rule"] for i in out[2]["issues"]] == ["required_depth"]
    assert out[3]["status"] == ERROR
    assert [i["rule"] for i in out[3]["issues"]] == ["range_depth"]
    assert out[4]["status"] == WARNING
    assert [i["rule"] for i in out[4]["issues"]] == ["format_cruise"]
    assert out[5]["status"] == ERROR  # worst severity wins
    assert {i["rule"] for i in out[5]["issues"]} == {"range_depth", "format_cruise"}


def test_custom_rule(frame):
    r = custom("depth_even", (F.col("depth") % 2 != 0), "depth must be even", WARNING)
    out = {x["id"]: x["status"] for x in validate(frame, [r]).collect()}
    assert out[1] == OK  # 10.0 is even
    assert out[2] == OK  # null → no violation fired


def test_bad_severity_rejected():
    with pytest.raises(ValueError, match="severity"):
        custom("x", F.lit(True), "m", "FATAL")


def test_status_rollup_worst_wins(frame, rules):
    validated = validate(frame.withColumn("file", F.col("id") % 2), rules)
    roll = {r["file"]: r for r in status_rollup(validated, ["file"]).collect()}
    # file 0: ids 2,4 → ERROR+WARNING → ERROR; file 1: ids 1,3,5 → ERROR
    assert roll[0]["status"] == ERROR
    assert roll[1]["status"] == ERROR
    assert roll[0]["n_records"] == 2
    assert roll[1]["n_records"] == 3


def test_all_clean_rolls_up_ok(spark):
    df = spark.createDataFrame([(1, 5.0)], "id long, depth double")
    v = validate(df, [value_range("depth", 0, 10)])
    assert status_rollup(v.withColumn("f", F.lit(0)), ["f"]).collect()[0]["status"] == OK


def test_seabass_ingest_validate_end_to_end(spark, tmp_path):
    """The reference's upload path: parse → validate → status rollup
    (SURVEY.md §3.2), all JVM expressions."""
    p = tmp_path / "exp.sb"
    p.write_text(FIXTURE)
    df = read_seabass(spark, str(p))
    rules = [
        required("chl", severity=WARNING),      # /missing is a data gap → warn
        value_range("depth", 0.0, 1000.0),
        value_range("sal", 0.0, 45.0),
    ]
    v = validate(df, rules)
    statuses = [r["status"] for r in v.collect()]
    assert statuses.count(WARNING) >= 2  # the -999/-888 chl rows
    roll = status_rollup(v.withColumn("file", F.lit("exp.sb")), ["file"]).collect()[0]
    assert roll["status"] == WARNING
    assert roll["n_records"] == 5


def test_validation_stays_in_jvm(frame, rules):
    """No BatchEvalPython / PythonUDF nodes — the engine's whole point
    vs the reference's row-at-a-time Python."""
    plan = validate(frame, rules)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan


# ------------------------------------------- randomized differential


def test_randomized_rulesets_vs_pandas(spark):
    """8 seeded-random rule sets over a 300-row null-seeded frame,
    checked against an independent pandas re-implementation of every
    rule constructor's documented semantics (required = isna;
    value_range = notna & outside closed [lo,hi]; regex_match = notna
    & no unanchored match, rlike-style; custom = its own predicate)
    plus the per-row worst-severity rollup and the per-group
    status_rollup aggregate. The targeted tests above pin each rule
    kind; this sweeps rule-set COMPOSITIONS (duplicate kinds,
    mixed severities, all-clean sets)."""
    import random
    import re

    import pandas as pd

    rng = random.Random(3117)
    rows = []
    for i in range(300):
        v = None if rng.random() < 0.15 else round(rng.uniform(-50, 150), 3)
        s = None if rng.random() < 0.1 else rng.choice(
            ["CR001", "CR17", "bad id", "cr002", "XX9", ""]
        )
        rows.append((i, v, s, i % 5))
    pdf = pd.DataFrame(rows, columns=["id", "v", "s", "grp"])
    sdf = spark.createDataFrame(rows, "id long, v double, s string, grp long")

    patterns = [r"^CR\d+$", r"\d", r"^[A-Z]"]

    def draw_rules(rng):
        pool = []
        sev = lambda: rng.choice([WARNING, ERROR])  # noqa: E731
        pool.append(lambda: ("req_v", required("v", sev())))
        pool.append(lambda: ("req_s", required("s", sev())))
        pool.append(
            lambda: (
                "range_v",
                value_range(
                    "v", lo := round(rng.uniform(-60, 50), 1),
                    round(lo + rng.uniform(0, 120), 1), sev()
                ),
            )
        )
        pool.append(
            lambda: ("fmt_s", regex_match("s", rng.choice(patterns), sev()))
        )
        pool.append(
            lambda: (
                "odd_id",
                custom("odd_id", F.col("id") % 2 == 1, "odd id", sev()),
            )
        )
        return [rng.choice(pool)() for _ in range(rng.randrange(1, 5))]

    def pandas_violated(kind, rule, pdf):
        if kind == "req_v":
            return pdf["v"].isna()
        if kind == "req_s":
            return pdf["s"].isna()
        if kind == "range_v":
            m = re.match(r"v outside \[(.+), (.+)\]", rule.message)
            lo, hi = float(m.group(1)), float(m.group(2))
            return pdf["v"].notna() & ~pdf["v"].between(lo, hi)
        if kind == "fmt_s":
            pat = rule.message.split("does not match ", 1)[1]
            return pdf["s"].notna() & ~pdf["s"].str.contains(
                pat, regex=True, na=False
            )
        if kind == "odd_id":
            return pdf["id"] % 2 == 1
        raise AssertionError(kind)

    statuses_seen = set()
    for trial in range(8):
        drawn = draw_rules(rng)
        validated = validate(sdf, [r for _, r in drawn])
        out = (
            validated
            .select("id", "grp", "status", F.size("issues").alias("ni"))
            .toPandas()
            .sort_values("id")
            .reset_index(drop=True)
        )
        # pandas mirror
        viol = {
            i: pandas_violated(kind, rule, pdf)
            for i, (kind, rule) in enumerate(drawn)
        }
        n_issues = sum(v.astype(int) for v in viol.values())
        has_err = pd.Series(False, index=pdf.index)
        has_warn = pd.Series(False, index=pdf.index)
        for i, (_, rule) in enumerate(drawn):
            if rule.severity == ERROR:
                has_err |= viol[i]
            else:
                has_warn |= viol[i]
        exp_status = (
            pd.Series(OK, index=pdf.index)
            .mask(has_warn, WARNING)
            .mask(has_err, ERROR)
        )
        assert list(out["ni"]) == list(n_issues), trial
        assert list(out["status"]) == list(exp_status), trial
        statuses_seen.update(out["status"])

        roll = (
            status_rollup(validated, ["grp"])
            .toPandas()
            .sort_values("grp")
            .reset_index(drop=True)
        )
        exp_roll = pd.DataFrame(
            {
                "grp": sorted(pdf["grp"].unique()),
            }
        )
        exp_roll["n_records"] = [
            int((pdf["grp"] == g).sum()) for g in exp_roll["grp"]
        ]
        exp_roll["n_issues"] = [
            int(n_issues[pdf["grp"] == g].sum()) for g in exp_roll["grp"]
        ]
        exp_roll["status"] = [
            ERROR
            if has_err[pdf["grp"] == g].any()
            else (WARNING if has_warn[pdf["grp"] == g].any() else OK)
            for g in exp_roll["grp"]
        ]
        got_roll = roll[["grp", "n_records", "n_issues", "status"]]
        assert got_roll.astype(object).equals(exp_roll.astype(object)), trial
    assert {OK, WARNING, ERROR} <= statuses_seen  # generator health


def test_dirty_corpus_submission_sweep(spark, tmp_path):
    """Submission-workflow sweep over a DIRTY corpus — the failure
    taxonomy of the SeaBASS reader's hardening, exercised end
    to end: (a) a structurally broken file (misdeclared delimiter)
    REJECTS loudly at plan time and poisons nothing else; (b) files
    with cell-level junk ingest with NULLs and get FLAGGED by the
    rule engine; (c) clean files roll up OK. One union frame, one
    rollup — the per-file statuses a submission UI would show."""
    clean = (
        "/begin_header\n/fields=depth,chl\n/delimiter=comma\n"
        "/missing=-999\n/end_header\n1.0,0.5\n2.0,0.6\n"
    )
    junky = (
        "/begin_header\n/fields=depth,chl\n/delimiter=comma\n"
        "/missing=-999\n/end_header\n1.0,0.5\n2.0,oops\n3.0,-999\n"
    )
    broken = (
        "/begin_header\n/fields=depth,chl\n/delimiter=comma\n"
        "/end_header\n1.0\t0.5\n"
    )
    files = {"clean.sb": clean, "junky.sb": junky, "broken.sb": broken}
    for name, body in files.items():
        (tmp_path / name).write_text(body)

    frames, rejected = [], []
    for name in sorted(files):
        try:
            df = read_seabass(spark, str(tmp_path / name))
        except ValueError:
            rejected.append(name)
            continue
        frames.append(df.withColumn("file", F.lit(name)))
    assert rejected == ["broken.sb"]

    union = frames[0]
    for f in frames[1:]:
        union = union.unionByName(f)
    v = validate(union, [required("chl", severity=WARNING)])
    roll = {
        r["file"]: (r["status"], r["n_records"], r["n_issues"])
        for r in status_rollup(v, ["file"]).collect()
    }
    assert roll["clean.sb"] == (OK, 2, 0)
    # junky: 'oops' (junk → NULL) and -999 (declared missing → NULL)
    assert roll["junky.sb"] == (WARNING, 3, 2)


def test_validate_empty_rule_list_yields_typed_empty_issues(spark, tmp_path):
    """Zero rules must not build F.array() of VOID element type — that
    breaks the exists() field extraction and any parquet write of the
    issues column."""
    from ocdb_server_spark.validation import OK, validate

    df = spark.createDataFrame([(1,), (2,)], "x int")
    out = validate(df, [])
    rows = out.collect()
    assert all(r.issues == [] and r.status == OK for r in rows)
    out.write.mode("overwrite").parquet(str(tmp_path / "v"))  # must not raise
    back = spark.read.parquet(str(tmp_path / "v"))
    assert dict(back.dtypes)["issues"].startswith("array<struct")


def test_validate_refuses_to_clobber_output_names(spark):
    """An input already carrying issues/status (e.g. a submission's
    business status) must raise, not be silently overwritten."""
    import pytest as _pytest

    from ocdb_server_spark.validation import validate

    df = spark.createDataFrame([(1, "PUBLISHED")], "x int, status string")
    with _pytest.raises(ValueError, match="status"):
        validate(df, [])
