"""Per-check pass/fail matrix on small synthetic frames — the Spark port
of the reference's unit layer (quality.rs:184-440, constraints.rs:291-553,
ml.rs:633-1220, engine.rs:534-915 mode tests).
"""

from datetime import datetime, timezone

import pytest
from pyspark.sql import Row

from dce_spark import parse_contract_yaml, validate_df
from dce_spark.compiler import ValidationContext, validate_df as validate_ctx
from dce_spark.functions import parse_duration_seconds


def mk_contract(extra: str = "") -> str:
    return (
        """
version: "1.0.0"
name: t
owner: me
schema:
  fields:
    - name: id
      type: int64
      nullable: false
    - name: cat
      type: string
      constraints:
        - type: allowedvalues
          values: [a, b, c]
    - name: score
      type: float64
      constraints:
        - type: range
          min: 0
          max: 100
    - name: url
      type: string
      constraints:
        - type: pattern
          regex: "^https?://.*"
"""
        + extra
    )


def checks_by_name(report):
    return {c.name: c for c in report.checks}


@pytest.fixture(scope="module")
def clean_df(spark):
    rows = [
        Row(id=i, cat="a" if i % 2 else "b", score=float(i % 100), url=f"https://x/{i}")
        for i in range(100)
    ]
    return spark.createDataFrame(rows)


def test_all_pass_on_clean(spark, clean_df):
    report = validate_df(spark, clean_df, mk_contract())
    assert report.passed and not report.errors


def test_nullability_fail(spark):
    df = spark.createDataFrame(
        [Row(id=1, cat="a", score=1.0, url="https://x"),
         Row(id=None, cat="a", score=1.0, url="https://x")]
    )
    report = validate_df(spark, df, mk_contract())
    c = checks_by_name(report)["schema.nullability:id"]
    assert not c.passed and c.observed["null_count"] == 1


def test_presence_fail(spark):
    df = spark.createDataFrame([Row(id=1, cat="a", score=1.0)])  # url missing
    report = validate_df(spark, df, mk_contract())
    c = checks_by_name(report)["schema.presence:url"]
    assert not c.passed
    assert not report.passed


def test_extra_columns_tolerated(spark):
    df = spark.createDataFrame(
        [Row(id=1, cat="a", score=1.0, url="https://x", extra="ok")]
    )
    report = validate_df(spark, df, mk_contract())
    assert report.passed


def test_type_mismatch(spark):
    df = spark.createDataFrame([Row(id="not-an-int", cat="a", score=1.0, url="https://x")])
    report = validate_df(spark, df, mk_contract())
    c = checks_by_name(report)["schema.type:id"]
    assert not c.passed and c.observed["actual"] == "string"


def test_widening_tolerated(spark):
    # int32 data for an int64 declaration passes; declared int32 with
    # long data also passes (documented widening)
    df = spark.createDataFrame([Row(id=1, cat="a", score=1.0, url="https://x")])
    contract = mk_contract().replace("type: int64", "type: int32")
    report = validate_df(spark, df, contract)
    assert checks_by_name(report)["schema.type:id"].passed


def test_allowed_values_fail(spark):
    df = spark.createDataFrame(
        [Row(id=1, cat="z", score=1.0, url="https://x"),
         Row(id=2, cat=None, score=1.0, url="https://x")]  # NULL skipped
    )
    report = validate_df(spark, df, mk_contract())
    c = checks_by_name(report)["constraints.allowedvalues:cat"]
    assert not c.passed and c.observed["violations"] == 1


def test_range_fail_and_null_skip(spark):
    df = spark.createDataFrame(
        [Row(id=1, cat="a", score=-5.0, url="https://x"),
         Row(id=2, cat="a", score=105.0, url="https://x"),
         Row(id=3, cat="a", score=None, url="https://x")]
    )
    report = validate_df(spark, df, mk_contract())
    c = checks_by_name(report)["constraints.range:score"]
    assert not c.passed and c.observed["violations"] == 2


def test_pattern_fail(spark):
    df = spark.createDataFrame(
        [Row(id=1, cat="a", score=1.0, url="ftp://bad"),
         Row(id=2, cat="a", score=1.0, url="https://ok")]
    )
    report = validate_df(spark, df, mk_contract())
    c = checks_by_name(report)["constraints.pattern:url"]
    assert not c.passed and c.observed["violations"] == 1


def test_pattern_unanchored_search(spark):
    # search semantics: pattern without anchors matches anywhere
    contract = mk_contract().replace('regex: "^https?://.*"', 'regex: "secure"')
    df = spark.createDataFrame([Row(id=1, cat="a", score=1.0, url="very-secure-url")])
    report = validate_df(spark, df, contract)
    assert checks_by_name(report)["constraints.pattern:url"].passed


def test_completeness_threshold_edge(spark):
    extra = """
quality_checks:
  completeness:
    threshold: 0.9
    fields: [url]
"""
    rows = [Row(id=i, cat="a", score=1.0, url="https://x" if i < 90 else None)
            for i in range(100)]
    df = spark.createDataFrame(rows)
    # exactly 0.9 -> pass at 0.9
    report = validate_df(spark, df, mk_contract(extra))
    assert checks_by_name(report)["quality.completeness:url"].passed
    # fail at 0.95
    report2 = validate_df(spark, df, mk_contract(extra.replace("0.9", "0.95")))
    assert not checks_by_name(report2)["quality.completeness:url"].passed


def test_uniqueness_composite(spark):
    extra = """
quality_checks:
  uniqueness:
    fields: [cat, score]
"""
    df = spark.createDataFrame(
        [Row(id=1, cat="a", score=1.0, url="https://x"),
         Row(id=2, cat="a", score=1.0, url="https://x"),  # dup composite
         Row(id=3, cat="a", score=2.0, url="https://x")]
    )
    report = validate_df(spark, df, mk_contract(extra))
    c = checks_by_name(report)["quality.uniqueness:cat,score"]
    assert not c.passed and c.observed["duplicates"] == 1


def test_uniqueness_null_semantics_sql_path(spark):
    # lock the reference SQL-path semantics: NULL-keyed rows count as dupes
    extra = """
quality_checks:
  uniqueness:
    fields: [cat]
"""
    df = spark.createDataFrame(
        [Row(id=1, cat=None, score=1.0, url="https://x"),
         Row(id=2, cat="a", score=1.0, url="https://x")]
    )
    report = validate_df(spark, df, mk_contract(extra))
    c = checks_by_name(report)["quality.uniqueness:cat"]
    assert c.observed["duplicates"] == 1  # COUNT(*)=2, COUNT(DISTINCT cat)=1


def test_freshness_pass_fail(spark):
    extra = """
quality_checks:
  freshness:
    max_delay: 1h
    metric: ts
"""
    contract = mk_contract(extra).replace(
        "    - name: url", "    - name: ts\n      type: timestamp\n    - name: url"
    )
    df = spark.createDataFrame(
        [Row(id=1, cat="a", score=1.0, ts=datetime(2024, 1, 1, 12, 0), url="https://x")]
    )
    ok = validate_df(
        spark, df, contract, now=datetime(2024, 1, 1, 12, 30, tzinfo=timezone.utc)
    )
    assert checks_by_name(ok)["quality.freshness:ts"].passed
    stale = validate_df(
        spark, df, contract, now=datetime(2024, 1, 1, 14, 0, tzinfo=timezone.utc)
    )
    assert not checks_by_name(stale)["quality.freshness:ts"].passed


def test_strict_mode_stops_after_schema(spark):
    df = spark.createDataFrame(
        [(None, "zz", -1.0, "ftp://x")],
        schema="id bigint, cat string, score double, url string",
    )
    report = validate_ctx(
        spark, df, parse_contract_yaml(mk_contract()), ValidationContext(strict=True)
    )
    assert not report.passed
    cats = {c.category for c in report.checks}
    assert "constraints" not in cats  # strict stopped at schema stage


def test_sample_size(spark):
    rows = [Row(id=i, cat="a", score=1.0, url="https://x") for i in range(50)]
    df = spark.createDataFrame(rows)
    report = validate_ctx(
        spark, df, parse_contract_yaml(mk_contract()), ValidationContext(sample_size=10)
    )
    assert report.stats.records_validated == 10


def test_duration_parser():
    assert parse_duration_seconds("30s") == 30
    assert parse_duration_seconds("5m") == 300
    assert parse_duration_seconds("1h") == 3600
    assert parse_duration_seconds("2d") == 172800
    assert parse_duration_seconds("1w") == 604800
    with pytest.raises(ValueError):
        parse_duration_seconds("10x")
    with pytest.raises(ValueError):
        parse_duration_seconds("")


# ---- nested-null value rules (reference schema.rs:117-178): the data-
# level enforcement of contains_null=false / value_contains_null=false /
# non-nullable struct fields, fused into the single agg pass

NESTED_CONTRACT = """
version: "1.0.0"
name: nested
owner: me
schema:
  fields:
    - {name: tags, type: "list<string not null>"}
    - {name: props, type: "map<string, int64 not null>"}
    - {name: info, type: "struct<a:int64 not null, b:string>"}
    - {name: deep, type: "list<struct<v:int64 not null>>"}
"""

NESTED_SCHEMA = (
    "tags array<string>, props map<string,bigint>, "
    "info struct<a:bigint,b:string>, deep array<struct<v:bigint>>"
)


def nested_by_name(report):
    return {
        c.field: c
        for c in report.checks
        if c.name.startswith("schema.nested_nulls")
    }


def test_nested_nulls_clean_passes(spark):
    df = spark.createDataFrame(
        [(["x"], {"k": 1}, (1, "ok"), [(1,)])], schema=NESTED_SCHEMA
    )
    report = validate_df(spark, df, NESTED_CONTRACT)
    checks = nested_by_name(report)
    assert set(checks) == {"tags", "props", "info", "deep"}
    assert all(c.passed for c in checks.values())
    assert report.passed


def test_nested_nulls_each_rule_fires(spark):
    df = spark.createDataFrame(
        [
            (["x", None], {"k": 1}, (1, "ok"), [(1,)]),  # tags violation
            (["y"], {"k": None}, (2, "ok"), [(2,)]),  # props violation
            (["z"], {"k": 3}, (None, "b"), [(3,)]),  # info.a violation
            (["w"], {"k": 4}, (4, "ok"), [(None,)]),  # deep recursion violation
        ],
        schema=NESTED_SCHEMA,
    )
    report = validate_df(spark, df, NESTED_CONTRACT)
    checks = nested_by_name(report)
    for f in ["tags", "props", "info", "deep"]:
        assert not checks[f].passed and checks[f].observed["violations"] == 1, f
    assert not report.passed  # schema-category failures are errors


def test_nested_nulls_column_null_is_not_violation(spark):
    # a NULL container / NULL array element (containsNull=true level) is
    # the nullability check's business, not a nested-null violation
    df = spark.createDataFrame(
        [(None, None, None, [None])], schema=NESTED_SCHEMA
    )
    report = validate_df(spark, df, NESTED_CONTRACT)
    assert all(c.passed for c in nested_by_name(report).values())


def test_nested_nulls_fused_single_scan(spark, tmp_path):
    # the nested probes must ride the SAME single aggregate scan
    import io
    from contextlib import redirect_stdout

    from dce_spark.checks.schema import nested_null_probes
    from dce_spark import parse_contract_yaml as pcy

    p = str(tmp_path / "nested.parquet")
    spark.createDataFrame(
        [(["x"], {"k": 1}, (1, "ok"), [(1,)])], schema=NESTED_SCHEMA
    ).write.parquet(p)
    df = spark.read.parquet(p)
    probes = nested_null_probes(pcy(NESTED_CONTRACT), df)
    assert len(probes) == 4
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.agg(*[pr.exprs[0] for pr in probes]).explain("formatted")
    plan = buf.getvalue()
    assert plan.count("Location:") == 1
    assert "Join" not in plan and "Window" not in plan


def test_nested_nulls_skip_mismatched_column(spark):
    """A declared-list column that is actually a string must surface as a
    type-check failure, not crash the fused agg with an AnalysisException
    from exists()/getField() over the wrong type."""
    df = spark.createDataFrame(
        [("not-a-list", None, None, None)], schema=NESTED_SCHEMA.replace(
            "tags array<string>", "tags string"
        )
    )
    report = validate_df(spark, df, NESTED_CONTRACT)
    assert not report.passed
    by_name = {c.name: c for c in report.checks}
    assert not by_name["schema.type:tags"].passed
    assert "schema.nested_nulls:tags" not in by_name  # probe skipped
    # the compatible columns still get their nested probes
    assert "schema.nested_nulls:props" in by_name


# --------------------------------------------------- concurrent execution
# validate_df launches the fused scan, the exact distinct count and every
# grouped / custom check as concurrent jobs over the uncached input.

_JOBS_EXTRA = """
quality_checks:
  completeness:
    threshold: 0.5
    fields: [id]
  uniqueness:
    fields: [id]
  custom_checks:
    - name: rows
      definition: "SELECT COUNT(*) FROM data"
  ml_checks:
    class_balance:
      label_field: cat
      max_proportion: 0.9
"""


def _contract_with_raising_check():
    """The jobs contract plus a temporal_split on a column the frame
    lacks: its job raises (definition validation would refuse it, so
    it is set after parsing)."""
    from dce_spark.contract import TemporalSplitCheck

    c = parse_contract_yaml(mk_contract(_JOBS_EXTRA))
    c.quality_checks.ml_checks.temporal_split = TemporalSplitCheck(
        split_field="cat", timestamp_field="no_such_ts"
    )
    return c


def test_strict_nullability_failure_discards_launched_jobs(spark):
    df = spark.createDataFrame(
        [Row(id=None, cat="a", score=1.0, url="https://x")]
        + [Row(id=i, cat="b", score=1.0, url="https://x") for i in range(5)]
    )
    contract = _contract_with_raising_check()
    # non-strict: the raising job's exception reaches the caller ...
    with pytest.raises(KeyError, match="no_such_ts"):
        validate_ctx(spark, df, contract, ValidationContext())
    # ... strict with a failed nullability probe: the same job still ran
    # but its result, exception included, is discarded with the others
    report = validate_ctx(spark, df, contract, ValidationContext(strict=True))
    assert not checks_by_name(report)["schema.nullability:id"].passed
    assert {c.category for c in report.checks} == {"schema"}
    assert report.stats.records_validated == 6


def test_every_job_runs_in_the_callers_job_group(spark):
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    df = spark.createDataFrame(
        [Row(id=i % 40, cat="ab"[i % 2], score=1.0, url="https://x") for i in range(100)]
    ).repartition(3)

    def marker_job(group):
        sc.setJobGroup(group, group)
        sc.parallelize([1], 1).count()
        (job,) = tracker.getJobIdsForGroup(group)
        return job

    try:
        first = marker_job("dce-before")
        sc.setJobGroup("dce-validate", "validate_df")
        report = validate_df(spark, df, mk_contract(_JOBS_EXTRA))
        last = marker_job("dce-after")
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)
    assert checks_by_name(report)["quality.uniqueness:id"].observed["duplicates"] == 60
    ours = set(tracker.getJobIdsForGroup("dce-validate"))
    # fused scan, distinct count, class_balance, custom SQL at least
    assert len(ours) >= 4
    assert ours == set(range(first + 1, last))


def test_sample_is_read_once_by_every_job(spark):
    # url is NULL exactly on the 'a' rows, so three different jobs —
    # fused scan, class_balance, custom SQL — each see how many 'a'
    # rows the sample holds; they agree only if they read the same rows
    df = spark.createDataFrame(
        [Row(id=i, cat="abc"[i % 3], score=1.0, url=None if i % 3 == 0 else "https://x")
         for i in range(400)],
        schema="id bigint, cat string, score double, url string",
    ).repartition(8)
    extra = _JOBS_EXTRA.replace("fields: [id]", "fields: [id, url]", 1).replace(
        "SELECT COUNT(*) FROM data", "SELECT COUNT(*) FROM data WHERE cat = 'a'"
    )
    persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
    report = validate_ctx(
        spark, df, parse_contract_yaml(mk_contract(extra)),
        ValidationContext(sample_size=50),
    )
    by_name = checks_by_name(report)
    balance = by_name["ml.class_balance:cat"].observed
    url = by_name["quality.completeness:url"].observed
    assert report.stats.records_validated == 50
    assert balance["total"] == url["total"] == 50
    a_rows = by_name["custom:rows"].observed["value"]
    assert a_rows == 50 - url["non_null"] == round(balance["proportions"]["a"] * 50)
    assert by_name["quality.uniqueness:id"].observed["duplicates"] == 0
    # the materialized sample is released
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == persisted


@pytest.mark.parametrize("approx", [False, True])
def test_uniqueness_counts_on_planted_duplicates(spark, approx):
    from dce_spark.checks.quality import total_expr, uniqueness_probe

    # 600 keys, 45 of them repeated once, plus 5 NULL-keyed rows
    ids = list(range(600)) + list(range(0, 90, 2)) + [None] * 5
    df = spark.createDataFrame(
        [Row(id=i, cat="a", score=1.0, url="https://x") for i in ids],
        schema="id bigint, cat string, score double, url string",
    ).repartition(4)
    contract = parse_contract_yaml(mk_contract(_JOBS_EXTRA))
    report = validate_ctx(spark, df, contract, ValidationContext(approx_distinct=approx))
    got = checks_by_name(report)["quality.uniqueness:id"].observed
    # the fused single-scan shape the distinct count used to ride
    probe = uniqueness_probe(contract.quality_checks.uniqueness, df, approx=approx)
    vals = df.agg(total_expr(), *probe.exprs).collect()[0].asDict()
    assert got == probe.evaluate(vals).observed
    if not approx:
        assert got == {"duplicates": 50, "distinct": 600, "total": 650}
