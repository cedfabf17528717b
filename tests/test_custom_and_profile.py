"""Custom SQL check protocol (custom.rs:433-471) + profile + report shape."""

import pytest
from pyspark.sql import Row

from dce_spark import profile_df, validate_df
from dce_spark.checks.custom import run_custom_check, validate_custom_sql
from dce_spark.contract import CustomCheck


@pytest.fixture(scope="module")
def df(spark):
    return spark.createDataFrame(
        [Row(id=1, v=10.0), Row(id=2, v=-3.0), Row(id=3, v=None)]
    )


def test_guards():
    assert validate_custom_sql("") is not None
    assert validate_custom_sql("DROP TABLE data") is not None
    assert validate_custom_sql("SELECT 1; DROP TABLE x") is not None
    assert validate_custom_sql("SELECT count(*) FROM data") is None


def test_count_zero_passes(spark, df):
    r = run_custom_check(
        spark, df, CustomCheck(name="c", definition="SELECT COUNT(*) FROM data WHERE v > 100")
    )
    assert r.passed


def test_count_nonzero_fails(spark, df):
    r = run_custom_check(
        spark, df, CustomCheck(name="c", definition="SELECT COUNT(*) FROM data WHERE v < 0")
    )
    assert not r.passed and r.observed["value"] == 1


def test_boolean_protocol(spark, df):
    # documented divergence from the reference: single-cell booleans
    # pass iff true (the reference fails any non-integer cell)
    ok = run_custom_check(
        spark, df, CustomCheck(name="c", definition="SELECT COUNT(*) = 0 FROM data WHERE v > 100")
    )
    assert ok.passed
    bad = run_custom_check(
        spark, df, CustomCheck(name="c", definition="SELECT COUNT(*) = 0 FROM data WHERE v < 0")
    )
    assert not bad.passed


def test_empty_result_passes(spark, df):
    r = run_custom_check(
        spark, df, CustomCheck(name="c", definition="SELECT id FROM data WHERE v > 100")
    )
    assert r.passed


def test_multi_row_fails(spark, df):
    r = run_custom_check(
        spark, df, CustomCheck(name="c", definition="SELECT id FROM data WHERE v IS NOT NULL")
    )
    assert not r.passed and r.observed["rows"] == 2


def test_contract_name_view(spark, df):
    r = run_custom_check(
        spark,
        df,
        CustomCheck(name="c", definition="SELECT COUNT(*) FROM mytable WHERE v < -100"),
        contract_name="mytable",
    )
    assert r.passed


_COUNT_CONTRACT = """
version: "1"
name: t
owner: me
schema:
  fields:
    - {name: id, type: int64}
    - {name: v, type: float64}
quality_checks:
  custom_checks:
    - name: rows
      definition: "SELECT COUNT(*) FROM data"
"""


def _views(spark):
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def test_callers_data_view_untouched(spark, df):
    mine = spark.createDataFrame([Row(id=7, v=1.0)] * 5)
    mine.createOrReplaceTempView("data")
    try:
        report = validate_df(spark, df, _COUNT_CONTRACT)
        assert checks_value(report) == 3  # the validated frame, not the view
        assert spark.table("data").count() == 5
    finally:
        spark.catalog.dropTempView("data")


def test_no_views_left_behind(spark, df):
    before = _views(spark)
    report = validate_df(spark, df, _COUNT_CONTRACT.replace("name: t", "name: mytable"))
    assert checks_value(report) == 3
    assert "data" not in _views(spark) and "mytable" not in _views(spark)
    assert _views(spark) == before


def test_parallel_validations_see_their_own_frames(spark):
    """More validating threads than cores, with frequent thread
    switches: each report counts its own frame's rows."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    sizes = [1, 2, 3, 4, 5, 6]
    frames = [spark.createDataFrame([Row(id=i, v=1.0) for i in range(n)]) for n in sizes]
    run = inheritable_thread_target(spark)(
        lambda f: checks_value(validate_df(spark, f, _COUNT_CONTRACT))
    )
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=len(frames)) as pool:
            assert list(pool.map(run, frames, timeout=300)) == sizes
    finally:
        sys.setswitchinterval(interval)


def checks_value(report):
    (c,) = [c for c in report.checks if c.name == "custom:rows"]
    return c.observed["value"]


def test_severity_routing(spark, df):
    contract = """
version: "1"
name: t
owner: me
schema:
  fields:
    - {name: id, type: int64}
    - {name: v, type: float64}
quality_checks:
  custom_checks:
    - name: warn_check
      definition: "SELECT COUNT(*) FROM data WHERE v < 0"
      severity: warning
    - name: err_check
      definition: "SELECT COUNT(*) FROM data WHERE v < 0"
      severity: error
"""
    report = validate_df(spark, df, contract)
    assert not report.passed
    assert len(report.errors) == 1 and len(report.warnings) == 1


def test_profile(spark):
    df = spark.createDataFrame(
        [Row(a=1, b="x", c=1.5), Row(a=2, b="x", c=None), Row(a=None, b="y", c=3.5)]
    )
    p = profile_df(df)
    assert p["row_count"] == 3
    assert p["columns"]["a"]["null_count"] == 1
    assert p["columns"]["a"]["distinct_count"] == 2
    assert p["columns"]["b"]["distinct_count"] == 2
    assert p["columns"]["c"]["min"] == 1.5 and p["columns"]["c"]["max"] == 3.5
    assert p["columns"]["c"]["mean"] == 2.5
    assert "min" not in p["columns"]["b"]  # non-numeric


def test_report_dict_shape(spark, df):
    contract = """
version: "1"
name: t
owner: me
schema:
  fields:
    - {name: id, type: int64, nullable: false}
    - {name: v, type: float64}
"""
    report = validate_df(spark, df, contract)
    d = report.to_dict()
    assert set(d) == {"passed", "errors", "warnings", "stats", "checks"}
    assert "schema" in d["checks"]
    assert d["stats"]["records_validated"] == 3
    report.to_json()  # serializable
