"""Custom SQL checks: guarded pass-through of user SQL.

Mirrors the reference protocol (custom.rs:153-175 guards,
custom.rs:433-471 pass/fail):

- guards: non-empty, must start with SELECT, must not contain ';'
  (DDL/DML injection guard), must mention SELECT/COUNT.
- executed via ``spark.sql`` with the data visible as ``data`` (and
  additionally under the contract name, so contracts written against
  their table name — like the reference's own example,
  examples/contracts/user_events.yml:98-106 — work unchanged). Both
  names are CTEs over a temp view registered under a unique name for
  this one call and dropped after it, so a caller's own ``data`` view
  is never replaced and concurrent validations in one session never
  read each other's frame. The guard below makes this sound: user SQL
  starts with SELECT, so it is a valid query body after a WITH list.
- pass/fail: empty result -> pass; single-cell integer -> pass iff 0;
  single-cell boolean -> pass iff true (documented divergence: the
  reference treats any non-integer single cell as failure,
  custom.rs:443-470 — arguably a bug since its own example contract
  yields booleans); any other non-empty result -> fail with row count.
"""

from __future__ import annotations

import re
import uuid

from pyspark.sql import DataFrame, SparkSession

from ..contract import CustomCheck
from ..report import CheckResult, Severity

__all__ = ["run_custom_check", "validate_custom_sql"]

_MAX_COLLECT = 1001


def validate_custom_sql(definition: str) -> str | None:
    """Return an error message, or None if the SQL passes the guards."""
    sql = (definition or "").strip()
    if not sql:
        return "custom check definition is empty"
    if ";" in sql:
        return "custom check must not contain ';'"
    if not re.match(r"^select\b", sql, re.IGNORECASE):
        return "custom check must start with SELECT"
    if not re.search(r"\b(select|count)\b", sql, re.IGNORECASE):
        return "custom check must contain SELECT or COUNT"
    return None


def run_custom_check(
    spark: SparkSession,
    df: DataFrame,
    check: CustomCheck,
    contract_name: str | None = None,
    strict: bool = False,
) -> CheckResult:
    default_severity = (
        Severity.ERROR
        if (check.severity or "").lower() == "error"
        or (check.severity is None and strict)
        else Severity.WARNING
    )

    def fail(msg: str, observed: dict | None = None) -> CheckResult:
        return CheckResult(
            name=f"custom:{check.name}",
            category="custom",
            passed=False,
            severity=default_severity,
            observed=observed or {},
            message=f"custom check '{check.name}' failed: {msg}",
        )

    err = validate_custom_sql(check.definition)
    if err:
        return fail(err)

    view = f"__dce_custom_{uuid.uuid4().hex}"
    ctes = [f"data AS (SELECT * FROM {view})"]
    if (
        contract_name
        and re.match(r"^[A-Za-z_][A-Za-z0-9_]*$", contract_name)
        and contract_name.lower() != "data"
    ):
        ctes.append(f"`{contract_name}` AS (SELECT * FROM data)")
    df.createTempView(view)
    try:
        result = spark.sql(f"WITH {', '.join(ctes)} {check.definition}")
        rows = result.limit(_MAX_COLLECT).collect()
    except Exception as e:  # analysis/execution error
        return fail(f"SQL error: {e}")
    finally:
        spark.catalog.dropTempView(view)

    if not rows:
        passed, observed = True, {"rows": 0}
    elif len(rows) == 1 and len(rows[0]) == 1:
        cell = rows[0][0]
        if isinstance(cell, bool):
            passed, observed = cell, {"value": cell}
        elif isinstance(cell, int):
            passed, observed = cell == 0, {"value": cell}
        else:
            passed, observed = False, {"value": str(cell)}
    else:
        n = len(rows)
        observed = {"rows": f">{_MAX_COLLECT - 1}" if n >= _MAX_COLLECT else n}
        passed = False

    return CheckResult(
        name=f"custom:{check.name}",
        category="custom",
        passed=passed,
        severity=default_severity,
        observed=observed,
        message=(
            ""
            if passed
            else f"custom check '{check.name}' failed ({observed})"
        ),
    )
