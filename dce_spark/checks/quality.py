"""Quality checks: completeness, uniqueness, freshness.

All three compile into the fused single-pass aggregation:

- completeness: ``COUNT(col) / COUNT(*)`` per field
  (reference: datafusion_engine.rs:439-471, one query per field there).
- uniqueness: ``COUNT(*) - COUNT(DISTINCT (c1, ..., cn))``
  (datafusion_engine.rs:473-489). We lock the reference's *SQL-path*
  null semantics (SURVEY §2.4 A3): COUNT(DISTINCT ...) ignores rows
  with any NULL key while COUNT(*) counts them, so NULL-keyed rows
  count as duplicates. The reference's row path disagrees with its own
  SQL path here; we follow the SQL path.
- freshness: ``now - MAX(metric) <= max_delay`` with an *injected*
  ``now`` for determinism (the reference hardcodes wall-clock
  Utc::now(), custom.rs:114 — untestable; deliberately not reproduced).

Note on COUNT(DISTINCT) at scale: this is an exact distinct (shuffle on
the key), so the compiler runs it as its own job over the key columns
rather than inside the fused pass. For monitoring-style use where exactness is not required,
``approx=True`` swaps in HLL ``approx_count_distinct`` which is a
single-pass, no-expand aggregate.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import DataFrame, functions as F

from ..contract import CompletenessCheck, FreshnessCheck, UniquenessCheck
from ..functions import parse_duration_seconds, to_timestamp_multi
from ..report import CheckResult, Severity
from .probe import AggProbe

__all__ = ["completeness_probes", "uniqueness_probe", "freshness_probe"]

_TOTAL_ALIAS = "__total__"


def total_expr():
    return F.count(F.lit(1)).alias(_TOTAL_ALIAS)


def completeness_probes(check: CompletenessCheck, df: DataFrame) -> list[AggProbe]:
    actual = set(df.columns)
    probes = []
    for fname in check.fields:
        if fname not in actual:
            continue  # presence check reports the miss
        alias = f"__comp__{fname}"
        expr = F.count(F.col(fname)).alias(alias)  # COUNT(col) skips nulls

        def make_eval(name: str, a: str, threshold: float):
            def evaluate(vals):
                total = vals[_TOTAL_ALIAS] or 0
                non_null = vals[a] or 0
                ratio = (non_null / total) if total else 1.0
                ok = ratio >= threshold
                return CheckResult(
                    name=f"quality.completeness:{name}",
                    category="quality",
                    passed=ok,
                    severity=Severity.ERROR,
                    field=name,
                    observed={"ratio": ratio, "non_null": non_null, "total": total},
                    threshold=threshold,
                    message=(
                        ""
                        if ok
                        else f"completeness of '{name}' is {ratio:.4f}, "
                        f"below threshold {threshold}"
                    ),
                )

            return evaluate

        probes.append(
            AggProbe(
                name=f"quality.completeness:{fname}",
                category="quality",
                exprs=[expr],
                evaluate=make_eval(fname, alias, check.threshold),
                fields=[fname],
                aliases=[alias],
            )
        )
    return probes


_APPROX_RSD = 0.02  # HLL relative standard deviation for approx mode


def uniqueness_probe(
    check: UniquenessCheck, df: DataFrame, approx: bool = False
) -> AggProbe | None:
    cols = [f for f in check.fields if f in df.columns]
    if not cols:
        return None
    alias = "__uniq__" + "_".join(cols)
    if approx:
        # NULL-handling parity with the exact path: COUNT(DISTINCT c1..cn)
        # skips rows where ANY key is NULL, but a struct containing NULLs
        # is itself non-null (and would be HLL-counted). Nulling the whole
        # struct when any key is NULL makes approx and exact modes agree
        # beyond HLL error on null-keyed data.
        all_not_null = F.lit(True)
        for c in cols:
            all_not_null = all_not_null & F.col(c).isNotNull()
        distinct = F.approx_count_distinct(
            F.when(all_not_null, F.struct(*cols)), rsd=_APPROX_RSD
        )
    else:
        distinct = F.count_distinct(*[F.col(c) for c in cols])

    def evaluate(vals):
        total = vals[_TOTAL_ALIAS] or 0
        n_distinct = vals[alias] or 0
        # HLL estimates can exceed the true count: clamp at 0 and pass
        # within the 2-sigma noise floor (approx mode detects duplication
        # beyond ~2*rsd of the table, not single duplicate rows — the
        # inherent approx-mode contract; exact mode demands dupes == 0).
        dupes = max(0, total - n_distinct)
        tolerance = (2 * _APPROX_RSD * total) if approx else 0
        ok = dupes <= tolerance
        return CheckResult(
            name="quality.uniqueness:" + ",".join(cols),
            category="quality",
            passed=ok,
            severity=Severity.ERROR,
            field=",".join(cols),
            observed={"duplicates": dupes, "distinct": n_distinct, "total": total},
            message=(
                ""
                if ok
                else f"found {dupes} duplicate rows for key ({', '.join(cols)})"
            ),
        )

    return AggProbe(
        name="quality.uniqueness",
        category="quality",
        exprs=[distinct.alias(alias)],
        evaluate=evaluate,
        fields=cols,
        aliases=[alias],
    )


def uniqueness_per_day_check(
    check: UniquenessCheck, df: DataFrame, ts_col: str
) -> CheckResult | None:
    """Scoped uniqueness: key must be unique *within each calendar day*
    of ``ts_col``. The reference parses ``scope`` but never evaluates it
    (contract.rs:218-219); here ``scope: "per_day:<ts_column>"`` gets
    real semantics as one grouped aggregation (shuffle on day+key via
    two-level agg: per-(day) distinct counting)."""
    cols = [f for f in check.fields if f in df.columns]
    if not cols or ts_col not in df.columns:
        return None
    from ..functions import to_timestamp_multi

    dtype = dict((f.name, f.dataType) for f in df.schema.fields)[ts_col]
    day = F.date_format(to_timestamp_multi(F.col(ts_col), dtype), "yyyy-MM-dd")
    per_day = (
        df.groupBy(day.alias("__day"))
        .agg(
            (F.count(F.lit(1)) - F.count_distinct(*[F.col(c) for c in cols])).alias(
                "__dupes"
            )
        )
        .agg(F.sum("__dupes").alias("dupes"), F.count(F.lit(1)).alias("days"))
        .collect()[0]
    )
    dupes = per_day["dupes"] or 0
    ok = dupes == 0
    return CheckResult(
        name="quality.uniqueness[per_day]:" + ",".join(cols),
        category="quality",
        passed=ok,
        severity=Severity.ERROR,
        field=",".join(cols),
        observed={"duplicates": dupes, "days": per_day["days"]},
        message=(
            ""
            if ok
            else f"found {dupes} same-day duplicate rows for key ({', '.join(cols)})"
        ),
    )


def freshness_probe(
    check: FreshnessCheck, df: DataFrame, now: datetime | None = None
) -> AggProbe | None:
    if check.metric not in df.columns:
        return None
    max_delay_s = parse_duration_seconds(check.max_delay)
    now = now or datetime.now(timezone.utc)
    if now.tzinfo is None:
        now = now.replace(tzinfo=timezone.utc)
    dtype = dict((f.name, f.dataType) for f in df.schema.fields)[check.metric]
    alias = f"__fresh__{check.metric}"
    ts = to_timestamp_multi(F.col(check.metric), dtype)
    expr = F.max(F.unix_timestamp(ts)).alias(alias)

    def evaluate(vals):
        max_epoch = vals[alias]
        if max_epoch is None:
            return CheckResult(
                name=f"quality.freshness:{check.metric}",
                category="quality",
                passed=False,
                severity=Severity.ERROR,
                field=check.metric,
                observed={"max_ts": None},
                message=f"freshness metric '{check.metric}' has no parseable values",
            )
        lag = now.timestamp() - max_epoch
        ok = lag <= max_delay_s
        return CheckResult(
            name=f"quality.freshness:{check.metric}",
            category="quality",
            passed=ok,
            severity=Severity.ERROR,
            field=check.metric,
            observed={"max_ts_epoch": max_epoch, "lag_seconds": lag},
            threshold=max_delay_s,
            message=(
                ""
                if ok
                else f"data is stale: newest '{check.metric}' is {lag:.0f}s old, "
                f"max allowed {check.max_delay} ({max_delay_s:.0f}s)"
            ),
        )

    return AggProbe(
        name=f"quality.freshness:{check.metric}",
        category="quality",
        exprs=[expr],
        evaluate=evaluate,
        fields=[check.metric],
        aliases=[alias],
    )
