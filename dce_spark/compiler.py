"""Contract compiler/executor: Contract + DataFrame -> ValidationReport.

Execution plan (contrast reference pipeline at engine.rs:141-200 /
datafusion_engine.rs:114-172, which issues one SQL statement per field
per check — O(fields x checks) scans):

  stage 0  presence + declared-type checks      (metadata only, 0 jobs)

then ONE set of independent Spark jobs, launched together on a bounded
thread pool over the UNCACHED input frame:

  fused    ONE ``df.agg(...)`` scan covering nullability, constraints,
           completeness, approximate (HLL) uniqueness, freshness and
           target-leakage correlation; it also supplies the row count
  distinct exact uniqueness ``COUNT(DISTINCT key)`` over the key
           columns only. It stays out of the fused scan: a distinct
           aggregate makes Spark group the whole agg by the key and
           carry every other probe's buffer through that hash aggregate
  per_day  scoped uniqueness (one grouped job)
  ml       one job per grouped ML check (class balance,
           null-rate-by-group, temporal split, no-overlap, feature drift)
  custom   one job per custom SQL check

No job waits for another, and the compiler caches nothing: concurrent
jobs over one cached frame queue on its block locks, while uncached
scans read only the columns each job needs. A caller whose frame is an
expensive lineage should ``cache()`` it first; Spark then serves every
job from that cache. The pool's threads inherit the caller's local
properties (job group, scheduler pool) and session tags. Results enter
the report in stage order, whatever order the jobs finish in; an
exception propagates only after every job has finished.

Pipeline-order semantics kept from the reference: strict mode stops
after *schema* errors only (engine.rs:234-237, datafusion_engine.rs:132-134
— constraint/quality failures never suppress later stages); schema_only
skips everything past the fused scan's nullability portion. In strict
mode the later jobs start before the nullability result is known; when
it fails they are joined and their results — exceptions included —
discarded. sample_size takes the first N rows (LIMIT view semantics,
file_reader.rs:60-70), materialized once so that every job reads the
same rows.

Severity routing matches the reference (datafusion_engine.rs:88-104 and
the engine.rs freshness routing): quality and ML check failures are
WARNINGS unless strict mode — the report stays ``passed`` and the CLI
exits 0; schema and constraint failures are always errors. Custom SQL
checks carry their own user-declared severity (engine.rs:119-127).
"""

from __future__ import annotations

import time
from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import dataclass, field as dc_field
from datetime import datetime
from typing import Any, Callable, Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.util import inheritable_thread_target

from .contract import Contract
from .report import CheckResult, Severity, ValidationReport, ValidationStats
from .checks import custom as custom_checks
from .checks import ml as ml_checks
from .checks import quality as quality_checks
from .checks import schema as schema_checks
from .checks.constraints import constraint_probes
from .checks.probe import AggProbe

__all__ = ["ValidationContext", "validate_df"]


@dataclass
class ValidationContext:
    """Options for one validation run (reference: validator.rs:88-100),
    plus an injectable clock for deterministic freshness."""

    strict: bool = False
    schema_only: bool = False
    sample_size: Optional[int] = None
    now: Optional[datetime] = None
    approx_distinct: bool = False  # HLL instead of exact COUNT(DISTINCT)
    metadata: dict[str, Any] = dc_field(default_factory=dict)


def _route_severity(result: CheckResult, strict: bool) -> CheckResult:
    """Quality/ML failures are warnings unless strict (reference:
    datafusion_engine.rs:88-104); schema/constraints stay errors; custom
    checks keep their user-declared severity (handled in checks/custom)."""
    if result.category in ("quality", "ml"):
        result.severity = Severity.ERROR if strict else Severity.WARNING
    return result


def _schema_failed(report: ValidationReport) -> bool:
    return any(not c.passed for c in report.checks if c.category == "schema")


# Upper bound on the jobs one validation runs at the same time. A
# contract compiles to a handful of jobs (fused scan, distinct count,
# one per grouped or custom check); the Spark scheduler shares the
# cores among whichever are running.
_MAX_CONCURRENT_JOBS = 8


def _agg(df: DataFrame, exprs: list[Column]) -> dict[str, Any]:
    return df.agg(*exprs).collect()[0].asDict()


def _run_concurrently(spark: SparkSession, jobs: list[Callable[[], Any]]) -> list[Future]:
    """Run ``jobs`` at the same time on a bounded pool and return their
    futures once every job has finished. Each job is wrapped as it is
    submitted, so it runs with the caller's local properties (job
    group, scheduler pool) and session tags."""
    with ThreadPoolExecutor(max_workers=min(len(jobs), _MAX_CONCURRENT_JOBS)) as pool:
        futures = []
        for job in jobs:
            wrap = inheritable_thread_target(spark)
            # without pinned threads there is nothing to inherit and
            # pyspark hands the session back instead of a wrapper
            futures.append(pool.submit(job if wrap is spark else wrap(job)))
    return futures


def validate_df(
    spark: SparkSession,
    df: DataFrame,
    contract: Contract,
    context: ValidationContext | None = None,
) -> ValidationReport:
    ctx = context or ValidationContext()
    t0 = time.monotonic()
    report = ValidationReport()

    # ---- stage 0: metadata-only schema checks (no Spark jobs)
    for r in schema_checks.presence_checks(contract, df):
        report.add(r, strict=ctx.strict)
    for r in schema_checks.type_checks(contract, df):
        report.add(r, strict=ctx.strict)

    sampled = ctx.sample_size is not None
    if sampled:
        # a LIMIT evaluated twice need not return the same rows: cache
        # the sample so that every job reads the same ones
        df = df.limit(ctx.sample_size).cache()
    try:
        if sampled:
            df.count()
        records, fused = _run_jobs(spark, df, contract, ctx, report)
    finally:
        if sampled:
            df.unpersist()

    report.stats = ValidationStats(
        records_validated=records,
        fields_checked=len({f for p in fused for f in p.fields}),
        constraints_evaluated=sum(p.constraints for p in fused),
        duration_ms=int((time.monotonic() - t0) * 1000),
    )
    return report


def _run_jobs(
    spark: SparkSession,
    df: DataFrame,
    contract: Contract,
    ctx: ValidationContext,
    report: ValidationReport,
) -> tuple[int, list[AggProbe]]:
    """Launch every data job at once, then add their results to
    ``report`` in stage order. Returns (records, fused probes)."""

    def add_routed(result: CheckResult) -> None:
        """The one way quality/ML/custom results enter the report:
        severity routed by strict mode (see _route_severity)."""
        report.add(_route_severity(result, ctx.strict), ctx.strict)

    qc = contract.quality_checks
    ml = qc.ml_checks if qc else None
    per_day = bool(qc and qc.uniqueness and (qc.uniqueness.scope or "").startswith("per_day"))

    # ---- fused probes (nullability + nested-null value rules are both
    # schema-category and both ride the single fused scan)
    fused: list[AggProbe] = list(schema_checks.nullability_probes(contract, df))
    fused.extend(schema_checks.nested_null_probes(contract, df))
    # in strict mode a stage-0 schema failure already decides the
    # report: nothing past the nullability probes is launched
    later = not ctx.schema_only and not (
        ctx.strict and not all(c.passed for c in report.checks)
    )
    distinct = None  # the exact-uniqueness probe, run as its own job
    if later:
        fused.extend(constraint_probes(contract, df))
        if qc:
            if qc.completeness:
                fused.extend(quality_checks.completeness_probes(qc.completeness, df))
            if qc.uniqueness and not per_day:
                p = quality_checks.uniqueness_probe(
                    qc.uniqueness, df, approx=ctx.approx_distinct
                )
                if p:
                    fused.append(p)
                    if not ctx.approx_distinct:
                        distinct = p
            if qc.freshness:
                p = quality_checks.freshness_probe(qc.freshness, df, now=ctx.now)
                if p:
                    fused.append(p)
        if ml and ml.target_leakage:
            fused.extend(ml_checks.target_leakage_probes(ml.target_leakage, df))

    fused_exprs = [quality_checks.total_expr()]
    fused_exprs += [e for p in fused if p is not distinct for e in p.exprs]
    jobs: list[Callable[[], Any]] = [lambda: _agg(df, fused_exprs)]
    if distinct:
        jobs.append(lambda: _agg(df.select(*distinct.fields), distinct.exprs))
    # each check job returns a CheckResult, a list of them, or None
    checks: list[Callable[[], Any]] = []
    if later:
        if per_day:
            # scope syntax: "per_day:<ts_column>"
            ts_col = qc.uniqueness.scope.partition(":")[2].strip()
            checks.append(
                lambda: quality_checks.uniqueness_per_day_check(qc.uniqueness, df, ts_col)
            )
        if ml:
            for check, run in (
                (ml.class_balance, ml_checks.class_balance_check),
                (ml.null_rate_by_group, ml_checks.null_rate_by_group_check),
                (ml.temporal_split, ml_checks.temporal_split_check),
                (ml.no_overlap, ml_checks.no_overlap_check),
                (ml.feature_drift, ml_checks.feature_drift_check),
            ):
                if check:
                    checks.append(lambda check=check, run=run: run(check, df))
        if qc and qc.custom_checks:
            for c in qc.custom_checks:
                checks.append(
                    lambda c=c: custom_checks.run_custom_check(
                        spark, df, c, contract_name=contract.name, strict=ctx.strict
                    )
                )

    futures = _run_concurrently(spark, jobs + checks)

    vals = futures[0].result()
    # schema-stage probes (nullability) evaluate first: in strict mode a
    # schema failure suppresses the later stages' results, matching the
    # reference's early exit (engine.rs:234-237) — their jobs already
    # ran, but the report must not include them, and their exceptions
    # are not raised. Constraint and quality failures never suppress
    # later stages (datafusion_engine.rs:132-134).
    for p in fused:
        if p.category == "schema":
            report.add(p.evaluate(vals), strict=ctx.strict)
    if not (ctx.strict and _schema_failed(report)):
        if distinct:
            vals.update(futures[1].result())
        for p in fused:
            if p.category != "schema":
                add_routed(p.evaluate(vals))
        for fut in futures[len(jobs):]:
            out = fut.result()
            for r in [out] if isinstance(out, CheckResult) else out or []:
                add_routed(r)
    return vals["__total__"] or 0, fused
