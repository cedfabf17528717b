"""Public Python API — mirrors the reference's Python surface 1:1
(contracts-python/src/lib.rs:504-516), with DataFrames where the
reference takes PyArrow batches:

  reference                      ->  dce_spark
  parse_contract_yaml/toml           parse_contract_yaml/toml
  validate_contract                  validate_contract (definition only)
  validate_batch(yaml, batch, ...)   validate_df(spark, df, contract, ...)
  validate_batches                   validate_df on union (Spark unions lazily)
  validate_schema_only               validate_schema_only
  validate_quality_only              validate_quality_only
  validate_ml_only                   validate_ml_only
  profile_batch                      profile_df
"""

from __future__ import annotations

from datetime import datetime
from typing import Any, Iterable, Optional

from pyspark.sql import DataFrame, SparkSession

from . import compiler, parser
from .checks.profile import profile_df as _profile_df
from .contract import Contract, QualityChecks
from .report import ValidationReport

__all__ = [
    "parse_contract_yaml",
    "parse_contract_toml",
    "parse_contract_file",
    "validate_contract",
    "validate_df",
    "validate_dfs",
    "validate_batch",
    "validate_batches",
    "validate_schema_only",
    "validate_quality_only",
    "validate_ml_only",
    "validate_partitions",
    "partition_states",
    "compact_state_ledger",
    "prunable_partitions",
    "profile_df",
]


def parse_contract_yaml(text: str) -> Contract:
    return parser.parse_yaml(text)


def parse_contract_toml(text: str) -> Contract:
    return parser.parse_toml(text)


def parse_contract_file(path: str) -> Contract:
    return parser.parse_file(path)


def validate_contract(contract: Contract | str) -> list[str]:
    """Definition-only validation; returns a list of problems (empty = ok)."""
    if isinstance(contract, str):
        try:
            parser.parse_str(contract)
            return []
        except ValueError as e:
            return [str(e)]
    return contract.validate_definition()


def _as_contract(contract: Contract | str) -> Contract:
    return parser.parse_str(contract) if isinstance(contract, str) else contract


def validate_df(
    spark: SparkSession,
    df: DataFrame,
    contract: Contract | str,
    strict: bool = False,
    schema_only: bool = False,
    sample_size: Optional[int] = None,
    now: Optional[datetime] = None,
    approx_distinct: bool = False,
) -> ValidationReport:
    """Validate ``df`` against ``contract`` (a Contract or YAML/TOML text).

    The passes over the data — the fused scan, the exact distinct
    count, each grouped ML and each custom SQL check — run concurrently
    as separate Spark jobs, in the caller's job group, and nothing is
    cached: each job reads ``df`` itself. A caller whose frame is an
    expensive lineage (joins, UDFs, a slow source) should ``cache()``
    it first; Spark then serves every job from that cache.
    """
    ctx = compiler.ValidationContext(
        strict=strict,
        schema_only=schema_only,
        sample_size=sample_size,
        now=now,
        approx_distinct=approx_distinct,
    )
    return compiler.validate_df(spark, df, _as_contract(contract), ctx)


def validate_dfs(
    spark: SparkSession,
    dfs: Iterable[DataFrame],
    contract: Contract | str,
    **kwargs: Any,
) -> ValidationReport:
    """Validate several frames as one dataset. The reference clones every
    row to concatenate batches (lib.rs:344-369); Spark unions lazily."""
    dfs = list(dfs)
    if not dfs:
        raise ValueError("validate_dfs requires at least one DataFrame")
    df = dfs[0]
    for other in dfs[1:]:
        df = df.unionByName(other)
    return validate_df(spark, df, contract, **kwargs)


def _batch_to_df(spark: SparkSession, batch: Any) -> DataFrame:
    """PyArrow RecordBatch/Table or pandas DataFrame -> Spark DataFrame.

    Mirrors the reference's zero-copy PyArrow entry (contracts-python
    lib.rs:318-341). Spark 4 ingests a pyarrow Table natively through
    createDataFrame (Arrow IPC transfer, no per-row conversion); older
    versions fall back through pandas.
    """
    import pyarrow as pa

    if isinstance(batch, pa.RecordBatch):
        batch = pa.Table.from_batches([batch])
    if isinstance(batch, pa.Table):
        try:
            return spark.createDataFrame(batch)
        except Exception:
            return spark.createDataFrame(batch.to_pandas())
    return spark.createDataFrame(batch)


def validate_batch(
    spark: SparkSession,
    batch: Any,
    contract: Contract | str,
    **kwargs: Any,
) -> ValidationReport:
    """Validate one in-memory batch (pyarrow RecordBatch/Table or
    pandas DataFrame) — name-for-name parity with the reference's
    ``validate_batch`` (lib.rs:318-341)."""
    return validate_df(spark, _batch_to_df(spark, batch), contract, **kwargs)


def validate_batches(
    spark: SparkSession,
    batches: Iterable[Any],
    contract: Contract | str,
    **kwargs: Any,
) -> ValidationReport:
    """Validate several in-memory batches as one dataset — parity with
    the reference's ``validate_batches`` (lib.rs:344-369), which clones
    every row to concatenate; here the union stays lazy."""
    dfs = [_batch_to_df(spark, b) for b in batches]
    return validate_dfs(spark, dfs, contract, **kwargs)


def validate_schema_only(
    spark: SparkSession, df: DataFrame, contract: Contract | str
) -> ValidationReport:
    return validate_df(spark, df, contract, schema_only=True)


def _subset_contract(contract: Contract, keep: str) -> Contract:
    qc = contract.quality_checks or QualityChecks()
    if keep == "quality":
        sub = QualityChecks(
            completeness=qc.completeness,
            uniqueness=qc.uniqueness,
            freshness=qc.freshness,
        )
    elif keep == "ml":
        sub = QualityChecks(ml_checks=qc.ml_checks)
    else:
        raise ValueError(keep)
    return Contract(
        version=contract.version,
        name=contract.name,
        owner=contract.owner,
        description=contract.description,
        schema=contract.schema,
        quality_checks=sub,
        sla=contract.sla,
    )


def validate_quality_only(
    spark: SparkSession,
    df: DataFrame,
    contract: Contract | str,
    now: Optional[datetime] = None,
) -> ValidationReport:
    c = _subset_contract(_as_contract(contract), "quality")
    report = compiler.validate_df(
        spark, df, c, compiler.ValidationContext(now=now)
    )
    report.checks = [r for r in report.checks if r.category == "quality"]
    return report


def validate_ml_only(
    spark: SparkSession, df: DataFrame, contract: Contract | str
) -> ValidationReport:
    c = _subset_contract(_as_contract(contract), "ml")
    report = compiler.validate_df(spark, df, c, compiler.ValidationContext())
    report.checks = [r for r in report.checks if r.category == "ml"]
    return report


def profile_df(df: DataFrame, approx: bool = False, columns: list[str] | None = None):
    return _profile_df(df, approx=approx, columns=columns)


def validate_partitions(
    spark: SparkSession,
    df: DataFrame,
    contract: Contract | str,
    partition_col: str,
    since: Any = None,
    values: Optional[Iterable[Any]] = None,
    state_ledger: Optional[DataFrame] = None,
    **kwargs: Any,
) -> dict[Any, ValidationReport]:
    """Incremental validation: one ValidationReport PER PARTITION VALUE
    of ``partition_col`` — the validation mode a 100 TB daily pipeline
    actually runs (validate yesterday's partition, not the table).

    No counterpart in the reference (it validates one finite batch at
    a time; looping lives in the caller) — here the loop is first-class
    so each run's scan is PARTITION-PRUNED: with a hive-partitioned
    layout (sinks.write_partitioned), ``df.filter(col == v)`` prunes at
    the FileIndex and never touches other partitions' bytes.

    ``since`` keeps only partition values strictly greater (the
    incremental frontier); ``values`` pins an explicit set instead.
    Partition values are discovered with a distinct on the partition
    column — metadata-cheap under hive partitioning, where the value
    comes from the directory name.

    ``state_ledger`` (round 11 — the mergeable-state family surfaced
    as an API): a DataFrame of committed per-partition validation
    states, as produced by :func:`partition_states`. Partitions with a
    committed state row are reported FROM THE STATE — zero data scan —
    and only partitions missing from the ledger are computed from
    rows (one grouped job covering all of them, not one scan each).
    Because every state aggregate merges exactly (sum/max of exact
    ints), the state-path report equals the row-path report
    bit-for-bit (test-locked in tests/test_state_ledger.py). A
    partition holding SEVERAL ledger rows (append-style ledgers commit
    one state row per arriving batch) is evaluated from the merge of
    all of them — the rows must be DISJOINT covers of the partition
    (batch deltas, not superseding recomputations), or the summed
    counts double-count. Only mergeable contracts qualify — uniqueness / target-leakage /
    grouped-ML / custom-SQL checks raise unless
    ``allow_partial=True`` is passed through.
    """
    from pyspark.sql import functions as F

    # kwarg routing fails fast — BEFORE the partition-value discovery
    # pays a distinct() job on a possibly non-hive source
    if state_ledger is not None:
        unsupported = sorted(set(kwargs) - {"strict", "now", "allow_partial"})
        if unsupported:
            raise ValueError(
                "state-ledger path supports only strict/now/allow_partial "
                f"(got row-path-only options {unsupported}); drop "
                "state_ledger= to validate from rows with them"
            )
    elif "allow_partial" in kwargs:
        raise ValueError(
            "allow_partial applies only to the state-ledger path (the row "
            "path runs every check from rows); drop the flag or pass "
            "state_ledger="
        )

    if values is None:
        # frontier filter runs IN SPARK (col > lit(since)) so Spark's
        # analyzer coerces types — the CLI passes --since as a string,
        # which Python would refuse to compare with an int/date
        # partition value (TypeError), but Catalyst casts fine
        part_vals = df.select(partition_col).distinct()
        if since is not None:
            part_vals = part_vals.filter(F.col(partition_col) > F.lit(since))
        rows = part_vals.collect()
        values = sorted(r[0] for r in rows if r[0] is not None)
    elif since is not None:
        values = [v for v in values if v > since]
    values = list(values)

    if state_ledger is not None:
        return _validate_partitions_from_ledger(
            spark, df, contract, partition_col, values, state_ledger,
            **kwargs,
        )

    out: dict[Any, ValidationReport] = {}
    for v in values:
        part = df.filter(F.col(partition_col) == F.lit(v))
        out[v] = validate_df(spark, part, contract, **kwargs)
    return out


def _validate_partitions_from_ledger(
    spark: SparkSession,
    df: DataFrame,
    contract: Contract | str,
    partition_col: str,
    values: list,
    state_ledger: DataFrame,
    strict: bool = False,
    now: Any = None,
    allow_partial: bool = False,
) -> dict[Any, ValidationReport]:
    """The merge path of :func:`validate_partitions`: per-partition
    reports evaluated from committed state rows; missing partitions
    computed from rows with ONE grouped job, then evaluated the same
    way — so both paths produce identical reports by construction."""
    from pyspark.sql import functions as F

    from .state import compute_partition_states, report_from_states

    # the wanted-values filter runs IN SPARK so a years-deep ledger
    # (10^5 hourly rows x wide contracts) never pays driver transfer
    # for rows this call discards
    have: dict[Any, list] = {}
    if values:
        ledger_rows = state_ledger.filter(
            F.col(partition_col).isin(values)
        ).collect()
    else:
        ledger_rows = []
    # a partition may hold SEVERAL ledger rows (append-style ledgers
    # commit one state row per arriving batch — the disjoint-cover
    # model every state aggregate is built to merge). All rows for a
    # value are merged by report_from_states/merge_state_rows; a
    # ledger that instead appends superseding RECOMPUTATIONS of the
    # same rows must be compacted first or the sums double-count.
    for r in ledger_rows:
        have.setdefault(r[partition_col], []).append(r)
    missing = [v for v in values if v not in have]
    if missing:
        fresh = compute_partition_states(
            spark,
            df.filter(F.col(partition_col).isin(missing)),
            contract,
            partition_col,
            now=now,
            allow_partial=allow_partial,
        )
        for r in fresh.collect():
            have.setdefault(r[partition_col], []).append(r)
    out: dict[Any, ValidationReport] = {}
    for v in values:
        # a value absent from both the ledger and the data has no state
        # row (the grouped job emits nothing for an empty partition):
        # evaluate from zero states — the identity state — which equals
        # the row path's validate_df over the empty filter
        out[v] = report_from_states(
            spark,
            have.get(v, []),
            contract,
            df,
            strict=strict,
            now=now,
            allow_partial=allow_partial,
        )
    return out


def partition_states(
    spark: SparkSession,
    df: DataFrame,
    contract: Contract | str,
    partition_col: str,
    now: Any = None,
    allow_partial: bool = False,
    zones: Optional[list[str]] = None,
) -> DataFrame:
    """Compute the mergeable per-partition validation states for
    ``contract`` — the ledger rows :func:`validate_partitions` consumes
    via ``state_ledger=``. ``zones=[field, ...]`` adds exact zone-map
    columns per field (min/max) that merge, compact, and feed
    :func:`prunable_partitions`. See :mod:`dce_spark.state`."""
    from .state import compute_partition_states

    return compute_partition_states(
        spark, df, contract, partition_col,
        now=now, allow_partial=allow_partial, zones=zones,
    )


def prunable_partitions(
    ledger: DataFrame, partition_col: str, field: str, op: str, value: Any
) -> DataFrame:
    """Partition values whose committed zone columns prove the
    predicate ``<field> <op> <value>`` matches nothing there — the
    zero-I/O skip list. See :func:`dce_spark.state.prunable_partitions`."""
    from .state import prunable_partitions as _prune

    return _prune(ledger, partition_col, field, op, value)


def compact_state_ledger(ledger: DataFrame, partition_col: str) -> DataFrame:
    """Compact an append-style state ledger to one row per partition
    value by applying each column's merge rule in Spark — see
    :func:`dce_spark.state.compact_state_ledger`. Reports from the
    compacted ledger equal reports from the raw one bit-for-bit;
    compaction is idempotent."""
    from .state import compact_state_ledger as _compact

    return _compact(ledger, partition_col)
