"""The three closed-loop workloads: set-up, one timed operation, and
the output check that decides whether the operation succeeded.

Each workload calls the public ``dce_spark`` API through module
attributes (``api.validate_df``, not a copied name), so the tracer's
wrappers see every call. Set-up writes the seeded inputs under the
run's work directory; operations read only those inputs.
"""

from __future__ import annotations

import math
import os
import shutil
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Any

import gen
from spans import Tracer

NOW = datetime.fromtimestamp(gen.NOW_EPOCH_S, tz=timezone.utc)


@dataclass
class OpResult:
    rows: int  # input rows the operation consumed
    output: Any  # what the check inspects
    counts: dict[str, float] = field(default_factory=dict)  # per-layer work counts


def _report_key(report) -> dict:
    """A report as a comparable dict, minus its wall-clock field."""
    d = report.to_dict()
    d["stats"].pop("duration_ms", None)
    return d


def _find(report, name: str):
    for c in report.checks:
        if c.name == name:
            return c
    return None


def _expect(problems: list[str], report, name: str, key: str, want) -> None:
    c = _find(report, name)
    got = None if c is None else c.observed.get(key)
    if got != want:
        problems.append(f"{name}.{key}: got {got!r}, planted {want!r}")


def _dir_files(path: str) -> dict[str, int]:
    out = {}
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(dirpath, n)
                out[p] = os.path.getsize(p)
    return out


def _read(spark, tracer: Tracer, path: str):
    """``spark.read.parquet`` (file listing, footer and schema reads)
    inside a span, so it is not counted as benchmark glue."""
    with tracer.span("spark.read.parquet", "spark.io"):
        return spark.read.parquet(path)


def _traced_write(tracer: Tracer, write, path: str) -> None:
    """Run a sinks write; in traced runs, count the data files and
    bytes it added under ``path``."""
    if not tracer.enabled:
        write()
        return
    before = _dir_files(path)
    write()
    new = {p: s for p, s in _dir_files(path).items() if p not in before}
    tracer.count("sinks.files_written", len(new))
    tracer.count("sinks.bytes_written", sum(new.values()))


# ------------------------------------------------------------ validate_batch

BATCH_CONTRACT = """
version: "1.0.0"
name: bench_events
owner: perfbench
description: flagship-shaped contract over the generated events table
schema:
  format: parquet
  fields:
    - name: event_id
      type: int64
      nullable: false
    - name: user_id
      type: int64
      nullable: false
    - name: event_type
      type: string
      nullable: false
      constraints:
        - type: allowedvalues
          values: [view, click, purchase, signup, error]
    - name: value
      type: float64
      constraints:
        - type: range
          min: 0
          max: 10000
    - name: ts
      type: timestamp
      nullable: false
    - name: props
      type: string
    - name: label
      type: string
      nullable: false
    - name: score
      type: float64
    - name: target
      type: float64
quality_checks:
  completeness:
    threshold: 0.99
    fields: [event_id, user_id, event_type]
  uniqueness:
    fields: [event_id]
  freshness:
    max_delay: 1h
    metric: ts
  custom_checks:
    - name: negative_values
      definition: "SELECT COUNT(*) FROM data WHERE value < 0"
      severity: error
  ml_checks:
    class_balance:
      label_field: label
      max_proportion: 0.6
    target_leakage:
      target_field: target
      feature_fields: [score, value]
      max_correlation: 0.95
"""


class ValidateBatch:
    """``validate_df`` with the full flagship contract, passed as YAML
    text, over an events table with planted defects."""

    name = "validate_batch"
    rows = 500_000
    warmup_ops = 2  # untimed ops before timing (see run.run_workload)

    def __init__(self, spark, work: str, seed: int, tracer: Tracer) -> None:
        self.spark, self.seed, self.tracer = spark, seed, tracer
        self.path = os.path.join(work, "events")
        self.truth: gen.EventsTruth | None = None

    def setup(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        self.truth = gen.events_table(self.seed, self.rows, self.path)

    def op(self, i: int) -> OpResult:
        from dce_spark import api

        df = _read(self.spark, self.tracer, self.path)
        report = api.validate_df(self.spark, df, BATCH_CONTRACT, now=NOW)
        return OpResult(rows=self.truth.rows, output=report)

    def check(self, res: OpResult) -> list[str]:
        return check_batch_report(res.output, self.truth)

    def final_check(self) -> list[str]:
        return []


def check_batch_report(report, t: gen.EventsTruth) -> list[str]:
    """Compare a validate_batch report with the planted counts."""
    p: list[str] = []
    if report.stats.records_validated != t.rows:
        p.append(f"records_validated {report.stats.records_validated} != {t.rows}")
    _expect(p, report, "schema.nullability:user_id", "null_count", t.null_user_id)
    _expect(p, report, "schema.nullability:event_id", "null_count", 0)
    _expect(p, report, "constraints.allowedvalues:event_type", "violations", t.bad_event_type)
    _expect(p, report, "constraints.range:value", "violations", t.out_of_range)
    _expect(p, report, "quality.completeness:user_id", "non_null", t.rows - t.null_user_id)
    _expect(p, report, "quality.completeness:event_id", "total", t.rows)
    _expect(p, report, "quality.uniqueness:event_id", "duplicates", t.duplicate_ids)
    _expect(p, report, "quality.freshness:ts", "max_ts_epoch", t.max_ts_epoch)
    _expect(p, report, "custom:negative_values", "value", t.negative_value)
    _expect(p, report, "ml.class_balance:label", "total", t.rows)
    props = {k: v / t.rows for k, v in t.label_counts.items()}
    cb = _find(report, "ml.class_balance:label")
    if cb is None or cb.observed.get("proportions") != dict(
        sorted(props.items(), key=lambda kv: (-kv[1], kv[0]))
    ):
        p.append("ml.class_balance:label proportions differ from the planted labels")
    for feat, want in (("score", t.corr_score), ("value", t.corr_value)):
        c = _find(report, f"ml.target_leakage:{feat}")
        got = None if c is None else c.observed.get("correlation")
        if got is None or not math.isclose(got, want, rel_tol=1e-9, abs_tol=1e-12):
            p.append(f"ml.target_leakage:{feat} correlation {got!r} != {want!r}")
    if report.passed:
        p.append("report passed although defects were planted")
    return p


# ------------------------------------------------------ validate_incremental

DAILY_CONTRACT = """
version: "1.0.0"
name: daily_events
owner: perfbench
description: mergeable contract for the day-partitioned events table
schema:
  format: parquet
  fields:
    - name: event_id
      type: int64
      nullable: false
    - name: user_id
      type: int64
      nullable: false
    - name: event_type
      type: string
      nullable: false
      constraints:
        - type: allowedvalues
          values: [view, click, purchase, signup, error]
    - name: value
      type: float64
      constraints:
        - type: range
          min: 0
          max: 10000
    - name: ts
      type: timestamp
      nullable: false
quality_checks:
  completeness:
    threshold: 0.99
    fields: [event_id, user_id, event_type]
  freshness:
    max_delay: 2d
    metric: ts
"""


class ValidateIncremental:
    """Land a day, commit its ledger row, retire the oldest day and
    report the rolling window from the state ledger."""

    name = "validate_incremental"
    warmup_ops = 2
    window = 5  # days kept in the table and reported per op
    rows_per_day = 10_000
    pool = 8  # distinct generated day batches, cycled by day number

    def __init__(self, spark, work: str, seed: int, tracer: Tracer) -> None:
        self.spark, self.seed, self.tracer = spark, seed, tracer
        self.staging = os.path.join(work, "staging")
        self.table = os.path.join(work, "daily_events")
        self.ledger = os.path.join(work, "ledger")
        self.truths: list[gen.DayTruth] = []
        self.day = 0  # next day number to land

    def _batch(self, day: int):
        from pyspark.sql import functions as F

        src = os.path.join(self.staging, f"slot-{day % self.pool}.parquet")
        return _read(self.spark, self.tracer, src).withColumn("day", F.lit(day))

    def setup(self) -> None:
        from dce_spark import api, sinks

        for p in (self.staging, self.table, self.ledger):
            shutil.rmtree(p, ignore_errors=True)
        os.makedirs(self.staging)
        self.truths = [
            gen.day_batch(self.seed, s, self.rows_per_day,
                          os.path.join(self.staging, f"slot-{s}.parquet"))
            for s in range(self.pool)
        ]
        df = None
        for d in range(self.window):
            b = self._batch(d)
            df = b if df is None else df.unionByName(b)
        sinks.write_partitioned(df, self.table, ["day"], files_per_partition=1)
        states = api.partition_states(
            self.spark, self.spark.read.parquet(self.table), DAILY_CONTRACT, "day", now=NOW
        )
        sinks.write_partitioned(states, self.ledger, ["day"])
        self.day = self.window

    def op(self, i: int) -> OpResult:
        from pyspark.sql import functions as F

        from dce_spark import api, sinks

        spark, d = self.spark, self.day
        _traced_write(
            self.tracer,
            lambda: sinks.write_partitioned(
                self._batch(d), self.table, ["day"], files_per_partition=1, mode="append"
            ),
            self.table,
        )
        landed = _read(spark, self.tracer, self.table).filter(F.col("day") == d)
        # partition_states only plans; its job runs at collect(), inside the span
        with self.tracer.span("state.compute_partition_states", "state"):
            states = api.partition_states(spark, landed, DAILY_CONTRACT, "day", now=NOW)
            state_rows = spark.createDataFrame(states.collect(), states.schema)
        _traced_write(
            self.tracer,
            lambda: sinks.write_partitioned(state_rows, self.ledger, ["day"], mode="append"),
            self.ledger,
        )
        oldest = d - self.window
        shutil.rmtree(os.path.join(self.table, f"day={oldest}"))
        shutil.rmtree(os.path.join(self.ledger, f"day={oldest}"))
        self.day = d + 1
        reports = api.validate_partitions(
            spark, _read(spark, self.tracer, self.table), DAILY_CONTRACT, "day",
            state_ledger=_read(spark, self.tracer, self.ledger), now=NOW,
        )
        return OpResult(
            rows=self.rows_per_day,
            output=(d, reports),
            counts={"state.ledger_rows": float(sum(
                n.startswith("day=") for n in os.listdir(self.ledger)
            ))},
        )

    def check(self, res: OpResult) -> list[str]:
        d, reports = res.output
        return check_day_reports(reports, d, self.window, self.truths[d % self.pool])

    def final_check(self) -> list[str]:
        """Untimed: the ledger report equals the row-path report."""
        from dce_spark import api

        spark = self.spark
        df = spark.read.parquet(self.table)
        led = api.validate_partitions(
            spark, df, DAILY_CONTRACT, "day",
            state_ledger=spark.read.parquet(self.ledger), now=NOW,
        )
        rows = api.validate_partitions(spark, df, DAILY_CONTRACT, "day", now=NOW)
        if sorted(led) != sorted(rows):
            return [f"ledger days {sorted(led)} != row-path days {sorted(rows)}"]
        return [
            f"day {v}: ledger report differs from the row-path report"
            for v in rows
            if _report_key(led[v]) != _report_key(rows[v])
        ]


def check_day_reports(reports: dict, day: int, window: int, t: gen.DayTruth) -> list[str]:
    """The window holds exactly the last ``window`` days and the new
    day's report matches what was landed."""
    p: list[str] = []
    want_days = list(range(day - window + 1, day + 1))
    if sorted(reports) != want_days:
        return [f"reported days {sorted(reports)} != window {want_days}"]
    r = reports[day]
    if r.stats.records_validated != t.rows:
        p.append(f"day {day}: records_validated {r.stats.records_validated} != {t.rows}")
    _expect(p, r, "schema.nullability:user_id", "null_count", t.null_user_id)
    _expect(p, r, "constraints.allowedvalues:event_type", "violations", t.bad_event_type)
    _expect(p, r, "constraints.range:value", "violations", t.out_of_range)
    return p


# ------------------------------------------------------------ curate_corpus


class CurateCorpus:
    """Curation gate -> MinHash-LSH candidates -> clusters -> embedding
    LSH over the survivors -> survivors written to parquet."""

    name = "curate_corpus"
    docs = 5_000
    warmup_ops = 1  # its cold first op alone takes about 20 s

    def __init__(self, spark, work: str, seed: int, tracer: Tracer) -> None:
        self.spark, self.seed, self.tracer = spark, seed, tracer
        self.docs_path = os.path.join(work, "documents")
        self.emb_path = os.path.join(work, "embeddings")
        self.out = os.path.join(work, "survivors")
        self.truth: gen.CorpusTruth | None = None
        self.planted: set = set()

    def setup(self) -> None:
        for p in (self.docs_path, self.emb_path):
            shutil.rmtree(p, ignore_errors=True)
        self.truth = gen.corpus(self.seed, self.docs, self.docs_path, self.emb_path)
        self.planted = self.truth.planted_pairs()

    def _forced(self, name: str, layer: str, make):
        """Run one funnel step and materialize it inside its span, so
        the span covers the step's work and not just its plan."""
        with self.tracer.span(name, layer):
            df = make().persist()
            n = df.count()
        return df, n

    def op(self, i: int) -> OpResult:
        from pyspark.sql import functions as F

        from dce_spark import sinks
        from dce_spark.ext import dedup, similarity, text

        spark = self.spark
        docs = _read(spark, self.tracer, self.docs_path)
        emb = _read(spark, self.tracer, self.emb_path)
        dec, _ = self._forced(
            "ext.text.curation_decisions", "ext.text", lambda: text.curation_decisions(docs)
        )
        kept = docs.join(dec.filter("kept").select("doc_id"), "doc_id", "left_semi")
        pairs, n_pairs = self._forced(
            "ext.dedup.lsh_candidate_pairs", "ext.dedup",
            lambda: dedup.lsh_candidate_pairs(kept, fast=True),
        )
        clusters, _ = self._forced(
            "ext.dedup.dedup_clusters", "ext.dedup", lambda: dedup.dedup_clusters(pairs)
        )
        dropped = clusters.filter(F.col("node") != F.col("cluster_id")).select(
            F.col("node").alias("doc_id")
        )
        deduped = kept.join(dropped, "doc_id", "left_anti")
        sem, n_sem = self._forced(
            "ext.similarity.hyperplane_lsh_pairs", "ext.similarity",
            lambda: similarity.hyperplane_lsh_pairs(
                emb.join(deduped.select("doc_id"), "doc_id", "left_semi"),
                threshold=0.95, bits=64, bands=4, vec_col="embedding", id_col="doc_id",
            ),
        )
        survivors = deduped.join(
            sem.select(F.col("vec_b").alias("doc_id")), "doc_id", "left_anti"
        )
        _traced_write(
            self.tracer,
            lambda: sinks.write_partitioned(
                survivors, self.out, ["source"], files_per_partition=1, mode="overwrite"
            ),
            self.out,
        )
        return OpResult(
            rows=self.truth.docs,
            output=(dec, pairs),
            counts={
                "ext.dedup.candidate_pairs": float(n_pairs),
                "ext.similarity.candidate_pairs": float(n_sem),
            },
        )

    def check(self, res: OpResult) -> list[str]:
        dec, pairs = res.output
        kept = {r[0] for r in dec.filter("kept").select("doc_id").collect()}
        found = {(r[0], r[1]) for r in pairs.collect()}
        surv = [r[0] for r in self.spark.read.parquet(self.out).select("doc_id").collect()]
        res.counts["ext.dedup.useful_ratio"] = (
            len(found & self.planted) / len(found) if found else 0.0
        )
        return check_survivors(surv, kept, self.truth)

    def final_check(self) -> list[str]:
        return []


def check_survivors(survivors: list[int], kept: set[int], t: gen.CorpusTruth) -> list[str]:
    p: list[str] = []
    s = set(survivors)
    if len(s) != len(survivors):
        p.append(f"{len(survivors) - len(s)} survivors written more than once")
    extra = s - kept
    if extra:
        p.append(f"{len(extra)} survivors were not kept by the curation gate")
    bad = [g for g in t.exact_groups if len(s.intersection(g)) != 1]
    if bad:
        p.append(f"{len(bad)} exact-duplicate groups do not keep exactly one survivor, "
                 f"e.g. {bad[0]}")
    return p


WORKLOADS = {w.name: w for w in (ValidateBatch, ValidateIncremental, CurateCorpus)}
