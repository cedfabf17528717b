"""Contract enforcement on Structured Streaming sources.

``validate_stream``: readStream -> foreachBatch -> the same contract
compiler that serves batch (one fused agg per micro-batch + grouped
checks), reports handed to a callback. Exactly-once per batch comes
from foreachBatch's batch_id.

``streaming_quality_aggregates``: continuous per-window quality metrics
(row counts, null counts, violation counts) as a watermarked windowed
aggregation — the idiomatic Spark shape for "freshness/completeness
over the last N minutes" SLA monitoring, with late data handled by the
watermark instead of the reference's (unimplemented) SLA block.
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..compiler import ValidationContext, validate_df
from ..contract import Contract
from ..report import ValidationReport


def validate_stream(
    spark: SparkSession,
    stream_df: DataFrame,
    contract: Contract,
    on_report: Callable[[int, ValidationReport], None],
    context: Optional[ValidationContext] = None,
    **write_stream_opts,
):
    """Enforce ``contract`` on every micro-batch of ``stream_df``.

    Returns the started StreamingQuery. The caller's ``on_report`` gets
    (batch_id, ValidationReport) per micro-batch; raise inside it to
    fail the query (poison-batch semantics up to the caller).
    """

    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        # validate_df runs several jobs over its input and caches
        # nothing: persist the micro-batch so the source is read once
        batch_df.persist()
        try:
            report = validate_df(spark, batch_df, contract, context)
        finally:
            batch_df.unpersist()
        on_report(batch_id, report)

    writer = stream_df.writeStream.foreachBatch(per_batch)
    for k, v in write_stream_opts.items():
        writer = writer.option(k, v)
    return writer.start()


def streaming_quality_aggregates(
    stream_df: DataFrame,
    contract: Contract,
    ts_col: str,
    window_duration: str = "1 minute",
    watermark_delay: str = "2 minutes",
) -> DataFrame:
    """Windowed quality metrics stream: per event-time window, row count
    plus per-non-nullable-field null counts and per-constraint violation
    counts — the contract's row-local checks as a continuous aggregate.

    Output schema: window_start, window_end, n_rows, then one column per
    check (null counts: ``nulls_<field>``; violations:
    ``viol_<field>_<i>``). Late rows beyond the watermark are dropped by
    Spark's state eviction rather than corrupting closed windows.
    """
    from ..checks.constraints import violation_expr

    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for f in contract.schema.fields:
        if not f.nullable and f.name in stream_df.columns:
            aggs.append(
                F.sum(F.col(f.name).isNull().cast("long")).alias(f"nulls_{f.name}")
            )
    for f in contract.schema.fields:
        if f.name not in stream_df.columns:
            continue
        for i, c in enumerate(f.constraints):
            aggs.append(
                F.sum(violation_expr(F.col(f.name), c).cast("long")).alias(
                    f"viol_{f.name}_{i}"
                )
            )
    win = F.window(F.col(ts_col), window_duration)
    return (
        stream_df.withWatermark(ts_col, watermark_delay)
        .groupBy(win)
        .agg(*aggs)
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "*",
        )
        .drop("window")
    )


def streaming_exact_dedup(
    stream_df: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup for an ingest pipeline: drop documents whose
    normalized-content fingerprint was already seen within the watermark
    horizon (the streaming face of ext/dedup.exact_duplicates).

    Uses ``dropDuplicatesWithinWatermark`` on the 16-byte md5
    fingerprint, so dedup state holds fingerprints — never document
    text — and is evicted once older than the watermark: bounded state
    at any throughput. Exactly the semantics a training-data ingest
    wants ("don't admit the same document twice per horizon") without
    the unbounded state of global streaming dedup.
    """
    from ..ext.text import fingerprint_col

    return (
        stream_df.withColumn("__fp", fingerprint_col(F.col(text_col)))
        .withWatermark(ts_col, watermark_delay)
        .dropDuplicatesWithinWatermark(["__fp"])
        .drop("__fp")
    )


def streaming_near_dup_filter(
    spark: SparkSession,
    stream_df: DataFrame,
    index_path: str,
    on_batch: Callable[[int, DataFrame], None],
    text_col: str = "text",
    id_col: str = "doc_id",
    **write_stream_opts,
):
    """Streaming NEAR-dup admission control against a persisted LSH
    index (ext.dedup.save_lsh_index) — the streaming face of
    incremental corpus dedup, completing the pair with
    ``streaming_exact_dedup`` (exact fingerprints, watermarked state).

    Per micro-batch via foreachBatch: hash the batch with the INDEX's
    stored parameters, equi-join its band buckets against the stored
    bucket table (cost scales with the batch, corpus read only along
    matching band-key ranges), left-anti the matched ids away, and
    hand the surviving rows to ``on_batch``. State lives in the index
    files, not the stream — restart-safe by construction, and the
    index can be rebuilt/compacted offline while the stream runs
    (swap paths between batches).

    ``on_batch`` receives (batch_id, survivors_df) and owns the write
    (append to the corpus + index refresh cadence is a policy choice).
    """
    from ..ext.dedup import match_against_lsh_index

    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        matched = match_against_lsh_index(
            spark, index_path, batch_df, text_col=text_col, id_col=id_col
        ).select(F.col("batch_id").alias(id_col)).distinct()
        survivors = batch_df.join(matched, id_col, "left_anti")
        on_batch(batch_id, survivors)

    writer = stream_df.writeStream.foreachBatch(per_batch)
    for k, v in write_stream_opts.items():
        writer = writer.option(k, v)
    return writer.start()
