"""The ingest pipeline: IDEA spool -> per-IP daily facts -> entity table.

Re-architecture of the reference's task/queue/worker machinery
(SURVEY §3.1): the RabbitMQ hash-routing (reference:
common/task_queue.py:203-251) becomes the groupBy shuffle; the
handler chain becomes the deterministic derivation stages
(plans/derivations.py); the Mongo record replace becomes a
partition-level merge into a date-partitioned parquet fact table.

Batch and streaming share one body: run_stream wraps run-batch logic
in foreachBatch, so replaying files through either path yields
identical tables (exactly-once via checkpointing — strictly stronger
than the reference's at-least-once acks, task_queue.py:333-338).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from nerd_spark.sources import fsutil
from nerd_spark.sources.idea import (
    explode_source_ips,
    parse_idea,
    read_idea_batch,
    read_idea_stream,
    split_corrupt,
)


def facts_from_batch(raw: DataFrame, as_of: Column | None = None) -> DataFrame:
    """IDEA batch -> per-(ip, date, node, cat) fact increments (A1).

    The groupBy here is the map-side pre-aggregation; the merge into
    the stored table re-aggregates per partition.
    """
    ok, _corrupt = split_corrupt(raw)
    per_ip = explode_source_ips(parse_idea(ok, as_of))
    return per_ip.groupBy("ip_int", "date", "node", "cats").agg(
        F.count("*").alias("n"), F.sum("conns").alias("conns")
    )


# Upper bound on date partitions one micro-batch may rewrite. The P10
# acceptance window is [now-7d, now+5min], so a well-formed batch spans
# <= 9 distinct dates; the slack covers explicit historical replays.
MAX_TOUCHED_DATES = 64


def merge_facts(
    spark: SparkSession,
    increments: DataFrame,
    table_path: str,
    max_touched_dates: int = MAX_TOUCHED_DATES,
) -> None:
    """Additive merge into the date-partitioned fact table.

    Parquet has no MERGE; since a micro-batch only touches its events'
    days (7-day acceptance window, P10), we rewrite just the affected
    date partitions. At scale this is bounded by (entities active in
    window) x ~9 days, never the table's history — enforced by
    ``max_touched_dates``.

    Crash safety: the merged partitions are fully materialized into a
    staging directory *before* anything destructive happens to the live
    table (the naive read-modify-overwrite of the sole copy could lose
    partitions on a mid-commit crash). The swap is then one directory
    rename per touched date — each atomic on HDFS/posix — and a crash
    mid-swap leaves every partition either old or new, never
    half-written, with the staging copy intact for recovery. A real
    deployment would put an ACID table format (Delta/Iceberg) here.
    """
    inc = increments.withColumn("d", F.to_date("date"))
    live = fsutil.exists(spark, table_path)
    if live:
        # existence checked explicitly: any *other* read failure
        # (corrupt footer, permissions, transient IO) must propagate
        # rather than silently dropping history (ADVICE r01).
        dates = [r.d for r in inc.select("d").distinct().collect()]
        if len(dates) > max_touched_dates:
            raise ValueError(
                f"merge_facts: batch touches {len(dates)} date partitions "
                f"(> {max_touched_dates}); events outside the acceptance "
                "window should have been filtered (P10) or replayed with "
                "an explicit higher bound"
            )
        if dates:
            existing = spark.read.parquet(table_path)
            touched = existing.filter(F.col("d").isin(dates)).select(inc.columns)
            inc = inc.unionByName(touched)
    merged = inc.groupBy("ip_int", "date", "node", "cats", "d").agg(
        F.sum("n").alias("n"), F.sum("conns").alias("conns")
    )
    staging = table_path.rstrip("/") + ".staging"
    # The overwrite clears a stale staging dir (and raises if it
    # cannot). Hadoop rename/delete report failure (missing parent,
    # cross-FS move, quota) by returning false, and an unchecked false
    # in the swap silently drops a live partition (ADVICE r02): raise,
    # keeping the staging copy. swap_partition_dirs raises by itself.
    merged.write.mode("overwrite").partitionBy("d").parquet(staging)
    if not live:
        if not fsutil.rename(spark, staging, table_path):
            raise IOError(f"merge_facts: failed to promote staging: {staging}")
        return
    fsutil.swap_partition_dirs(spark, staging, table_path, "d=")
    if not fsutil.delete(spark, staging, recursive=True):
        raise IOError(f"merge_facts: failed to clean staging: {staging}")


def run_batch(
    spark: SparkSession,
    spool_dir: str,
    facts_path: str,
    as_of: Column | None = None,
) -> None:
    raw = read_idea_batch(spark, spool_dir)
    merge_facts(spark, facts_from_batch(raw, as_of), facts_path)


def run_stream(
    spark: SparkSession,
    spool_dir: str,
    facts_path: str,
    checkpoint_dir: str,
    as_of: Column | None = None,
):
    """Streaming variant: same batch body under foreachBatch,
    availableNow trigger (drain the spool, then stop)."""
    raw = read_idea_stream(spark, spool_dir)

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        merge_facts(spark, facts_from_batch(batch_df, as_of), facts_path)

    return (
        raw.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
