"""Scheduled recompute (NRU) as a streaming maintenance loop.

The reference's updater runs a periodic tick: scan entities whose
next-regular-update slot is due (_nru <= now), emit them for
recompute, and advance each due slot with the next_step arithmetic
(reference: NERDd/updater.py:56-142 tick scan,
modules/update_planner.py:31-38 the _nru1d = added + 1 day stamp,
common/update_manager.py:174-179 next_step). The batch harness for
this is the oracled `nru_due_selection` query; this module closes
SURVEY §2.8's scheduled-recompute concern under actual Structured
Streaming: each micro-batch of events is one tick of a foreachBatch
maintenance loop over a persistent schedule table.

Tick semantics (pure function of (state, batch) — what the
batch==stream test pins):

1. merge batch activity: added = min(added, batch min ts),
   last_act = max(last_act, batch max ts);
2. entities touched by the batch get their slot restamped from
   activity — nru = added + (floor((last_act - added)/step)+1)*step,
   exactly the `nru_due_selection` formula — while untouched
   entities keep their previously-advanced slot;
3. due set = slots <= now (= the batch's max ts), emitted with
   overdue_days;
4. due slots advance past now via next_step:
   nru += (floor((now - nru)/step) + 1) * step.

State is the schedule table itself (the entity-table pattern —
O(entities) rows of 4 longs, no state store). Every write commits
the tick's own ``epoch=N`` subdirectory (the staged rule of
streaming/epochs.py) and a tick reads only committed epochs < N, so
an at-least-once foreachBatch replay of tick N sees exactly the
pre-tick state and replaces its own output — the same replay-safety
scheme as streaming/dedup_stream.py. At scale the
schedule table shuffles on entity once per tick (a broadcast-sized
frame next to the events it schedules); the due scan is a filter +
sort-limit on that same frame.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nerd_spark.sources.layout import _commit_dir
from nerd_spark.streaming.epochs import _epochs

STEP_SECS = 86400

_SCHED_SCHEMA = "entity long, added long, last_act long, nru long"


def _schedule(spark, sched_path: str, below: int | None = None) -> DataFrame:
    """The latest committed schedule epoch (below ``below``, if
    given), or an empty schedule."""
    eps = [e for e in _epochs(spark, sched_path) if below is None or e < below]
    if not eps:
        return spark.createDataFrame([], _SCHED_SCHEMA)
    return spark.read.parquet(os.path.join(sched_path, f"epoch={eps[-1]}"))


def apply_nru_tick(
    spark,
    sched_path: str,
    due_path: str,
    batch_df: DataFrame,
    epoch_id: int,
    entity: str = "user_id",
    step: int = STEP_SECS,
) -> None:
    """One maintenance tick (the foreachBatch body; also callable
    directly as the batch harness — the stream test pins that two
    streamed micro-batches equal two direct calls)."""
    b = batch_df.groupBy(F.col(entity).alias("entity")).agg(
        F.unix_timestamp(F.min("ts")).alias("b_added"),
        F.unix_timestamp(F.max("ts")).alias("b_last"),
    )
    now_e = batch_df.agg(F.unix_timestamp(F.max("ts"))).first()[0]
    if now_e is None:  # empty batch: nothing due, state unchanged
        return

    merged = (
        _schedule(spark, sched_path, below=epoch_id)
        .join(b, "entity", "full")
        .select(
            "entity",
            F.coalesce(F.least("added", "b_added"), "added", "b_added").alias(
                "added"
            ),
            F.coalesce(F.greatest("last_act", "b_last"), "last_act", "b_last").alias(
                "last_act"
            ),
            "nru",
            F.col("b_last").isNotNull().alias("_touched"),
        )
    )
    restamp = F.col("added") + (
        F.floor((F.col("last_act") - F.col("added")) / step) + 1
    ) * step
    merged = merged.select(
        "entity",
        "added",
        "last_act",
        F.when(F.col("_touched"), restamp).otherwise(F.col("nru")).alias("nru"),
    )

    due = merged.filter(F.col("nru") <= now_e).select(
        "entity",
        "nru",
        F.floor((F.lit(now_e) - F.col("nru")) / step).cast("long").alias(
            "overdue_days"
        ),
    )
    # Emit THIS tick's due set before mutating state (replay order),
    # committing the epoch's own subdir so a replay never doubles it.
    _commit_dir(
        spark, due, os.path.join(due_path, f"epoch={epoch_id}"), one_file=False
    )

    advanced = merged.select(
        "entity",
        "added",
        "last_act",
        F.when(
            F.col("nru") <= now_e,
            F.col("nru")
            + (F.floor((F.lit(now_e) - F.col("nru")) / step) + 1) * step,
        )
        .otherwise(F.col("nru"))
        .alias("nru"),
    )
    _commit_dir(
        spark,
        advanced,
        os.path.join(sched_path, f"epoch={epoch_id}"),
        one_file=False,
    )


def stream_nru(
    spark,
    events_stream: DataFrame,
    sched_path: str,
    due_path: str,
    checkpoint_dir: str,
    entity: str = "user_id",
    step: int = STEP_SECS,
):
    """foreachBatch wiring: every micro-batch is one NRU tick.
    availableNow drains a backlog tick-by-tick (maxFilesPerTrigger
    controls tick granularity); a processingTime trigger runs the
    reference's periodic updater cadence."""

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        apply_nru_tick(
            spark, sched_path, due_path, batch_df, epoch_id, entity=entity, step=step
        )

    return events_stream.writeStream.foreachBatch(handle).option(
        "checkpointLocation", checkpoint_dir
    )


def read_schedule(spark, sched_path: str) -> DataFrame:
    """Current schedule table = the latest committed epoch."""
    return _schedule(spark, sched_path)
