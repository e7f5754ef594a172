"""Continuous cohort-retention tracking over Structured Streaming:
a thin shell over the cohort serve table's fold.

The batch operator (operators/funnels.py::cohort_retention) reduces
each user to (first anchor DAY, set of distinct active days) — state
that is exactly mergeable across micro-batches: day sets union and
the anchor is a running min, with no order sensitivity and no merge
error at any horizon. The stream keeps that state in the one
incremental-state model the serve tables use: each micro-batch is
one :func:`~nerd_spark.sources.layout._fold` of the cohort summary's
state and merge (``_cohort_spec``: per-user ``cohort_user_state`` —
day set plus every event type's first day, so the state is
anchor-agnostic and the anchor is a serve parameter) into the
stream's own state dir, with the staged commit, torn-commit recovery
and batch ledger every fold has. The batch id is ``epoch=<epoch_id>``,
so a replayed epoch is skipped by the ledger; even a batch applied
twice under two ids cannot move the answer (set union and min are
idempotent).

Serving reads the committed state (root ``_SUCCESS``; no gate, no
state: an empty answer, never a torn one) and runs the SAME period
resolution as the batch operator (cohort_state_to_per_user →
retention_from_per_user), so the cumulative result equals the
one-shot batch cohort_retention over everything ingested (test- and
oracle-pinned). State size is one row per user, rewritten only in
the user buckets a batch touches.

Why the FUNNEL has no UNBOUNDED streaming sibling: its state is not
reducible under out-of-order arrival. A late stage-1 event can lower
t1, retroactively qualifying stage-2 events an earlier epoch already
discarded — exactness therefore requires retaining every
stage-typed event timestamp, which is "the events", not a reduction
(a bounded (t1..tk) state is exact only for streams delivered in
timestamp order, a contract the epoch replay model does not give).
Cohorts escape this because day-granularity activity is a monotone
SET — late data only ever adds elements, never invalidates one.

The engine's OWN lateness contract changes the funnel's answer,
though: P10 acceptance drops events more than 7 days behind the
high-water event time, and within that bound the pre-watermark
prefix is final — streaming/funnel_stream.py ships the
watermark-bounded EXACT funnel on that argument (frozen prefix
scalars + in-horizon event rows; see its docstring for the freeze
proof and the acceptance caveat).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from nerd_spark.sources import fsutil
from nerd_spark.sources.layout import _cohort_spec, _fold


def process_batch(
    spark,
    batch: DataFrame,
    state_dir: str,
    epoch_id: int | None = None,
    user_col: str = "user_id",
) -> None:
    """Fold one arriving batch (``user_col``, ts, event_type) into the
    per-user state at ``state_dir``. ``epoch_id`` keys the fold's
    batch ledger (a replayed epoch is skipped); None folds unledgered."""
    _fold(
        spark,
        _cohort_spec(spark, state_dir, user_col).at(state_dir),
        batch,
        None if epoch_id is None else f"epoch={epoch_id}",
    )


def current_retention(
    spark,
    state_dir: str,
    anchor_type: str = "signup",
    period_days: int = 7,
    n_periods: int = 4,
) -> DataFrame:
    """Cohort retention over everything ingested so far — the same
    (cohort_date, period, cohort_size, active_users, retention)
    contract as the batch operator. Without committed state the empty
    frame in that schema (user ids do not appear in the output, so
    the schema is source-type independent)."""
    from nerd_spark.operators.funnels import (
        cohort_state_to_per_user,
        retention_from_per_user,
    )

    if not fsutil.exists(spark, os.path.join(state_dir, "_SUCCESS")):
        return spark.createDataFrame(
            [],
            "cohort_date string, period long, cohort_size long, "
            "active_users long, retention double",
        )
    per_u = cohort_state_to_per_user(spark.read.parquet(state_dir), anchor_type)
    return retention_from_per_user(per_u, period_days, n_periods)


def stream_retention(
    spark,
    events_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
):
    """Wire :func:`process_batch` as a foreachBatch sink."""

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        process_batch(spark, batch_df, state_dir, epoch_id=epoch_id)

    return (
        events_stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
