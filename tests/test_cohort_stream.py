"""Streaming cohort retention == one-shot batch cohort_retention.

Events arrive as 3 micro-batches, each one fold of the per-user
cohort state (sources/layout.py::_fold over the cohort summary's
state and merge). The cumulative serving query must equal the batch
operator over the whole set; replaying an epoch (foreachBatch
at-least-once) is skipped by the fold ledger; a batch applied twice
under two epoch ids cannot move the answer (set union and min are
idempotent); a commit torn past its commit point serves nothing
until the replay lands it, and never a mixed state. A random split
with a replayed epoch is a hypothesis property."""

from __future__ import annotations
import pytest

import os
import tempfile

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from nerd_spark.operators.funnels import cohort_retention
from nerd_spark.session import read_table
from nerd_spark.streaming.cohort_stream import (
    current_retention,
    process_batch,
    stream_retention,
)


def _serve(spark, state):
    return {
        (r.cohort_date, r.period, r.cohort_size, r.active_users, r.retention)
        for r in current_retention(spark, state).collect()
    }


def _want(ev):
    return {
        (r.cohort_date, r.period, r.cohort_size, r.active_users, r.retention)
        for r in cohort_retention(ev, "signup").collect()
    }


def _events(spark, sf_dir):
    return read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )


@pytest.mark.slow
def test_streamed_cohort_equals_batch_replay_torn_and_double_apply(
    spark, sf_dir, monkeypatch
):
    ev = _events(spark, sf_dir)
    base = tempfile.mkdtemp(prefix="nerd_cohort_stream_")
    src = os.path.join(base, "incoming")
    for i in range(3):
        ev.filter(F.col("event_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    stream = spark.readStream.schema(ev.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    state = os.path.join(base, "state")
    q = stream_retention(
        spark, stream, state_dir=state,
        checkpoint_dir=os.path.join(base, "ckpt"),
    )
    q.awaitTermination(300)

    got = _serve(spark, state)
    assert got == _want(ev) and len(got) > 0

    # at-least-once replay: the ledger skips an epoch it holds; a
    # DOUBLE apply (the same batch under a fresh id) folds again and
    # still cannot move the answer
    part0 = ev.filter(F.col("event_id") % 3 == 0)
    process_batch(spark, part0, state, epoch_id=0)
    assert _serve(spark, state) == got
    process_batch(spark, part0, state, epoch_id=7)
    assert _serve(spark, state) == got

    # a commit torn mid-swap (past its commit point, the gate down)
    # serves nothing, never a mixed state; the replay recovers the
    # staged swap, records the batch, and skips
    from nerd_spark.sources import fsutil

    real_swap = fsutil.swap_partition_dirs

    def torn_swap(*a, **kw):
        raise OSError("torn swap")

    monkeypatch.setattr(fsutil, "swap_partition_dirs", torn_swap)
    with pytest.raises(OSError):
        process_batch(spark, part0, state, epoch_id=8)
    monkeypatch.setattr(fsutil, "swap_partition_dirs", real_swap)
    assert _serve(spark, state) == set()
    process_batch(spark, part0, state, epoch_id=8)
    assert _serve(spark, state) == got

    # the anchor is a serve parameter over the anchor-agnostic state
    other = {
        (r.cohort_date, r.period, r.active_users)
        for r in current_retention(spark, state, anchor_type="view").collect()
    }
    assert other == {
        (r.cohort_date, r.period, r.active_users)
        for r in cohort_retention(ev, "view").collect()
    }

    # empty state serves an empty, correctly-shaped frame
    empty = current_retention(spark, os.path.join(base, "nowhere"))
    assert empty.collect() == []
    assert [f.name for f in empty.schema.fields] == [
        "cohort_date", "period", "cohort_size", "active_users", "retention"
    ]


@pytest.mark.slow
@given(
    st.lists(st.integers(0, 3), min_size=8, max_size=8),
    st.integers(0, 3),
)
@settings(max_examples=3, deadline=None)
def test_random_split_with_replay_equals_batch(spark, sf_dir, assign, rep):
    """A random split of the events into 1-4 batches, one epoch
    replayed, serves the one-shot batch answer."""
    ev = _events(spark, sf_dir)
    state = tempfile.mkdtemp(prefix="nerd_cohort_prop_")
    batch_of = F.element_at(
        F.array(*[F.lit(a) for a in assign]),
        (F.col("event_id") % len(assign) + 1).cast("int"),
    )
    ids = sorted(set(assign))
    for i in ids:
        process_batch(spark, ev.filter(batch_of == i), state, epoch_id=i)
    r = ids[rep % len(ids)]
    process_batch(spark, ev.filter(batch_of == r), state, epoch_id=r)
    assert _serve(spark, state) == _want(ev)
