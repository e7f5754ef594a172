"""Streaming exact quantiles == one-shot batch exact_quantiles_by.

Events arrive as 3 micro-batches, each one fold of the exact value
histogram (sources/layout.py::_fold over the value-hist summary's
state and merge). The cumulative serving query must equal the batch
operator over the whole set; replaying an epoch (foreachBatch
at-least-once), once or twice, is skipped by the fold ledger, so the
additive histogram never double-counts; a commit torn before its
commit point leaves the committed state serving, and the replay
lands the batch once. A random split with a replayed epoch is a
hypothesis property."""

from __future__ import annotations

import os
import tempfile

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from nerd_spark.operators.sketches import exact_quantiles_by
from nerd_spark.session import read_table
from nerd_spark.streaming.quantile_stream import (
    current_quantiles,
    process_batch,
    stream_quantiles,
)

PROBS = [0.25, 0.5, 0.95]


def _serve(spark, state):
    return {
        (r.event_type, r.p, r.value)
        for r in current_quantiles(spark, state, PROBS).collect()
    }


def _want(ev):
    return {
        (r.event_type, r.p, r.value)
        for r in exact_quantiles_by(ev, "event_type", "value", PROBS).collect()
    }


def _events(spark, sf_dir):
    return read_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )


def test_streamed_quantiles_equal_batch_and_replay_idempotent(
    spark, sf_dir, monkeypatch
):
    ev = _events(spark, sf_dir)
    base = tempfile.mkdtemp(prefix="nerd_q_stream_")
    src = os.path.join(base, "incoming")
    for i in range(3):
        ev.filter(F.col("event_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    stream = spark.readStream.schema(ev.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    state = os.path.join(base, "state")
    q = stream_quantiles(
        spark, stream, state_dir=state,
        checkpoint_dir=os.path.join(base, "ckpt"),
    )
    q.awaitTermination(300)

    got = _serve(spark, state)
    assert got == _want(ev) and len(got) > 0

    # at-least-once replay, twice: the ledger skips an epoch it holds
    part0 = ev.filter(F.col("event_id") % 3 == 0)
    for _ in range(2):
        process_batch(spark, part0, state, epoch_id=0)
        assert _serve(spark, state) == got

    # a commit torn at its manifest write (before the commit point)
    # leaves the committed histogram serving; the replay, twice, lands
    # the batch once
    from nerd_spark.sources import fsutil

    real = fsutil.write_text_atomic

    def torn(*a, **kw):
        raise OSError("torn manifest")

    monkeypatch.setattr(fsutil, "write_text_atomic", torn)
    with pytest.raises(OSError):
        process_batch(spark, part0, state, epoch_id=3)
    monkeypatch.setattr(fsutil, "write_text_atomic", real)
    assert _serve(spark, state) == got
    for _ in range(2):
        process_batch(spark, part0, state, epoch_id=3)
    assert _serve(spark, state) == _want(ev.unionByName(part0))

    # empty state serves an empty, correctly-shaped frame
    empty = current_quantiles(spark, os.path.join(base, "nowhere"), PROBS)
    assert empty.collect() == []
    assert [f.name for f in empty.schema.fields] == ["event_type", "p", "value"]


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
    state = tempfile.mkdtemp(prefix="nerd_q_prop_")
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
