"""Streaming heavy hitters == one-shot batch hh_terms.

Documents arrive as 3 micro-batches; each epoch writes its own exact
(term, tf) compaction. The cumulative serving query must equal
heavy_hitter_terms over the whole corpus, and replaying an epoch
(foreachBatch at-least-once) must change nothing."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from nerd_spark.operators.sketches import heavy_hitter_terms
from nerd_spark.session import read_table
from nerd_spark.streaming.hh_stream import (
    current_heavy_hitters,
    process_batch,
    stream_heavy_hitters,
)


def test_streamed_hh_equals_batch_and_replay_idempotent(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")

    base = tempfile.mkdtemp(prefix="nerd_hh_stream_")
    src = os.path.join(base, "incoming")
    for i in range(3):
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    stream = spark.readStream.schema(docs.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    state = os.path.join(base, "state")
    q = stream_heavy_hitters(
        spark, stream, state_dir=state, checkpoint_dir=os.path.join(base, "ckpt")
    )
    q.awaitTermination(300)

    got = {
        (r.term, r.cnt, r.share)
        for r in current_heavy_hitters(spark, state, 0.01).collect()
    }
    want = {
        (r.term, r.cnt, r.share)
        for r in heavy_hitter_terms(docs, 0.01).collect()
    }
    assert got == want and len(want) > 0

    # at-least-once replay: re-absorbing epoch 0 rewrites identical
    # state (deterministic kernel, own-epoch overwrite), nothing moves
    process_batch(spark, docs.filter(F.col("doc_id") % 3 == 0), state, epoch_id=0)
    again = {
        (r.term, r.cnt, r.share)
        for r in current_heavy_hitters(spark, state, 0.01).collect()
    }
    assert again == got

    # empty state serves an empty, correctly-shaped frame
    empty = current_heavy_hitters(spark, os.path.join(base, "nowhere"), 0.01)
    assert empty.collect() == []


def test_partial_epoch_invisible_until_committed(spark, sf_dir):
    """Serve-during-write: an epoch dir with no _SUCCESS marker (a
    crashed or in-flight batch) must not be unioned by the serving
    query; its replay (which overwrites the dir whole and lands the
    marker) makes it visible (r8 advice)."""
    import shutil

    from nerd_spark.streaming.epochs import _epochs

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = tempfile.mkdtemp(prefix="nerd_hh_partial_")
    state = os.path.join(base, "state")
    process_batch(spark, docs.filter(F.col("doc_id") % 2 == 0), state, epoch_id=0)
    before = {
        (r.term, r.cnt) for r in current_heavy_hitters(spark, state, 0.01).collect()
    }
    assert len(before) > 0

    # simulate a torn write: epoch=1 exists with data files but no marker
    e0, e1 = os.path.join(state, "epoch=0"), os.path.join(state, "epoch=1")
    shutil.copytree(e0, e1)
    os.remove(os.path.join(e1, "_SUCCESS"))
    assert _epochs(spark, state) == [0]
    assert {
        (r.term, r.cnt) for r in current_heavy_hitters(spark, state, 0.01).collect()
    } == before

    # replay of the torn epoch overwrites it whole and commits it
    process_batch(spark, docs.filter(F.col("doc_id") % 2 == 1), state, epoch_id=1)
    assert _epochs(spark, state) == [0, 1]
    after = {
        (r.term, r.cnt) for r in current_heavy_hitters(spark, state, 0.01).collect()
    }
    assert after == {
        (r.term, r.cnt) for r in heavy_hitter_terms(docs, 0.01).collect()
    }
