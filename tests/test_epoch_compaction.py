"""Base-epoch roll-up (streaming/epochs.py): serving equality across
compaction, keep_recent, replay safety, and crash-window resume —
over BOTH additive state tables (hh terms, quantile histograms)."""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import functions as F

from nerd_spark.session import read_table
from nerd_spark.streaming import hh_stream, quantile_stream
from nerd_spark.streaming.epochs import compact_epochs
from nerd_spark.streaming.hh_stream import _epochs
import pytest


def _hh_serve(spark, state):
    return {
        (r.term, r.cnt, r.share)
        for r in hh_stream.current_heavy_hitters(spark, state, 0.01).collect()
    }


def _q_serve(spark, state):
    return {
        (r.event_type, r.p, r.value)
        for r in quantile_stream.current_quantiles(
            spark, state, [0.5, 0.95]
        ).collect()
    }


def test_compaction_preserves_serves_and_bounds_width(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    base = tempfile.mkdtemp(prefix="nerd_epoch_compact_")
    hh_state = os.path.join(base, "hh")
    q_state = os.path.join(base, "q")
    for i in range(4):
        hh_stream.process_batch(
            spark, docs.filter(F.col("doc_id") % 4 == i), hh_state, epoch_id=i
        )
        quantile_stream.process_batch(
            spark, ev.filter(F.col("event_id") % 4 == i), q_state, epoch_id=i
        )
    hh_before, q_before = _hh_serve(spark, hh_state), _q_serve(spark, q_state)
    assert len(hh_before) > 0 and len(q_before) > 0

    # keep_recent leaves the newest epoch unfolded
    assert compact_epochs(spark, hh_state, "tf", keep_recent=1) == 3
    assert _epochs(spark, hh_state) == [2, 3]
    assert _hh_serve(spark, hh_state) == hh_before

    # full fold on the quantile state
    assert compact_epochs(spark, q_state, "cnt") == 4
    assert _epochs(spark, q_state) == [3]
    assert _q_serve(spark, q_state) == q_before

    # idempotent: nothing left to fold
    assert compact_epochs(spark, q_state, "cnt") == 0

    # NEW batches land at fresh ids above the base and keep adding up
    hh_stream.process_batch(spark, docs.filter(F.col("doc_id") % 4 == 0), hh_state)
    assert _epochs(spark, hh_state) == [2, 3, 4]
    from nerd_spark.operators.sketches import heavy_hitter_terms

    doubled = docs.unionByName(docs.filter(F.col("doc_id") % 4 == 0))
    want = {
        (r.term, r.cnt, r.share)
        for r in heavy_hitter_terms(doubled, 0.01).collect()
    }
    assert _hh_serve(spark, hh_state) == want


def test_crash_window_resume(spark, sf_dir):
    """Simulate the crash between source-delete and rename: a complete
    .new dir with the sources gone must be landed by the next call
    before anything else — no data loss, serve restored."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = tempfile.mkdtemp(prefix="nerd_epoch_crash_")
    state = os.path.join(base, "hh")
    for i in range(3):
        hh_stream.process_batch(
            spark, docs.filter(F.col("doc_id") % 3 == i), state, epoch_id=i
        )
    before = _hh_serve(spark, state)

    # build what a compaction writes, then "crash" after the deletes
    paths = [os.path.join(state, f"epoch={e}") for e in range(3)]
    pairs = spark.read.option("basePath", state).parquet(*paths).drop("epoch")
    merged = pairs.groupBy("term").agg(F.sum("tf").alias("tf"))
    merged.write.mode("overwrite").parquet(os.path.join(state, "epoch=2.new"))
    for e in range(3):
        shutil.rmtree(os.path.join(state, f"epoch={e}"))
    # serve in the crash window: transient undercount, never a crash
    assert _hh_serve(spark, state) == set()

    assert compact_epochs(spark, state, "tf") == 0  # resume only
    assert _epochs(spark, state) == [2]
    assert _hh_serve(spark, state) == before

    # a TORN .new (no _SUCCESS) is never landed — and is swept away so
    # it can never linger into a later fold at the same base id
    state2 = os.path.join(base, "hh2")
    for i in range(2):
        hh_stream.process_batch(
            spark, docs.filter(F.col("doc_id") % 2 == i), state2, epoch_id=i
        )
    b2 = _hh_serve(spark, state2)
    torn = os.path.join(state2, "epoch=5.new")
    os.makedirs(torn)
    open(os.path.join(torn, "part-junk.parquet"), "wb").close()
    assert compact_epochs(spark, state2, "tf") == 2
    assert _epochs(spark, state2) == [1]
    assert not os.path.exists(torn)
    assert _hh_serve(spark, state2) == b2


def test_failed_land_rename_raises_then_resumes(spark, sf_dir, monkeypatch):
    """Hadoop reports a failed rename by returning false. The landing
    step must raise, not report a fold whose aside never landed (the
    sources are gone, so serves undercount); the next compaction lands
    the complete aside and the serves are back unchanged."""
    from nerd_spark.sources import fsutil

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    state = os.path.join(tempfile.mkdtemp(prefix="nerd_epoch_rename_"), "hh")
    for i in range(3):
        hh_stream.process_batch(
            spark, docs.filter(F.col("doc_id") % 3 == i), state, epoch_id=i
        )
    before = _hh_serve(spark, state)
    rename = fsutil.rename
    calls = []

    def refuse_once(*a, **kw):
        calls.append(a)
        return False if len(calls) == 1 else rename(*a, **kw)

    monkeypatch.setattr(fsutil, "rename", refuse_once)
    with pytest.raises(IOError):
        compact_epochs(spark, state, "tf")
    assert os.path.exists(os.path.join(state, "epoch=2.new"))
    assert compact_epochs(spark, state, "tf") == 0  # resume only
    assert _epochs(spark, state) == [2]
    assert _hh_serve(spark, state) == before


def test_crash_mid_delete_base_still_present(spark, sf_dir):
    """The r9-advice hole: crash inside the delete loop BEFORE the
    base epoch dir itself is removed. The old resume skipped (target
    present), so the next compaction recomputed from the surviving
    epochs only and overwrote the aside — silent loss of the
    already-deleted epochs' counts. Resume must treat the complete
    aside as authoritative: delete everything <= base, land it."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = tempfile.mkdtemp(prefix="nerd_epoch_middelete_")
    state = os.path.join(base, "hh")
    for i in range(4):
        hh_stream.process_batch(
            spark, docs.filter(F.col("doc_id") % 4 == i), state, epoch_id=i
        )
    before = _hh_serve(spark, state)

    paths = [os.path.join(state, f"epoch={e}") for e in range(4)]
    pairs = spark.read.option("basePath", state).parquet(*paths).drop("epoch")
    merged = pairs.groupBy("term").agg(F.sum("tf").alias("tf"))
    merged.write.mode("overwrite").parquet(os.path.join(state, "epoch=3.new"))
    # crash after deleting epochs 0 and 1 only: 2 and the base target
    # 3 survive alongside the complete aside
    shutil.rmtree(os.path.join(state, "epoch=0"))
    shutil.rmtree(os.path.join(state, "epoch=1"))

    assert compact_epochs(spark, state, "tf") == 0  # resume only
    assert _epochs(spark, state) == [3]
    assert _hh_serve(spark, state) == before

    # and the stale-aside double-count path: new epochs past the base
    # must keep summing correctly after the converged resume
    hh_stream.process_batch(
        spark, docs.filter(F.col("doc_id") % 4 == 0), state, epoch_id=4
    )
    from nerd_spark.operators.sketches import heavy_hitter_terms

    doubled = docs.unionByName(docs.filter(F.col("doc_id") % 4 == 0))
    want = {
        (r.term, r.cnt, r.share)
        for r in heavy_hitter_terms(doubled, 0.01).collect()
    }
    assert _hh_serve(spark, state) == want


@pytest.mark.slow
def test_soak_stream_with_auto_compaction_and_crash(spark, sf_dir):
    """Multi-batch soak (the test_soak_multiday pattern, r9 verdict
    #6): 8 micro-batches drain through stream_heavy_hitters with
    compact_after=3, so the automatic roll-up fires mid-stream; a
    KILL/RESTART happens mid-soak, and a compaction CRASH (complete
    aside + partial source delete, the r9-advice window) is planted
    between drains. Serve equality vs the one-shot batch query must
    hold at every checkpoint."""
    from nerd_spark.operators.sketches import heavy_hitter_terms

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = tempfile.mkdtemp(prefix="nerd_epoch_soak_")
    src = os.path.join(base, "incoming")
    state = os.path.join(base, "state")
    ckpt = os.path.join(base, "ckpt")

    def drain():
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = hh_stream.stream_heavy_hitters(
            spark, stream, state_dir=state, checkpoint_dir=ckpt,
            compact_after=3,
        )
        q.awaitTermination(300)
        assert not q.isActive

    def check(mod, upto):
        streamed = docs.filter(F.col("doc_id") % mod < upto)
        want = {
            (r.term, r.cnt, r.share)
            for r in heavy_hitter_terms(streamed, 0.01).collect()
        }
        got = _hh_serve(spark, state)
        assert got == want and len(want) > 0

    # batches 0-4, then kill (availableNow end) — compaction must have
    # fired at least once by now (8 > would-be epochs without it)
    for i in range(5):
        docs.filter(F.col("doc_id") % 8 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    drain()
    check(8, 5)
    assert len(_epochs(spark, state)) <= 4, "auto-compaction never fired"

    # plant a compaction crash: fold all committed epochs to a
    # complete aside, then delete only SOME sources (mid-delete crash)
    eps = _epochs(spark, state)
    b = eps[-1]
    paths = [os.path.join(state, f"epoch={e}") for e in eps]
    pairs = spark.read.option("basePath", state).parquet(*paths).drop("epoch")
    merged = pairs.groupBy("term").agg(F.sum("tf").alias("tf"))
    merged.write.mode("overwrite").parquet(
        os.path.join(state, f"epoch={b}.new")
    )
    shutil.rmtree(os.path.join(state, f"epoch={eps[0]}"))

    # restart on the same checkpoint with 3 more batches: the sink's
    # maybe_compact resumes the crashed commit before anything else
    for i in range(5, 8):
        docs.filter(F.col("doc_id") % 8 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    drain()
    check(8, 8)
    assert not any(
        n.endswith(".new") for n in os.listdir(state)
    ), "crashed aside never converged"


@pytest.mark.slow
def test_dedup_index_auto_compaction(spark, sf_dir):
    """dedup_stream with compact_after: the band/shingle index epochs
    fold (row-set re-layout) mid-stream; cumulative pairs still equal
    the one-shot batch dedup over everything ingested."""
    from nerd_spark.operators.dedup import minhash_lsh_dedup
    from nerd_spark.streaming import dedup_stream

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = tempfile.mkdtemp(prefix="nerd_dedup_compact_")
    src = os.path.join(base, "incoming")
    for i in range(6):
        docs.filter(F.col("doc_id") % 6 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    index = os.path.join(base, "index")
    pairs_dir = os.path.join(base, "pairs")
    q = dedup_stream.stream_dedup(
        spark, stream, index, pairs_dir,
        checkpoint_dir=os.path.join(base, "ckpt"),
        threshold=0.5, compact_after=2,
    ).trigger(availableNow=True).start()
    q.awaitTermination(300)
    assert not q.isActive
    assert len(dedup_stream._epochs(spark, os.path.join(index, "bands"))) <= 3, (
        "index auto-compaction never fired"
    )
    got = {
        (r.a_id, r.b_id)
        for r in spark.read.parquet(pairs_dir).select("a_id", "b_id").collect()
    }
    want = {
        (r.a_id, r.b_id)
        for r in minhash_lsh_dedup(spark, docs, threshold=0.5)
        .select("a_id", "b_id")
        .collect()
    }
    assert got == want and len(want) > 0


def test_maybe_compact_cadence(spark, sf_dir):
    """maybe_compact: no-op below the epoch bound (no Spark job), one
    fold above it, keep_recent honored, serve equality throughout."""
    from nerd_spark.streaming.epochs import maybe_compact

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = tempfile.mkdtemp(prefix="nerd_epoch_cadence_")
    state = os.path.join(base, "hh")
    for i in range(4):
        hh_stream.process_batch(
            spark, docs.filter(F.col("doc_id") % 4 == i), state, epoch_id=i
        )
    before = _hh_serve(spark, state)
    assert maybe_compact(spark, state, "tf", max_epochs=4) == 0
    assert _epochs(spark, state) == [0, 1, 2, 3]
    assert maybe_compact(spark, state, "tf", max_epochs=3, keep_recent=2) == 2
    assert _epochs(spark, state) == [1, 2, 3]
    assert _hh_serve(spark, state) == before
