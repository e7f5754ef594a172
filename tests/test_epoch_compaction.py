"""Epoch-dir commits and the base-epoch roll-up (streaming/epochs.py):
a replay whose write fails keeps the committed epoch; serving
equality across compaction, keep_recent and new batches; the landing
rule under an exhaustive tear sweep (every crash point converges on
the next call, and the serve never double-counts in between)."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from nerd_spark.session import read_table
from nerd_spark.streaming import hh_stream
from nerd_spark.streaming.epochs import _epochs, compact_epochs, read_epochs
import pytest


def _hh_serve(spark, state):
    return {
        (r.term, r.cnt, r.share)
        for r in hh_stream.current_heavy_hitters(spark, state, 0.01).collect()
    }


def _staging_left(state):
    return [n for n in os.listdir(state) if n.endswith(".staging")]


def _torn_final_stage(spark, monkeypatch):
    """Every DataFrame write from here fails in its final stage: the
    rows gain a column that raises once a task computes it. (The
    concrete DataFrame class carries ``write``; patching the
    pyspark.sql.DataFrame facade has no effect.)"""
    cls = type(spark.range(1))
    real = cls.write

    def torn(self):
        bad = F.when(
            F.spark_partition_id() >= 0, F.raise_error(F.lit("torn write"))
        )
        return real.fget(self.select("*", bad.cast("int").alias("_torn")))

    monkeypatch.setattr(cls, "write", property(torn))


def _hh_case(spark, sf_dir, d):
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    parts = [docs.filter(F.col("doc_id") % 2 == i) for i in range(2)]
    for i, b in enumerate(parts):
        hh_stream.process_batch(spark, b, d, epoch_id=i)
    return (
        lambda: hh_stream.process_batch(spark, parts[1], d, epoch_id=1),
        lambda: _hh_serve(spark, d),
        d,
    )


def _funnel_case(spark, sf_dir, d):
    from nerd_spark.streaming import funnel_stream as fs

    stages = ["view", "click", "purchase"]
    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    parts = [ev.filter(F.col("event_id") % 2 == i) for i in range(2)]
    for i, b in enumerate(parts):
        fs.process_batch(spark, b, d, stages, epoch_id=i, lateness_days=3650)
    return (
        lambda: fs.process_batch(
            spark, parts[1], d, stages, epoch_id=1, lateness_days=3650
        ),
        lambda: {
            (r.stage_idx, r.users)
            for r in fs.current_funnel(spark, d, stages).collect()
        },
        d,
    )


def _nru_case(spark, sf_dir, d):
    from nerd_spark.streaming.nru_stream import apply_nru_tick

    ev = read_table(spark, sf_dir, "events")
    parts = [ev.filter(F.col("event_id") % 2 == i) for i in range(2)]
    sched, due = os.path.join(d, "sched"), os.path.join(d, "due")
    for i, b in enumerate(parts):
        apply_nru_tick(spark, sched, due, b, i)
    return (
        lambda: apply_nru_tick(spark, sched, due, parts[1], 1),
        lambda: sorted(
            tuple(r)
            for r in spark.read.parquet(os.path.join(due, "epoch=1")).collect()
        ),
        due,
    )


@pytest.mark.parametrize("case", [_hh_case, _funnel_case, _nru_case])
def test_torn_replay_keeps_committed_epoch(
    spark, sf_dir, tmp_path, case, monkeypatch
):
    """Commit epochs 0 and 1, then replay epoch 1 with a write that
    fails in its final stage: the committed epochs and the serve are
    unchanged (an in-place overwrite deletes its target when the write
    command starts, so the failed replay would leave epoch 1 empty)."""
    replay, serve, root = case(spark, sf_dir, str(tmp_path / "state"))
    before = serve()
    assert before and _epochs(spark, root) == [0, 1]
    with monkeypatch.context() as m:
        _torn_final_stage(spark, m)
        with pytest.raises(Exception, match="torn write"):
            replay()
    assert _epochs(spark, root) == [0, 1]
    assert serve() == before


def test_compaction_preserves_serves_and_bounds_width(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    hh_state = os.path.join(tempfile.mkdtemp(prefix="nerd_epoch_compact_"), "hh")
    for i in range(4):
        hh_stream.process_batch(
            spark, docs.filter(F.col("doc_id") % 4 == i), hh_state, epoch_id=i
        )
    hh_before = _hh_serve(spark, hh_state)
    assert len(hh_before) > 0

    # keep_recent leaves the newest epoch unfolded
    assert compact_epochs(spark, hh_state, "tf", keep_recent=1) == 3
    assert _epochs(spark, hh_state) == [2, 3]
    assert _hh_serve(spark, hh_state) == hh_before
    assert not _staging_left(hh_state)

    # full fold, then idempotent: nothing left to fold
    assert compact_epochs(spark, hh_state, "tf") == 2
    assert _epochs(spark, hh_state) == [3]
    assert _hh_serve(spark, hh_state) == hh_before
    assert compact_epochs(spark, hh_state, "tf") == 0

    # NEW batches land at fresh ids above the base and keep adding up
    hh_stream.process_batch(spark, docs.filter(F.col("doc_id") % 4 == 0), hh_state)
    assert _epochs(spark, hh_state) == [3, 4]
    from nerd_spark.operators.sketches import heavy_hitter_terms

    doubled = docs.unionByName(docs.filter(F.col("doc_id") % 4 == 0))
    want = {
        (r.term, r.cnt, r.share)
        for r in heavy_hitter_terms(doubled, 0.01).collect()
    }
    assert _hh_serve(spark, hh_state) == want


def _tf_total(spark, state):
    pairs = read_epochs(spark, state)
    return 0 if pairs is None else pairs.agg(F.sum("tf")).first()[0]


def test_compact_epochs_tear_sweep(spark, sf_dir, tmp_path, tear_sweep):
    """Tear compact_epochs at every mutating FS op of its commit (the
    staging meta and marker, each folded epoch's delete, the live
    delete and rename of the landing). Right after the tear the serve
    may undercount (folded epochs gone before the base lands), never
    double-count; the next call converges: one base epoch, the serve
    unchanged, no staging left — whether the torn staging was complete
    (landed) or not (discarded, and the fold re-run)."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    parts = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    seed = str(tmp_path / "seed")
    for i, b in enumerate(parts):
        hh_stream.process_batch(spark, b, seed, epoch_id=i)
    before, total = _hh_serve(spark, seed), _tf_total(spark, seed)

    def setup(tag):
        import shutil

        d = str(tmp_path / tag)
        shutil.copytree(seed, d)
        return {"d": d, "calls": 0}

    def fold(h):
        h["calls"] += 1
        if h["calls"] == 2:  # the replay after a tear
            assert _tf_total(spark, h["d"]) <= total
        compact_epochs(spark, h["d"], "tf")

    def check(h, label):
        assert _epochs(spark, h["d"]) == [2], label
        assert _hh_serve(spark, h["d"]) == before, label
        assert not _staging_left(h["d"]), label

    tear_sweep(setup, fold, check, min_ops=7)


def _stage_fold(spark, state, eps):
    """What a compaction stages before its landing: the summed rows
    of ``eps`` as a complete ``epoch=<eps[-1]>.staging`` listing them
    as folded."""
    from nerd_spark.sources.layout import _stage_dir

    rows = read_epochs(spark, state, eps)
    rows = rows.groupBy("term").agg(F.sum("tf").alias("tf"))
    _stage_dir(
        spark, rows, os.path.join(state, f"epoch={eps[-1]}"),
        {"folded": eps}, one_file=False,
    )


def test_crash_window_resume(spark, sf_dir):
    """The crash between the source deletes and the swap: a complete
    staged base with its sources gone must be landed by the next call
    before anything else — no data loss, serve restored."""
    import shutil

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = tempfile.mkdtemp(prefix="nerd_epoch_crash_")
    state = os.path.join(base, "hh")
    for i in range(3):
        hh_stream.process_batch(
            spark, docs.filter(F.col("doc_id") % 3 == i), state, epoch_id=i
        )
    before = _hh_serve(spark, state)

    _stage_fold(spark, state, [0, 1, 2])
    for e in range(3):
        shutil.rmtree(os.path.join(state, f"epoch={e}"))
    # serve in the crash window: transient undercount, never a crash
    assert _hh_serve(spark, state) == set()

    assert compact_epochs(spark, state, "tf") == 0  # resume only
    assert _epochs(spark, state) == [2]
    assert _hh_serve(spark, state) == before
    assert not _staging_left(state)

    # a TORN staging (no _SUCCESS) is never landed — and is swept away
    # so it can never linger into a later fold at the same base id
    state2 = os.path.join(base, "hh2")
    for i in range(2):
        hh_stream.process_batch(
            spark, docs.filter(F.col("doc_id") % 2 == i), state2, epoch_id=i
        )
    b2 = _hh_serve(spark, state2)
    torn = os.path.join(state2, "epoch=5.staging")
    os.makedirs(torn)
    open(os.path.join(torn, "part-junk.parquet"), "wb").close()
    assert compact_epochs(spark, state2, "tf") == 2
    assert _epochs(spark, state2) == [1]
    assert not os.path.exists(torn)
    assert _hh_serve(spark, state2) == b2


def test_crash_mid_delete_base_still_present(spark, sf_dir):
    """A crash inside the delete loop BEFORE the base epoch dir itself
    is removed. A resume that skipped because the base is present
    would let the next compaction recompute from the surviving epochs
    only — silent loss of the already-deleted epochs' counts. Resume
    must treat the complete staging as authoritative: delete every
    epoch it lists, land it."""
    import shutil

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = tempfile.mkdtemp(prefix="nerd_epoch_middelete_")
    state = os.path.join(base, "hh")
    for i in range(4):
        hh_stream.process_batch(
            spark, docs.filter(F.col("doc_id") % 4 == i), state, epoch_id=i
        )
    before = _hh_serve(spark, state)

    _stage_fold(spark, state, [0, 1, 2, 3])
    # crash after deleting epochs 0 and 1 only: 2 and the base target
    # 3 survive alongside the complete staging
    shutil.rmtree(os.path.join(state, "epoch=0"))
    shutil.rmtree(os.path.join(state, "epoch=1"))

    assert compact_epochs(spark, state, "tf") == 0  # resume only
    assert _epochs(spark, state) == [3]
    assert _hh_serve(spark, state) == before
    assert not _staging_left(state)

    # and the stale-staging double-count path: new epochs past the
    # base must keep summing correctly after the converged resume
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


def test_failed_land_rename_raises_then_resumes(spark, sf_dir, monkeypatch):
    """Hadoop reports a failed rename by returning false. The landing
    step must raise, not report a fold whose base never landed (the
    sources are gone, so serves undercount); the next compaction lands
    the complete staging and the serves are back unchanged."""
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
    assert _staging_left(state) == ["epoch=2.staging"]
    assert compact_epochs(spark, state, "tf") == 0  # resume only
    assert _epochs(spark, state) == [2]
    assert _hh_serve(spark, state) == before


@pytest.mark.slow
def test_soak_stream_with_auto_compaction_and_crash(spark, sf_dir, monkeypatch):
    """Multi-batch soak (the test_soak_multiday pattern, r9 verdict
    #6): 8 micro-batches drain through stream_heavy_hitters with
    compact_after=3, so the automatic roll-up fires mid-stream; a
    KILL/RESTART happens mid-soak, and a compaction CRASH (complete
    staged base + partial source delete, the r9-advice window) happens
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

    # a compaction crash: the staged base is complete, and the
    # landing dies after deleting only the first folded epoch
    from nerd_spark.sources import fsutil

    real_delete, deletes = fsutil.delete, []

    def crash_on_second(*a, **kw):
        deletes.append(a)
        if len(deletes) == 2:
            raise OSError("crash mid-delete")
        return real_delete(*a, **kw)

    with monkeypatch.context() as m, pytest.raises(OSError):
        m.setattr(fsutil, "delete", crash_on_second)
        compact_epochs(spark, state, "tf")
    assert _staging_left(state)

    # restart on the same checkpoint with 3 more batches: the sink's
    # maybe_compact resumes the crashed commit before anything else
    for i in range(5, 8):
        docs.filter(F.col("doc_id") % 8 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    drain()
    check(8, 8)
    assert not _staging_left(state), "crashed compaction never converged"


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
