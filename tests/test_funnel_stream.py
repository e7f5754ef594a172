"""Watermark-bounded streaming funnel (streaming/funnel_stream.py).

Pins the contracts the module docstring's freeze argument rests on:
- cumulative serve == one-shot batch funnel over ACCEPTED events,
  including late-within-window requalification (the case that breaks
  any scalar fold);
- events more than `lateness_days` behind the committed high water
  are DROPPED, and the serve then deliberately diverges from the
  full-union batch funnel (the acceptance contract, P10);
- replaying an epoch (same id, same batch) is a no-op;
- compaction (prefix freeze into scalars + in-horizon row survivors)
  never moves the serve, and the fold actually prunes;
- a compaction torn at any commit op converges on the next call and
  never over-counts in between (the staged rule of streaming/epochs.py).
"""

from __future__ import annotations
import pytest

import os

from pyspark.sql import functions as F

from nerd_spark.operators.funnels import funnel
from nerd_spark.streaming.funnel_stream import (
    compact,
    current_funnel,
    process_batch,
)

STAGES = ["view", "click", "purchase"]


def _ev(spark, rows):
    return spark.createDataFrame(
        rows, "user_id long, ts string, event_type string"
    ).select("user_id", F.to_timestamp("ts").alias("ts"), "event_type")


def _serve(spark, d):
    return {
        r.stage_idx: r.users
        for r in current_funnel(spark, d, STAGES).collect()
    }


def _batch_counts(df):
    return {r.stage_idx: r.users for r in funnel(df, STAGES).collect()}


def test_serve_equals_batch_with_requalification(spark, tmp_path):
    d = str(tmp_path / "state")
    # batch 1: u1 clicks at :10 (no view yet), u2 full chain
    b1 = _ev(spark, [
        (1, "2024-01-10 00:00:10", "click"),
        (2, "2024-01-10 01:00:00", "view"),
        (2, "2024-01-10 02:00:00", "click"),
        (2, "2024-01-10 03:00:00", "purchase"),
    ])
    # batch 2: u1's LATE view at :05 (within the window) — the click
    # from batch 1 must requalify
    b2 = _ev(spark, [(1, "2024-01-10 00:00:05", "view")])
    process_batch(spark, b1, d, STAGES, epoch_id=0)
    process_batch(spark, b2, d, STAGES, epoch_id=1)
    both = b1.unionByName(b2)
    assert _serve(spark, d) == _batch_counts(both) == {1: 2, 2: 2, 3: 1}


def test_beyond_watermark_drops(spark, tmp_path):
    d = str(tmp_path / "state")
    b1 = _ev(spark, [(1, "2024-02-01 00:00:00", "click"),
                     (2, "2024-02-01 00:00:00", "view")])
    # 10 days older than the committed high water -> dropped
    late = _ev(spark, [(1, "2024-01-22 00:00:00", "view")])
    process_batch(spark, b1, d, STAGES, epoch_id=0, lateness_days=7)
    process_batch(spark, late, d, STAGES, epoch_id=1, lateness_days=7)
    got = _serve(spark, d)
    assert got == _batch_counts(b1)  # == accepted set only
    assert got != _batch_counts(b1.unionByName(late))  # contract visible


def test_replay_is_idempotent(spark, tmp_path):
    d = str(tmp_path / "state")
    b1 = _ev(spark, [(1, "2024-03-01 00:00:00", "view"),
                     (1, "2024-03-02 00:00:00", "click")])
    b2 = _ev(spark, [(1, "2024-03-03 00:00:00", "purchase")])
    process_batch(spark, b1, d, STAGES, epoch_id=0)
    process_batch(spark, b2, d, STAGES, epoch_id=1)
    before = _serve(spark, d)
    # at-least-once: the sink re-runs epoch 1 after a checkpoint crash
    process_batch(spark, b2, d, STAGES, epoch_id=1)
    assert _serve(spark, d) == before == {1: 1, 2: 1, 3: 1}


def _many_batches(spark, d, n=8, lateness_days=7):
    import datetime as dt

    batches = []
    for i in range(n):
        day = dt.date(2024, 1, 1) + dt.timedelta(days=3 * i)
        rows = [
            (i, f"{day} 00:00:00", "view"),
            (i, f"{day} 01:00:00", "click"),
            (i % 3, f"{day} 02:00:00", "purchase"),
        ]
        b = _ev(spark, rows)
        process_batch(
            spark, b, d, STAGES, epoch_id=i, lateness_days=lateness_days
        )
        batches.append(b)
    out = batches[0]
    for b in batches[1:]:
        out = out.unionByName(b)
    return out


@pytest.mark.slow
def test_compaction_preserves_serve_and_prunes(spark, tmp_path):
    d = str(tmp_path / "state")
    all_events = _many_batches(spark, d)
    before = _serve(spark, d)
    # batches are 3 days apart with lateness 7 -> nothing dropped
    assert before == _batch_counts(all_events)
    assert compact(spark, d, STAGES, lateness_days=7, keep_recent=2)
    assert _serve(spark, d) == before
    # the fold produced frozen scalar rows AND pruned old event rows
    base = spark.read.parquet(os.path.join(d, "epoch=5"))
    kinds = {r.kind for r in base.select("kind").distinct().collect()}
    assert "f" in kinds and "w" in kinds
    hw = base.filter("kind = 'w'").agg(F.max("ts")).first()[0]
    oldest = base.filter("kind = 'e'").agg(F.min("ts")).first()[0]
    import datetime as dt

    assert oldest >= hw - dt.timedelta(days=7)
    # a second compaction over the compacted base still serves equal
    process_batch(
        spark,
        _ev(spark, [(99, "2024-02-01 00:00:00", "view")]),
        d, STAGES, epoch_id=8,
    )
    compact(spark, d, STAGES, lateness_days=7, keep_recent=1)
    expect = _batch_counts(
        all_events.unionByName(
            _ev(spark, [(99, "2024-02-01 00:00:00", "view")])
        )
    )
    assert _serve(spark, d) == expect


@pytest.mark.slow
def test_compact_tear_sweep(spark, tmp_path, tear_sweep):
    """Tear compact at every mutating FS op of its commit (staging
    meta and marker, each folded epoch's delete, the landing's live
    delete and rename). Right after the tear no stage count exceeds the
    committed answer (a folded epoch may be gone before the base
    lands — an undercount — and a torn staging never serves); the
    next compact converges: the serve unchanged, no staging left."""
    import shutil

    from nerd_spark.streaming.epochs import _epochs

    seed = str(tmp_path / "seed")
    _many_batches(spark, seed, n=4)
    before = _serve(spark, seed)

    def setup(tag):
        d = str(tmp_path / tag)
        shutil.copytree(seed, d)
        return {"d": d, "calls": 0}

    def fold(h):
        h["calls"] += 1
        if h["calls"] == 2:  # the replay after a tear
            seen = _serve(spark, h["d"])
            assert all(seen.get(k, 0) <= v for k, v in before.items())
        compact(spark, h["d"], STAGES, keep_recent=2)

    def check(h, label):
        assert _serve(spark, h["d"]) == before, label
        assert _epochs(spark, h["d"]) == [1, 2, 3], label
        assert not [n for n in os.listdir(h["d"]) if ".staging" in n], label

    tear_sweep(setup, fold, check, min_ops=6)
