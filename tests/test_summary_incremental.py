"""Incrementally-maintained summary == full rebuild, with only the
batch's date partitions rewritten."""

from __future__ import annotations

import pytest
import os
import tempfile

from pyspark.sql import functions as F

from nerd_spark.plans import derivations as D
from nerd_spark.session import read_table
from nerd_spark.sources.layout import update_daily_summary


def _rows(df):
    return {
        (r.entity, str(r.d), r.cat, r.n, float(r.val_dec)) for r in df.collect()
    }


def test_incremental_updates_equal_full_rebuild(spark, sf_dir):
    ev = read_table(spark, sf_dir, "events")
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    cut1 = lo + (hi - lo) / 3
    cut2 = lo + 2 * (hi - lo) / 3
    path = os.path.join(tempfile.mkdtemp(prefix="nerd_summary_inc_"), "summary")

    update_daily_summary(spark, path, ev.filter(F.col("ts") <= cut1))
    update_daily_summary(
        spark, path, ev.filter((F.col("ts") > cut1) & (F.col("ts") <= cut2))
    )
    update_daily_summary(spark, path, ev.filter(F.col("ts") > cut2))

    got = _rows(spark.read.parquet(path))
    want = _rows(D.daily_rollup(ev, "user_id"))
    assert got == want and len(want) > 0


def test_streamed_summary_equals_full_rebuild(spark, sf_dir):
    from nerd_spark.streaming.summary_stream import stream_summary

    ev = read_table(spark, sf_dir, "events")
    base = tempfile.mkdtemp(prefix="nerd_summary_stream_")
    src = os.path.join(base, "incoming")
    for i in range(3):
        ev.filter(F.col("event_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    stream = spark.readStream.schema(ev.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    q = (
        stream_summary(
            spark,
            stream,
            summary_path=os.path.join(base, "summary"),
            checkpoint_dir=os.path.join(base, "ckpt"),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = _rows(spark.read.parquet(os.path.join(base, "summary")))
    want = _rows(D.daily_rollup(ev, "user_id"))
    assert got == want and len(want) > 0


def test_prune_summary_drops_expired_partitions(spark, sf_dir):
    import datetime as dt

    from nerd_spark.sources.layout import prune_summary

    ev = read_table(spark, sf_dir, "events")
    path = os.path.join(tempfile.mkdtemp(prefix="nerd_summary_prune_"), "summary")
    update_daily_summary(spark, path, ev)
    days = sorted(d for d in os.listdir(path) if d.startswith("d="))
    assert len(days) >= 3
    anchor = dt.date.fromisoformat(days[-1][2:])
    keep = 2
    dropped = prune_summary(spark, path, keep_days=keep, as_of=anchor)
    left = sorted(d for d in os.listdir(path) if d.startswith("d="))
    assert set(dropped) == set(days) - set(left)
    for d in left:
        assert (anchor - dt.date.fromisoformat(d[2:])).days <= keep
    # surviving data still reads cleanly
    assert spark.read.parquet(path).count() > 0


def test_untouched_partitions_not_rewritten(spark, sf_dir):
    ev = read_table(spark, sf_dir, "events")
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    mid = lo + (hi - lo) / 2
    path = os.path.join(tempfile.mkdtemp(prefix="nerd_summary_inc2_"), "summary")

    update_daily_summary(spark, path, ev.filter(F.col("ts") <= mid))
    first_days = {d for d in os.listdir(path) if d.startswith("d=")}
    mtimes = {d: os.path.getmtime(os.path.join(path, d)) for d in first_days}

    # second batch: strictly later days (minus the boundary day)
    later = ev.filter(F.to_date("ts") > F.lit(mid.date()))
    update_daily_summary(spark, path, later)

    touched = {
        "d=" + str(r.d)
        for r in later.select(F.to_date("ts").alias("d")).distinct().collect()
    }
    for d in first_days - touched:
        assert os.path.getmtime(os.path.join(path, d)) == mtimes[d], (
            f"untouched partition {d} was rewritten"
        )


@pytest.mark.slow
def test_pool_crash_replay_converges(spark, sf_dir, tmp_path, monkeypatch):
    """r11 verdict #7: kill the concurrent fold pool mid-batch (five
    folds committed, cohort torn) and re-run the batch with the same
    batch_id — the per-fold batch ledger skips the committed folds
    (their gates' mtimes don't move), re-runs only the torn one, and
    every serve path equals the raw recompute afterwards."""
    import pytest

    from nerd_spark.queries.analytics import (
        a1_daily_rollup,
        a2_window_totals,
        cohort_retention_q,
        funnel_stages,
        op_merge_snapshot,
    )
    from nerd_spark.queries.dataprep import (
        hh_by_event_type,
        hh_event_users,
        quantile_by_event_type,
        quantile_event_values,
        top_frequent_users,
    )
    from nerd_spark.queries.relational import w1_topk
    from nerd_spark.sources import layout
    from nerd_spark.sources.layout import (
        SUMMARY_COHORT_DIRNAME,
        SUMMARY_DAILY_DIRNAME,
        SUMMARY_FUNNEL_DIRNAME,
        SUMMARY_MERGED_DIRNAME,
        SUMMARY_TOPK_VALUE_DIRNAME,
        SUMMARY_TYPE_USER_DIRNAME,
        SUMMARY_VALUE_HIST_DIRNAME,
        SUMMARY_WINDOW_DIRNAME,
        WINDOW_GATE,
        seed_value_hist,
        update_event_summaries,
    )

    ev = read_table(spark, sf_dir, "events")
    d = str(tmp_path / "data")
    raw = str(tmp_path / "raw")
    b1 = ev.filter(F.col("event_id") % 2 == 0)
    b2 = ev.filter(F.col("event_id") % 2 == 1)
    # the append-first contract: the fact table holds the batch before
    # its folds run (serve gates compare against the events dir mtime)
    b1.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    update_event_summaries(spark, d, b1, batch_id="b1")
    # seed the value histogram from the dir's events (== b1; the b1
    # fold above no-oped on the unseeded dir) so the quantile fold
    # participates in the crashed pool below
    seed_value_hist(spark, d)
    b2.write.mode("append").parquet(os.path.join(d, "events.parquet"))
    ev.write.mode("overwrite").parquet(os.path.join(raw, "events.parquet"))

    real_cohort = layout.update_cohort_summary

    def torn(*a, **kw):
        raise RuntimeError("simulated mid-pool crash")

    monkeypatch.setattr(layout, "update_cohort_summary", torn)
    with pytest.raises(RuntimeError, match="simulated"):
        update_event_summaries(spark, d, b2, batch_id="b2")
    monkeypatch.setattr(layout, "update_cohort_summary", real_cohort)

    gates = {
        SUMMARY_DAILY_DIRNAME: "_SUCCESS",
        SUMMARY_WINDOW_DIRNAME: WINDOW_GATE,
        SUMMARY_MERGED_DIRNAME: "_SUCCESS",
        SUMMARY_FUNNEL_DIRNAME: "_SUCCESS",
        SUMMARY_TYPE_USER_DIRNAME: "_SUCCESS",
        SUMMARY_TOPK_VALUE_DIRNAME: "_SUCCESS",
        SUMMARY_VALUE_HIST_DIRNAME: "_SUCCESS",
    }
    before = {
        dn: os.path.getmtime(os.path.join(d, dn, m))
        for dn, m in gates.items()
    }
    assert not os.path.exists(
        os.path.join(d, SUMMARY_COHORT_DIRNAME, "_SUCCESS")
    ) or os.path.getmtime(
        os.path.join(d, SUMMARY_COHORT_DIRNAME, "_SUCCESS")
    ) < before[SUMMARY_FUNNEL_DIRNAME]  # cohort never folded b2

    # replay the same batch: committed folds skip, the torn one runs
    update_event_summaries(spark, d, b2, batch_id="b2")
    after = {
        dn: os.path.getmtime(os.path.join(d, dn, m))
        for dn, m in gates.items()
    }
    assert after == before, "a committed fold re-ran on replay"

    def rows(df):
        return sorted(map(repr, (tuple(r) for r in df.collect())))

    for q in (
        a1_daily_rollup,
        a2_window_totals,
        op_merge_snapshot,
        funnel_stages,
        cohort_retention_q,
        hh_event_users,
        hh_by_event_type,
        top_frequent_users,
        w1_topk,
        quantile_event_values,
        quantile_by_event_type,
    ):
        assert rows(q(spark, d)) == rows(q(spark, raw)), q.__name__


def test_torn_swap_recovery_converges(spark, sf_dir, tmp_path, monkeypatch):
    """Crash INSIDE the partition swap of a staged fold commit (one
    date dir renamed in, the rest still in staging): readers fall back
    to raw while the gate is down, and the next fold's
    _staged_swap_recover completes the swap from the staging copy
    BEFORE reading the live table — so a replayed batch is
    ledger-skipped (no double-count) and the summary equals a one-shot
    rebuild afterwards."""
    import pytest

    from nerd_spark.queries.analytics import a1_daily_rollup
    from nerd_spark.sources import fsutil as fsu
    from nerd_spark.sources.layout import (
        SUMMARY_DAILY_DIRNAME,
        _STAGING_MANIFEST,
        _ledger_ids,
    )

    ev = read_table(spark, sf_dir, "events")
    d = str(tmp_path / "data")
    raw = str(tmp_path / "raw")
    dsum = os.path.join(d, SUMMARY_DAILY_DIRNAME)
    b1 = ev.filter(F.col("event_id") % 2 == 0)
    b2 = ev.filter(F.col("event_id") % 2 == 1)
    b1.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    update_daily_summary(spark, dsum, b1, batch_id="b1")
    b2.write.mode("append").parquet(os.path.join(d, "events.parquet"))
    ev.write.mode("overwrite").parquet(os.path.join(raw, "events.parquet"))

    real_swap = fsu.swap_partition_dirs

    def torn_swap(spark_, staging_, table_, prefix_):
        # move exactly one partition for real, then crash mid-swap
        names = [
            n for n in fsu.list_names(spark_, staging_)
            if n.startswith(prefix_)
        ]
        assert len(names) >= 2, "tear needs a multi-partition swap"
        dest = os.path.join(table_, names[0])
        fsu.delete(spark_, dest, recursive=True)
        assert fsu.rename(spark_, os.path.join(staging_, names[0]), dest)
        raise RuntimeError("simulated mid-swap crash")

    monkeypatch.setattr(fsu, "swap_partition_dirs", torn_swap)
    with pytest.raises(RuntimeError, match="simulated"):
        update_daily_summary(spark, dsum, b2, batch_id="b2")
    monkeypatch.setattr(fsu, "swap_partition_dirs", real_swap)

    # torn state: gate down, staging copy + manifest intact, ledger
    # does NOT hold the torn batch — and the query serves the raw path
    staging = dsum.rstrip("/") + ".staging"
    assert not os.path.exists(os.path.join(dsum, "_SUCCESS"))
    assert os.path.exists(os.path.join(staging, _STAGING_MANIFEST))
    assert "b2" not in _ledger_ids(spark, dsum)

    def rows(df):
        return sorted(map(repr, (tuple(r) for r in df.collect())))

    assert rows(a1_daily_rollup(spark, d)) == rows(a1_daily_rollup(spark, raw))

    # replay the same batch: recovery completes the swap and records
    # the ledger, then the fold skips (no re-merge, no double-count)
    update_daily_summary(spark, dsum, b2, batch_id="b2")
    assert os.path.exists(os.path.join(dsum, "_SUCCESS"))
    assert not os.path.exists(staging)
    assert "b2" in _ledger_ids(spark, dsum)

    oneshot = os.path.join(str(tmp_path), "oneshot_summary")
    update_daily_summary(spark, oneshot, ev)
    assert _rows(spark.read.parquet(dsum)) == _rows(
        spark.read.parquet(oneshot)
    )
    assert rows(a1_daily_rollup(spark, d)) == rows(a1_daily_rollup(spark, raw))


def test_unfinished_staging_write_discarded(spark, sf_dir, tmp_path):
    """A staging dir WITHOUT the commit manifest is an unfinished
    write job (the live table was never touched and stays gated):
    the next fold discards it and proceeds normally."""
    from nerd_spark.sources.layout import SUMMARY_DAILY_DIRNAME

    ev = read_table(spark, sf_dir, "events")
    dsum = os.path.join(str(tmp_path), SUMMARY_DAILY_DIRNAME)
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    mid = lo + (hi - lo) / 2
    update_daily_summary(spark, dsum, ev.filter(F.col("ts") <= mid))
    assert os.path.exists(os.path.join(dsum, "_SUCCESS"))

    staging = dsum.rstrip("/") + ".staging"
    os.makedirs(os.path.join(staging, "d=1970-01-01"))
    with open(os.path.join(staging, "d=1970-01-01", "junk.parquet"), "w") as f:
        f.write("not a commit")

    update_daily_summary(spark, dsum, ev.filter(F.col("ts") > mid))
    assert not os.path.exists(staging)
    oneshot = os.path.join(str(tmp_path), "oneshot_summary")
    update_daily_summary(spark, oneshot, ev)
    assert _rows(spark.read.parquet(dsum)) == _rows(
        spark.read.parquet(oneshot)
    )


def _sweep_events(spark, n, step, span, users, types, vmod):
    """Small deterministic events for the tear sweeps: n rows over
    `span` hours, `users` users, event types cycling through `types`;
    returns the even / odd event_id halves as two batches and the
    whole."""
    ev = spark.range(n).select(
        F.col("id").alias("event_id"),
        (
            F.to_timestamp(F.lit("2024-03-01 00:00:00"))
            + F.make_interval(hours=(F.col("id") * step % span).cast("int"))
        ).alias("ts"),
        F.pmod("id", F.lit(users)).alias("user_id"),
        F.element_at(
            F.array(*[F.lit(t) for t in types]),
            (F.col("id") % len(types) + 1).cast("int"),
        ).alias("event_type"),
        (F.col("id") % vmod / 3.0).alias("value"),
    )
    return (
        ev.filter(F.col("event_id") % 2 == 0),
        ev.filter(F.col("event_id") % 2 == 1),
        ev,
    )


def _sorted_rows(df):
    return sorted(
        map(repr, (tuple(r) for r in df.select(sorted(df.columns)).collect()))
    )


@pytest.mark.slow
def test_staged_commit_tear_sweep(spark, tmp_path, tear_sweep):
    """Exhaustive tear sweep over the staged fold commit: crash the
    daily fold at EVERY mutating-FS-op boundary (manifest write, gate
    drop, each partition delete/rename of the swap, staging cleanup,
    ledger write, gate touch), then replay the same batch without
    injection — every terminal state must equal the one-shot rebuild.
    Single-point tears are pinned above; this closes the gaps between
    them."""
    b1, b2, _ = _sweep_events(
        spark, 400, 7, 96, 9, ("view", "click", "error"), 31
    )
    oneshot = os.path.join(str(tmp_path), "oneshot")
    update_daily_summary(spark, oneshot, b1, batch_id="b1")
    update_daily_summary(spark, oneshot, b2, batch_id="b2")
    expected = _rows(spark.read.parquet(oneshot))

    def setup(tag):
        d = os.path.join(str(tmp_path), tag)
        update_daily_summary(spark, d, b1, batch_id="b1")
        return d

    def check(d, label):
        assert _rows(spark.read.parquet(d)) == expected, label

    tear_sweep(
        setup,
        lambda d: update_daily_summary(spark, d, b2, batch_id="b2"),
        check,
        min_ops=6,
    )


@pytest.mark.slow
def test_staged_commit_tear_sweep_merged(spark, tmp_path, tear_sweep):
    """The merged snapshot under the tear sweep: the entity-bucketed
    shape without dependents, whose meta-less state is adopted rather
    than rebuilt. Every terminal state holds the one-shot state and
    its reader gate."""
    from nerd_spark.sources.layout import update_merged_summary

    b1, b2, _ = _sweep_events(
        spark, 400, 7, 96, 9, ("view", "click", "error"), 31
    )
    oneshot = os.path.join(str(tmp_path), "oneshot")
    update_merged_summary(spark, oneshot, b1, batch_id="b1")
    update_merged_summary(spark, oneshot, b2, batch_id="b2")
    expected = _sorted_rows(spark.read.parquet(oneshot))

    def setup(tag):
        d = os.path.join(str(tmp_path), tag)
        update_merged_summary(spark, d, b1, batch_id="b1")
        return d

    def check(d, label):
        assert os.path.exists(os.path.join(d, "_SUCCESS")), label
        assert _sorted_rows(spark.read.parquet(d)) == expected, label

    tear_sweep(
        setup,
        lambda d: update_merged_summary(spark, d, b2, batch_id="b2"),
        check,
        min_ops=8,
    )


def _sweep_data_dir(spark, tmp_path, tag, fold, b1, ev):
    """A data dir whose state holds b1 (append-first: the fact table
    holds it before the fold) and whose fact table then holds all of
    ev, ready for the b2 fold under test."""
    d = str(tmp_path / tag)
    ev_path = os.path.join(d, "events.parquet")
    b1.write.mode("overwrite").parquet(ev_path)
    fold(spark, d, b1, batch_id="b1")
    ev.write.mode("overwrite").parquet(ev_path)
    return d


def _assert_results_served(spark, d, bound, label):
    """Each result cache a fold maintains passes the one serve gate
    under the binding its registered query asks for: committed, no
    older than events, meta present and matching (a gated cache that
    lost its meta is skipped by the query until the next fold)."""
    from nerd_spark.sources.layout import serve_table

    for dirname, binding in bound.items():
        assert serve_table(spark, d, dirname, binding) is not None, (
            f"{label}: {dirname} not served"
        )


@pytest.mark.slow
def test_staged_commit_tear_sweep_keycount(spark, tmp_path, tear_sweep):
    """Same exhaustive tear sweep over the keycount fold — the
    wb-bucketed shape with DEPENDENT projections (entity totals,
    hh/top-k result caches) committed after the pair table: tears
    after the finalize must heal through the ledger-skip staleness
    rederives, the hh serve must equal the raw recompute, and all five
    hh/top-k result caches must pass the serve gate under their
    registered bindings at every terminal state."""
    from nerd_spark.queries.dataprep import hh_event_users
    from nerd_spark.sources import layout as L
    from nerd_spark.sources.layout import (
        SUMMARY_TYPE_USER_DIRNAME,
        SUMMARY_USER_COUNTS_DIRNAME,
        update_keycount_summaries,
    )

    ent = {"entity": "user_id"}
    grp = {"group": "event_type", "entity": "user_id"}
    bound = {
        L.SUMMARY_HH_USERS_RESULT_DIRNAME: {
            **ent, "min_frac": L.HH_USERS_MIN_FRAC},
        L.SUMMARY_TOPFREQ_RESULT_DIRNAME: {**ent, "k": L.TOPFREQ_K},
        L.SUMMARY_HH_MINCOUNT_RESULT_DIRNAME: {
            **ent, "min_count": L.HH_USERS_MIN_COUNT},
        L.SUMMARY_HH_BY_TYPE_RESULT_DIRNAME: {
            **grp, "min_frac": L.HH_BY_TYPE_MIN_FRAC},
        L.SUMMARY_HH_BY_MINCOUNT_RESULT_DIRNAME: {
            **grp, "min_count": L.HH_BY_TYPE_MIN_COUNT},
    }

    b1, b2, ev = _sweep_events(spark, 300, 5, 72, 5, ("view", "click"), 17)

    def pair_rows(d):
        return _sorted_rows(
            spark.read.parquet(
                os.path.join(d, SUMMARY_TYPE_USER_DIRNAME)
            ).drop("wb")
        )

    oneshot = _sweep_data_dir(
        spark, tmp_path, "oneshot", update_keycount_summaries, b1, ev
    )
    update_keycount_summaries(spark, oneshot, b2, batch_id="b2")
    expected = pair_rows(oneshot)
    raw = str(tmp_path / "raw")
    ev.write.mode("overwrite").parquet(os.path.join(raw, "events.parquet"))
    raw_hh = _sorted_rows(hh_event_users(spark, raw))

    def check(d, label):
        assert pair_rows(d) == expected, label
        assert (
            spark.read.parquet(os.path.join(d, SUMMARY_USER_COUNTS_DIRNAME))
            .count() == 5
        ), label
        assert _sorted_rows(hh_event_users(spark, d)) == raw_hh, label
        _assert_results_served(spark, d, bound, label)

    tear_sweep(
        lambda tag: _sweep_data_dir(
            spark, tmp_path, tag, update_keycount_summaries, b1, ev
        ),
        lambda d: update_keycount_summaries(spark, d, b2, batch_id="b2"),
        check,
        min_ops=8,
    )


@pytest.mark.slow
def test_staged_commit_tear_sweep_funnel(spark, tmp_path, tear_sweep):
    """The funnel fold under the tear sweep: its stage-binding meta
    sidecar lands between the partition swap and the ledger record,
    and its result cache after the finalize — tears around the meta
    must leave a same-stages binding (recovery records the ledger; the
    previous fold's meta still matches), and result-cache tears must
    heal through the skip path to a cache the serve gate passes under
    the registered stages."""
    from nerd_spark.queries.analytics import funnel_stages
    from nerd_spark.sources.layout import (
        SUMMARY_FUNNEL_RESULT_DIRNAME,
        update_funnel_summary,
    )

    b1, b2, ev = _sweep_events(
        spark, 300, 5, 72, 6, ("view", "click", "purchase"), 17
    )
    raw = str(tmp_path / "raw")
    ev.write.mode("overwrite").parquet(os.path.join(raw, "events.parquet"))
    expected = _sorted_rows(funnel_stages(spark, raw))

    def check(d, label):
        assert _sorted_rows(funnel_stages(spark, d)) == expected, label
        _assert_results_served(
            spark,
            d,
            {SUMMARY_FUNNEL_RESULT_DIRNAME: {
                "stages": ["view", "click", "purchase"]}},
            label,
        )

    tear_sweep(
        lambda tag: _sweep_data_dir(
            spark, tmp_path, tag, update_funnel_summary, b1, ev
        ),
        lambda d: update_funnel_summary(spark, d, b2, batch_id="b2"),
        check,
        min_ops=8,
    )


@pytest.mark.slow
def test_staged_commit_tear_sweep_cohort(spark, tmp_path, tear_sweep):
    """The cohort fold under the tear sweep: per-user state whose
    meta-less form rebuilds from the fact table, with a result cache
    written after the finalize. At every terminal state the state is
    gated, the result cache is fresh and passes the serve gate under
    COHORT_DEFAULTS with its meta (a tear before it was rewritten
    heals through the ledger-skip path) and the cohort serve equals
    the raw recompute."""
    from nerd_spark.queries.analytics import cohort_retention_q
    from nerd_spark.sources.layout import (
        COHORT_DEFAULTS,
        SUMMARY_COHORT_DIRNAME,
        SUMMARY_COHORT_RESULT_DIRNAME,
        serve_table_status,
        update_cohort_summary,
    )

    b1, b2, ev = _sweep_events(
        spark, 300, 29, 720, 5, ("signup", "view", "click"), 17
    )
    raw = str(tmp_path / "raw")
    ev.write.mode("overwrite").parquet(os.path.join(raw, "events.parquet"))
    expected = _sorted_rows(cohort_retention_q(spark, raw))
    assert len(expected) > 1, "the check needs several cohort rows"

    def check(d, label):
        by = {r["table"]: r for r in serve_table_status(spark, d)}
        assert by[SUMMARY_COHORT_DIRNAME]["gated"], label
        assert by[SUMMARY_COHORT_RESULT_DIRNAME]["fresh"], label
        assert _sorted_rows(cohort_retention_q(spark, d)) == expected, label
        _assert_results_served(
            spark, d, {SUMMARY_COHORT_RESULT_DIRNAME: COHORT_DEFAULTS}, label
        )

    tear_sweep(
        lambda tag: _sweep_data_dir(
            spark, tmp_path, tag, update_cohort_summary, b1, ev
        ),
        lambda d: update_cohort_summary(spark, d, b2, batch_id="b2"),
        check,
        min_ops=8,
    )


@pytest.mark.slow
def test_serve_table_status_lifecycle(spark, sf_dir, tmp_path):
    """serve_table_status reports the states an operator acts on:
    absent -> committed+fresh after a fold, stale after an events
    append the folds haven't caught up with, and a torn commit's
    staging dir awaiting recovery."""
    from nerd_spark.sources.layout import (
        SUMMARY_DAILY_DIRNAME,
        serve_table_status,
        update_event_summaries,
    )

    ev = read_table(spark, sf_dir, "events")
    d = str(tmp_path / "data")
    b1 = ev.filter(F.col("event_id") % 2 == 0)
    b1.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))

    by = {r["table"]: r for r in serve_table_status(spark, d)}
    assert not by[SUMMARY_DAILY_DIRNAME]["present"]

    update_event_summaries(spark, d, b1, batch_id="b1")
    by = {r["table"]: r for r in serve_table_status(spark, d)}
    daily = by[SUMMARY_DAILY_DIRNAME]
    assert daily["present"] and daily["gated"] and daily["fresh"]
    assert daily["ledger_batches"] == 1 and not daily["staging"]

    # events moved on without a fold: stale, so queries are on raw
    ev.limit(0).write.mode("append").parquet(os.path.join(d, "events.parquet"))
    by = {r["table"]: r for r in serve_table_status(spark, d)}
    assert by[SUMMARY_DAILY_DIRNAME]["gated"]
    assert not by[SUMMARY_DAILY_DIRNAME]["fresh"]

    # torn commit: gate down, staging present -> flagged for recovery
    p = os.path.join(d, SUMMARY_DAILY_DIRNAME)
    os.remove(os.path.join(p, "_SUCCESS"))
    os.makedirs(p + ".staging", exist_ok=True)
    by = {r["table"]: r for r in serve_table_status(spark, d)}
    daily = by[SUMMARY_DAILY_DIRNAME]
    assert daily["present"] and not daily["gated"] and daily["staging"]


@pytest.mark.slow
def test_fold_binding_guards(spark, sf_dir, tmp_path):
    """Every fold stamps its parameter binding (entity / type-and-
    value columns / k) into the state's meta sidecar and refuses to
    fold a differently-bound batch — values from another source
    column would merge into the same normalized columns and corrupt
    the state silently. Meta-less dirs (crash artifacts / pre-binding
    layouts) rebuild from the fact table where it is reachable, and
    are stamped where it is not."""
    import pytest

    from nerd_spark.sources.layout import (
        SUMMARY_TYPE_USER_DIRNAME,
        read_summary_meta,
        update_cohort_summary,
        update_event_summaries,
        update_keycount_summaries,
        update_merged_summary,
        update_window_summary,
    )

    ev = read_table(spark, sf_dir, "events")
    d = str(tmp_path / "data")
    ev.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    update_event_summaries(spark, d, ev, batch_id="b1")

    # mismatched entity raises on the daily / merged / cohort folds
    dsum = os.path.join(d, "summary_daily.parquet")
    with pytest.raises(ValueError, match="bound to"):
        update_daily_summary(spark, dsum, ev, entity="event_type")
    with pytest.raises(ValueError, match="bound to"):
        update_merged_summary(
            spark,
            os.path.join(d, "summary_merged.parquet"),
            ev,
            entity="event_type",
        )
    with pytest.raises(ValueError, match="bound to"):
        update_cohort_summary(spark, d, ev, entity="event_type")
    with pytest.raises(ValueError, match="bound to"):
        update_keycount_summaries(spark, d, ev, type_col="user_id")
    with pytest.raises(ValueError, match="bound to"):
        update_window_summary(
            spark,
            os.path.join(d, "summary_window.parquet"),
            dsum,
            ev,
            entity="event_type",
        )

    # meta-less keycount pair table rebuilds exactly from the fact
    # table for the caller's binding
    pair = os.path.join(d, SUMMARY_TYPE_USER_DIRNAME)
    os.remove(os.path.join(pair, "_nerd_meta.json"))
    b2 = ev.limit(0)
    update_keycount_summaries(spark, d, b2, batch_id="b2")
    assert read_summary_meta(spark, pair) == {
        "entity": "user_id",
        "type_col": "event_type",
    }
    got = {
        (r.et, r.u): r.cnt
        for r in spark.read.parquet(pair).drop("wb").collect()
    }
    want = {
        (r.et, r.u): r.cnt
        for r in ev.groupBy(
            F.col("event_type").alias("et"), F.col("user_id").alias("u")
        )
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert got == want

    # meta-less daily (no route to the fact table from a bare summary
    # path): stamped with the caller's binding, state kept
    os.remove(os.path.join(dsum, "_nerd_meta.json"))
    before = _rows(spark.read.parquet(dsum))
    update_daily_summary(spark, dsum, ev.limit(0), batch_id="b3")
    assert read_summary_meta(spark, dsum) == {"entity": "user_id"}
    assert _rows(spark.read.parquet(dsum)) == before


def test_metaless_adoption_warns(spark, sf_dir, tmp_path, caplog):
    """The stamp-on-missing folds (daily/merged — no route back to a
    fact table) ADOPT a meta-less state dir; since a genuinely
    foreign-bound legacy dir would then merge mismatched semantics
    with no raised error, the adoption must leave an audit trail
    (ADVICE r12): a logged warning naming the dir and the stamped
    binding."""
    import logging

    from nerd_spark.sources.layout import update_merged_summary

    ev = read_table(spark, sf_dir, "events")
    dsum = os.path.join(str(tmp_path), "summary_daily.parquet")
    msum = os.path.join(str(tmp_path), "summary_merged.parquet")
    update_daily_summary(spark, dsum, ev, batch_id="b1")
    update_merged_summary(spark, msum, ev, batch_id="b1")

    for p in (dsum, msum):
        os.remove(os.path.join(p, "_nerd_meta.json"))
    with caplog.at_level(logging.WARNING, logger="nerd_spark.sources.layout"):
        update_daily_summary(spark, dsum, ev.limit(0), batch_id="b2")
        update_merged_summary(spark, msum, ev.limit(0), batch_id="b2")
    adopt = [r for r in caplog.records if "ADOPTING" in r.getMessage()]
    assert len(adopt) == 2
    assert dsum in adopt[0].getMessage() and msum in adopt[1].getMessage()

    # a normal (meta present) fold does not warn
    caplog.clear()
    with caplog.at_level(logging.WARNING, logger="nerd_spark.sources.layout"):
        update_daily_summary(spark, dsum, ev.limit(0), batch_id="b3")
    assert not [r for r in caplog.records if "ADOPTING" in r.getMessage()]


def test_empty_first_batch_gates_nothing(spark, sf_dir, tmp_path):
    """An empty first batch on a fresh dir leaves no partitioned table
    gated: a gate over a table with no partitions is unreadable (no
    files to infer a schema from), and its ledger-skip heal re-read
    the empty state on every replay. The fold records the batch id
    only, replays skip cleanly, and the next real batch builds every
    table so that each serve path equals the raw recompute."""
    from nerd_spark.queries.analytics import (
        a1_daily_rollup,
        cohort_retention_q,
        funnel_stages,
        op_merge_snapshot,
    )
    from nerd_spark.queries.dataprep import hh_event_users
    from nerd_spark.sources.layout import (
        SUMMARY_COHORT_DIRNAME,
        SUMMARY_DAILY_DIRNAME,
        SUMMARY_FUNNEL_DIRNAME,
        SUMMARY_MERGED_DIRNAME,
        SUMMARY_TYPE_USER_DIRNAME,
        _ledger_ids,
        serve_table_status,
        update_event_summaries,
    )

    ev = read_table(spark, sf_dir, "events")
    d = str(tmp_path / "data")
    raw = str(tmp_path / "raw")
    ev.limit(0).write.mode("overwrite").parquet(
        os.path.join(d, "events.parquet")
    )
    update_event_summaries(spark, d, ev.limit(0), batch_id="e")
    update_event_summaries(spark, d, ev.limit(0), batch_id="e")  # replay
    partitioned = (
        SUMMARY_DAILY_DIRNAME,
        SUMMARY_MERGED_DIRNAME,
        SUMMARY_FUNNEL_DIRNAME,
        SUMMARY_COHORT_DIRNAME,
        SUMMARY_TYPE_USER_DIRNAME,
    )
    by = {r["table"]: r for r in serve_table_status(spark, d)}
    for name in partitioned:
        assert not by[name]["gated"], name
        assert "e" in _ledger_ids(spark, os.path.join(d, name)), name
    for r in by.values():
        if r["gated"]:  # whatever is gated must be readable
            spark.read.parquet(os.path.join(d, r["table"])).collect()

    ev.write.mode("append").parquet(os.path.join(d, "events.parquet"))
    update_event_summaries(spark, d, ev, batch_id="b1")
    ev.write.mode("overwrite").parquet(os.path.join(raw, "events.parquet"))
    by = {r["table"]: r for r in serve_table_status(spark, d)}
    for name in partitioned:
        assert by[name]["gated"] and by[name]["fresh"], name

    def rows(df):
        return sorted(map(repr, (tuple(r) for r in df.collect())))

    for q in (
        a1_daily_rollup,
        op_merge_snapshot,
        funnel_stages,
        cohort_retention_q,
        hh_event_users,
    ):
        assert rows(q(spark, d)) == rows(q(spark, raw)), q.__name__


def test_corrupt_manifest_discarded_not_resumed(spark, sf_dir, tmp_path,
                                                monkeypatch):
    """A staging dir whose manifest is readable but UNPARSEABLE (torn
    by a pre-atomic writer or a non-atomic filesystem) means the
    commit point was never durably reached: recovery must DISCARD the
    staging copy, not swap it in (ADVICE r12). Resuming would apply
    the batch with bid=None — no ledger entry — and the fold's replay
    of the same batch would then merge it a second time (double count
    in every additive fold). Constructed here: crash BEFORE the swap
    (live table holds only b1, staging holds merged b1+b2), truncate
    the manifest mid-JSON, replay b2 — the converged state must equal
    the one-shot rebuild."""
    import pytest

    from nerd_spark.sources import fsutil as fsu
    from nerd_spark.sources.layout import _STAGING_MANIFEST, _ledger_ids

    ev = read_table(spark, sf_dir, "events")
    b1 = ev.filter(F.col("event_id") % 2 == 0)
    b2 = ev.filter(F.col("event_id") % 2 == 1)
    dsum = os.path.join(str(tmp_path), "summary")
    update_daily_summary(spark, dsum, b1, batch_id="b1")

    real_swap = fsu.swap_partition_dirs

    def crash_before_swap(*a, **kw):
        raise RuntimeError("simulated pre-swap crash")

    monkeypatch.setattr(fsu, "swap_partition_dirs", crash_before_swap)
    with pytest.raises(RuntimeError, match="simulated"):
        update_daily_summary(spark, dsum, b2, batch_id="b2")
    monkeypatch.setattr(fsu, "swap_partition_dirs", real_swap)

    # tear the manifest: readable, half its JSON
    staging = dsum.rstrip("/") + ".staging"
    mpath = os.path.join(staging, _STAGING_MANIFEST)
    torn = fsu.read_text(spark, mpath)[: len('{"batch_id": "b') ]
    fsu.write_text(spark, mpath, torn)

    update_daily_summary(spark, dsum, b2, batch_id="b2")
    assert not os.path.exists(staging)
    assert "b2" in _ledger_ids(spark, dsum)

    oneshot = os.path.join(str(tmp_path), "oneshot")
    update_daily_summary(spark, oneshot, ev)
    assert _rows(spark.read.parquet(dsum)) == _rows(
        spark.read.parquet(oneshot)
    )


def test_manifest_mid_write_tear_leaves_no_manifest(spark, sf_dir, tmp_path,
                                                    monkeypatch):
    """The commit-point manifest is written atomically (temp name +
    rename), so a crash MID-WRITE — the case the op-boundary tear
    sweeps cannot reach (their wrapped write_text raises before or
    after a complete write) — leaves the manifest path ABSENT, the
    recovery discards the unfinished staging dir, and the replay
    converges to the one-shot rebuild."""
    import pytest

    from nerd_spark.sources import fsutil as fsu
    from nerd_spark.sources.layout import _STAGING_MANIFEST

    ev = read_table(spark, sf_dir, "events")
    b1 = ev.filter(F.col("event_id") % 2 == 0)
    b2 = ev.filter(F.col("event_id") % 2 == 1)
    dsum = os.path.join(str(tmp_path), "summary")
    update_daily_summary(spark, dsum, b1, batch_id="b1")

    real_write = fsu.write_text

    def torn_write(spark_, path_, text_):
        if _STAGING_MANIFEST in os.path.basename(path_):
            real_write(spark_, path_, text_[: len(text_) // 2])
            raise RuntimeError("simulated mid-write crash")
        return real_write(spark_, path_, text_)

    monkeypatch.setattr(fsu, "write_text", torn_write)
    with pytest.raises(RuntimeError, match="simulated"):
        update_daily_summary(spark, dsum, b2, batch_id="b2")
    monkeypatch.setattr(fsu, "write_text", real_write)

    staging = dsum.rstrip("/") + ".staging"
    # the torn bytes live under the temp name only: no manifest, so
    # this staging dir reads as "commit never reached"
    assert not os.path.exists(os.path.join(staging, _STAGING_MANIFEST))

    update_daily_summary(spark, dsum, b2, batch_id="b2")
    assert not os.path.exists(staging)
    oneshot = os.path.join(str(tmp_path), "oneshot")
    update_daily_summary(spark, oneshot, ev)
    assert _rows(spark.read.parquet(dsum)) == _rows(
        spark.read.parquet(oneshot)
    )
