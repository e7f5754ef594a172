"""Ingest-maintained (type, entity) count tables serving the hh /
top-k sketch-spot queries (r10 verdict #3).

Pins: the additive fold equals the one-shot build; the queries serve
the tables when fresh with values identical to the raw operators; the
_from_counts operators honor the null contracts; staleness falls back
to raw.
"""

from __future__ import annotations
import pytest

import os

from pyspark.sql import functions as F

from nerd_spark.operators import sketches as SK
from nerd_spark.queries.dataprep import (
    hh_by_event_type,
    hh_event_users,
    top_frequent_users,
)
from nerd_spark.sources import fsutil
from nerd_spark.sources.layout import (
    SUMMARY_TYPE_USER_DIRNAME,
    SUMMARY_USER_COUNTS_DIRNAME,
    update_keycount_summaries,
)


def _mk_events(spark, n=800, users=30, start="2024-03-01 00:00:00"):
    return spark.range(n).select(
        F.col("id").alias("event_id"),
        (
            F.to_timestamp(F.lit(start))
            + F.make_interval(mins=(F.col("id") * 11 % 30_000).cast("int"))
        ).alias("ts"),
        F.when(F.col("id") % 13 == 0, F.lit(None)).otherwise(
            # zipf-ish: low ids dominate
            F.pmod(F.pmod("id", F.lit(users)) * F.pmod("id", F.lit(7)), F.lit(users))
        ).alias("user_id"),
        F.when(F.col("id") % 19 == 0, F.lit(None)).otherwise(
            F.element_at(
                F.array(
                    F.lit("view"), F.lit("click"), F.lit("purchase"),
                    F.lit("signup"), F.lit("error"),
                ),
                (F.col("id") % 5 + 1).cast("int"),
            )
        ).alias("event_type"),
        (F.col("id") % 97 / 7.0).alias("value"),
    )


def _rows(df):
    return sorted(map(repr, (tuple(r) for r in df.collect())))


def _data_dir(spark, tmp_path):
    d = str(tmp_path / "data")
    _mk_events(spark).write.mode("overwrite").parquet(
        os.path.join(d, "events.parquet")
    )
    return d


@pytest.mark.slow
def test_fold_equals_one_shot_and_serve(spark, tmp_path):
    d = _data_dir(spark, tmp_path)
    ev = spark.read.parquet(os.path.join(d, "events.parquet"))
    a = ev.filter(F.col("event_id") % 3 != 0)
    b = ev.filter(F.col("event_id") % 3 == 0)
    update_keycount_summaries(spark, d, a)
    update_keycount_summaries(spark, d, b)
    # folded pair counts == one-shot grain counts (nulls KEPT in the
    # table; the serves apply their own null contracts)
    folded = spark.read.parquet(
        os.path.join(d, SUMMARY_TYPE_USER_DIRNAME)
    ).select("et", "u", "cnt")
    one = ev.groupBy(
        F.col("event_type").alias("et"), F.col("user_id").alias("u")
    ).agg(F.count("*").alias("cnt"))
    assert _rows(folded) == _rows(one)
    # totals table == pair table collapsed
    tot = spark.read.parquet(os.path.join(d, SUMMARY_USER_COUNTS_DIRNAME))
    assert _rows(tot) == _rows(
        folded.groupBy("u").agg(F.sum("cnt").alias("cnt"))
    )
    # queries serve values identical to the raw operators
    assert _rows(hh_event_users(spark, d)) == _rows(
        SK.heavy_hitters(ev, "user_id", min_frac=0.005)
    )
    assert _rows(hh_by_event_type(spark, d)) == _rows(
        SK.heavy_hitters_by(ev, "event_type", "user_id", 0.008)
    )
    assert _rows(top_frequent_users(spark, d)) == _rows(
        SK.top_frequent(ev, "user_id", k=10, initial_frac=0.005)
    )
    # absolute-count bindings (scale-stable companions): served ==
    # raw operator, and the answers are NON-EMPTY at this shape —
    # the load-bearing property the fractional bindings lose above
    # sf0.01 (r12 verdict #5)
    from nerd_spark.queries.dataprep import (
        hh_by_type_min_count,
        hh_users_min_count,
    )
    from nerd_spark.sources.layout import (
        HH_BY_TYPE_MIN_COUNT,
        HH_USERS_MIN_COUNT,
    )

    hm = _rows(hh_users_min_count(spark, d))
    assert hm == _rows(
        SK.heavy_keys_min_count(ev, "user_id", HH_USERS_MIN_COUNT)
    )
    assert len(hm) > 0
    hbm = _rows(hh_by_type_min_count(spark, d))
    assert hbm == _rows(
        SK.heavy_keys_min_count_by(
            ev, "event_type", "user_id", HH_BY_TYPE_MIN_COUNT
        )
    )
    assert len(hbm) > 0


def test_staleness_falls_back_to_raw(spark, tmp_path):
    d = _data_dir(spark, tmp_path)
    ev = spark.read.parquet(os.path.join(d, "events.parquet"))
    update_keycount_summaries(spark, d, ev)
    raw = _rows(SK.top_frequent(ev, "user_id", k=10, initial_frac=0.005))
    # bump events past the summaries: gate must refuse, result exact
    ev.limit(0).write.mode("append").parquet(os.path.join(d, "events.parquet"))
    served = top_frequent_users(spark, d)
    # raw fallback reads the events scan (the serve table's cnt column
    # never appears); inputFiles() is empty through the persist
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "cnt" not in plan.split("ReadSchema")[-1]
    assert _rows(served) == raw


def test_from_counts_null_and_empty_contracts(spark):
    counts = spark.createDataFrame(
        [("a", 90, "g1"), ("b", 9, "g1"), (None, 50, "g1"), ("c", 1, None)],
        "k string, cnt long, g string",
    )
    # null keys excluded from N and the result
    hh = SK.heavy_hitters_from_counts(counts, "k", 0.05)
    got = {r.k: (r.cnt, r.share) for r in hh.collect()}
    assert got == {"a": (90, 0.9), "b": (9, 0.09)}
    # per-group: null group AND null key rows dropped
    hb = SK.heavy_hitters_by_from_counts(
        counts.select(F.col("g").alias("grp"), "k", "cnt"), "grp", "k", 0.01
    )
    assert {(r.grp, r.k) for r in hb.collect()} == {("g1", "a"), ("g1", "b")}
    tf = SK.top_frequent_from_counts(counts, "k", k=2)
    assert [(r.k, r.rank) for r in tf.orderBy("rank").collect()] == [
        ("a", 1), ("b", 2),
    ]
    empty = counts.filter(F.lit(False))
    assert SK.heavy_hitters_from_counts(empty, "k", 0.1).count() == 0
    assert SK.top_frequent_from_counts(empty, "k", 3).count() == 0


def test_topk_value_fold_and_serve(spark, tmp_path):
    """Top-k is an exactly mergeable sketch for append-only data:
    per-batch folds equal the one-shot TakeOrderedAndProject, w1
    serves the maintained k rows, staleness falls back to raw."""
    from pyspark.sql import functions as F2

    from nerd_spark.queries.relational import w1_topk
    from nerd_spark.sources.layout import (
        SUMMARY_TOPK_VALUE_DIRNAME,
        update_topk_summary,
    )

    d = _data_dir(spark, tmp_path)
    ev = spark.read.parquet(os.path.join(d, "events.parquet"))
    update_topk_summary(spark, d, ev.filter(F.col("event_id") % 2 == 0))
    update_topk_summary(spark, d, ev.filter(F.col("event_id") % 2 == 1))
    raw = [
        (r.event_id, r.value)
        for r in ev.orderBy(F2.col("value").desc(), "event_id")
        .limit(100)
        .select("event_id", F2.round("value", 2).alias("value"))
        .collect()
    ]
    served = w1_topk(spark, d)
    assert any(
        SUMMARY_TOPK_VALUE_DIRNAME in f for f in served.inputFiles()
    )
    assert [(r.event_id, r.value) for r in served.collect()] == raw
    # staleness: append -> gate refuses -> raw scan, still exact
    ev.limit(0).write.mode("append").parquet(os.path.join(d, "events.parquet"))
    stale = w1_topk(spark, d)
    assert any("events.parquet" in f for f in stale.inputFiles())
    assert [(r.event_id, r.value) for r in stale.collect()] == raw


def test_summary_fresh_schema_cache_invalidates(spark, tmp_path):
    """The serve gate's schema/meta memo is keyed by the commit
    marker's AND the meta sidecar's mtime: a rewrite (new marker
    mtime) re-probes, so a schema-breaking rewrite is never served
    from the cached verdict, and a bare meta rewrite (marker left
    alone) re-reads the binding."""
    from nerd_spark.sources.layout import (
        serve_table,
        summary_fresh,
        write_summary_meta,
    )

    d = str(tmp_path / "data")
    ev = _mk_events(spark, n=50)
    ev.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    ev.select("event_id", "value").write.mode("overwrite").parquet(
        os.path.join(d, "derived.parquet")
    )
    fsutil.touch(spark, os.path.join(d, "derived.parquet", "_SUCCESS"))
    args = (spark, d, "derived.parquet")
    kw = {"sources": ("events.parquet",),
          "expect_cols": ("event_id", "value")}
    assert summary_fresh(*args, **kw)
    assert summary_fresh(*args, **kw)  # cached verdict
    # schema-breaking rewrite bumps the marker -> re-probe -> False
    import time as _t

    _t.sleep(0.01)
    ev.select("event_id").write.mode("overwrite").parquet(
        os.path.join(d, "derived.parquet")
    )
    fsutil.touch(spark, os.path.join(d, "derived.parquet", "_SUCCESS"))
    assert not summary_fresh(*args, **kw)
    # meta-only rewrite: same marker, new sidecar -> the binding is
    # re-read, never answered from the memo of the old one
    p = os.path.join(d, "derived.parquet")
    marker_mtime = os.path.getmtime(os.path.join(p, "_SUCCESS"))
    write_summary_meta(spark, p, {"k": 1})
    assert serve_table(spark, d, "derived.parquet", {"k": 1}) is not None
    _t.sleep(0.01)
    write_summary_meta(spark, p, {"k": 2})
    assert os.path.getmtime(os.path.join(p, "_SUCCESS")) == marker_mtime
    assert serve_table(spark, d, "derived.parquet", {"k": 1}) is None
    assert serve_table(spark, d, "derived.parquet", {"k": 2}) is not None


def test_topk_fold_replay_and_relayout_idempotent(spark, tmp_path):
    """The top-k fold dedupes on event_id before re-limiting: an
    at-least-once replay of a batch, or an optimize_layout re-run
    seeding over an existing dir (both re-present rows the state
    already holds), must not displace legitimate events from the
    served answer (r11 advisor)."""
    from nerd_spark.queries.relational import w1_topk
    from nerd_spark.sources.layout import update_topk_summary

    d = _data_dir(spark, tmp_path)
    ev = spark.read.parquet(os.path.join(d, "events.parquet"))
    a = ev.filter(F.col("event_id") % 2 == 0)
    b = ev.filter(F.col("event_id") % 2 == 1)
    update_topk_summary(spark, d, a)
    update_topk_summary(spark, d, b)
    update_topk_summary(spark, d, b)  # at-least-once replay
    update_topk_summary(spark, d, ev)  # optimize_layout re-run seed
    raw = [
        (r.event_id, r.value)
        for r in ev.orderBy(F.col("value").desc(), "event_id")
        .limit(100)
        .select("event_id", F.round("value", 2).alias("value"))
        .collect()
    ]
    assert [
        (r.event_id, r.value)
        for r in w1_topk(spark, d).select("event_id", "value").collect()
    ] == raw


@pytest.mark.slow
def test_hh_result_cache_tiers(spark, tmp_path):
    """The resolved hh/top-k answers serve first (meta-bound file
    reads); deleting their gates falls to the count-table tier with
    identical values (the funnel three-tier discipline)."""
    from nerd_spark.sources.layout import (
        SUMMARY_HH_BY_TYPE_RESULT_DIRNAME,
        SUMMARY_HH_USERS_RESULT_DIRNAME,
        SUMMARY_TOPFREQ_RESULT_DIRNAME,
    )

    d = _data_dir(spark, tmp_path)
    ev = spark.read.parquet(os.path.join(d, "events.parquet"))
    update_keycount_summaries(spark, d, ev)
    raw_hh = _rows(SK.heavy_hitters(ev, "user_id", min_frac=0.005))
    raw_hb = _rows(SK.heavy_hitters_by(ev, "event_type", "user_id", 0.008))
    raw_tf = _rows(SK.top_frequent(ev, "user_id", k=10, initial_frac=0.005))
    # tier 1: resolved answers
    hh = hh_event_users(spark, d)
    assert any(SUMMARY_HH_USERS_RESULT_DIRNAME in f for f in hh.inputFiles())
    assert _rows(hh) == raw_hh
    hb = hh_by_event_type(spark, d)
    assert any(
        SUMMARY_HH_BY_TYPE_RESULT_DIRNAME in f for f in hb.inputFiles()
    )
    assert _rows(hb) == raw_hb
    tf = top_frequent_users(spark, d)
    assert any(SUMMARY_TOPFREQ_RESULT_DIRNAME in f for f in tf.inputFiles())
    assert _rows(tf) == raw_tf
    # tier 2: result gates dropped -> count-table serves, same values
    for rd in (
        SUMMARY_HH_USERS_RESULT_DIRNAME,
        SUMMARY_HH_BY_TYPE_RESULT_DIRNAME,
        SUMMARY_TOPFREQ_RESULT_DIRNAME,
    ):
        fsutil.delete(spark, os.path.join(d, rd, "_SUCCESS"))
    assert _rows(hh_event_users(spark, d)) == raw_hh
    assert _rows(hh_by_event_type(spark, d)) == raw_hb
    assert _rows(top_frequent_users(spark, d)) == raw_tf


def test_topk_state_loss_rebuilds_from_events(spark, tmp_path):
    """A crash inside the top-k overwrite destroys the k-row answer
    AND the in-dir ledger (the dir survives, gateless). The next fold
    must NOT commit topk(batch) as the global answer under a fresh
    gate — it rebuilds from the fact table, which holds every folded
    batch (append-first contract)."""
    from pyspark.sql import functions as F2

    from nerd_spark.queries.relational import w1_topk
    from nerd_spark.sources.layout import (
        SUMMARY_TOPK_VALUE_DIRNAME,
        update_topk_summary,
    )

    d = _data_dir(spark, tmp_path)
    ev = spark.read.parquet(os.path.join(d, "events.parquet"))
    update_topk_summary(spark, d, ev.filter(F.col("event_id") % 2 == 0))

    # simulate the mid-overwrite crash: answer + ledger gone, junk +
    # no gate left behind
    out = os.path.join(d, SUMMARY_TOPK_VALUE_DIRNAME)
    for f in os.listdir(out):
        os.remove(os.path.join(out, f))
    with open(os.path.join(out, "part-junk.parquet"), "w") as fh:
        fh.write("torn")

    update_topk_summary(spark, d, ev.filter(F.col("event_id") % 2 == 1))
    raw = [
        (r.event_id, r.value)
        for r in ev.orderBy(F2.col("value").desc(), "event_id")
        .limit(100)
        .select("event_id", F2.round("value", 2).alias("value"))
        .collect()
    ]
    served = w1_topk(spark, d)
    assert any(SUMMARY_TOPK_VALUE_DIRNAME in f for f in served.inputFiles())
    assert [(r.event_id, r.value) for r in served.collect()] == raw


@pytest.mark.slow
def test_asof_anchor_loss_recomputes_from_events(spark, tmp_path):
    """Same state-loss class for the as-of anchor: after a crashed
    overwrite, re-seeding from an out-of-order batch alone would
    REGRESS the anchor under a fresh gate; the fold must recompute it
    from the full fact table."""
    from nerd_spark.sources.layout import (
        SUMMARY_ASOF_DIRNAME,
        update_event_summaries,
    )

    ev = _mk_events(spark)
    d = str(tmp_path / "data")
    cut = ev.agg(F.percentile_approx("ts", 0.5)).first()[0]
    late = ev.filter(F.col("ts") > F.lit(cut))
    early = ev.filter(F.col("ts") <= F.lit(cut))
    late.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    update_event_summaries(spark, d, late, batch_id="late")

    asof_p = os.path.join(d, SUMMARY_ASOF_DIRNAME)
    for f in os.listdir(asof_p):
        os.remove(os.path.join(asof_p, f))

    # out-of-order second batch: its max ts trails history's
    early.write.mode("append").parquet(os.path.join(d, "events.parquet"))
    update_event_summaries(spark, d, early, batch_id="early")
    anchor = spark.read.parquet(asof_p).first()[0]
    true_max = ev.agg(F.max("ts")).first()[0]
    assert anchor == true_max, f"anchor regressed: {anchor} < {true_max}"


def test_torn_metaless_rebuild_keeps_history(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A meta-less state dir is rebuilt from the events table, and the
    rebuild's commit replaces the whole table. A tear before its
    commit point (the manifest write) must leave the old partitions in
    place: were they cleared first, the replay would find no state,
    pass the binding check as a fresh table and fold the batch alone
    — all history lost under a fresh gate."""
    import shutil

    from nerd_spark.sources.layout import SUMMARY_META_NAME

    d = str(tmp_path / "data")
    os.makedirs(d)
    shutil.copy(os.path.join(sf_dir, "events.parquet"), d)
    ev = spark.read.parquet(os.path.join(d, "events.parquet"))
    n = ev.count()
    update_keycount_summaries(spark, d, ev, batch_id="b0")
    pair = os.path.join(d, SUMMARY_TYPE_USER_DIRNAME)
    os.remove(os.path.join(pair, SUMMARY_META_NAME))

    # the batch is already in the events table (append-first contract)
    batch = ev.orderBy("event_id").limit(5)
    real = fsutil.write_text_atomic

    def torn(*a, **kw):
        raise OSError("torn rebuild")

    monkeypatch.setattr(fsutil, "write_text_atomic", torn)
    with pytest.raises(OSError):
        update_keycount_summaries(spark, d, batch, batch_id="b1")
    monkeypatch.setattr(fsutil, "write_text_atomic", real)
    update_keycount_summaries(spark, d, batch, batch_id="b1")
    total = spark.read.parquet(pair).agg(F.sum("cnt")).first()[0]
    assert total == n
