"""Per-entity window rollup (the A2 answer table): incremental
maintenance must equal the one-shot rebuild bit-for-bit, and the A2
serve path must equal the raw-scan fallback."""

from __future__ import annotations

import pytest
import os
import tempfile

from pyspark.sql import functions as F

from nerd_spark.plans import derivations as D
from nerd_spark.session import read_table
from nerd_spark.sources.layout import (
    SUMMARY_WINDOW_DIRNAME,
    update_event_summaries,
    window_rollup,
)


def _win_rows(df):
    # as_of_d is NOT part of the row schema (it lives in the table's
    # meta so day-rolls don't force full rewrites); the maintained
    # table carries the wb bucket partition column, the full rollup
    # doesn't — compare the value columns.
    return {
        (
            r.entity,
            r.total,
            r.total1,
            r.total7,
            r.total30,
            tuple(r.cats1),
            tuple(r.cats7),
            tuple(r.cats30),
            tuple(r.nd_days),
            tuple(r.cats_days),
            tuple(r.err_days),
            tuple(sorted((r.cat_counts30 or {}).items())),
        )
        for r in df.collect()
    }


def _full_rollup(spark, ev):
    daily = D.daily_rollup(ev, "user_id").select("entity", "d", "cat", "n")
    asof = ev.agg(F.to_date(F.max("ts")).alias("as_of_d"))
    return window_rollup(daily, asof)


def _win_meta_asof(spark, wpath):
    import datetime

    from nerd_spark.sources.layout import read_summary_meta

    meta = read_summary_meta(spark, wpath)
    return datetime.date.fromisoformat(meta["as_of_d"])


@pytest.mark.slow
def test_incremental_window_equals_full_rebuild(spark, sf_dir):
    """Three batches — the middle split INSIDE one day so the fold
    runs both with the anchor staying put and across a day-roll —
    converge to exactly the one-shot rollup over everything."""
    ev = read_table(spark, sf_dir, "events")
    days = sorted(r.d for r in ev.select(F.to_date("ts").alias("d")).distinct().collect())
    assert len(days) >= 3
    mid_day = days[len(days) // 2]
    # batch 1: strictly before mid_day; batches 2a/2b: mid_day split in
    # two (same-day merge); batch 3: after mid_day (day-roll)
    b1 = ev.filter(F.to_date("ts") < F.lit(mid_day))
    day_ev = ev.filter(F.to_date("ts") == F.lit(mid_day))
    cut = day_ev.agg(F.avg(F.unix_timestamp("ts"))).first()[0]
    b2a = day_ev.filter(F.unix_timestamp("ts") <= cut)
    b2b = day_ev.filter(F.unix_timestamp("ts") > cut)
    b3 = ev.filter(F.to_date("ts") > F.lit(mid_day))
    assert b2a.count() > 0 and b2b.count() > 0

    out = tempfile.mkdtemp(prefix="nerd_winsum_")
    for b in (b1, b2a, b2b, b3):
        if b.count():
            update_event_summaries(spark, out, b)

    wpath = os.path.join(out, SUMMARY_WINDOW_DIRNAME)
    got = _win_rows(spark.read.parquet(wpath))
    want = _win_rows(_full_rollup(spark, ev))
    assert got == want and len(want) > 0
    # the meta's anchor tracks the maximum ingested event date
    assert _win_meta_asof(spark, wpath) == days[-1]


@pytest.mark.slow
def test_a_family_serve_paths_equal_fallback(spark, sf_dir):
    """a2/a3/a6/a7 over a layout-optimized dir (precomputed window
    table) return exactly the raw-dir recompute, with zero Aggregate
    nodes in the serve plan (row-local projections over the table)."""
    from nerd_spark.queries import REGISTRY
    from nerd_spark.sources.layout import optimize_layout

    out = tempfile.mkdtemp(prefix="nerd_a2_layout_")
    optimize_layout(spark, sf_dir, out, tables=["events"])
    assert os.path.exists(os.path.join(out, SUMMARY_WINDOW_DIRNAME, "_SUCCESS"))

    rows = lambda df: sorted(tuple(r) for r in df.collect())  # noqa: E731
    for q in (
        "a2_window_totals",
        "a3_ewma",
        "a5_type_profile",
        "a6_source_reputation",
        "a7_total_reputation",
    ):
        served = REGISTRY[q](spark, out)
        # the serve plan must be aggregation-free (scan + projection)
        plan = served._jdf.queryExecution().optimizedPlan().toString()
        assert "Aggregate" not in plan, q
        fallback = REGISTRY[q](spark, sf_dir)
        assert served.dtypes == fallback.dtypes, q  # names + types
        # (nullability legitimately differs on parquet reads)
        assert rows(served) == rows(fallback) and served.count() > 0, q


@pytest.mark.slow
def test_window_total_survives_retention_of_old_partitions(spark, sf_dir):
    """The all-history `total` is maintained additively, so pruning
    ancient daily partitions (retention) does not corrupt it: only
    the windowed parts ever re-read the summary, and those only read
    the last 31 partitions."""
    from nerd_spark.sources.layout import (
        SUMMARY_DAILY_DIRNAME,
        prune_summary,
    )

    ev = read_table(spark, sf_dir, "events")
    days = sorted(r.d for r in ev.select(F.to_date("ts").alias("d")).distinct().collect())
    out = tempfile.mkdtemp(prefix="nerd_winsum_ret_")
    b1 = ev.filter(F.to_date("ts") <= F.lit(days[0]))
    rest = ev.filter(F.to_date("ts") > F.lit(days[0]))
    update_event_summaries(spark, out, b1)
    # retention drops day-0 from the daily summary...
    prune_summary(
        spark,
        os.path.join(out, SUMMARY_DAILY_DIRNAME),
        keep_days=0,
        as_of=days[1],
    )
    # ...the next day-roll update still carries day-0 counts in total
    update_event_summaries(spark, out, rest)
    got = {
        r.entity: r.total
        for r in spark.read.parquet(
            os.path.join(out, SUMMARY_WINDOW_DIRNAME)
        ).collect()
    }
    want = {
        r.entity: r.total
        for r in ev.groupBy(F.col("user_id").alias("entity"))
        .agg(F.count("*").cast("long").alias("total"))
        .collect()
    }
    assert got == want


@pytest.mark.slow
def test_streamed_summaries_serve_a_family(spark, sf_dir, tmp_path):
    """Three streamed micro-batches through stream_all_summaries keep
    the full derived-state set current: afterwards a2/a3/a6/a7 served
    from the maintained dir equal the raw recompute over everything
    streamed."""
    from nerd_spark.queries import REGISTRY
    from nerd_spark.streaming.summary_stream import stream_all_summaries

    ev = read_table(spark, sf_dir, "events")
    src = str(tmp_path / "incoming")
    for i in range(3):
        ev.filter(F.col("event_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    state = str(tmp_path / "state")
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        stream_all_summaries(
            spark, stream, state, checkpoint_dir=str(tmp_path / "ckpt")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    rows = lambda df: sorted(tuple(r) for r in df.collect())  # noqa: E731
    for name in (
        "a2_window_totals",
        "a3_ewma",
        "a5_type_profile",
        "a6_source_reputation",
        "a7_total_reputation",
    ):
        served = REGISTRY[name](spark, state)
        plan = served._jdf.queryExecution().optimizedPlan().toString()
        assert "Aggregate" not in plan, name  # genuinely the serve path
        assert rows(served) == rows(REGISTRY[name](spark, sf_dir)), name


@pytest.mark.slow
def test_window_maintenance_random_batchings(spark, sf_dir):
    """Property: ANY partition of the events into ordered batches —
    time-ordered, reversed, round-robin (cells split across batches),
    random — converges to the one-shot rollup exactly. This is the
    class of invariant that catches non-mergeable-measure bugs (the
    cats_days overcount was found by exactly this shape)."""
    import random

    ev = read_table(spark, sf_dir, "events").localCheckpoint()

    def batches(mode, k=3):
        if mode == "time":
            lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
            cuts = [lo + (hi - lo) * i / k for i in range(1, k)]
            bounds = [None, *cuts, None]
            return [
                ev.filter(
                    (F.lit(True) if bounds[i] is None else (F.col("ts") > bounds[i]))
                    & (F.lit(True) if bounds[i + 1] is None else (F.col("ts") <= bounds[i + 1]))
                )
                for i in range(k)
            ]
        if mode == "reversed":
            return list(reversed(batches("time", k)))
        if mode == "roundrobin":
            return [ev.filter(F.col("event_id") % k == i) for i in range(k)]
        rnd = random.Random(7)
        salt = rnd.randrange(1000)
        return [
            ev.filter(F.pmod(F.hash(F.col("event_id") + salt), F.lit(k)) == i)
            for i in range(k)
        ]

    want = _win_rows(_full_rollup(spark, ev))
    for mode in ("time", "reversed", "roundrobin", "random"):
        out = tempfile.mkdtemp(prefix=f"nerd_winprop_{mode}_")
        for b in batches(mode):
            if b.count():
                update_event_summaries(spark, out, b)
        got = _win_rows(
            spark.read.parquet(os.path.join(out, SUMMARY_WINDOW_DIRNAME))
        )
        assert got == want, f"batching mode {mode} diverged from rebuild"


@pytest.mark.slow
def test_summary_stream_replay_idempotent(spark, sf_dir, tmp_path):
    """foreachBatch is at-least-once: a REPLAYED epoch must not
    double-merge (the summary merges are not idempotent). The epoch
    marker makes the replayed call a no-op; a genuinely new epoch
    still applies."""
    from nerd_spark.queries import REGISTRY
    from nerd_spark.streaming.summary_stream import _replay_guard
    from nerd_spark.sources.layout import update_event_summaries

    ev = read_table(spark, sf_dir, "events")
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    mid = lo + (hi - lo) / 2
    b1, b2 = ev.filter(F.col("ts") <= mid), ev.filter(F.col("ts") > mid)

    state = str(tmp_path / "state")
    handle = _replay_guard(
        spark,
        state + "/summaries.applied",
        lambda b, eid: update_event_summaries(
            spark, state, b, batch_id=f"epoch={eid}"
        ),
    )
    handle(b1, 0)
    handle(b1, 0)  # replayed epoch: must be skipped
    handle(b2, 1)
    handle(b2, 1)  # replayed again

    rows = lambda df: sorted(tuple(r) for r in df.collect())  # noqa: E731
    assert rows(REGISTRY["a2_window_totals"](spark, state)) == rows(
        REGISTRY["a2_window_totals"](spark, sf_dir)
    )


@pytest.mark.slow
def test_stale_window_table_falls_back(spark, sf_dir, tmp_path):
    """Events changing AFTER the window table was built must route
    a2/a3/a6/a7 to the raw recompute — serving stale precomputed state
    would be silently wrong. The mtime freshness guard covers all four
    serve paths."""
    import shutil
    import time

    from nerd_spark.queries import REGISTRY
    from nerd_spark.sources.layout import optimize_layout

    out = str(tmp_path / "d")
    optimize_layout(spark, sf_dir, out, tables=["events"])
    served = REGISTRY["a2_window_totals"](spark, out)
    assert "Aggregate" not in served._jdf.queryExecution().optimizedPlan().toString()

    # mutate events afterwards (append a copy of one file)
    evdir = os.path.join(out, "events.parquet")
    part = next(f for f in os.listdir(evdir) if f.endswith(".parquet"))
    time.sleep(1.1)  # ensure a strictly later mtime at fs granularity
    shutil.copy(
        os.path.join(evdir, part), os.path.join(evdir, "part-zz-dup.parquet")
    )
    for q in ("a2_window_totals", "a3_ewma", "a5_type_profile",
              "a6_source_reputation", "a7_total_reputation"):
        plan = REGISTRY[q](spark, out)._jdf.queryExecution().optimizedPlan().toString()
        assert "Aggregate" in plan, f"{q} served stale precomputed state"


@pytest.mark.slow
def test_same_day_merge_rewrites_only_touched_buckets(spark, sf_dir):
    """The window table is hash-bucketed by entity; a same-day batch
    touching one entity must rewrite ONLY that entity's bucket dir —
    every other bucket's files stay byte-identical on disk (the
    O(touched) maintenance bound) — while the merged table still
    equals the one-shot rollup exactly."""
    import hashlib

    from nerd_spark.sources.layout import WINDOW_BUCKETS

    ev = read_table(spark, sf_dir, "events").localCheckpoint()
    last_day = ev.agg(F.to_date(F.max("ts")).alias("d")).first()[0]
    # one entity active on the last day -> the same-day second batch
    pick = (
        ev.filter(F.to_date("ts") == F.lit(last_day))
        .select("user_id")
        .first()[0]
    )
    b2 = ev.filter(
        (F.to_date("ts") == F.lit(last_day)) & (F.col("user_id") == pick)
    )
    b1 = ev.exceptAll(b2)
    assert b2.count() > 0 and b1.count() > 0

    out = tempfile.mkdtemp(prefix="nerd_winbucket_")
    update_event_summaries(spark, out, b1)
    wpath = os.path.join(out, SUMMARY_WINDOW_DIRNAME)

    def file_hashes():
        hashes = {}
        for root, _dirs, files in os.walk(wpath):
            for f in files:
                if not f.endswith(".parquet"):
                    continue
                p = os.path.join(root, f)
                hashes[os.path.relpath(p, wpath)] = hashlib.md5(
                    open(p, "rb").read()
                ).hexdigest()
        return hashes

    before = file_hashes()
    buckets_before = {p.split("/")[0] for p in before}
    assert len(buckets_before) > 1, "need multiple buckets for the test"

    update_event_summaries(spark, out, b2)  # same-day merge path
    after = file_hashes()

    touched_bucket = (
        b2.select(
            F.pmod(F.hash("user_id"), F.lit(WINDOW_BUCKETS)).alias("wb")
        )
        .first()[0]
    )
    untouched = {
        p: h for p, h in before.items()
        if not p.startswith(f"wb={touched_bucket}/")
    }
    assert untouched, "picked entity's bucket covered every file"
    for p, h in untouched.items():
        assert p in after and after[p] == h, f"untouched bucket rewritten: {p}"

    # and the merged result is still bit-identical to the full rollup
    got = _win_rows(spark.read.parquet(wpath))
    want = _win_rows(_full_rollup(spark, ev))
    assert got == want


@pytest.mark.slow
def test_day_roll_skips_long_idle_buckets(spark):
    """A day-roll only rewrites buckets holding entities active inside
    the trailing window of either anchor: a bucket whose entities all
    went idle >30 days ago has all-zero windows before AND
    after the roll — its files must stay byte-identical — while the
    rolled table still equals the one-shot rollup exactly."""
    import datetime as _dt
    import hashlib

    from pyspark.sql import functions as F

    from nerd_spark.sources.layout import WINDOW_BUCKETS

    base = _dt.datetime(2024, 3, 1, 12, 0, 0)
    rows = []
    eid = 0
    # idle entities: one event each on day 0 only (idle for >40 days
    # by the final anchor); active entities: events on days 35..41
    for e in range(40):
        eid += 1
        rows.append((eid, e, base, "error", 10.0, "{}"))
    for e in range(40, 48):
        for day in range(35, 42):
            eid += 1
            rows.append(
                (eid, e, base + _dt.timedelta(days=day), "view", 5.0, "{}")
            )
    ev = spark.createDataFrame(
        rows,
        "event_id long, user_id long, ts timestamp, event_type string,"
        " value double, props string",
    )
    b1 = ev.filter(F.to_date("ts") < F.lit((base + _dt.timedelta(days=41)).date()))
    b2 = ev.exceptAll(b1)  # the final day -> day-roll
    assert b2.count() > 0

    out = tempfile.mkdtemp(prefix="nerd_dayroll_")
    update_event_summaries(spark, out, b1)
    wpath = os.path.join(out, SUMMARY_WINDOW_DIRNAME)

    def file_hashes():
        hashes = {}
        for root, _dirs, files in os.walk(wpath):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(root, f)
                    hashes[os.path.relpath(p, wpath)] = hashlib.md5(
                        open(p, "rb").read()
                    ).hexdigest()
        return hashes

    before = file_hashes()
    update_event_summaries(spark, out, b2)  # rolls day 40 -> 41
    after = file_hashes()

    active_buckets = {
        r.wb
        for r in ev.filter(F.to_date("ts") >= F.lit((base + _dt.timedelta(days=4)).date()))
        .select(F.pmod(F.hash("user_id"), F.lit(WINDOW_BUCKETS)).alias("wb"))
        .distinct()
        .collect()
    }
    idle_only = {
        p: h for p, h in before.items()
        if int(p.split("/")[0][3:]) not in active_buckets
    }
    assert idle_only, "test setup: need at least one idle-only bucket"
    for p, h in idle_only.items():
        assert p in after and after[p] == h, f"idle bucket rewritten: {p}"

    got = _win_rows(spark.read.parquet(wpath))
    want = _win_rows(_full_rollup(spark, ev))
    assert got == want
    assert _win_meta_asof(spark, wpath) == (base + _dt.timedelta(days=41)).date()


@pytest.mark.slow
def test_null_category_corpus_serves_equal_raw(spark, tmp_path):
    """Null event_type is a legal rollup group on every raw path, but
    an illegal map key in the fold state (cat_counts30, cohort
    anchors). The folds must not crash on such a corpus, and the A5 /
    cohort serves must still equal their raw recomputes (the null
    category rides the reserved sentinel key; null anchors are simply
    never anchors)."""
    from nerd_spark.queries.analytics import (
        a2_window_totals,
        a5_type_profile,
        cohort_retention_q,
    )

    ev = spark.range(600).select(
        F.col("id").alias("event_id"),
        (
            F.to_timestamp(F.lit("2024-03-01 00:00:00"))
            + F.make_interval(mins=(F.col("id") * 37 % 40_000).cast("int"))
        ).alias("ts"),
        F.pmod("id", F.lit(12)).alias("user_id"),
        # every third event has a null category
        F.when(F.col("id") % 3 == 0, F.lit(None))
        .otherwise(
            F.element_at(
                F.array(F.lit("view"), F.lit("click"), F.lit("purchase")),
                (F.col("id") % 3 + 1).cast("int"),
            )
        )
        .alias("event_type"),
        (F.col("id") % 53 / 9.0).alias("value"),
    )
    d = str(tmp_path / "data")
    raw = str(tmp_path / "raw")
    ev.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    ev.write.mode("overwrite").parquet(os.path.join(raw, "events.parquet"))
    b1 = ev.filter(F.col("event_id") % 2 == 0)
    b2 = ev.filter(F.col("event_id") % 2 == 1)
    update_event_summaries(spark, d, b1, batch_id="b1")
    update_event_summaries(spark, d, b2, batch_id="b2")

    def rows(df):
        return sorted(map(repr, (tuple(r) for r in df.collect())))

    for q in (a5_type_profile, a2_window_totals, cohort_retention_q):
        assert rows(q(spark, d)) == rows(q(spark, raw)), q.__name__


def _mk_events(spark, days):
    """240 synthetic events over ``days`` days from 2024-03-01, seven
    users, three event types."""
    return spark.range(240).select(
        F.col("id").alias("event_id"),
        (
            F.to_timestamp(F.lit("2024-03-01 00:00:00"))
            + F.make_interval(
                days=(F.col("id") % F.lit(days)).cast("int"),
                hours=(F.col("id") * 3 % 24).cast("int"),
            )
        ).alias("ts"),
        F.pmod("id", F.lit(7)).alias("user_id"),
        F.element_at(
            F.array(F.lit("view"), F.lit("click"), F.lit("error")),
            (F.col("id") % 3 + 1).cast("int"),
        ).alias("event_type"),
        (F.col("id") % 13 / 2.0).alias("value"),
    )


@pytest.mark.slow
def test_staged_commit_tear_sweep_window_dayroll(spark, tmp_path, tear_sweep):
    """Tear sweep over the window summary's DAY-ROLL commit, which
    rewrites every bucket holding an active entity and moves the
    as-of anchor in the meta. Crash at every mutating-op boundary,
    replay, and require the window table to equal the one-shot
    rebuild."""
    from pyspark.sql import functions as F2

    from nerd_spark.sources.layout import (
        SUMMARY_DAILY_DIRNAME,
        SUMMARY_WINDOW_DIRNAME,
        update_daily_summary,
        update_window_summary,
    )

    ev = _mk_events(spark, 4)
    b1 = ev.filter(F2.to_date("ts") <= F2.lit("2024-03-02"))
    b2 = ev.filter(F2.to_date("ts") > F2.lit("2024-03-02"))  # day-roll

    odp = str(tmp_path / "oneshot" / SUMMARY_DAILY_DIRNAME)
    owp = str(tmp_path / "oneshot" / SUMMARY_WINDOW_DIRNAME)
    update_daily_summary(spark, odp, ev, batch_id="b0")
    update_window_summary(spark, owp, odp, ev, batch_id="b0")
    expected = _win_rows(spark.read.parquet(owp))

    def setup(tag):
        # daily and window hold b1, daily holds b2: the window's b2
        # fold is the day-roll commit under test
        base = str(tmp_path / tag)
        dp = os.path.join(base, SUMMARY_DAILY_DIRNAME)
        wp = os.path.join(base, SUMMARY_WINDOW_DIRNAME)
        update_daily_summary(spark, dp, b1, batch_id="b1")
        update_window_summary(spark, wp, dp, b1, batch_id="b1")
        update_daily_summary(spark, dp, b2, batch_id="b2")
        return dp, wp

    def check(paths, label):
        assert _win_rows(spark.read.parquet(paths[1])) == expected, label

    tear_sweep(
        setup,
        lambda paths: update_window_summary(
            spark, paths[1], paths[0], b2, batch_id="b2"
        ),
        check,
        min_ops=6,
    )


def test_resumed_window_swap_lands_its_anchor(spark, tmp_path, monkeypatch):
    """A day-roll fold torn after its bucket swap, before its meta
    write: the replay's recovery completes the swap and writes the
    new anchor from the staged commit's manifest. A late batch dated
    the OLD anchor's day then folds against the new anchor, and the
    window equals the one-shot rollup."""
    import datetime

    from nerd_spark.sources import layout
    from nerd_spark.sources.layout import (
        SUMMARY_DAILY_DIRNAME,
        update_daily_summary,
        update_window_summary,
    )

    ev = _mk_events(spark, 4)
    day = F.to_date("ts")
    late = (day == F.lit("2024-03-02")) & (F.col("event_id") % 5 == 0)
    b1 = ev.filter((day <= F.lit("2024-03-02")) & ~late)
    b2 = ev.filter(day > F.lit("2024-03-02"))  # day-roll to 03-04
    b3 = ev.filter(late)
    dp = str(tmp_path / SUMMARY_DAILY_DIRNAME)
    wp = str(tmp_path / SUMMARY_WINDOW_DIRNAME)
    update_daily_summary(spark, dp, b1, batch_id="b1")
    update_window_summary(spark, wp, dp, b1, batch_id="b1")
    update_daily_summary(spark, dp, b2, batch_id="b2")

    real = layout.write_summary_meta

    def torn(spark_, dirpath, meta):
        if os.path.normpath(dirpath) == os.path.normpath(wp):
            monkeypatch.setattr(layout, "write_summary_meta", real)
            raise RuntimeError("torn after the swap")
        real(spark_, dirpath, meta)

    monkeypatch.setattr(layout, "write_summary_meta", torn)
    with pytest.raises(RuntimeError, match="after the swap"):
        update_window_summary(spark, wp, dp, b2, batch_id="b2")
    assert _win_meta_asof(spark, wp) == datetime.date(2024, 3, 2)
    update_window_summary(spark, wp, dp, b2, batch_id="b2")  # replay
    assert _win_meta_asof(spark, wp) == datetime.date(2024, 3, 4)
    update_daily_summary(spark, dp, b3, batch_id="b3")
    update_window_summary(spark, wp, dp, b3, batch_id="b3")
    want = _win_rows(_full_rollup(spark, ev))
    assert _win_rows(spark.read.parquet(wp)) == want


def test_undated_batch_adds_to_window_total(spark, tmp_path):
    """A batch whose events all lack a timestamp lands in daily's null
    day: it moves no window, but the all-history ``total`` counts it,
    as the one-shot rollup over daily does. Before any dated event
    there is no anchor to build on, so the window waits for one."""
    from nerd_spark.sources.layout import (
        SUMMARY_DAILY_DIRNAME,
        update_daily_summary,
        update_window_summary,
    )

    ev = _mk_events(spark, 3)
    undated = ev.filter(F.col("event_id") % 4 == 0).withColumn(
        "ts", F.lit(None).cast("timestamp")
    )
    dated = ev.filter(F.col("event_id") % 4 != 0)
    dp = str(tmp_path / SUMMARY_DAILY_DIRNAME)
    wp = str(tmp_path / SUMMARY_WINDOW_DIRNAME)
    for bid, b in (("u1", undated.filter(F.col("event_id") < 120)),
                   ("d", dated),
                   ("u2", undated.filter(F.col("event_id") >= 120))):
        update_daily_summary(spark, dp, b, batch_id=bid)
        update_window_summary(spark, wp, dp, b, batch_id=bid)
    daily = spark.read.parquet(dp).select("entity", "d", "cat", "n")
    asof = dated.agg(F.to_date(F.max("ts")).alias("as_of_d"))
    assert _win_rows(spark.read.parquet(wp)) == _win_rows(
        window_rollup(daily, asof)
    )
