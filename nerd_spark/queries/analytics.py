"""NERD-model aggregation family (SURVEY §2.5-2.6) mapped onto the
driver's `events` table: entity = user_id, category = event_type,
day = date(ts). Each query calls the engine's derivation stages
(nerd_spark.plans.derivations); the oracle re-derives the same math
in ANSI SQL.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from nerd_spark.plans import derivations as D
from nerd_spark.queries.base import exact_avg, exact_sum, nonlin_sql, query, t
from nerd_spark.queries.golden import golden_oracle

# Shared SQL fragments ------------------------------------------------------

_DAILY = """
  daily AS (
    SELECT user_id AS entity, CAST(ts AS DATE) AS d, event_type AS cat,
           count(*) AS n, sum(value) AS val
    FROM events GROUP BY 1, 2, 3
  ),
  as_of AS (SELECT max(ts) AS as_of FROM events)
"""


def _daily(spark, sf_dir):
    """The A1 base rollup. When the data dir carries the ingest-written
    summary table (sources/layout.py writes it during the layout pass —
    the reference's precomputed meta-table pattern,
    scripts/update_db_meta_info.js), read that instead of re-scanning
    raw events: the measure is exact DECIMAL, so the parquet round-trip
    is bit-identical to recomputing. Raw dirs (the driver's sf0.01
    correctness runs) and stale summaries fall back to the scan. The
    summary read is normalized to the raw path's column order (the
    partitioned store puts d last) so positional consumers can't
    diverge between the two paths."""
    from nerd_spark.sources.layout import SUMMARY_DAILY_DIRNAME, serve_table

    cols = ("entity", "d", "cat", "n", "val_dec")
    s = serve_table(spark, sf_dir, SUMMARY_DAILY_DIRNAME, expect_cols=cols)
    if s is not None:
        return s.select(*cols)
    return D.daily_rollup(t(spark, sf_dir, "events"), "user_id")


def _as_of(spark, sf_dir):
    from nerd_spark.sources.layout import SUMMARY_ASOF_DIRNAME, serve_table

    s = serve_table(spark, sf_dir, SUMMARY_ASOF_DIRNAME)
    if s is not None:
        return s
    return t(spark, sf_dir, "events").agg(F.max("ts").alias("as_of"))


def _daily_with_asof(spark, sf_dir, max_age: int | None = None):
    # Shared (entity, day, cat) rollup for the a-family. A session
    # cache was tried and reverted on measurement (r2: ~2.3 s to
    # materialize vs ~0.2 s to recompute); the persisted summary
    # table above is the form of reuse that actually pays, at every
    # scale.
    #
    # max_age: callers whose derivation ignores rows older than
    # `max_age` days (conditional window sums / explicit age filters)
    # pass it so the SERVE path can prune the date-partitioned summary
    # scan to the partitions that can contribute. The as-of anchor is
    # resolved driver-side first (a one-row metadata read — the only
    # way the age predicate becomes a LITERAL partition filter; left
    # as a crossJoin the filter is runtime-only and every partition is
    # read, measured 6.8 s vs 1.9 s for a3 at the 80x point). Raw
    # dirs keep the original full-scan crossJoin plan.
    import datetime as _dt

    from nerd_spark.sources import layout as L

    if max_age is not None and L.summary_fresh(
        spark, sf_dir, L.SUMMARY_DAILY_DIRNAME
    ):
        asof = L.serve_table(spark, sf_dir, L.SUMMARY_ASOF_DIRNAME)
        if asof is not None:
            as_of_val = asof.first()[0]
            cutoff = as_of_val.date() - _dt.timedelta(days=max_age)
            return (
                _daily(spark, sf_dir)
                .filter(F.col("d") >= F.lit(cutoff))
                .withColumn("as_of", F.lit(as_of_val))
            )
    return D.with_as_of(_daily(spark, sf_dir), _as_of(spark, sf_dir))


# ---------------------------------------------------------------------------
# A1 — base fact rollup
# ---------------------------------------------------------------------------


# Shared by a1_daily_rollup (raw/serve-gated) and a1_daily_served
# (in-query fold+serve) — one oracle text.
_A1_SQL = """
    SELECT user_id, strftime(ts, '%Y-%m-%d') AS d, event_type,
           count(*) AS n, round(CAST(sum(CAST(round(value, 4) AS DECIMAL(18,4))) AS DOUBLE), 2) AS val
    FROM events GROUP BY 1, 2, 3
    """


@query("a1_daily_rollup", _A1_SQL)
def a1_daily_rollup(spark, sf_dir):
    # (reference: warden_receiver.py:534-563 — the per-(ip,date,node,cat)
    # array_upsert, here as a plain shuffle agg with partial combine;
    # served from the ingest-written summary table when present)
    d = _daily(spark, sf_dir)
    return d.select(
        F.col("entity").alias("user_id"),
        F.date_format("d", "yyyy-MM-dd").alias("d"),
        F.col("cat").alias("event_type"),
        "n",
        F.round(F.col("val_dec").cast("double"), 2).alias("val"),
    )


# ---------------------------------------------------------------------------
# A2 — windowed totals + distinct categories
# ---------------------------------------------------------------------------


# Shared by a2_window_totals (raw/serve-gated) and a2_window_served
# (in-query fold+serve) — one oracle text.
_A2_SQL = f"""
    WITH {_DAILY}
    SELECT entity AS user_id,
           CAST(sum(n) AS BIGINT) AS total,
           CAST(sum(CASE WHEN date_diff('day', d, CAST(as_of AS DATE)) <= 1  THEN n ELSE 0 END) AS BIGINT) AS total1,
           CAST(sum(CASE WHEN date_diff('day', d, CAST(as_of AS DATE)) <= 7  THEN n ELSE 0 END) AS BIGINT) AS total7,
           CAST(sum(CASE WHEN date_diff('day', d, CAST(as_of AS DATE)) <= 30 THEN n ELSE 0 END) AS BIGINT) AS total30,
           count(DISTINCT CASE WHEN date_diff('day', d, CAST(as_of AS DATE)) <= 7 THEN cat END) AS cats_7d
    FROM daily, as_of
    GROUP BY 1
    """


@query("a2_window_totals", _A2_SQL)
def a2_window_totals(spark, sf_dir):
    # (reference: event_counter.py:52-116 — incl. the 'total1 =
    # today + yesterday' bucket quirk: age<=1, not sliding 24h)
    #
    # Serve path: the ingest-maintained per-entity window rollup
    # (sources/layout.py::window_rollup / update_window_summary) —
    # one row per entity, so the query is a projection over a
    # precomputed table with NO aggregation; the (entities x days x
    # cats) shuffle this query used to pay per call happens once at
    # ingest. The counts are exact BIGINT sums and the category sets
    # exact distinct sets, so serving is bit-identical to the raw
    # recompute (pinned by tests/test_summary_window.py). Raw dirs
    # (the driver's sf0.01 correctness runs) fall back to the scan.
    # Routed through the same _window_table gate as a3/a5/a6/a7
    # (ADVICE r6): a table written by an older/partial schema falls
    # back to the raw recompute instead of failing the query.
    w = _window_table(spark, sf_dir)
    if w is not None:
        return w.select(
            F.col("entity").alias("user_id"),
            "total",
            "total1",
            "total7",
            "total30",
            F.size("cats7").cast("long").alias("cats_7d"),
        )
    dwa = _daily_with_asof(spark, sf_dir)
    out = D.window_totals(dwa, windows=(1, 7, 30))
    return out.select(
        F.col("entity").alias("user_id"),
        "total",
        "total1",
        "total7",
        "total30",
        "cats_7d",
    )


# ---------------------------------------------------------------------------
# A3 — EWMA + binary EWMA over 7 daily buckets
# ---------------------------------------------------------------------------


def _window_table(spark, sf_dir):
    """The ingest-maintained per-entity window rollup, or None when
    absent/stale. Serving A2/A3/A6/A7 from it makes each a row-local
    projection over one O(entities) table — zero aggregation at query
    time; the (entities x days x cats) work happened once at ingest
    (sources/layout.py::window_rollup / update_window_summary).

    Routed through the memoized serve gate (layout.serve_table): the
    schema probe doubles as the older-engine-version column gate (a
    pre-daily-vectors table FALLS BACK to the raw recompute instead
    of failing), and a repeat query pays only the freshness FS stats —
    the per-call footer read was the dominant piece of this family's
    sub-second floor (r12 verdict #6 piece timings in PLANS.md)."""
    from nerd_spark.sources.layout import SUMMARY_WINDOW_DIRNAME, serve_table

    return serve_table(
        spark,
        sf_dir,
        SUMMARY_WINDOW_DIRNAME,
        {},
        ("entity", "total", "total1", "total7", "total30",
         "cats7", "nd_days", "cats_days", "err_days",
         "cat_counts30", "rep_events", "rep_err"),
    )


@query(
    "a3_ewma",
    f"""
    WITH {_DAILY},
    per_day AS (
      SELECT entity, d, sum(n) AS nd FROM daily GROUP BY 1, 2
    )
    SELECT entity AS user_id,
           round(sum(CASE WHEN date_diff('day', d, CAST(as_of AS DATE)) < 7
                 THEN nd * 0.25 * pow(0.75, date_diff('day', d, CAST(as_of AS DATE))) ELSE 0 END), 6) AS ewma,
           round(sum(CASE WHEN date_diff('day', d, CAST(as_of AS DATE)) < 7
                 THEN 0.25 * pow(0.75, date_diff('day', d, CAST(as_of AS DATE))) ELSE 0 END), 6) AS bin_ewma
    FROM per_day, as_of
    GROUP BY 1
    """,
)
def a3_ewma(spark, sf_dir):
    # (reference: event_counter.py:12-13,104-115 — weights 0.25*0.75^i)
    #
    # Serve path: ewma = Σₐ wₐ·nd_days[a] over the stored per-age
    # daily vectors — a row-local expression over the window table
    # (the reference's own per-IP daily-bucket record model), no
    # aggregation, no shuffle. The weights are dyadic rationals
    # (0.25·0.75ᵃ exact in binary for a<7) and the vector entries are
    # exact integers, so serve == fallback bit-for-bit (tested).
    wt = _window_table(spark, sf_dir)
    if wt is not None:
        terms_e = [
            F.col("nd_days")[a] * F.lit(0.25 * 0.75**a) for a in range(7)
        ]
        terms_b = [
            (F.col("cats_days")[a] > 0).cast("int") * F.lit(0.25 * 0.75**a)
            for a in range(7)
        ]
        return wt.select(
            F.col("entity").alias("user_id"),
            F.round(sum(terms_e[1:], terms_e[0]), 6).alias("ewma"),
            F.round(sum(terms_b[1:], terms_b[0]), 6).alias("bin_ewma"),
        )
    dwa = _daily_with_asof(spark, sf_dir)
    return D.ewma(dwa).select(F.col("entity").alias("user_id"), "ewma", "bin_ewma")


# ---------------------------------------------------------------------------
# A5 — event-type profile (share >= 5%, min volume)
# ---------------------------------------------------------------------------


@query(
    "a5_type_profile",
    f"""
    WITH {_DAILY},
    in_win AS (
      SELECT daily.* FROM daily, as_of
      WHERE date_diff('day', d, CAST(as_of AS DATE)) <= 30
    ),
    per_cat AS (SELECT entity, cat, sum(n) AS n_cat FROM in_win GROUP BY 1, 2),
    per_ent AS (SELECT entity, sum(n) AS n_tot FROM in_win GROUP BY 1)
    SELECT c.entity AS user_id, c.cat AS event_type,
           round(c.n_cat * 1.0 / e.n_tot, 6) AS share
    FROM per_cat c JOIN per_ent e USING (entity)
    WHERE e.n_tot >= 10 AND c.n_cat * 1.0 / e.n_tot >= 0.05
    """,
)
def a5_type_profile(spark, sf_dir):
    # (reference: event_type_counter.py:41-104)
    #
    # Serve path: explode the window table's per-category 30-day map —
    # n_cat and n_tot are exact longs, so the share filter and
    # rounding are bit-identical to the raw recompute. Entities with
    # no in-window rows carry an empty map and explode to nothing,
    # matching the fallback's pre-group age filter.
    wt = _window_table(spark, sf_dir)
    if wt is not None:
        zero = F.lit(0).cast("long")
        n_tot = F.aggregate(
            F.map_values("cat_counts30"), zero, lambda acc, x: acc + x
        )
        from nerd_spark.sources.layout import NULL_CAT_SENTINEL

        exploded = wt.select(
            F.col("entity").alias("user_id"),
            n_tot.alias("n_tot"),
            F.explode("cat_counts30").alias("event_type", "n_cat"),
        )
        return exploded.filter(
            (F.col("n_tot") >= 10)
            & (F.col("n_cat") / F.col("n_tot") >= 0.05)
        ).select(
            "user_id",
            # decode the fold's reserved null-category key (maps cannot
            # hold null keys; the raw path groups nulls natively)
            F.when(
                F.col("event_type") == NULL_CAT_SENTINEL, F.lit(None)
            )
            .otherwise(F.col("event_type"))
            .alias("event_type"),
            F.round(F.col("n_cat") / F.col("n_tot"), 6).alias("share"),
        )
    # fallback: type_profile filters age<=30 before grouping
    # (in-window entities only) — prunable like a6/a7
    dwa = _daily_with_asof(spark, sf_dir, max_age=30)
    return D.type_profile(dwa).select(
        F.col("entity").alias("user_id"), F.col("cat").alias("event_type"), "share"
    )


# ---------------------------------------------------------------------------
# A6/A7 — reputation: per-source weighted decay, then combination
# ---------------------------------------------------------------------------

# _REP_SQL / _REP_DENOM_14 live in base.py so `surface` can use them
# without importing this module (registration order feeds the driver's
# 50-entry correctness window — keep family imports independent).
from nerd_spark.queries.base import _REP_DENOM_14, _REP_SQL  # noqa: E402


# Default-config reputation values are MATERIALIZED on the window
# table (sources/layout.py::_window_rows, computed from the same
# daily vectors by plans/derivations.vector_reputation_columns — the
# reference likewise stores rep.* on the record, reputation.py:111+),
# so the a6/a7 serve paths below are plain column reads: zero pow()
# per query. Config-altered variants (reputationq.py) still compute
# theirs at query time.

_IN_WINDOW_14 = lambda: F.exists("cats_days", lambda c: c > 0)  # noqa: E731


@query(
    "a6_source_reputation",
    f"WITH {_REP_SQL} SELECT entity AS user_id, rep_events FROM rep",
)
def a6_source_reputation(spark, sf_dir):
    # (reference: reputation.py:111-221 — daily
    # nonlin(events)*nonlin(detectors), linear-decay weighted mean)
    #
    # Serve path: row-local over the window table's daily vectors; the
    # exists() filter reproduces the fallback's pre-group age<14
    # filter (only entities with an in-window day appear). Fallback:
    # pruned summary scan (max_age=13 — source_reputation's own
    # age<14 filter makes the pruning semantically free).
    wt = _window_table(spark, sf_dir)
    if wt is not None:
        return wt.filter(_IN_WINDOW_14()).select(
            F.col("entity").alias("user_id"), "rep_events"
        )
    dwa = _daily_with_asof(spark, sf_dir, max_age=13)
    return D.source_reputation(dwa, out="rep_events").select(
        F.col("entity").alias("user_id"), "rep_events"
    )


@query(
    "a7_total_reputation",
    f"""
    WITH {_REP_SQL},
    err_daily AS (
      SELECT user_id AS entity, CAST(ts AS DATE) AS d, count(*) AS nd
      FROM events WHERE event_type = 'error' GROUP BY 1, 2
    ),
    err_rep AS (
      SELECT entity,
             round(sum({nonlin_sql("nd", 2.0)} * {nonlin_sql("1", 2.0)}
                       * (14 - date_diff('day', d, CAST(as_of AS DATE))) / 14.0)
                   / {_REP_DENOM_14}, 6) AS rep_err
      FROM err_daily, as_of
      WHERE date_diff('day', d, CAST(as_of AS DATE)) < 14
      GROUP BY 1
    )
    SELECT r.entity AS user_id,
           round(1 - (1 - r.rep_events * 0.9)
                   * (1 - coalesce(e.rep_err, 0) * 0.6), 6) AS rep
    FROM rep r LEFT JOIN err_rep e USING (entity)
    """,
)
def a7_total_reputation(spark, sf_dir):
    # (reference: reputation.py:100-109 — rep = 1 - prod(1 - r_src*t_src);
    # two pseudo-sources here: all events + error events)
    #
    # Single-pass plan: both sources' daily aggregates come out of ONE
    # scan + one (entity, day) shuffle with conditional aggregation —
    # the naive two-pipeline version costs 2 scans and 4 shuffles for
    # identical math. Intermediate reps round to 6 like the oracle's
    # CTEs before combining.
    from nerd_spark.functions.mathx import nonlin

    days = 14
    denom = sum((days - a) / days for a in range(days))
    # Serve path: both pseudo-sources (all events + error events) are
    # row-local expressions over the window table's daily vectors.
    wt = _window_table(spark, sf_dir)
    if wt is not None:
        return wt.filter(_IN_WINDOW_14()).select(
            F.col("entity").alias("user_id"),
            F.round(
                1
                - (1 - F.col("rep_events") * 0.9)
                * (1 - F.col("rep_err") * 0.6),
                6,
            ).alias("rep"),
        )
    # Fallback: derive the (entity, day) frame from the A1 rollup
    # (partition-pruned to the window via max_age): nd = Σn, distinct
    # categories = rollup rows per (entity, day), error count = the
    # 'error' row's n. Exact integer arithmetic either way —
    # identical to aggregating raw events, but over a table that is
    # orders of magnitude smaller at scale. (An unrolled one-shuffle
    # per-age-conditional variant was tried and reverted on
    # measurement: 42 agg buffers per row cost more than the second
    # small shuffle.)
    per_day = (
        _daily_with_asof(spark, sf_dir, max_age=days - 1)
        .filter(F.datediff(F.to_date("as_of"), F.col("d")) < days)
        .groupBy(F.col("entity").alias("user_id"), "d")
        .agg(
            F.sum("n").alias("nd"),
            F.count("*").alias("cats"),
            F.sum(
                F.when(F.col("cat") == "error", F.col("n")).otherwise(F.lit(0))
            ).alias("err_nd"),
            F.first("as_of").alias("as_of"),
        )
    )
    age = F.datediff(F.to_date("as_of"), F.col("d")).cast("double")
    w = (F.lit(days) - age) / days
    rep_events = F.round(
        F.sum(nonlin("nd", 5.0) * nonlin("cats", 2.0) * w) / denom, 6
    )
    rep_err = F.round(
        F.sum(
            F.when(
                F.col("err_nd") > 0,
                nonlin("err_nd", 2.0) * nonlin(F.lit(1), 2.0) * w,
            ).otherwise(0.0)
        )
        / denom,
        6,
    )
    agg = per_day.groupBy("user_id").agg(
        rep_events.alias("re"), rep_err.alias("rr")
    )
    return agg.select(
        "user_id",
        F.round(1 - (1 - F.col("re") * 0.9) * (1 - F.col("rr") * 0.6), 6).alias("rep"),
    )


# ---------------------------------------------------------------------------
# A8 — threat-category summary (confidence + capped subcategory list)
# ---------------------------------------------------------------------------


@query(
    "a8_threat_summary",
    f"""
    WITH as_of AS (SELECT max(ts) AS as_of FROM events),
    base AS (
      SELECT user_id, event_type AS cat,
             CAST(json_extract(props, '$.k') AS BIGINT) AS k,
             CAST(ts AS DATE) AS d,
             (14 - date_diff('day', CAST(ts AS DATE), CAST(as_of AS DATE))) / 14.0 AS w
      FROM events, as_of
      WHERE date_diff('day', CAST(ts AS DATE), CAST(as_of AS DATE)) < 14
    )
    SELECT user_id, cat,
           round({nonlin_sql("sum(w)", 10.0)} * {nonlin_sql("count(DISTINCT d)", 3.0)}, 6) AS conf,
           array_to_string(list_sort(list_distinct(list(k)))[1:10], '|') AS subcats
    FROM base GROUP BY 1, 2
    """,
)
def a8_threat_summary(spark, sf_dir):
    # (reference: threat_category_summary.py:40-119 — per-category
    # report counts, nonlin(reports)*nonlin(#sources) confidence,
    # union+cap(10) subcategory lists)
    ev = t(spark, sf_dir, "events")
    as_of = ev.agg(F.max("ts").alias("as_of"))
    base = (
        ev.crossJoin(F.broadcast(as_of))
        .filter(F.datediff(F.to_date("as_of"), F.to_date("ts")) < 14)
        .select(
            "user_id",
            F.col("event_type").alias("cat"),
            F.get_json_object("props", "$.k").cast("bigint").alias("k"),
            F.to_date("ts").alias("d"),
            # linear-decay weight (reference: threat_category_summary.py:
            # 40-119 — 14-day linear decay on the report counts feeding
            # the confidence nonlinearity)
            (
                (
                    F.lit(14)
                    - F.datediff(F.to_date("as_of"), F.to_date("ts")).cast("double")
                )
                / 14.0
            ).alias("w"),
        )
    )
    from nerd_spark.functions.mathx import nonlin
    return base.groupBy("user_id", "cat").agg(
        F.round(
            nonlin(F.sum("w"), scale=10.0) * nonlin(F.count_distinct("d"), scale=3.0),
            6,
        ).alias("conf"),
        F.array_join(
            F.slice(F.sort_array(F.collect_set("k")), 1, 10).cast("array<string>"), "|"
        ).alias("subcats"),
    )


# ---------------------------------------------------------------------------
# A10 — prefix summary (group-range aggregate)
# ---------------------------------------------------------------------------


@query(
    "a10_prefix_summary",
    """
    SELECT user_id // 5 AS grp, count(*) AS n_events,
           count(DISTINCT user_id) AS n_entities,
           round(CAST(sum(CAST(round(value, 4) AS DECIMAL(18,4))) AS DOUBLE) / count(value), 6) AS avg_value
    FROM events GROUP BY 1
    """,
)
def a10_prefix_summary(spark, sf_dir):
    # (reference: nerd_main.py:2310-2335 — /24 prefix rollup: avg rep,
    # count, members; the //5 grouping is the prefix24 shape)
    ev = t(spark, sf_dir, "events")
    return ev.groupBy((F.col("user_id") / 5).cast("long").alias("grp")).agg(
        F.count("*").alias("n_events"),
        F.count_distinct("user_id").alias("n_entities"),
        exact_avg("value", "avg_value"),
    )


# ---------------------------------------------------------------------------
# A11 — distinct-pair meta counts
# ---------------------------------------------------------------------------


@query(
    "a11_distinct_pair_counts",
    """
    SELECT event_type, count(*) AS n_entities FROM (
      SELECT DISTINCT user_id, event_type FROM events
    ) GROUP BY 1
    """,
)
def a11_distinct_pair_counts(spark, sf_dir):
    # (reference: scripts/update_db_meta_info.js:2-6 — n_ip_by_cat:
    # $unwind + $group x2 == distinct pairs then count per category.
    # A pair is distinct iff the rollup has a row for it on any day,
    # so this derives from the summary table when present.)
    return (
        _daily(spark, sf_dir)
        .select(F.col("entity").alias("user_id"), F.col("cat").alias("event_type"))
        .distinct()
        .groupBy("event_type")
        .agg(F.count("*").alias("n_entities"))
    )


# ---------------------------------------------------------------------------
# A12 — ref-count rebuild over the entity graph
# ---------------------------------------------------------------------------


@query(
    "a12_refcount_rebuild",
    """
    SELECT n.n_name, CAST(coalesce(c.cnt, 0) AS BIGINT) AS ref_cnt
    FROM nation n LEFT JOIN (
      SELECT c_nationkey, count(*) AS cnt FROM customer GROUP BY 1
    ) c ON n.n_nationkey = c.c_nationkey
    """,
)
def a12_refcount_rebuild(spark, sf_dir):
    # (reference: scripts/fix_ref_cnt.js:13-109 — _ref_cnt recomputed
    # as groupBy(fk).count(), never incrementally ticked)
    n = t(spark, sf_dir, "nation")
    c = t(spark, sf_dir, "customer")
    cnt = c.groupBy("c_nationkey").agg(F.count("*").alias("cnt"))
    return (
        F.broadcast(n)
        .join(cnt, n.n_nationkey == cnt.c_nationkey, "left")
        .select("n_name", F.coalesce("cnt", F.lit(0)).alias("ref_cnt"))
    )


# ---------------------------------------------------------------------------
# A13 — inter-arrival intervals over last-21 events
# ---------------------------------------------------------------------------


@query(
    "a13_intervals",
    """
    WITH last21 AS (
      SELECT user_id, ts, event_id,
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ), kept AS (
      SELECT user_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM last21 WHERE rn <= 21
    )
    SELECT user_id,
           count(prev_ts) AS n_gaps,
           CAST((2 * CAST(sum(epoch_us(ts) - epoch_us(prev_ts)) AS BIGINT)
                  + count(prev_ts)) // (2 * count(prev_ts)) AS DOUBLE) / 1e6 AS avg_gap_s,
           round(max(epoch_us(ts) - epoch_us(prev_ts)) / 1e6, 6) AS max_gap_s
    FROM kept GROUP BY 1
    """,
)
def a13_intervals(spark, sf_dir):
    # (reference: intervals_between_events.py:23-31 — last 21 event
    # timestamps, inter-arrival stats; fmp_updater.py:228-239)
    ev = t(spark, sf_dir, "events")
    w_desc = W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    w_asc = W.partitionBy("user_id").orderBy("ts", "event_id")
    kept = (
        ev.withColumn("rn", F.row_number().over(w_desc))
        .filter(F.col("rn") <= 21)
        .withColumn("prev_ts", F.lag("ts").over(w_asc))
    )
    gap_us = F.unix_micros("ts") - F.unix_micros("prev_ts")
    agg = kept.groupBy("user_id").agg(
        F.count("prev_ts").alias("n_gaps"),
        F.sum(gap_us).alias("_s"),
        F.max(gap_us).alias("_mx"),
    )
    # integer-domain half-up rounding of the mean: (2S + n) div 2n
    # microseconds. Rounding the double quotient differs between
    # engines exactly at decimal midpoints (Spark rounds the shortest
    # decimal repr, DuckDB multiplies the double) — integer arithmetic
    # sidesteps it; the result is an exact multiple of 1e-6.
    return agg.select(
        "user_id",
        "n_gaps",
        (F.expr("(2 * _s + n_gaps) div (2 * n_gaps)").cast("double") / 1e6).alias(
            "avg_gap_s"
        ),
        F.round(F.col("_mx") / 1e6, 6).alias("max_gap_s"),
    )


# ---------------------------------------------------------------------------
# A14 — feed rollup with threshold
# ---------------------------------------------------------------------------


@query(
    "a14_feed_rollup",
    """
    SELECT user_id, count(*) AS reports,
           round(CAST(sum(CAST(round(value, 4) AS DECIMAL(18,4))) AS DOUBLE), 2) AS amount
    FROM events WHERE event_type = 'purchase'
    GROUP BY 1 HAVING count(*) >= 5
    """,
)
def a14_feed_rollup(spark, sf_dir):
    # (reference: NERDd/dshield.py:64-112 — per-IP sum of
    # reports/targets + minimum-reports threshold)
    ev = t(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count("*").alias("reports"), exact_sum("value", "amount"))
        .filter(F.col("reports") >= 5)
    )


# ---------------------------------------------------------------------------
# A16 — rollup / grouping sets (free in Spark; absent in reference)
# ---------------------------------------------------------------------------


@query(
    "a16_rollup_revenue",
    """
    SELECT coalesce(r_name, 'ALL') AS r_name,
           coalesce(n_name, 'ALL') AS n_name,
           round(CAST(sum(CAST(round(o_totalprice, 4) AS DECIMAL(18,4))) AS DOUBLE), 2) AS revenue
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def a16_rollup_revenue(spark, sf_dir):
    # Hierarchical rollup over the entity graph (SURVEY A16): the
    # J2/J3-style enrichment chain feeding a multi-level aggregate.
    #
    # Deliberately NOT pre-aggregated per customer: a groupBy(custkey)
    # before the join shuffles all of orders on a |customers|-
    # cardinality key, where this shape — broadcast-joined dims +
    # rollup — keeps the big side shuffle-free (map-side partial agg
    # over ~|nations| groups, one tiny final exchange). Measured 2x
    # WORSE with the pre-agg at the 80x point (5.1 s vs 2.6 s).
    #
    # The orders||customer join itself (r7's residual): on a
    # layout-optimized dir the co-partitioned bucketed pair
    # (sources/layout.py::write_join_pair) serves it as a
    # zero-exchange zero-sort SMJ over bucketed scans — the
    # beyond-broadcast 100 TB path. On raw dirs, customer projects to
    # two longs and is broadcast EXPLICITLY (good to ~1e8 customers;
    # auto-broadcast gave up past the 10 MB threshold at the 80x
    # point, planning the shuffle the r7 verdict flagged).
    from nerd_spark.queries.base import exact_sum_u4
    from nerd_spark.sources.layout import (
        SUMMARY_A16_DIRNAME,
        bucketed_pair,
        serve_table,
    )

    # Serve path (r8): the ingest-maintained (r_name, n_name) revenue
    # partials — additive u4 longs, so re-deriving the rollup margins
    # from the 25-row base is bit-identical to the 4-way join
    # (tests/test_q1_a16_serve.py); gate falls back to the join.
    s = serve_table(
        spark,
        sf_dir,
        SUMMARY_A16_DIRNAME,
        expect_cols=("r_name", "n_name", "rev_u4"),
        sources=("orders.parquet", "customer.parquet"),
    )
    if s is not None:
        return (
            s.rollup("r_name", "n_name")
            .agg(F.round(F.sum("rev_u4") / F.lit(1e4), 2).alias("revenue"))
            .select(
                F.coalesce("r_name", F.lit("ALL")).alias("r_name"),
                F.coalesce("n_name", F.lit("ALL")).alias("n_name"),
                "revenue",
            )
        )
    pair = bucketed_pair(spark, sf_dir)
    if pair is not None:
        o, c = pair
        joined0 = o.join(
            c.select("c_custkey", "c_nationkey"),
            o.o_custkey == c.c_custkey,
        )
    else:
        o = t(spark, sf_dir, "orders")
        c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
        joined0 = o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    joined = joined0.join(
        F.broadcast(n), F.col("c_nationkey") == n.n_nationkey
    ).join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    rev = (
        exact_sum_u4("o_totalprice_u4", "revenue")
        if "o_totalprice_u4" in o.columns
        else exact_sum("o_totalprice", "revenue")
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(rev)
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("r_name"),
            F.coalesce("n_name", F.lit("ALL")).alias("n_name"),
            "revenue",
        )
    )


def _merged_table(spark, sf_dir):
    """The ingest-maintained §2.4 merged snapshot, or None when
    absent/stale/older-schema. One mergeable row per entity
    (sources/layout.py::update_merged_summary), so serving is a
    projection — the full-history fold happened at ingest."""
    from nerd_spark.sources.layout import SUMMARY_MERGED_DIRNAME, serve_table

    return serve_table(
        spark,
        sf_dir,
        SUMMARY_MERGED_DIRNAME,
        expect_cols=("user_id", "total", "first_seen", "types_arr",
                     "last_arrival", "last_value"),
    )



# ---------------------------------------------------------------------------
# Op-algebra snapshot: the columnar fast-path merge (SURVEY §2.4)
# ---------------------------------------------------------------------------


# Shared by op_merge_snapshot (raw/serve-gated) and op_merge_served
# (in-query fold+serve) — one oracle text.
_OP_MERGE_SQL = """
    WITH lastv AS (
      SELECT user_id, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT e.user_id,
           count(*) AS total,
           max(e.ts) AS last_activity,
           min(e.ts) AS first_seen,
           array_to_string(list_sort(list_distinct(list(e.event_type))), '|') AS types,
           round(any_value(lv.value), 2) AS last_value
    FROM events e JOIN (SELECT user_id, value FROM lastv WHERE rn = 1) lv
      ON e.user_id = lv.user_id
    GROUP BY 1
    """


@query("op_merge_snapshot", _OP_MERGE_SQL)
def op_merge_snapshot(spark, sf_dir):
    # The §2.4 commutative op subset: add (count), setmax/setmin
    # (max/min ts), add_to_set (sorted distinct), set/last-writer-wins
    # (max_by over arrival order) — operators/merge.py's columnar fast
    # path (snapshot_events).
    #
    # Serve path: the ingest-maintained merged snapshot — every
    # column is commutative op STATE, so the per-batch fold
    # (merge_snapshots) reproduces the one-shot aggregation exactly
    # and the query becomes a projection over O(entities) rows; the
    # full-history shuffle happened once at ingest (the A2/q1/a16
    # discipline; r9 verdict #7 measured the raw fold at 3.7x the
    # comparator at 80x). Raw dirs (the driver's sf0.01 correctness
    # runs) recompute from events; raw==served pinned by
    # tests/test_summary_merged.py.
    from nerd_spark.operators.merge import snapshot_events

    snap = _merged_table(spark, sf_dir)
    if snap is None:
        snap = snapshot_events(t(spark, sf_dir, "events"), "user_id")
    return snap.select(
        "user_id",
        "total",
        F.col("last_arrival.ts").alias("last_activity"),
        "first_seen",
        F.array_join("types_arr", "|").alias("types"),
        F.round("last_value", 2).alias("last_value"),
    )


# ---------------------------------------------------------------------------
# Sessionization (beyond-reference operator; lag-gap + running sum)
# ---------------------------------------------------------------------------


@query(
    "sessionize_stats",
    """
    WITH s AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR (epoch_us(ts) - epoch_us(lag(ts) OVER w)) / 1e6 > 1800
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sid AS (
      SELECT user_id, ts,
             CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM s
    )
    SELECT user_id, session_id, count(*) AS n_events,
           CAST((epoch_us(max(ts)) - epoch_us(min(ts)) + 500) // 1000 AS DOUBLE)
             / 1e3 AS duration_s
    FROM sid GROUP BY 1, 2
    """,
)
def sessionize_stats(spark, sf_dir):
    # Gap-based sessionization (30-min gap): lag + boundary flag +
    # running sum, then per-session rollup (operators/sessionize.py).
    # Rides the user-bucketed events table on layout dirs (the j5
    # discipline: the lag/sum windows' required distribution is
    # satisfied by the bucketing, no Exchange).
    from nerd_spark.operators.sessionize import session_stats
    from nerd_spark.sources.layout import bucketed_events

    ev = bucketed_events(spark, sf_dir)
    if ev is None:
        ev = t(spark, sf_dir, "events")
    return session_stats(ev, "user_id", order_tiebreak="event_id", gap_minutes=30)


# Shared by funnel_stages (raw/serve-gated) and funnel_stages_served
# (in-query fold+serve) — identical semantics, one oracle text.
_FUNNEL_SQL = """
    WITH t1 AS (
      SELECT user_id, min(ts) AS t FROM events
      WHERE event_type = 'view' GROUP BY 1
    ),
    t2 AS (
      SELECT e.user_id, min(e.ts) AS t FROM events e
      JOIN t1 ON e.user_id = t1.user_id
      WHERE e.event_type = 'click' AND e.ts >= t1.t GROUP BY 1
    ),
    t3 AS (
      SELECT e.user_id, min(e.ts) AS t FROM events e
      JOIN t2 ON e.user_id = t2.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= t2.t GROUP BY 1
    )
    SELECT 1 AS stage_idx, 'view' AS stage,
           (SELECT count(*) FROM t1) AS users,
           round((SELECT count(*) FROM t1)::DOUBLE
                 / nullif((SELECT count(*) FROM t1), 0), 6) AS rate
    UNION ALL
    SELECT 2, 'click', (SELECT count(*) FROM t2),
           round((SELECT count(*) FROM t2)::DOUBLE
                 / nullif((SELECT count(*) FROM t1), 0), 6)
    UNION ALL
    SELECT 3, 'purchase', (SELECT count(*) FROM t3),
           round((SELECT count(*) FROM t3)::DOUBLE
                 / nullif((SELECT count(*) FROM t1), 0), 6)
    """


@query("funnel_stages", _FUNNEL_SQL)
def funnel_stages(spark, sf_dir):
    # Ordered-funnel conversion (operators/funnels.py): stage times
    # reduce to per-user scalar mins with VALUE semantics (t_i =
    # min ts of stage i at-or-after t_{i-1}), so each stage is one
    # pushed-down filter + map-side-combined min + a user-key join —
    # no window, no per-user sort, partition-invariant by
    # construction.
    #
    # Serve path (the op_merge discipline): ingest maintains the
    # per-user distinct (ts, stage) state — the exact mergeable
    # reduction; scalar t_i states cannot fold under late data — with
    # resolved t1..tk columns, plus the 3-row resolved result cache.
    # Serving prefers the result cache (a file read), then the state
    # scalars (one O(users) column scan, arrays pruned away), then
    # the raw recompute (the driver's sf0.01 correctness runs; every
    # oracle stays on raw). served==raw pinned by
    # tests/test_summary_funnel_cohort.py.
    from nerd_spark.operators.funnels import funnel, funnel_rows_from_times
    from nerd_spark.sources.layout import (
        SUMMARY_FUNNEL_DIRNAME,
        SUMMARY_FUNNEL_RESULT_DIRNAME,
        serve_table,
    )

    stages = ["view", "click", "purchase"]
    res = serve_table(
        spark,
        sf_dir,
        SUMMARY_FUNNEL_RESULT_DIRNAME,
        {"stages": stages},
        ("stage_idx", "stage", "users", "rate"),
    )
    if res is not None:
        return res.select("stage_idx", "stage", "users", "rate")
    tcols = tuple(f"t{i}" for i in range(1, len(stages) + 1))
    st = serve_table(
        spark, sf_dir, SUMMARY_FUNNEL_DIRNAME, {"stages": stages}, tcols
    )
    if st is not None:
        return funnel_rows_from_times(st.select(*tcols), stages)
    return funnel(t(spark, sf_dir, "events"), stages)


@query("funnel_stages_served", _FUNNEL_SQL)
def funnel_stages_served(spark, sf_dir):
    # Serve-tier certification under the DRIVER's hash gate (r11
    # verdict #3): on a plain data dir no serve tables exist, so every
    # driver CORRECTNESS row for funnel_stages certifies only the raw
    # fallback. This query materializes the ingest-maintained per-user
    # state into a scratch dir INSIDE the query body — two batch folds
    # through update_funnel_summary, exercising the mergeable-state
    # path — and answers from the state tier, sharing funnel_stages'
    # oracle text. The result is localCheckpointed before the scratch
    # dir is removed.
    import os
    import shutil
    import tempfile

    from nerd_spark.operators.funnels import funnel_rows_from_times
    from nerd_spark.sources.layout import (
        FUNNEL_STAGES_DEFAULT,
        SUMMARY_FUNNEL_DIRNAME,
        update_funnel_summary,
    )

    stages = list(FUNNEL_STAGES_DEFAULT)
    ev = t(spark, sf_dir, "events")
    d = tempfile.mkdtemp(prefix="nerd_funnel_served_")
    try:
        update_funnel_summary(
            spark, d, ev.filter(F.col("event_id") % 2 == 0), batch_id="a"
        )
        update_funnel_summary(
            spark, d, ev.filter(F.col("event_id") % 2 == 1), batch_id="b"
        )
        st = spark.read.parquet(os.path.join(d, SUMMARY_FUNNEL_DIRNAME))
        tcols = [f"t{i}" for i in range(1, len(stages) + 1)]
        return funnel_rows_from_times(
            st.select(*tcols), stages
        ).localCheckpoint()
    finally:
        shutil.rmtree(d, ignore_errors=True)


# Shared by cohort_retention (raw/serve-gated) and
# cohort_retention_served (in-query fold+serve) — one oracle text.
_COHORT_SQL = """
    WITH a AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'signup'
                      THEN CAST(ts AS DATE) END) AS d0
      FROM events WHERE user_id IS NOT NULL GROUP BY 1
    ),
    c AS (
      SELECT user_id, d0, strftime(d0, '%Y-%m-%d') AS cohort_date
      FROM a WHERE d0 IS NOT NULL
    ),
    sizes AS (
      SELECT cohort_date, count(*) AS cohort_size FROM c GROUP BY 1
    ),
    act AS (
      SELECT DISTINCT c.user_id, c.cohort_date,
             date_diff('day', c.d0, CAST(e.ts AS DATE)) // 7 AS period
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE CAST(e.ts AS DATE) >= c.d0
        AND date_diff('day', c.d0, CAST(e.ts AS DATE)) // 7 < 4
    ),
    cnt AS (
      SELECT cohort_date, period, count(*) AS active_users
      FROM act GROUP BY 1, 2
    )
    SELECT cnt.cohort_date, period, cohort_size, active_users,
           round(active_users * 1.0 / cohort_size, 6) AS retention
    FROM cnt JOIN sizes ON cnt.cohort_date = sizes.cohort_date
    """


@query("cohort_retention", _COHORT_SQL)
def cohort_retention_q(spark, sf_dir):
    # Weekly day-granularity cohort retention anchored on first
    # signup (operators/funnels.py): ONE shuffle on the user key —
    # collect_set of distinct active days partially aggregates
    # map-side and the anchor rides the same aggregation; periods
    # resolve as array HOFs. The oracle states the same day
    # semantics join-wise (correctness contract, not the plan).
    #
    # Serve path: ingest maintains the per-user (day set, per-type
    # first day) state — monotone sets, exactly mergeable — plus the
    # resolved result cache for the default binding. Prefer the
    # result cache (cohorts x periods rows), then the state (one
    # O(users) pass through the shared retention_from_per_user
    # resolution), then raw recompute; oracles stay on raw.
    from nerd_spark.operators.funnels import (
        cohort_retention,
        cohort_state_to_per_user,
        retention_from_per_user,
    )
    from nerd_spark.sources.layout import (
        COHORT_DEFAULTS,
        SUMMARY_COHORT_DIRNAME,
        SUMMARY_COHORT_RESULT_DIRNAME,
        serve_table,
    )

    out_cols = (
        "cohort_date", "period", "cohort_size", "active_users", "retention",
    )
    res = serve_table(
        spark, sf_dir, SUMMARY_COHORT_RESULT_DIRNAME, COHORT_DEFAULTS,
        out_cols,
    )
    if res is not None:
        return res.select(*out_cols)
    st = serve_table(
        spark, sf_dir, SUMMARY_COHORT_DIRNAME, {}, ("u", "days", "anchors")
    )
    if st is not None:
        return retention_from_per_user(
            cohort_state_to_per_user(st, COHORT_DEFAULTS["anchor_type"]),
            COHORT_DEFAULTS["period_days"],
            COHORT_DEFAULTS["n_periods"],
        )
    return cohort_retention(t(spark, sf_dir, "events"), "signup")


@query("cohort_retention_served", _COHORT_SQL)
def cohort_retention_served(spark, sf_dir):
    # Serve-tier certification of the COHORT fold under the driver's
    # hash gate (r12 verdict #2 — the funnel_stages_served recipe
    # applied to the day-set/anchor-min merge algebra): fold two
    # batches with distinct batch_ids through update_cohort_summary
    # into a scratch dir inside the query body, then answer from the
    # RESULT CACHE it maintains — certifying the monotone-set state
    # merge AND the result derivation against cohort_retention's
    # oracle. The result is localCheckpointed before the scratch dir
    # is removed.
    import os
    import shutil
    import tempfile

    from nerd_spark.sources.layout import (
        SUMMARY_COHORT_RESULT_DIRNAME,
        update_cohort_summary,
    )

    ev = t(spark, sf_dir, "events")
    d = tempfile.mkdtemp(prefix="nerd_cohort_served_")
    try:
        update_cohort_summary(
            spark, d, ev.filter(F.col("event_id") % 2 == 0), batch_id="a"
        )
        update_cohort_summary(
            spark, d, ev.filter(F.col("event_id") % 2 == 1), batch_id="b"
        )
        res = spark.read.parquet(
            os.path.join(d, SUMMARY_COHORT_RESULT_DIRNAME)
        )
        return res.select(
            "cohort_date", "period", "cohort_size", "active_users",
            "retention",
        ).localCheckpoint()
    finally:
        shutil.rmtree(d, ignore_errors=True)


@query("a1_daily_served", _A1_SQL)
def a1_daily_served(spark, sf_dir):
    # Serve-tier certification of the DAILY fold (the last four fold
    # algebras join the driver's hash gate this round — see
    # funnel_stages_served for the recipe): two batches folded through
    # update_daily_summary's additive (entity, d, cat) merge into a
    # scratch summary, answered from the folded table.
    import os
    import shutil
    import tempfile

    from nerd_spark.sources.layout import update_daily_summary

    ev = t(spark, sf_dir, "events")
    d = tempfile.mkdtemp(prefix="nerd_daily_served_")
    try:
        p = os.path.join(d, "summary_daily.parquet")
        update_daily_summary(
            spark, p, ev.filter(F.col("event_id") % 2 == 0), batch_id="a"
        )
        update_daily_summary(
            spark, p, ev.filter(F.col("event_id") % 2 == 1), batch_id="b"
        )
        s = spark.read.parquet(p)
        return s.select(
            F.col("entity").alias("user_id"),
            F.date_format("d", "yyyy-MM-dd").alias("d"),
            F.col("cat").alias("event_type"),
            "n",
            F.round(F.col("val_dec").cast("double"), 2).alias("val"),
        ).localCheckpoint()
    finally:
        shutil.rmtree(d, ignore_errors=True)


@query("a2_window_served", _A2_SQL)
def a2_window_served(spark, sf_dir):
    # Serve-tier certification of the WINDOW fold (touched buckets
    # re-derived from the daily summary, only `total` additive,
    # composed behind the daily fold exactly as the ingest job orders
    # them): per batch, fold daily THEN window, and answer a2's
    # projection from the folded window table. The event-id-parity
    # split makes batch two all late data for every day: a same-day
    # fold whose buckets re-derive from daily holding both batches.
    import os
    import shutil
    import tempfile

    from nerd_spark.sources.layout import (
        SUMMARY_DAILY_DIRNAME,
        SUMMARY_WINDOW_DIRNAME,
        update_daily_summary,
        update_window_summary,
    )

    ev = t(spark, sf_dir, "events")
    d = tempfile.mkdtemp(prefix="nerd_window_served_")
    try:
        dp = os.path.join(d, SUMMARY_DAILY_DIRNAME)
        wp = os.path.join(d, SUMMARY_WINDOW_DIRNAME)
        for bid, pred in (("a", 0), ("b", 1)):
            b = ev.filter(F.col("event_id") % 2 == pred)
            update_daily_summary(spark, dp, b, batch_id=bid)
            update_window_summary(spark, wp, dp, b, batch_id=bid)
        w = spark.read.parquet(wp)
        return w.select(
            F.col("entity").alias("user_id"),
            "total",
            "total1",
            "total7",
            "total30",
            F.size("cats7").cast("long").alias("cats_7d"),
        ).localCheckpoint()
    finally:
        shutil.rmtree(d, ignore_errors=True)


@query("op_merge_served", _OP_MERGE_SQL)
def op_merge_served(spark, sf_dir):
    # Serve-tier certification of the MERGED-SNAPSHOT fold (§2.4 op
    # algebra: add / setmax / setmin / add_to_set / last-writer-wins
    # states folded per batch by merge_snapshots): two batches through
    # update_merged_summary, answered from the folded state.
    import os
    import shutil
    import tempfile

    from nerd_spark.sources.layout import update_merged_summary

    ev = t(spark, sf_dir, "events")
    d = tempfile.mkdtemp(prefix="nerd_merged_served_")
    try:
        p = os.path.join(d, "summary_merged.parquet")
        update_merged_summary(
            spark, p, ev.filter(F.col("event_id") % 2 == 0), batch_id="a"
        )
        update_merged_summary(
            spark, p, ev.filter(F.col("event_id") % 2 == 1), batch_id="b"
        )
        snap = spark.read.parquet(p)
        return snap.select(
            "user_id",
            "total",
            F.col("last_arrival.ts").alias("last_activity"),
            "first_seen",
            F.array_join("types_arr", "|").alias("types"),
            F.round("last_value", 2).alias("last_value"),
        ).localCheckpoint()
    finally:
        shutil.rmtree(d, ignore_errors=True)


# ---------------------------------------------------------------------------
# §2.4 array_upsert in aggregation form: rebuild the per-entity
# `events` array-of-structs exactly as the reference's record carries
# it (reference: warden_receiver.py:555-558 array_upsert events
# {date,node,cat} n+=1 — here explode->groupBy->sorted rebuild).
# ---------------------------------------------------------------------------


@query(
    "op_array_upsert_rebuild",
    """
    WITH daily AS (
      SELECT user_id, strftime(ts, '%Y-%m-%d') AS d, event_type AS cat,
             count(*) AS n
      FROM events GROUP BY 1, 2, 3
    )
    SELECT user_id,
           array_to_string(
             list_sort(list(d || '|' || cat || '|' || n::VARCHAR)),
             ';') AS events_arr,
           count(*) AS n_buckets
    FROM daily GROUP BY 1
    """,
)
def op_array_upsert_rebuild(spark, sf_dir):
    # The aggregation-form rewrite of array_upsert (SURVEY §2.4): the
    # daily buckets collect back into one deterministic array per
    # entity — serialized to a string so the oracle hash covers the
    # array contents, not just its cardinality.
    daily = _daily(spark, sf_dir)
    return daily.groupBy(F.col("entity").alias("user_id")).agg(
        F.array_join(
            F.sort_array(
                F.collect_list(
                    F.concat_ws(
                        "|",
                        F.date_format("d", "yyyy-MM-dd"),
                        "cat",
                        F.col("n").cast("string"),
                    )
                )
            ),
            ";",
        ).alias("events_arr"),
        F.count("*").alias("n_buckets"),
    )


# ---------------------------------------------------------------------------
# A2 at scale: approximate distinct (HLL) — rows-only (approx values
# differ across engines by design; the exact variant is the oracle)
# ---------------------------------------------------------------------------


@query("a2_window_totals_approx", golden_oracle("a2_window_totals_approx"))
# HLL sketch values are engine-specific by design (the exact-distinct
# variant a2_window_totals is the semantic oracle); this pins Spark's
# own sketch output via the committed golden (queries/golden.py).
def a2_window_totals_approx(spark, sf_dir):
    # approx_count_distinct replaces count_distinct at the 100 TB
    # scale point (SURVEY A2 note): HLL sketches merge map-side, so
    # the distinct computation stays one partial-aggregated shuffle.
    dwa = _daily_with_asof(spark, sf_dir)
    age = F.datediff(F.to_date("as_of"), F.col("d"))
    return dwa.groupBy("entity").agg(
        F.sum("n").alias("total"),
        F.approx_count_distinct(F.when(age <= 7, F.col("cat"))).alias("cats_7d_approx"),
    )
