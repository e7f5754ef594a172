"""Relational query family: scans (S), predicates (P), joins (J),
windows/sort/limit (W), scalar functions — SURVEY.md §2.1-2.3, 2.6-2.7.

Every query takes (spark, sf_dir) and returns a DataFrame whose column
names match the registered DuckDB oracle exactly. Doubles produced by
arithmetic are rounded on both sides so the value-hash is stable
across engines.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from nerd_spark.functions.ip import int2ipstr, ipstr2int, prefix24
from nerd_spark.plans.warden_filter import Rule, compile_filter, to_oracle_sql_case
from nerd_spark.queries.base import exact_avg, exact_sum, query, t

# ---------------------------------------------------------------------------
# Flagship: pricing summary over lineitem (TPC-H Q1 shape).
# Exercises scan + filter pushdown + hash agg with partial aggregation —
# the canonical Catalyst-optimized plan (one shuffle, WSCG end to end).
# ---------------------------------------------------------------------------


@query(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                        AS sum_qty,
           round(CAST(sum(CAST(round(l_extendedprice, 4) AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_base_price,
           round(CAST(sum(CAST(round(l_extendedprice * (1 - l_discount), 4) AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_disc_price,
           round(CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax), 4) AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_charge,
           CAST((2 * CAST(sum(l_quantity) AS BIGINT) * 1000000 + count(*))
                // (2 * count(*)) AS DOUBLE) / 1e6                          AS avg_qty,
           round(CAST(sum(CAST(round(l_extendedprice, 4) AS DECIMAL(18,4))) AS DOUBLE) / count(*), 6) AS avg_price,
           round(CAST(sum(CAST(round(l_discount, 4) AS DECIMAL(18,4))) AS DOUBLE) / count(*), 6) AS avg_disc,
           count(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark, sf_dir):
    # Serve path (r8): the ingest-maintained per-(shipdate, flag,
    # status) partial-aggregate table (sources/layout.py — the
    # reference's cron-refreshed meta-table discipline). Every q1
    # measure is additive over exact representations (u4 longs,
    # exact-integer quantity doubles, counts) and the shipdate filter
    # lands on the partial's group key, so re-aggregating |days|x6
    # partial rows is BIT-IDENTICAL to the raw scan (pinned in
    # tests/test_layout_u4_bucketed.py); freshness/schema gate falls back
    # to the raw path (the driver's sf0.01 correctness runs).
    from nerd_spark.sources.layout import (
        SUMMARY_Q1_DIRNAME,
        serve_table,
    )

    s = serve_table(
        spark,
        sf_dir,
        SUMMARY_Q1_DIRNAME,
        expect_cols=(
            "l_shipdate", "l_returnflag", "l_linestatus", "qty_sum",
            "ep_u4", "dp_u4", "ch_u4", "disc_u4", "n_ep", "n_disc",
            "n_qty", "cnt",
        ),
        sources=("lineitem.parquet",),
    )
    from nerd_spark.queries.base import _round, exact_avg_u4, exact_sum_u4

    if s is not None:
        return (
            s.filter(
                F.col("l_shipdate")
                <= F.lit("1998-09-02 00:00:00").cast("timestamp")
            )
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.round(F.sum("qty_sum"), 2).alias("sum_qty"),
                exact_sum_u4("ep_u4", "sum_base_price"),
                exact_sum_u4("dp_u4", "sum_disc_price"),
                exact_sum_u4("ch_u4", "sum_charge"),
                (
                    F.expr(
                        "(2 * cast(sum(qty_sum) as bigint) * 1000000 + sum(cnt))"
                        " div (2 * sum(cnt))"
                    ).cast("double")
                    / 1e6
                ).alias("avg_qty"),
                _round(
                    (F.sum("ep_u4") / F.lit(1e4)) / F.sum("n_ep"), 6
                ).alias("avg_price"),
                _round(
                    (F.sum("disc_u4") / F.lit(1e4)) / F.sum("n_disc"), 6
                ).alias("avg_disc"),
                F.sum("cnt").alias("count_order"),
            )
        )
    li = t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    # Layout-optimized dirs carry the unscaled-4dp longs materialized
    # at ingest (sources/layout.py): sum stored longs instead of
    # converting doubles per row. Raw dirs (every oracle compare) run
    # the on-the-fly path — bit-identical by construction.
    pre = "l_extendedprice_u4" in li.columns
    sums = (
        [
            exact_sum_u4("l_extendedprice_u4", "sum_base_price"),
            exact_sum_u4("l_discprice_u4", "sum_disc_price"),
            exact_sum_u4("l_charge_u4", "sum_charge"),
        ]
        if pre
        else [
            exact_sum("l_extendedprice", "sum_base_price"),
            exact_sum(disc_price, "sum_disc_price"),
            exact_sum(disc_price * (1 + F.col("l_tax")), "sum_charge"),
        ]
    )
    avgs = (
        [
            exact_avg_u4("l_extendedprice_u4", "avg_price"),
            exact_avg_u4("l_discount_u4", "avg_disc"),
        ]
        if pre
        else [
            exact_avg("l_extendedprice", "avg_price"),
            exact_avg("l_discount", "avg_disc"),
        ]
    )
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            *sums,
            (
                F.expr(
                    "(2 * cast(sum(l_quantity) as bigint) * 1000000 + count(*))"
                    " div (2 * count(*))"
                ).cast("double")
                / 1e6
            ).alias("avg_qty"),
            *avgs,
            F.count("*").alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# S — scans / sources / sinks
# ---------------------------------------------------------------------------


@query(
    "s5_point_read",
    "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment "
    "FROM customer WHERE c_custkey = 42",
)
def s5_point_read(spark, sf_dir):
    # Entity store point read (reference: NERDd/core/mongodb.py:65-95):
    # key-equality filter, pushed to the parquet scan.
    return t(spark, sf_dir, "customer").filter(F.col("c_custkey") == 42)


@query(
    "s6_filtered_find",
    "SELECT c_custkey FROM customer WHERE c_acctbal < 0",
)
def s6_filtered_find(spark, sf_dir):
    # find(query, projection=keys only) (reference: mongodb.py:122-131)
    return (
        t(spark, sf_dir, "customer").filter(F.col("c_acctbal") < 0).select("c_custkey")
    )


@query(
    "s8_event_fetch",
    """
    SELECT event_id, ts, event_type, round(value, 2) AS value
    FROM events
    WHERE user_id = 7 AND ts >= TIMESTAMP '2024-01-10 00:00:00'
    ORDER BY ts DESC, event_id DESC LIMIT 20
    """,
)
def s8_event_fetch(spark, sf_dir):
    # Event archive per-entity fetch: newest-first + limit
    # (reference: common/eventdb_psql.py:50-82).
    ev = t(spark, sf_dir, "events")
    return (
        ev.filter(
            (F.col("user_id") == 7)
            & (F.col("ts") >= F.lit("2024-01-10 00:00:00").cast("timestamp"))
        )
        .orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .limit(20)
        .select("event_id", "ts", "event_type", F.round("value", 2).alias("value"))
    )


@query(
    "s10_export_blocklist",
    """
    SELECT user_id, count(*) AS n_errors
    FROM events WHERE event_type = 'error'
    GROUP BY user_id HAVING count(*) >= 5
    """,
)
def s10_export_blocklist(spark, sf_dir):
    # Blocklist export shape: threshold filter over a per-entity metric
    # (reference: scripts/generate_blocklist.sh:20-27).
    return (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "error")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_errors"))
        .filter(F.col("n_errors") >= 5)
    )


# ---------------------------------------------------------------------------
# P — projections / filters / predicates
# ---------------------------------------------------------------------------


@query("p1_projection", "SELECT doc_id, lang, source, n_chars FROM documents")
def p1_projection(spark, sf_dir):
    # Include-list projection (reference: NERDweb/nerd_main.py:2244-2252);
    # column pruning must reach the parquet scan.
    return t(spark, sf_dir, "documents").select("doc_id", "lang", "source", "n_chars")


@query(
    "p2_range_predicate",
    "SELECT event_id, user_id, round(value,2) AS value FROM events "
    "WHERE value BETWEEN 50 AND 150",
)
def p2_range_predicate(spark, sf_dir):
    # Closed-range predicate — the subnet-scan shape
    # (reference: NERDweb/nerd_main.py:968-973).
    return (
        t(spark, sf_dir, "events")
        .filter(F.col("value").between(50, 150))
        .select("event_id", "user_id", F.round("value", 2).alias("value"))
    )


@query(
    "p3_list_or_range",
    """
    SELECT user_id, count(*) AS n FROM events
    WHERE user_id IN (1, 3, 5) OR user_id BETWEEN 10 AND 12
    GROUP BY user_id
    """,
)
def p3_list_or_range(spark, sf_dir):
    # IP-list predicate: OR of point-equalities and ranges
    # (reference: NERDweb/nerd_main.py:974-987).
    ev = t(spark, sf_dir, "events")
    pred = F.col("user_id").isin(1, 3, 5) | F.col("user_id").between(10, 12)
    return ev.filter(pred).groupBy("user_id").agg(F.count("*").alias("n"))


@query(
    "p4_suffix_predicate",
    "SELECT c_custkey, c_name FROM customer WHERE c_name LIKE '%1'",
)
def p4_suffix_predicate(spark, sf_dir):
    # Hostname-suffix search via the reversed-string trick
    # (reference: NERDd/core/mongodb.py:91-93; nerd_main.py:990-993):
    # reverse + prefix range == endswith.
    c = t(spark, sf_dir, "customer")
    return c.filter(F.reverse(F.col("c_name")).startswith("1")).select(
        "c_custkey", "c_name"
    )


@query(
    "p5_multi_value_and_or",
    """
    SELECT doc_id, lang, source FROM documents
    WHERE (lang = 'en' OR lang = 'de') AND source IN ('src1', 'src2')
    """,
)
def p5_multi_value_and_or(spark, sf_dir):
    # User-selectable AND/OR combinator over multi-value predicates
    # (reference: NERDweb/nerd_main.py:994-1042).
    d = t(spark, sf_dir, "documents")
    return d.filter(
        ((F.col("lang") == "en") | (F.col("lang") == "de"))
        & F.col("source").isin("src1", "src2")
    ).select("doc_id", "lang", "source")


@query(
    "p6_elem_match",
    """
    SELECT DISTINCT user_id FROM (
      SELECT user_id, CAST(ts AS DATE) AS d, count(*) AS n
      FROM events GROUP BY 1, 2
    ) WHERE n >= 10
    """,
)
def p6_elem_match(spark, sf_dir):
    # $elemMatch on array-of-structs (reference: nerd_main.py:1010-1031):
    # build the per-entity daily array, then exists(arr, pred).
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy("user_id", F.to_date("ts").alias("d")).agg(
        F.count("*").alias("n")
    )
    arr = daily.groupBy("user_id").agg(
        F.collect_list(F.struct("d", "n")).alias("days")
    )
    return arr.filter(F.exists("days", lambda x: x["n"] >= 10)).select("user_id")


@query(
    "p7_json_exists",
    """
    SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k
    FROM events
    WHERE CAST(json_extract(props, '$.k') AS BIGINT) > 90
    """,
)
def p7_json_exists(spark, sf_dir):
    # Existence/JSON-path predicates over semi-structured props
    # (reference: nerd_main.py:1004-1042 _ttl/tags $exists; the tags
    # DSL reads JSONPath — modules/tags.py:477-492).
    ev = t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return ev.select("event_id", k.alias("k")).filter(F.col("k") > 90)


_P9_RULES = [
    Rule('event_type = "error"', "drop"),
    Rule("value >= 150", "pass"),
    Rule('event_type = "purchase" AND value >= 50', "sample:4"),
    Rule('event_type = "signup" OR event_type = "click"', "pass"),
]


@query(
    "p9_warden_filter_dsl",
    f"""
    SELECT event_id, event_type, round(value,2) AS value FROM events
    WHERE {to_oracle_sql_case(_P9_RULES, default="drop")}
    """,
)
def p9_warden_filter_dsl(spark, sf_dir):
    # Ingest filter DSL: first-match-wins rules with pass/drop/sample
    # actions (reference: NERDd/warden_receiver.py:209-401), compiled
    # to a single when/otherwise Column.
    ev = t(spark, sf_dir, "events")
    keep = compile_filter(_P9_RULES, ev, default="drop")
    return ev.filter(keep).select(
        "event_id", "event_type", F.round("value", 2).alias("value")
    )


@query(
    "p10_validity_filter",
    """
    WITH as_of AS (SELECT max(ts) AS now FROM events)
    SELECT event_id, ts FROM events, as_of
    WHERE ts >= now - INTERVAL 7 DAY AND ts <= now + INTERVAL 5 MINUTE
    """,
)
def p10_validity_filter(spark, sf_dir):
    # Timestamp validity window: ≤7 d old, ≤5 min future
    # (reference: warden_receiver.py:444-457,510-517; etc/nerd.yml:26-27).
    # as_of = max(ts) for determinism (SURVEY §7: injected as_of).
    ev = t(spark, sf_dir, "events")
    asof = ev.agg(F.max("ts").alias("now"))
    return (
        ev.crossJoin(F.broadcast(asof))
        .filter(
            (F.col("ts") >= F.col("now") - F.expr("INTERVAL 7 DAYS"))
            & (F.col("ts") <= F.col("now") + F.expr("INTERVAL 5 MINUTES"))
        )
        .select("event_id", "ts")
    )


# ---------------------------------------------------------------------------
# J — joins
# ---------------------------------------------------------------------------


@query(
    "j1_equi_join",
    """
    SELECT o.o_orderkey, l.l_linenumber, round(o.o_totalprice,2) AS o_totalprice,
           round(l.l_quantity,2) AS l_quantity
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderstatus = 'F' AND l.l_quantity > 45
    """,
)
def j1_equi_join(spark, sf_dir):
    # events_sources ⋈ events equi join (reference: eventdb_psql.py:69-76).
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    return li.join(o, li.l_orderkey == o.o_orderkey).select(
        "o_orderkey",
        "l_linenumber",
        F.round("o_totalprice", 2).alias("o_totalprice"),
        F.round("l_quantity", 2).alias("l_quantity"),
    )


@query(
    "j2_enrichment_chain",
    """
    SELECT c.c_custkey, n.n_name, r.r_name
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
)
def j2_enrichment_chain(spark, sf_dir):
    # ip ⋈ bgppref ⋈ asn N:1 enrichment chain
    # (reference: nerd_main.py:1100-1118, 1901-1971) — broadcast the dims.
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("c_custkey", "n_name", "r_name")
    )


_J4_BANDS = [
    (0.0, 50.0, "low"),
    (50.0, 100.0, "mid"),
    (100.0, 150.0, "high"),
    (150.0, 1e12, "extreme"),
]


@query(
    "j4_range_join",
    f"""
    WITH bands(lo, hi, band) AS (
      VALUES {", ".join(f"({lo}, {hi}, '{b}')" for lo, hi, b in _J4_BANDS)}
    )
    SELECT band, count(*) AS n,
           round(CAST(sum(CAST(round(value, 4) AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_value
    FROM events JOIN bands ON value >= lo AND value < hi
    GROUP BY band
    """,
)
def j4_range_join(spark, sf_dir):
    # Point-in-range join — the IANA-block / prefix-blacklist shape
    # (reference: NERDd/modules/whois.py:194-219 bisect into sorted
    # (start,end) blocks; redis_bl.py:46-57). Broadcast the tiny dim;
    # Catalyst turns it into BroadcastNestedLoopJoin with the range
    # predicate evaluated in codegen. For large dims, bucket the range
    # key first (see operators/rangejoin.py).
    ev = t(spark, sf_dir, "events")
    bands = spark.createDataFrame(_J4_BANDS, "lo double, hi double, band string")
    return (
        ev.join(
            F.broadcast(bands),
            (F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")),
        )
        .groupBy("band")
        .agg(F.count("*").alias("n"), exact_sum("value", "sum_value"))
    )


@query(
    "j5_asof_join",
    """
    WITH purchases AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ), clicks AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    )
    SELECT purchase_id, click_id FROM (
      SELECT p.event_id AS purchase_id,
             (SELECT c.event_id FROM clicks c
              WHERE c.user_id = p.user_id AND c.ts <= p.ts
              ORDER BY c.ts DESC, c.event_id DESC LIMIT 1) AS click_id
      FROM purchases p
    ) WHERE click_id IS NOT NULL
    """,
)
def j5_asof_join(spark, sf_dir):
    # As-of join: for each purchase, the latest preceding click of the
    # same user (attribution). Range/as-of join shape of J4/J5.
    # Spark: union + carry-forward window (operators/rangejoin.asof_join
    # shape), ONE shuffle on the user key and no row explosion. The
    # previous equi-join + max_by form fanned each purchase out to ALL
    # preceding clicks of its user before aggregating — O(sum over
    # users of purchases*clicks) intermediate rows, quadratic in
    # per-user activity (measured 1.5x the comparator at 320x; the
    # window form is linear in events). Ordering (ts, side, event_id)
    # with clicks as side 0 makes same-instant clicks visible to the
    # purchase and breaks ts ties by max event_id — bit-for-bit the
    # oracle's ORDER BY c.ts DESC, c.event_id DESC LIMIT 1.
    #
    # Layout dirs carry a user-bucketed (user_id, ts)-sorted events
    # table (sources/layout.py::write_events_bucketed): the window's
    # required distribution is satisfied by the bucketing, so the
    # plan drops its Exchange and sorts pre-sorted buckets; raw dirs
    # (every oracle) keep the shuffle plan.
    from nerd_spark.sources.layout import bucketed_events

    ev = bucketed_events(spark, sf_dir)
    if ev is None:
        ev = t(spark, sf_dir, "events")
    e = ev.filter(F.col("event_type").isin("purchase", "click")).select(
        "event_id",
        "user_id",
        "ts",
        (F.col("event_type") == "purchase").cast("int").alias("_side"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "_side", "event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    carried = e.withColumn(
        "click_id",
        F.last(
            F.when(F.col("_side") == 0, F.col("event_id")), ignorenulls=True
        ).over(w),
    )
    return (
        carried.filter((F.col("_side") == 1) & F.col("click_id").isNotNull())
        .select(F.col("event_id").alias("purchase_id"), "click_id")
    )


@query(
    "j6_bulk_lookup",
    """
    WITH wanted(user_id) AS (
      VALUES (0),(1),(2),(3),(4),(5),(6),(7),(8),(9),
             (9990),(9991),(9992),(9993),(9994)
    ), reps AS (
      SELECT user_id, count(*) AS n FROM events GROUP BY user_id
    )
    SELECT w.user_id, coalesce(r.n, 0) AS n
    FROM wanted w LEFT JOIN reps r ON w.user_id = r.user_id
    """,
)
def j6_bulk_lookup(spark, sf_dir):
    # Bulk rep lookup: posted key list left-joined, missing -> 0
    # (reference: nerd_main.py:2454-2459).
    wanted_ids = list(range(10)) + [9990, 9991, 9992, 9993, 9994]
    wanted = spark.createDataFrame([(i,) for i in wanted_ids], "user_id long")
    reps = t(spark, sf_dir, "events").groupBy("user_id").agg(F.count("*").alias("n"))
    return (
        F.broadcast(wanted)
        .join(reps, "user_id", "left")
        .select("user_id", F.coalesce("n", F.lit(0)).alias("n"))
    )


@query(
    "j8_group_stats_join_back",
    """
    WITH nat AS (
      SELECT c_nationkey,
             round(CAST(sum(CAST(round(c_acctbal, 4) AS DECIMAL(18,4))) AS DOUBLE) / count(c_acctbal), 6) AS nation_avg
      FROM customer GROUP BY c_nationkey
    )
    SELECT c.c_custkey, round(c.c_acctbal, 2) AS c_acctbal, n.nation_avg,
           round(c.c_acctbal - n.nation_avg, 6) AS diff
    FROM customer c JOIN nat n ON c.c_nationkey = n.c_nationkey
    """,
)
def j8_group_stats_join_back(spark, sf_dir):
    # FMP /24-prefix self-aggregation: group stats joined back to the
    # members (reference: NERDd/fmp_updater.py:292-355).
    c = t(spark, sf_dir, "customer")
    nat = c.groupBy("c_nationkey").agg(exact_avg("c_acctbal", "nation_avg"))
    return c.join(F.broadcast(nat), "c_nationkey").select(
        "c_custkey",
        F.round("c_acctbal", 2).alias("c_acctbal"),
        "nation_avg",
        F.round(F.col("c_acctbal") - F.col("nation_avg"), 6).alias("diff"),
    )


@query(
    "j9_semi_anti",
    """
    SELECT c_custkey, 'no_big_orders' AS why FROM customer
    WHERE c_custkey NOT IN
      (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
    """,
)
def j9_semi_anti(spark, sf_dir):
    # Anti-join: whitelist-exclusion shape (reference:
    # scripts/generate_blocklist.sh:26 tags.whitelist $exists:false;
    # semijoin P8 nerd_main.py:996-1003).
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", F.lit("no_big_orders").alias("why"))
    )


# ---------------------------------------------------------------------------
# W — sort / limit / top-k / windows / pivot
# ---------------------------------------------------------------------------


# Shared by w1_topk (raw/serve-gated) and w1_topk_served (in-query
# fold+serve) — one oracle text.
_W1_SQL = (
    "SELECT event_id, round(value,2) AS value FROM events "
    "ORDER BY value DESC, event_id LIMIT 100"
)


@query("w1_topk", _W1_SQL)
def w1_topk(spark, sf_dir):
    # Sort+limit → Catalyst TakeOrderedAndProject (no full sort)
    # (reference: nerd_main.py:955-962 sort attr + limit 1-1000).
    #
    # Serve path: top-k is an exactly mergeable sketch for
    # append-only events, so ingest maintains the k-row answer table
    # (sources/layout.py::update_topk_summary) and the query becomes
    # a 100-row file read; staleness / meta mismatch / raw dirs take
    # the TakeOrderedAndProject scan (every oracle does).
    from nerd_spark.sources.layout import (
        SUMMARY_TOPK_VALUE_DIRNAME,
        TOPK_VALUE_K,
        serve_table,
    )

    res = serve_table(
        spark,
        sf_dir,
        SUMMARY_TOPK_VALUE_DIRNAME,
        {"k": TOPK_VALUE_K, "order": "value_desc"},
        ("event_id", "value"),
    )
    if res is not None:
        return (
            res.orderBy(F.col("value").desc(), F.col("event_id"))
            .limit(100)
            .select("event_id", F.round("value", 2).alias("value"))
        )
    return (
        t(spark, sf_dir, "events")
        .orderBy(F.col("value").desc(), F.col("event_id"))
        .limit(100)
        .select("event_id", F.round("value", 2).alias("value"))
    )


@query("w1_topk_served", _W1_SQL)
def w1_topk_served(spark, sf_dir):
    # Serve-tier certification of the TOP-K fold (topk(S∪B) ==
    # topk(topk(S)∪topk(B)) for append-only data, with the event_id
    # dedupe that makes replay idempotent): two batches through
    # update_topk_summary into a scratch data dir, answered from the
    # folded k-row table — the funnel_stages_served recipe, closing
    # the last fold algebra outside the driver's hash gate.
    import os
    import shutil
    import tempfile

    from nerd_spark.sources.layout import (
        SUMMARY_TOPK_VALUE_DIRNAME,
        update_topk_summary,
    )

    ev = t(spark, sf_dir, "events")
    d = tempfile.mkdtemp(prefix="nerd_topk_served_")
    try:
        update_topk_summary(
            spark, d, ev.filter(F.col("event_id") % 2 == 0), batch_id="a"
        )
        update_topk_summary(
            spark, d, ev.filter(F.col("event_id") % 2 == 1), batch_id="b"
        )
        res = spark.read.parquet(
            os.path.join(d, SUMMARY_TOPK_VALUE_DIRNAME)
        )
        return (
            res.orderBy(F.col("value").desc(), F.col("event_id"))
            .limit(100)
            .select("event_id", F.round("value", 2).alias("value"))
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


@query(
    "w4_last_n_per_key",
    """
    SELECT user_id, event_id, ts, rn FROM (
      SELECT user_id, event_id, ts,
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn <= 3
    """,
)
def w4_last_n_per_key(spark, sf_dir):
    # Last-N-per-key (reference: intervals_between_events.py:31 keeps
    # last 21 timestamps). Rides the user-bucketed events table on
    # layout dirs (no Exchange — the j5 discipline); WindowGroupLimit
    # still prunes to N per key before the final filter.
    from nerd_spark.sources.layout import bucketed_events

    ev = bucketed_events(spark, sf_dir)
    if ev is None:
        ev = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        ev
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("user_id", "event_id", "ts", "rn")
    )


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@query(
    "w5_pivot",
    f"""
    SELECT strftime(ts, '%Y-%m-%d') AS d,
           {", ".join(f"count(*) FILTER (WHERE event_type = '{et}') AS {et}" for et in _EVENT_TYPES)}
    FROM events GROUP BY 1
    """,
)
def w5_pivot(spark, sf_dir):
    # Date × category pivot matrix (reference: nerd_main.py:1120-1172).
    ev = t(spark, sf_dir, "events")
    out = (
        ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("d"))
        .pivot("event_type", _EVENT_TYPES)
        .count()
    )
    return out.select(
        "d", *[F.coalesce(F.col(c), F.lit(0)).alias(c) for c in _EVENT_TYPES]
    )


# ---------------------------------------------------------------------------
# Scalar functions: the IPv4 int codec against an independent SQL impl
# ---------------------------------------------------------------------------


@query(
    "f_ip_codec",
    """
    WITH ips AS (
      SELECT DISTINCT user_id,
             '10.' || ((user_id // 65536) % 256) || '.' ||
             ((user_id // 256) % 256) || '.' || (user_id % 256) AS ip
      FROM events
    )
    SELECT user_id, ip,
           10 * 16777216 + ((user_id // 65536) % 256) * 65536 +
           ((user_id // 256) % 256) * 256 + (user_id % 256) AS ip_int,
           (10 * 16777216 + ((user_id // 65536) % 256) * 65536 +
            ((user_id // 256) % 256) * 256 + (user_id % 256)) // 256 AS p24
    FROM ips
    """,
)
def f_ip_codec(spark, sf_dir):
    # ipstr2int / int2ipstr / prefix24 (reference: common/utils.py:9-18,
    # fmp_updater.py:224-226) — the oracle recomputes the int from
    # arithmetic, so this cross-checks the Column implementation.
    ev = t(spark, sf_dir, "events")
    ip = F.concat_ws(
        ".",
        F.lit(10),
        ((F.col("user_id") / 65536).cast("long") % 256).cast("string"),
        ((F.col("user_id") / 256).cast("long") % 256).cast("string"),
        (F.col("user_id") % 256).cast("string"),
    )
    df = ev.select("user_id", ip.alias("ip")).distinct()
    return df.select(
        "user_id",
        "ip",
        ipstr2int("ip").alias("ip_int"),
        prefix24(ipstr2int("ip")).alias("p24"),
    ).withColumn("ip", int2ipstr("ip_int"))  # round-trip back through int


@query(
    "p8_semijoin",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE c_nationkey IN (
      SELECT n_nationkey FROM nation WHERE n_regionkey =
        (SELECT r_regionkey FROM region WHERE r_name = 'EUROPE')
    )
    """,
)
def p8_semijoin(spark, sf_dir):
    # P8: the ASN->prefix membership semijoin shape (reference:
    # nerd_main.py:996-1003 — look up the parent record, filter the
    # fact side on membership) as a left-semi join over broadcast keys.
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    keys = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select("n_nationkey")
    return c.join(
        F.broadcast(keys), c.c_nationkey == keys.n_nationkey, "left_semi"
    ).select("c_custkey", "c_name")


@query(
    "set_ops_union",
    """
    SELECT user_id, why FROM (
      SELECT DISTINCT user_id, 'big_spender' AS why FROM events
      WHERE event_type = 'purchase' AND value > 150
      UNION
      SELECT DISTINCT user_id, 'error_prone' AS why FROM events
      WHERE event_type = 'error' AND value > 150
    )
    """,
)
def set_ops_union(spark, sf_dir):
    # Set ops (SURVEY §2.7): the blacklist-concat shape
    # (nerd_main.py:935-939) as union + distinct.
    ev = t(spark, sf_dir, "events")
    a = (
        ev.filter((F.col("event_type") == "purchase") & (F.col("value") > 150))
        .select("user_id", F.lit("big_spender").alias("why"))
    )
    b = (
        ev.filter((F.col("event_type") == "error") & (F.col("value") > 150))
        .select("user_id", F.lit("error_prone").alias("why"))
    )
    return a.union(b).distinct()


@query(
    "w6_rank_lag",
    """
    SELECT user_id, event_id,
           CAST(rank() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS INT) AS rnk,
           round(value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 2) AS delta
    FROM events
    QUALIFY rnk <= 5
    """,
)
def w6_rank_lag(spark, sf_dir):
    # W6 analytic frames: rank within entity by measure + lag delta in
    # arrival order — two window specs over one shuffle partitioning.
    ev = t(spark, sf_dir, "events")
    w_rank = W.partitionBy("user_id").orderBy(F.col("value").desc(), "event_id")
    w_arr = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            "user_id",
            "event_id",
            F.rank().over(w_rank).alias("rnk"),
            F.round(F.col("value") - F.lag("value").over(w_arr), 2).alias("delta"),
        )
        .filter(F.col("rnk") <= 5)
    )
