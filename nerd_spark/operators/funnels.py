"""Ordered-funnel and cohort-retention analytics over event streams.

The reference's event model (per-entity event arrays with dates and
categories — common/eventdb_psql.py stores per-IP event rows;
NERDd/core keeps per-entity daily buckets) supports exactly the
questions a security/product analyst asks of 100 TB of telemetry:
"how many entities progressed view -> click -> purchase, in order?"
and "of the entities first seen in week W, how many were active k
weeks later?". Neither is a plain groupBy — both need ORDER among a
user's events — but neither needs a per-user sort either:

- funnel: stage times reduce to per-user scalars
  t_i = min(ts of stage i with ts >= t_{i-1}) — VALUE semantics, not
  row-adjacency. ONE shuffle on the user key: stage-typed events
  (pushed In filter) gather per user and the t_i resolve as JVM
  array HOFs. A join-per-stage form (each stage's events against the
  previous stage's per-user scalars) measured warm-equal at the
  160x/320x stress points but pays len(stages) shuffles and sorted
  joins; the single-aggregation form has one exchange and a better
  cold pass.
- cohort retention: day granularity makes the per-user state a SET
  of distinct active days, so collect_set partially aggregates
  map-side and the cohort anchor (min anchor-day) rides the SAME
  aggregation — again one user-key shuffle; periods resolve as array
  HOFs over the day set. The join form (events x per-user anchors +
  corpus-wide distinct) measured 2.3-5x slower at 160x.

Value semantics make both oracle-exact: every derived quantity is a
min/count over values, independent of row order and partitioning.

At 100 TB: funnels and cohorts are the canonical "big fact table,
tiny result" aggregations — one map-side-combined exchange on the
entity key, per-entity state bounded by that entity's own activity,
and nothing downstream wider than cohorts x periods rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _qualifies(st, prev):
    # closure factory: pyspark counts the lambda's parameters, so
    # captured values must not appear as defaulted params
    return lambda x: (x["et"] == F.lit(st)) & (x["ts"] >= prev)


def _chain_times(df: DataFrame, stages: list[str], arr_col: str) -> DataFrame:
    """Add t2..tk columns row-locally: t_i = min ts of stage i at or
    after t_{i-1} (array HOFs over the per-user gathered events — no
    shuffle). Expects ``t1`` present and ``arr_col`` holding
    struct(ts, et) rows of the non-first (or all) stage events."""
    for i, st in enumerate(stages[1:], start=2):
        df = df.withColumn(
            f"t{i}",
            F.array_min(
                F.transform(
                    F.filter(arr_col, _qualifies(st, F.col(f"t{i - 1}"))),
                    lambda x: x["ts"],
                )
            ),
        )
    return df


def funnel_rows_from_times(times: DataFrame, stages: list[str]) -> DataFrame:
    """Final (stage_idx, stage, users, rate) rows from resolved
    per-user t1..tk columns — ONE tiny global aggregation. Shared by
    the raw operator and the layout serve path (the serve table stores
    the resolved scalars, so serving reads k timestamp columns and
    never touches the per-user arrays — parquet column pruning)."""
    counts = times.agg(
        *[
            F.sum(F.col(f"t{i}").isNotNull().cast("long")).alias(f"c{i}")
            for i in range(1, len(stages) + 1)
        ]
    )
    rows = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("stage_idx"),
                    F.lit(st).alias("stage"),
                    F.coalesce(F.col(f"c{i}"), F.lit(0)).alias("users"),
                )
                for i, st in enumerate(stages, start=1)
            ]
        )
    )
    return counts.select(
        rows.alias("r"), F.coalesce("c1", F.lit(0)).alias("_base")
    ).select(
        F.col("r.stage_idx").alias("stage_idx"),
        F.col("r.stage").alias("stage"),
        F.col("r.users").alias("users"),
        F.when(
            F.col("_base") > 0, F.round(F.col("r.users") / F.col("_base"), 6)
        )
        .otherwise(F.lit(None).cast("double"))
        .alias("rate"),
    )


def funnel(
    events: DataFrame,
    stages: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered-funnel conversion: stage i counts users whose earliest
    qualifying stage-i event is at or after their earliest qualifying
    stage-(i-1) event.

    Returns (stage_idx int, stage string, users long, rate double) —
    rate = round(users / stage-1 users, 6); one row per stage, stage-1
    rate is 1.0 (or rates are null in the 0-user degenerate case).

    Shape: ONE shuffle on the user key. The events of all stages
    gather per user (collect_list of (ts, stage) structs — only
    stage-typed events survive the pushed-down filter), stage times
    resolve as JVM-side array HOFs (t_i = array_min of the qualifying
    subset, null when empty), and the stage counts are one final
    aggregation. A per-stage join formulation (stage i's events
    joined to stage i-1's per-user scalars) measured 8x slower at the
    160x stress point: len(stages)-1 shuffle joins, each sorting the
    bigger side, against one combined shuffle here.

    The per-user gathered array is bounded by that user's stage-typed
    event count — fine for entity-keyed telemetry at any corpus
    scale; a pathological single-entity stream (one key holding a
    meaningful fraction of the corpus) should pre-filter or bucket
    by time before funneling.
    """
    if not stages:
        raise ValueError("stages must be non-empty")
    e = events.select(
        F.col(user_col).alias("u"),
        F.col(ts_col).alias("ts"),
        F.col(type_col).alias("et"),
    ).filter(F.col("ts").isNotNull() & F.col("et").isin(list(stages)))
    per_u = e.groupBy("u").agg(
        F.min(F.when(F.col("et") == stages[0], F.col("ts"))).alias("t1"),
        F.collect_list(
            F.when(F.col("et") != stages[0], F.struct("ts", "et"))
        ).alias("arr"),
    )
    per_u = _chain_times(per_u, stages, "arr")
    return funnel_rows_from_times(per_u, stages)


def funnel_user_state(
    events: DataFrame,
    stage_types: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Per-user MERGEABLE funnel state: the distinct (ts, stage) pairs
    of stage-typed events, gathered in one map-side-combined user-key
    shuffle. Returns (u, st_arr: array<struct<ts, et>>, sorted for
    deterministic storage).

    This is the minimal EXACT state under out-of-order arrival: a late
    stage-1 event can lower t1 and retroactively qualify stage-2
    timestamps that any bounded (t1..tk) scalar state already
    discarded (streaming/cohort_stream.py's impossibility note). The
    distinct SET stays exact because resolution is value-semantics
    mins over the set — duplicates and order never matter — and sets
    union associatively, so per-batch ingest folds
    (sources/layout.py::update_funnel_summary) reproduce the one-shot
    gather exactly. State is bounded by the user's own distinct
    stage-typed activity, the same bound as the batch operator's
    gathered array.
    """
    if not stage_types:
        raise ValueError("stage_types must be non-empty")
    e = events.select(
        F.col(user_col).alias("u"),
        F.col(ts_col).alias("ts"),
        F.col(type_col).alias("et"),
    ).filter(F.col("ts").isNotNull() & F.col("et").isin(list(stage_types)))
    return e.groupBy("u").agg(
        F.array_sort(F.collect_set(F.struct("ts", "et"))).alias("st_arr")
    )


def merge_funnel_state(old: DataFrame, new: DataFrame) -> DataFrame:
    """Fold two per-user funnel states: set union per user (null-safe
    user key — the batch operator and the DuckDB oracle both keep the
    null-user group)."""
    o, n = old.alias("o"), new.alias("n")
    return o.join(
        n, F.col("o.u").eqNullSafe(F.col("n.u")), "full_outer"
    ).select(
        F.coalesce(F.col("o.u"), F.col("n.u")).alias("u"),
        F.array_sort(
            F.array_union(
                F.coalesce(F.col("o.st_arr"), F.array()),
                F.coalesce(F.col("n.st_arr"), F.array()),
            )
        ).alias("st_arr"),
    )


def resolve_funnel_times(state: DataFrame, stages: list[str]) -> DataFrame:
    """Row-local stage-time resolution over the per-user state
    (no shuffle): adds t1..tk columns for the given stage sequence.
    Any sequence over the state's stored stage types resolves exactly
    — the state keeps every distinct stage-typed timestamp."""
    if not stages:
        raise ValueError("stages must be non-empty")
    first = stages[0]
    out = state.withColumn(
        "t1",
        F.array_min(
            F.transform(
                F.filter(
                    "st_arr", lambda x: x["et"] == F.lit(first)
                ),
                lambda x: x["ts"],
            )
        ),
    )
    return _chain_times(out, stages, "st_arr")


def cohort_user_state(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Per-user MERGEABLE cohort state: (u, days: array<date> of
    distinct active days, anchors: map<event_type, date> of each
    type's first day). Serves cohort_retention for ANY anchor type /
    period length / period count — d0 is a map lookup, days feed the
    shared period resolution (retention_from_per_user).

    Mergeable exactly: day sets union, anchors zip-min — both
    order-insensitive, so per-batch ingest folds
    (sources/layout.py::update_cohort_summary) equal the one-shot
    aggregation. Two aggregations, but the first ((u, et) grain)
    bounds the second at |users| x |types| rows; day granularity keeps
    the state at the user's own distinct (type, day) activity.
    """
    e = events.select(
        F.col(user_col).alias("u"),
        F.to_date(ts_col).alias("d"),
        F.col(type_col).alias("et"),
    ).filter(F.col(ts_col).isNotNull() & F.col(user_col).isNotNull())
    g1 = e.groupBy("u", "et").agg(
        F.collect_set("d").alias("ds"), F.min("d").alias("md")
    )
    return g1.groupBy("u").agg(
        F.array_sort(
            F.array_distinct(F.flatten(F.collect_list("ds")))
        ).alias("days"),
        # null-typed events contribute activity days above but can
        # never be an anchor (null et matches no requested
        # anchor_type, exactly as on the raw path) — and a null map
        # key would throw. collect_list skips the null struct.
        F.map_from_entries(
            F.array_sort(
                F.collect_list(
                    F.when(F.col("et").isNotNull(), F.struct("et", "md"))
                )
            )
        ).alias("anchors"),
    )


def merge_cohort_state(old: DataFrame, new: DataFrame) -> DataFrame:
    """Fold two per-user cohort states: day-set union, per-type
    first-day min (map_zip_with; F.least skips the null of a type
    present on only one side)."""
    empty_days = F.array().cast("array<date>")
    empty_map = F.map_from_entries(
        F.array().cast("array<struct<et:string,md:date>>")
    )
    o, n = old.alias("o"), new.alias("n")
    return o.join(n, F.col("o.u") == F.col("n.u"), "full_outer").select(
        F.coalesce(F.col("o.u"), F.col("n.u")).alias("u"),
        F.array_sort(
            F.array_union(
                F.coalesce(F.col("o.days"), empty_days),
                F.coalesce(F.col("n.days"), empty_days),
            )
        ).alias("days"),
        F.map_zip_with(
            F.coalesce(F.col("o.anchors"), empty_map),
            F.coalesce(F.col("n.anchors"), empty_map),
            lambda _k, v1, v2: F.least(v1, v2),
        ).alias("anchors"),
    )


def cohort_state_to_per_user(
    state: DataFrame, anchor_type: str
) -> DataFrame:
    """Resolve the generic per-user state to the (d0, days) frame
    retention_from_per_user consumes — a row-local map lookup
    (try_element_at: missing anchor type -> null -> filtered, matching
    the batch operator's no-anchor exclusion)."""
    return state.select(
        F.try_element_at("anchors", F.lit(anchor_type)).alias("d0"),
        "days",
    ).filter(F.col("d0").isNotNull())


def cohort_retention(
    events: DataFrame,
    anchor_type: str,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    period_days: int = 7,
    n_periods: int = 4,
) -> DataFrame:
    """Cohort retention: users anchored by their FIRST ``anchor_type``
    event, grouped into cohorts by that anchor's calendar DATE, and
    counted active in period k when any event lands on a day in
    [anchor_date + k*period_days, anchor_date + (k+1)*period_days) —
    period 0 is the anchor period itself (including same-day activity
    before the anchor event, the standard product-analytics
    convention). Users with null ids or no anchor event never appear.

    Returns (cohort_date string yyyy-MM-dd, period long, cohort_size
    long, active_users long, retention double). Periods 0..n_periods-1
    appear only when at least one cohort user is active in them (no
    dense zero-fill — at scale the dense frame is cohorts x periods
    of mostly-zero rows; the oracle mirrors the sparse contract).

    Shape: ONE shuffle on the user key. Day granularity makes the
    per-user state a SET of distinct active days — collect_set
    partially aggregates map-side, so the shuffle carries one
    deduplicated row per user — and the anchor (min anchor-day) rides
    the same aggregation. Periods then resolve as JVM-side array HOFs
    and one tiny (cohort, period) count. The join formulation
    (events ⋈ per-user anchors, then a corpus-wide distinct
    aggregation) measured 18.5 s warm at the 160x stress point
    against ~2.5 s for this shape: the join sorted the 16M-row side
    twice and the distinct re-shuffled the corpus.

    Period membership is exact: datediff yields small day integers,
    whose divide-then-truncate equals the oracle's integer floor
    division for the non-negative day counts involved (doubles
    represent these integers exactly).
    """
    if period_days <= 0:
        raise ValueError(f"period_days must be positive, got {period_days}")
    if n_periods <= 0:
        raise ValueError(f"n_periods must be positive, got {n_periods}")
    e = events.select(
        F.col(user_col).alias("u"),
        F.to_date(ts_col).alias("d"),
        F.col(type_col).alias("et"),
    ).filter(F.col(ts_col).isNotNull() & F.col(user_col).isNotNull())
    per_u = (
        e.groupBy("u")
        .agg(
            F.min(F.when(F.col("et") == anchor_type, F.col("d"))).alias(
                "d0"
            ),
            F.collect_set("d").alias("days"),
        )
        .filter(F.col("d0").isNotNull())
    )
    return retention_from_per_user(per_u, period_days, n_periods)


def retention_from_per_user(
    per_u: DataFrame, period_days: int, n_periods: int
) -> DataFrame:
    """Resolve (cohort_date, period, cohort_size, active_users,
    retention) from the per-user (d0, days) reduction — shared by the
    batch operator above and the cohort fold's serves (the
    summary table and streaming/cohort_stream.py), which arrive at
    the same per-user state by different aggregations."""
    from nerd_spark.operators.cacheutil import tie_unpersist

    per_u = per_u.select(
        "d0",
        "days",
        F.date_format("d0", "yyyy-MM-dd").alias("cohort_date"),
    ).persist()  # two consumers (sizes + active); tied to the result
    sizes = per_u.groupBy("cohort_date").agg(
        F.count("*").alias("cohort_size")
    )
    periods = F.array_distinct(
        F.transform(
            F.filter("days", lambda d: d >= F.col("d0")),
            lambda d: (
                F.datediff(d, F.col("d0")).cast("double")
                / F.lit(float(period_days))
            ).cast("long"),
        )
    )
    active = (
        per_u.select(
            "cohort_date", F.explode(periods).alias("period")
        )
        .filter(F.col("period") < n_periods)
        .groupBy("cohort_date", "period")
        .agg(F.count("*").alias("active_users"))
    )
    return tie_unpersist(
        active.join(sizes, "cohort_date").select(
            "cohort_date",
            "period",
            "cohort_size",
            "active_users",
            F.round(F.col("active_users") / F.col("cohort_size"), 6).alias(
                "retention"
            ),
        ),
        per_u,
    )
