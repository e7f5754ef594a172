"""Heavy-hitter detection without a full-cardinality shuffle.

The problem at 100 TB: "which keys account for >= phi of all rows"
(top talkers, scanner IPs, dominant terms) via a naive
``groupBy(key).count()`` shuffles the ENTIRE key universe — for
high-cardinality keys (IPs, terms, URLs) that is the biggest exchange
in the pipeline, almost all of it for keys that could never qualify.

Two-phase exact algorithm (the candidate-then-verify discipline the
LSH dedup family already uses):

1. **Batch screen (map-only)**: each Arrow batch counts its own keys
   (a C-speed ``collections.Counter``) and emits only keys with
   batch-local frequency >= phi — at most 1/phi keys per batch — plus
   one sentinel row carrying the batch's row count. The averaging
   argument makes the union a GUARANTEED superset of the global heavy
   hitters: if key k has global count >= phi*N but every batch had
   count_b < phi*n_b, summing gives count < phi*N — contradiction.
   (Same guarantee a per-batch Misra-Gries summary of width 1/phi
   provides, but the exact batch count is both a tighter screen and
   C-speed; memory is bounded by the Arrow batch size rather than the
   sketch width, which the harness already bounds.)
2. **Exact verify**: re-scan, keep only candidate keys (broadcast
   semi-join BEFORE the aggregation), count exactly, and filter
   ``cnt >= phi * N``. Only candidate keys enter the shuffle — at
   most batches/phi distinct keys, each as a map-side partial.

The final filter is exact, so the RESULT is independent of batch and
partition boundaries (only the candidate superset varies) — which is
what makes the operator oracle-checkable against plain SQL.

Scale note: the candidate set is <= batches/phi rows. At local/bench
scale it broadcasts; at extreme batch counts (millions of batches x
1/phi candidates each) pass ``broadcast_candidates=False`` so the
verify semi-join shuffles instead — still keyed by candidates only,
never the full universe. (A forced broadcast hint overrides Spark's
size-based planning unconditionally, so the escape must be explicit —
review r8, the same class as the r8 _pair_jaccard 160x fix.)
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from nerd_spark.operators.cacheutil import tie_unpersist


def _screen_fn(min_frac: float):
    def screen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n_b = len(pdf)
            if n_b == 0:
                continue
            counts = Counter(pdf["k"].tolist())
            thr = n_b * min_frac
            cands = [k for k, v in counts.items() if v >= thr]
            # dtype=object: mixing int keys with the None sentinel in
            # a plain column infers float64, which corrupts int64 keys
            # above 2^53 and silently drops those heavy hitters at the
            # verify join (review r8)
            yield pd.DataFrame(
                {
                    "k": pd.Series(cands + [None], dtype=object),
                    "_local_n": [0] * len(cands) + [n_b],
                }
            )

    return screen


def _hh_tail(hh: DataFrame, key_col: str, kt: str, min_frac: float):
    """Shared heavy-hitters finish over a PERSISTED per-key count
    frame (two consumers: the total and the threshold filter):
    (key, cnt, share) rows with cnt >= min_frac * N."""
    n_total = (hh.agg(F.sum("cnt").alias("n")).first()["n"]) or 0
    if n_total == 0:
        hh.unpersist()
        return hh.sparkSession.createDataFrame(
            [], f"{key_col} {kt}, cnt long, share double"
        )
    return tie_unpersist(
        hh.filter(
            F.col("cnt") >= F.lit(min_frac) * F.lit(n_total)
        ).select(
            key_col,
            "cnt",
            F.round(F.col("cnt") / F.lit(n_total), 6).alias("share"),
        ),
        hh,
    )


def heavy_hitters_from_counts(
    counts: DataFrame, key_col: str, min_frac: float
) -> DataFrame:
    """:func:`heavy_hitters` served from a maintained per-key count
    table (sources/layout.py::update_keycount_summaries): the corpus
    pass was paid at ingest, so the query costs two map-only O(keys)
    scans (total + threshold filter) — no shuffle, no persist (the
    materialization job costs more than re-scanning the small table;
    measured at the 160x point). CONTRACT: ``counts`` is at key grain
    (one row per key — what the maintained tables guarantee by
    construction); duplicate key rows would make the threshold see
    partial counts. Null keys are dropped here (operator contract)."""
    if not (0.0 < min_frac <= 1.0):
        raise ValueError(f"min_frac must be in (0, 1], got {min_frac}")
    src = counts.select(key_col, "cnt").filter(F.col(key_col).isNotNull())
    # ONE plan: the 1-row total rides a broadcast crossJoin instead of
    # a driver .first() round-trip — the serve is a single job (the
    # table is small, but job-launch floors dominate at this absolute)
    tot = src.agg(F.sum("cnt").alias("n"))
    return (
        src.crossJoin(F.broadcast(tot))
        .filter(F.col("cnt") >= F.lit(min_frac) * F.col("n"))
        .select(
            key_col,
            "cnt",
            F.round(F.col("cnt") / F.col("n"), 6).alias("share"),
        )
    )


def heavy_keys_min_count_from_counts(
    counts: DataFrame, key_col: str, min_count: int
) -> DataFrame:
    """:func:`heavy_keys_min_count` served from the maintained
    per-key count table — same O(keys) two-scan shape (and the same
    key-grain contract) as :func:`heavy_hitters_from_counts`, with an
    ABSOLUTE count threshold instead of a corpus fraction."""
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    src = counts.select(key_col, "cnt").filter(F.col(key_col).isNotNull())
    tot = src.agg(F.sum("cnt").alias("n"))
    return (
        src.crossJoin(F.broadcast(tot))
        .filter(F.col("cnt") >= F.lit(int(min_count)))
        .select(
            key_col,
            "cnt",
            F.round(F.col("cnt") / F.col("n"), 6).alias("share"),
        )
    )


def heavy_keys_min_count(
    df: DataFrame, key_col: str, min_count: int
) -> DataFrame:
    """Keys with an ABSOLUTE count >= min_count ("entities with at
    least N events" — the reference's per-entity event-count triggers,
    e.g. categorization thresholds counting n events over a window).

    This is the SCALE-STABLE heavy-key binding: a fractional
    heavy-hitter threshold (min_frac * corpus) goes empty the moment
    the corpus grows faster than any single key's count — which is
    exactly what happens when a key's event rate is bounded (an IP
    emits at line rate, a user clicks at human rate) while ingest
    retains more history. An absolute threshold keeps the answer
    meaningful (and its serve measurements load-bearing) at every SF.

    Plain map-side-combined count + filter: partial aggregation
    shrinks the shuffle to (distinct keys x partitions), which is the
    floor any exact per-key count pays; no screen applies (an absolute
    threshold carries no averaging-argument bound relative to corpus
    size). Returns (key_col, cnt, share); null keys ignored."""
    counts = (
        df.select(F.col(key_col)).filter(F.col(key_col).isNotNull())
        .groupBy(key_col)
        .agg(F.count("*").alias("cnt"))
    )
    return heavy_keys_min_count_from_counts(counts, key_col, min_count)


def heavy_keys_min_count_by_from_counts(
    counts: DataFrame, group_col: str, key_col: str, min_count: int
) -> DataFrame:
    """Per-group variant served from the maintained (group, key)
    count table — the :func:`heavy_hitters_by_from_counts` shape with
    an absolute threshold; share stays relative to the group total."""
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    hist = counts.select(
        F.col(group_col).alias("g"), F.col(key_col).alias("k"), "cnt"
    ).filter(F.col("k").isNotNull() & F.col("g").isNotNull())
    ng = hist.groupBy("g").agg(F.sum("cnt").alias("n"))
    return (
        hist.join(ng, "g")
        .filter(F.col("cnt") >= F.lit(int(min_count)))
        .select(
            F.col("g").alias(group_col),
            F.col("k").alias(key_col),
            "cnt",
            F.round(F.col("cnt") / F.col("n"), 6).alias("share"),
        )
    )


def heavy_keys_min_count_by(
    df: DataFrame, group_col: str, key_col: str, min_count: int
) -> DataFrame:
    """(group, key) pairs with an absolute count >= min_count — see
    :func:`heavy_keys_min_count` for why the absolute binding is the
    scale-stable one. One map-side-combined pair count; the per-group
    totals derive from the same aggregate."""
    counts = (
        df.select(group_col, key_col)
        .filter(
            F.col(key_col).isNotNull() & F.col(group_col).isNotNull()
        )
        .groupBy(group_col, key_col)
        .agg(F.count("*").alias("cnt"))
    )
    return heavy_keys_min_count_by_from_counts(
        counts, group_col, key_col, min_count
    )


def heavy_hitters(
    df: DataFrame,
    key_col: str,
    min_frac: float,
    broadcast_candidates: bool = True,
    plain_max_distinct: int = 8_000_000,
) -> DataFrame:
    """Exact heavy hitters: keys whose count >= min_frac * N.

    Returns (key_col, cnt, share) with share = round(cnt/N, 6). Null
    keys are ignored (excluded from N and from the result).

    A MEASURED cardinality probe (layout sidecar first, scanning HLL
    pass otherwise — the top_frequent/quantile discipline) routes
    bounded key universes to one plain map-side-combined count: the
    full-cardinality shuffle the screen exists to avoid is already
    distinct-bounded there, and the screen's full-column Arrow
    transfer is pure overhead (measured at 320x: 0.71 -> ~0.5 s warm
    on a 460k-key domain). On truly high-cardinality domains the
    candidate screen bounds the aggregation to keys that were locally
    heavy in at least one Arrow batch — a guaranteed superset of the
    answer (see module docstring) — so the full key universe never
    shuffles. ``plain_max_distinct=0`` skips the probe and forces the
    screen (used by top_frequent's round 2, which already measured
    the domain large).
    """
    if not (0.0 < min_frac <= 1.0):
        raise ValueError(f"min_frac must be in (0, 1], got {min_frac}")
    hint = F.broadcast if broadcast_candidates else (lambda d: d)
    kt = df.schema[key_col].dataType.simpleString()
    src = df.select(F.col(key_col).alias("k")).filter(F.col("k").isNotNull())
    if plain_max_distinct > 0:
        from nerd_spark.sources import colstats

        nd = colstats.distinct_upper_bound(df, [key_col])
        if nd is None:
            nd = src.agg(
                F.approx_count_distinct("k", 0.05).alias("nd")
            ).first()["nd"]
        if nd * 1.25 <= plain_max_distinct:
            hh = (
                src.groupBy(F.col("k").alias(key_col))
                .agg(F.count("*").alias("cnt"))
                .persist()
                # consumed twice (n_total + filter); distinct-bounded
                # by the probe. Lifetime tied to the returned frame
                # (cacheutil.tie_unpersist).
            )
            return _hh_tail(hh, key_col, kt, min_frac)
    screened = src.mapInPandas(
        _screen_fn(min_frac), f"k {kt}, _local_n long"
    ).persist()  # consumed twice (candidates + N); <= batches/phi rows.
    # Lifetime tied to the returned frame (cacheutil.tie_unpersist).
    totals = screened.groupBy().agg(F.sum("_local_n").alias("n"))  # 1 row
    cands = (
        screened.filter(F.col("_local_n") == 0)
        .select(F.col("k").alias(key_col))
        .distinct()
    )
    counts = (
        df.filter(F.col(key_col).isNotNull())
        .join(hint(cands), key_col, "left_semi")
        .groupBy(key_col)
        .agg(F.count("*").alias("cnt"))
    )
    return tie_unpersist(
        counts.crossJoin(F.broadcast(totals))
        .filter(F.col("cnt") >= F.lit(min_frac) * F.col("n"))
        .select(
            key_col,
            "cnt",
            F.round(F.col("cnt") / F.col("n"), 6).alias("share"),
        ),
        screened,
    )


def _topk_screen_fn(min_frac: float, k: int):
    """The heavy-hitter screen plus one extra sentinel statistic: the
    batch's k-th largest local count. k distinct keys each have a
    GLOBAL count >= their local count >= that value, so
    max_b(kth_b) lower-bounds the global k-th count — the bound that
    lets a failed first pass finish in exactly one guaranteed second
    pass instead of unbounded threshold halving."""

    def screen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n_b = len(pdf)
            if n_b == 0:
                continue
            counts = Counter(pdf["k"].tolist())
            thr = n_b * min_frac
            cands = [key for key, v in counts.items() if v >= thr]
            top = counts.most_common(k)
            kth = top[k - 1][1] if len(top) >= k else 0
            yield pd.DataFrame(
                {
                    "k": pd.Series(cands + [None], dtype=object),
                    "_local_n": [0] * len(cands) + [n_b],
                    "_kth": [0] * len(cands) + [kth],
                }
            )

    return screen


def _rank_bounded(topk: "DataFrame", key_col: str) -> "DataFrame":
    """Rank a POST-``limit(k)`` frame (already ordered cnt desc, key
    asc) WITHOUT a WindowExec: collect the <= k rows into one sorted
    array and posexplode — rank is the array position. The former
    unpartitioned row_number window was bounded and harmless, but its
    WindowExec logged "No Partition Defined" on every fold/serve and
    drowned out genuine global-window regressions in layout-build
    logs; a constant partitionBy doesn't help because Spark 4's
    EliminateWindowPartitions folds it away again. This shape has no
    window node at all (and one node less than the window plan: the
    single-partition sort rides the sort_array). Bounded by
    construction: the aggregate sees <= k rows."""
    st = F.struct(
        (-F.col("cnt")).alias("_nc"),
        F.col(key_col).alias("_k"),
        F.col("cnt").alias("_c"),
        F.col("share").alias("_s"),
    )
    return (
        topk.agg(F.sort_array(F.collect_list(st)).alias("_a"))
        .select(F.posexplode("_a").alias("_pos", "_r"))
        .select(
            F.col("_r._k").alias(key_col),
            F.col("_r._c").alias("cnt"),
            F.col("_r._s").alias("share"),
            (F.col("_pos") + 1).cast("int").alias("rank"),
        )
    )


def _topk_tail(hh: DataFrame, key_col: str, kt: str, k: int):
    """Shared top-k finish over a PERSISTED per-key count frame:
    (key, cnt, share, rank), ties broken by key ascending."""
    n_total = (hh.agg(F.sum("cnt").alias("n")).first()["n"]) or 0
    if n_total == 0:
        hh.unpersist()
        return hh.sparkSession.createDataFrame(
            [], f"{key_col} {kt}, cnt long, share double, rank int"
        )
    topk = (
        hh.select(
            key_col,
            "cnt",
            F.round(F.col("cnt") / F.lit(n_total), 6).alias("share"),
        )
        .orderBy(F.col("cnt").desc(), F.col(key_col))
        .limit(k)
    )
    return tie_unpersist(_rank_bounded(topk, key_col), hh)


def top_frequent_from_counts(
    counts: DataFrame, key_col: str, k: int = 10
) -> DataFrame:
    """:func:`top_frequent` served from a maintained per-key count
    table — a map-only total + TakeOrderedAndProject over O(keys)
    rows, no corpus pass, no screen, no shuffle. Same key-grain
    contract as :func:`heavy_hitters_from_counts`."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    src = counts.select(key_col, "cnt").filter(F.col(key_col).isNotNull())
    # ONE plan (see heavy_hitters_from_counts): TakeOrderedAndProject
    # over O(keys) rows, total via broadcast crossJoin, rank window
    # over <= k rows
    tot = src.agg(F.sum("cnt").alias("n"))
    topk = (
        src.crossJoin(F.broadcast(tot))
        .select(
            key_col,
            "cnt",
            F.round(F.col("cnt") / F.col("n"), 6).alias("share"),
        )
        .orderBy(F.col("cnt").desc(), F.col(key_col))
        .limit(k)
    )
    return _rank_bounded(topk, key_col)


def top_frequent(
    df: DataFrame,
    key_col: str,
    k: int = 10,
    initial_frac: float = 0.01,
    broadcast_candidates: bool = True,
    plain_max_distinct: int = 8_000_000,
) -> DataFrame:
    """EXACT top-k most frequent keys without a full-cardinality
    shuffle, in at most TWO heavy-hitter rounds.

    Top-k-by-count has no single-pass screen guarantee (the k-th key
    can be locally thin in every batch), but it reduces to heavy
    hitters once the threshold is low enough: heavy_hitters(phi)
    returns EVERY key with count >= phi*N, so as soon as at least k
    keys qualify, the global top-k is exactly the k best of them —
    anything outside the result is < phi*N <= the k-th count.

    A MEASURED cardinality probe routes bounded key universes to a
    plain exact count first (the quantile-histogram discipline): when
    approx-distinct certifies <= ``plain_max_distinct`` keys, the
    full-cardinality shuffle the screen exists to avoid is already
    distinct-bounded and one map-side-combined groupBy + ordered
    limit is strictly cheaper than ANY screen pass — the 320x sweep
    measured the screen's full-column Arrow transfer alone at 7.6 s
    against a ~3 s plain count on a 480k-key near-uniform corpus
    where no threshold can prune. The screen path remains the tool
    for truly high-cardinality (IPs/URLs/tokens) skewed domains.

    On the screen path, round 1 screens at ``initial_frac`` while
    also collecting each batch's k-th largest local count; if fewer
    than k keys qualify, round 2 reruns at max_b(kth_b)/N — a
    certified lower bound on the global k-th count's share (see
    :func:`_topk_screen_fn`), so it is GUARANTEED to surface at
    least k keys (when at least k distinct exist; otherwise every key
    returns). Degenerate certified bounds (kth_max == 0, or a
    threshold every single occurrence clears in every batch) fall
    back to the plain exact count rather than screening to admit
    everything. Returns (key_col, cnt, share, rank), ties broken by
    key ascending.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    hint = F.broadcast if broadcast_candidates else (lambda d: d)
    kt = df.schema[key_col].dataType.simpleString()
    src = df.select(F.col(key_col).alias("k")).filter(F.col("k").isNotNull())
    # layout sidecar first (FS-stat cost), scanning probe only on raw
    # dirs / derived frames — see sources/colstats.py's safety model
    # (a stat can only pick a slower exact plan, never a wrong result)
    from nerd_spark.sources import colstats

    nd = colstats.distinct_upper_bound(df, [key_col])
    if nd is None:
        nd = src.agg(
            F.approx_count_distinct("k", 0.05).alias("nd")
        ).first()["nd"]
    if nd * 1.25 <= plain_max_distinct:
        hh = (
            src.groupBy(F.col("k").alias(key_col))
            .agg(F.count("*").alias("cnt"))
            .persist()
            # consumed twice (n_total + topk); distinct-bounded by the
            # probe. Lifetime tied to the returned frame
            # (cacheutil.tie_unpersist).
        )
        return _topk_tail(hh, key_col, kt, k)
    screened = src.mapInPandas(
        _topk_screen_fn(initial_frac, k), f"k {kt}, _local_n long, _kth long"
    ).persist()
    stats = screened.groupBy().agg(
        F.sum("_local_n").alias("n"),
        F.max("_kth").alias("kth"),
        F.max("_local_n").alias("bmax"),
    ).first()
    n_total, kth_max = stats.n or 0, stats.kth or 0
    bmax = stats.bmax or 0
    if n_total == 0:
        screened.unpersist()
        return df.sparkSession.createDataFrame(
            [], f"{key_col} {kt}, cnt long, share double, rank int"
        )
    cands = (
        screened.filter(F.col("_local_n") == 0)
        .select(F.col("k").alias(key_col))
        .distinct()
    )
    hh = (
        df.filter(F.col(key_col).isNotNull())
        .join(hint(cands), key_col, "left_semi")
        .groupBy(key_col)
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= F.lit(initial_frac) * F.lit(n_total))
        .persist()
    )
    n_round1 = hh.count()  # materializes the persisted hh fully
    screened.unpersist()  # hh is materialized; the screen frame is dead
    if n_round1 < k:  # round 2: the certified threshold
        hh.unpersist()
        # aim BETWEEN kth_max-1 and kth_max: counts are integers, so
        # cnt >= frac2*N selects exactly cnt >= kth_max while staying
        # immune to the half-ulp the frac2*N round-trip can add (a
        # threshold of exactly kth_max could otherwise exclude the
        # certifying keys and break the >= k guarantee)
        frac2 = max(kth_max - 0.5, 0.5) / n_total
        if kth_max == 0 or frac2 * bmax <= 1.0:
            # Degenerate certified bounds where the round-2 screen
            # PROVABLY prunes nothing and just Arrow-transfers the
            # full key column to keep it all:
            # - kth_max == 0: no batch held k distinct keys, the
            #   bound collapses to "admit everything" (r8 advice);
            # - frac2 * max_batch_rows <= 1: every count >= 1 clears
            #   frac2 * n_b in EVERY batch (n_b <= bmax), i.e. a
            #   near-uniform distribution where the k-th count is
            #   locally tiny — the 320x replica corpus hit this and
            #   spent 14 s screening to admit all keys.
            # A plain exact count is the same one shuffle minus the
            # useless screen pass.
            hh = (
                df.filter(F.col(key_col).isNotNull())
                .groupBy(key_col)
                .agg(F.count("*").alias("cnt"))
            )
        else:
            hh = heavy_hitters(
                df, key_col, min(frac2, 1.0),
                broadcast_candidates=broadcast_candidates,
                plain_max_distinct=0,  # domain already measured large
            ).select(key_col, "cnt")
    # top-k of the admitted set via ordered limit (TakeOrderedAndProject:
    # per-partition top-k, only n_partitions*k rows move) — the previous
    # partitionBy-less Window sorted ALL admitted rows in one task, which
    # on the degenerate path above meant the full key universe (r8
    # advice). The rank window then runs over <= k rows.
    topk = (
        hh.select(
            key_col,
            "cnt",
            F.round(F.col("cnt") / F.lit(n_total), 6).alias("share"),
        )
        .orderBy(F.col("cnt").desc(), F.col(key_col))
        .limit(k)
    )
    # hh is either the persisted round-1 frame, a tie-carrying
    # heavy_hitters result (round 2 — ownership transfers), or the
    # unpinned plain recount (tie is a no-op)
    return tie_unpersist(_rank_bounded(topk, key_col), hh)


def _group_screen_fn(min_frac: float):
    def screen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # per-(group, key) counts and per-group batch sizes — both
            # vectorized; the threshold is against the GROUP's batch
            # share, so the averaging argument holds per group
            gk = pdf.groupby(["g", "k"], dropna=False).size()
            gn = pdf.groupby("g", dropna=False).size()
            rows_g, rows_k, rows_n = [], [], []
            for (g, k), v in gk.items():
                if v >= gn[g] * min_frac:
                    rows_g.append(g)
                    rows_k.append(k)
                    rows_n.append(0)
            for g, n_b in gn.items():
                rows_g.append(g)
                rows_k.append(None)
                rows_n.append(int(n_b))
            # dtype=object on both columns: the None sentinel must not
            # coerce int64 keys (or groups) to float64 (review r8)
            yield pd.DataFrame(
                {
                    "g": pd.Series(rows_g, dtype=object),
                    "k": pd.Series(rows_k, dtype=object),
                    "_local_n": rows_n,
                }
            )

    return screen


def _hh_by_tail(
    hist: DataFrame, group_col: str, key_col: str, min_frac: float
):
    """Shared per-group heavy-hitters finish over a PERSISTED
    (g, k, cnt) frame: per-group totals derive from the same frame
    (sum over keys), join left UNHINTED — the probe bounds distinct
    (g, k) pairs, not group cardinality; AQE sees ng's real size at
    runtime and broadcasts exactly when it is small (r9 advice, the
    forced-broadcast defect class)."""
    ng = hist.groupBy("g").agg(F.sum("cnt").alias("n"))
    return tie_unpersist(
        hist.join(ng, "g")
        .filter(F.col("cnt") >= F.lit(min_frac) * F.col("n"))
        .select(
            F.col("g").alias(group_col),
            F.col("k").alias(key_col),
            "cnt",
            F.round(F.col("cnt") / F.col("n"), 6).alias("share"),
        ),
        hist,
    )


def heavy_hitters_by_from_counts(
    counts: DataFrame, group_col: str, key_col: str, min_frac: float
) -> DataFrame:
    """:func:`heavy_hitters_by` served from a maintained (group, key)
    count table — the corpus pass was paid at ingest; the query is
    two map-only O(pairs) scans (per-group totals + the unhinted
    join; no persist — see heavy_hitters_from_counts). Same
    (group, key)-grain contract as the other _from_counts serves."""
    if not (0.0 < min_frac <= 1.0):
        raise ValueError(f"min_frac must be in (0, 1], got {min_frac}")
    hist = counts.select(
        F.col(group_col).alias("g"), F.col(key_col).alias("k"), "cnt"
    ).filter(F.col("k").isNotNull() & F.col("g").isNotNull())
    ng = hist.groupBy("g").agg(F.sum("cnt").alias("n"))
    return (
        hist.join(ng, "g")
        .filter(F.col("cnt") >= F.lit(min_frac) * F.col("n"))
        .select(
            F.col("g").alias(group_col),
            F.col("k").alias(key_col),
            "cnt",
            F.round(F.col("cnt") / F.col("n"), 6).alias("share"),
        )
    )


def heavy_hitters_by(
    df: DataFrame,
    group_col: str,
    key_col: str,
    min_frac: float,
    broadcast_candidates: bool = True,
    plain_max_distinct: int = 8_000_000,
) -> DataFrame:
    """Heavy hitters WITHIN each group: keys whose count inside their
    group is >= min_frac * N_group (per-day top talkers, per-sensor
    dominant sources). Same screen+verify discipline as
    :func:`heavy_hitters` with the averaging argument applied per
    group — a key globally light but dominant inside one small group
    is found, and vice versa. Returns (group_col, key_col, cnt,
    share). Null keys AND null groups are ignored (both excluded
    from every count). ``broadcast_candidates=False`` is the
    extreme-cardinality escape (see the module scale note).

    A MEASURED cardinality probe routes bounded (group, key) domains
    to one plain map-side-combined count first (the top_frequent/
    quantile-histogram discipline): the per-group totals derive from
    that same aggregate (sum over keys), so the whole thing is ONE
    corpus pass with a distinct-bounded shuffle — the 320x sweep
    measured the screen path at 4.1x the comparator on a 2.4M-pair
    near-uniform domain where per-group thresholds prune nothing
    (4.05 -> ~1.5 s warm). The screen stays for genuinely
    high-cardinality keys.
    """
    if not (0.0 < min_frac <= 1.0):
        raise ValueError(f"min_frac must be in (0, 1], got {min_frac}")
    hint = F.broadcast if broadcast_candidates else (lambda d: d)
    gt = df.schema[group_col].dataType.simpleString()
    kt = df.schema[key_col].dataType.simpleString()
    src = df.select(
        F.col(group_col).alias("g"), F.col(key_col).alias("k")
    ).filter(F.col("k").isNotNull() & F.col(group_col).isNotNull())
    # layout sidecar first (direct pair stat, or the product of the
    # single-column stats — still an upper bound); scanning probe
    # only when no fresh sidecar covers the scan (colstats.py)
    from nerd_spark.sources import colstats

    nd = colstats.distinct_upper_bound(df, [group_col, key_col])
    if nd is None:
        nd = src.agg(
            F.approx_count_distinct(F.struct("g", "k"), 0.05).alias("nd")
        ).first()["nd"]
    if nd * 1.25 <= plain_max_distinct:
        # persisted: ng derives FROM hist — without the pin the corpus
        # aggregation runs twice (distinct-bounded by the probe).
        # Lifetime tied to the returned frame (cacheutil.tie_unpersist).
        hist = src.groupBy("g", "k").agg(F.count("*").alias("cnt")).persist()
        return _hh_by_tail(hist, group_col, key_col, min_frac)
    screened = src.mapInPandas(
        _group_screen_fn(min_frac), f"g {gt}, k {kt}, _local_n long"
    ).persist()  # see heavy_hitters
    totals = screened.filter(F.col("k").isNull()).groupBy("g").agg(
        F.sum("_local_n").alias("n")
    )
    cands = (
        screened.filter(F.col("_local_n") == 0)
        .select(
            F.col("g").alias(group_col), F.col("k").alias(key_col)
        )
        .distinct()
    )
    counts = (
        df.filter(F.col(key_col).isNotNull() & F.col(group_col).isNotNull())
        .join(hint(cands), [group_col, key_col], "left_semi")
        .groupBy(group_col, key_col)
        .agg(F.count("*").alias("cnt"))
    )
    return tie_unpersist(
        # hint-gated, not forced: totals is one row per GROUP, whose
        # cardinality the group_col argument controls — the same
        # escape (broadcast_candidates=False) that covers the
        # candidate join covers this one (r9 verdict #4)
        counts.join(
            hint(totals.withColumnRenamed("g", group_col)), group_col
        )
        .filter(F.col("cnt") >= F.lit(min_frac) * F.col("n"))
        .select(
            group_col,
            key_col,
            "cnt",
            F.round(F.col("cnt") / F.col("n"), 6).alias("share"),
        ),
        screened,
    )


_REFINE_CAP = 2_000_000  # max rows a refine may order in one task


def _hist_or_none(
    source: DataFrame,
    vals: DataFrame,
    max_rows: int,
    stat_cols: list[str] | None = None,
) -> DataFrame | None:
    """Decide histogram-vs-bracket from MEASURED cardinality and
    return the persisted (g, v, cnt) histogram, or None for bracket.

    Exact quantiles reduce to a tiny problem whenever the VALUE
    domain is bounded (rounded metrics, latencies, counts, scores —
    the common case for event measures): one map-side-combined
    ``groupBy(g, v).count()`` compresses the corpus to its distinct
    values and every quantile is then a cumulative-sum lookup. That
    path is a single corpus pass; the GK bracket path pays three.
    The danger is truly continuous data, where the histogram IS the
    corpus — so the choice is probed, never assumed, at a cost gated
    by source size (the token_stats size-gate discipline):

    - small source (< spark.nerd.quantileHistProbeBytes, default
      1 GiB — also the no-file-inputs case: in-memory test frames):
      build the histogram and probe ITS row count directly with an
      early-stopping limit on the persisted frame; a wrong guess
      wastes only a small-source aggregation.
    - large source: spend one map-only HLL pass
      (approx_count_distinct at 5% rsd, margined 1.25x) BEFORE
      shuffling anything; only a confidently-bounded histogram is
      built. The HLL pass costs ~a scan; at >= 1 GiB the bracket
      path it might replace costs multiples of that.
    """
    from nerd_spark.operators.dedup import _bytes_conf
    from nerd_spark.sources import colstats
    from nerd_spark.sources.fsutil import estimate_input_bytes

    spark = vals.sparkSession
    probe_floor = _bytes_conf(
        spark, "spark.nerd.quantileHistProbeBytes", 1 << 30
    )
    hist = vals.groupBy("g", "v").agg(F.count("*").alias("cnt"))
    if stat_cols:
        # layout sidecar: answers the bounded-domain question for the
        # cost of an FS stat — skips BOTH the size gate and the HLL
        # scan below (colstats.py safety model: table-level upper
        # bound, so a "bounded" certificate holds for any row subset;
        # an over-bound verdict routes to bracket — exact either way)
        nd = colstats.distinct_upper_bound(source, stat_cols)
        if nd is not None:
            if nd * 1.25 <= max_rows:
                return hist.persist()
            return None
    est = estimate_input_bytes(source)
    if est is not None and est >= probe_floor:
        nd = vals.agg(
            F.approx_count_distinct(F.struct("g", "v"), 0.05).alias("nd")
        ).first()["nd"]
        if nd * 1.25 > max_rows:
            return None
        # persisted into the caller's returned plan (two consumers:
        # cum-window + ng); the caller ties its lifetime to the
        # returned frame (cacheutil.tie_unpersist)
        return hist.persist()
    h = hist.persist()
    if h.limit(max_rows + 1).count() > max_rows:
        h.unpersist()
        return None
    return h


def _hist_quantiles(hist: DataFrame, probs: list[float]) -> DataFrame:
    """Serve exact per-group quantiles from a value histogram:
    cumulative counts in value order, then the pinned quantile_disc
    selector — the UNIQUE row where cum-cnt < ceil(p*n) <= cum. One
    window sort over distinct values only (bounded by the caller's
    max_histogram_rows probe), never over data rows.

    The per-group totals join is UNHINTED: ng is one row per group,
    and the histogram probe bounds (g, v) pairs, not groups — at the
    degenerate every-value-its-own-group end ng approaches the full
    8M-row bound, where a forced broadcast is the r9-advice defect
    class. AQE broadcasts it at runtime exactly when it is small
    (plan-audited: quantile_by_event_type still finalizes to a
    BroadcastHashJoin at the design point).

    The totals join is NULL-SAFE: a null group is a real group under
    the oracle's GROUP BY semantics (groupBy keeps it, but a plain
    equi-join would silently drop it — hypothesis-caught)."""
    ng = hist.groupBy("g").agg(F.sum("cnt").alias("n")).withColumnRenamed(
        "g", "_ng_g"
    )
    w = Window.partitionBy("g").orderBy("v")
    h = (
        hist.withColumn("cum", F.sum("cnt").over(w))
        .join(ng, F.col("g").eqNullSafe(F.col("_ng_g")))
        .drop("_ng_g")
    )
    picks = []
    for p in probs:
        # IEEE p*n then ceil: bit-for-bit the pinned rank formula
        k = F.greatest(
            F.lit(1).cast("long"), F.ceil(F.lit(p) * F.col("n"))
        )
        picks.append(
            F.when(
                (F.col("cum") >= k) & (F.col("cum") - F.col("cnt") < k),
                F.lit(float(p)),
            )
        )
    return h.select(
        "g",
        F.explode(
            F.filter(F.array(*picks), lambda x: x.isNotNull())
        ).alias("p"),
        F.col("v").alias("value"),
    )


def _pick_rank(frame: DataFrame, r: int, accuracy: int, cap: int):
    """Exact rank-r element of frame.v without ever ordering more
    than ~cap rows in one task (r8 verdict #2: the global refine's
    ``orderBy.limit(r)`` funneled an O(n/accuracy) bracket into a
    single task at extreme n). While the candidate count exceeds
    ``cap``, NARROW: an approx-quantile bracket around the residual
    rank plus an exact count — each round shrinks the interval by
    ~accuracy/4x, so the loop is O(log) and each pass runs over the
    caller's already-persisted bracket frame. A collapsed interval
    (lo == hi straddling the rank) IS the answer — the duplicate-
    pileup case terminates without ordering anything."""
    cin = frame.count()
    cur, rr = frame, r
    while cin > cap:
        sub_p = min(1.0, max(0.0, rr / cin))
        eps = 2.0 / accuracy
        b = cur.agg(
            F.percentile_approx(
                "v",
                [max(0.0, sub_p - eps), min(1.0, sub_p + eps)],
                accuracy,
            ).alias("b")
        ).first()["b"]
        lo2, hi2 = b[0], b[1]
        c = cur.agg(
            F.sum((F.col("v") < F.lit(lo2)).cast("long")).alias("clo"),
            F.sum(
                F.col("v").between(F.lit(lo2), F.lit(hi2)).cast("long")
            ).alias("cin"),
        ).first()
        ok = (c["clo"] or 0) < rr <= (c["clo"] or 0) + (c["cin"] or 0)
        if ok and lo2 == hi2:
            return lo2
        if not ok or (c["cin"] or 0) >= cin:
            break  # sketch pathology / no progress: correct-but-slow
        cur = cur.filter(F.col("v").between(F.lit(lo2), F.lit(hi2)))
        rr -= c["clo"]
        cin = c["cin"]
    return cur.orderBy("v").limit(rr).agg(F.max("v").alias("v")).first().v


def exact_quantiles(
    df: DataFrame,
    col: str,
    probs: list[float],
    accuracy: int = 2000,
    strategy: str = "auto",
    max_histogram_rows: int = 8_000_000,
) -> DataFrame:
    """EXACT order-statistic quantiles without a global sort.

    Returns (p double, value <col type>) with value = the element at
    rank max(1, ceil(p*n)) of the non-null values — the discrete
    quantile definition DuckDB's quantile_disc implements (pinned
    empirically across n x p boundary cases in tests), so the result
    is an actual data element and the oracle compare is exact, never
    an interpolation-parity gamble.

    Two strategies behind one exact contract, chosen by a MEASURED
    cardinality probe (see :func:`_hist_or_none`; ``strategy`` forces
    "histogram" or "bracket" — tests pin both paths equal):

    - **histogram** (bounded value domains — the bench/design-point
      corpora land here): ONE corpus pass compresses to distinct
      (value, count); quantiles are cumulative-sum lookups on that
      frame (:func:`_hist_quantiles`). Measured at 160x: 2.9 ->
      ~1.2 s warm, where the 1280-file scan floor alone is 0.8 s.
    - **bracket** (continuous domains): GK-sketch brackets at
      p -+ 2/accuracy from one aggregation pass; a second pass does
      the exact verify AND bracket materialization in one scan
      (observe() metrics + filter cache). A failed bracket (sketch
      pathology) falls back to the exact-but-slow path for that prob
      only. The per-prob refine goes through :func:`_pick_rank`,
      which narrows iteratively so no task ever orders more than
      ~`_REFINE_CAP` rows — closing the extreme-n caveat (r8 verdict
      #2) where an O(n/accuracy) bracket could funnel into a single
      ordered limit.

    At 100 TB: histogram = 1 column-pruned scan + a distinct-bounded
    shuffle (only when the probe certifies the bound); bracket = 2
    scans + sketch-bounded refines. A global sort for comparison
    shuffles the entire column. Quantile values (one scalar per prob)
    are driver artifacts by nature — the bounded-collect rule's
    legitimate case.
    """
    import math

    if not probs:
        raise ValueError("probs must be non-empty")
    if any(not (0.0 <= p <= 1.0) for p in probs):
        raise ValueError(f"probs must be in [0, 1], got {probs}")
    if strategy not in ("auto", "histogram", "bracket"):
        raise ValueError(f"unknown strategy {strategy!r}")
    spark = df.sparkSession
    kt = df.schema[col].dataType.simpleString()
    vals = df.select(F.col(col).alias("v")).filter(F.col("v").isNotNull())

    if strategy != "bracket":
        gvals = vals.select(F.lit(0).alias("g"), "v")
        hist = (
            gvals.groupBy("g", "v").agg(F.count("*").alias("cnt")).persist()
            if strategy == "histogram"
            else _hist_or_none(df, gvals, max_histogram_rows, [col])
        )
        if hist is not None:
            return tie_unpersist(
                _hist_quantiles(hist, probs).select("p", "value"), hist
            )

    eps = 2.0 / accuracy
    plos = [max(0.0, p - eps) for p in probs]
    phis = [min(1.0, p + eps) for p in probs]
    row = vals.agg(
        F.count("v").alias("n"),
        F.percentile_approx("v", plos + phis, accuracy).alias("b"),
    ).first()
    n = row.n
    if n == 0:
        return spark.createDataFrame([], f"p double, value {kt}")
    los, his = list(row.b[: len(probs)]), list(row.b[len(probs) :])
    ks = [max(1, math.ceil(p * n)) for p in probs]

    # verify counts AND bracket materialization share ONE scan:
    # observe() computes the exact-count metrics on the same pass
    # whose action caches the filtered bracket rows (scan 2 of 2;
    # the pre-observe form paid a third full scan for the counts)
    import functools
    import operator

    from pyspark.sql import Observation

    aggs = []
    for i, (lo, hi) in enumerate(zip(los, his)):
        aggs.append(
            F.sum((F.col("v") < F.lit(lo)).cast("long")).alias(f"clo{i}")
        )
        aggs.append(
            F.sum(F.col("v").between(F.lit(lo), F.lit(hi)).cast("long")).alias(
                f"cin{i}"
            )
        )
    obs = Observation()
    in_any = functools.reduce(
        operator.or_,
        [F.col("v").between(F.lit(lo), F.lit(hi)) for lo, hi in zip(los, his)],
    )
    bracket = (
        vals.observe(obs, *aggs).filter(in_any).persist()
    )  # O(probs * n/accuracy) rows
    bracket.count()  # materialize: fills the cache AND the metrics
    cnt = obs.get

    out = []
    for i, (p, k, lo, hi) in enumerate(zip(probs, ks, los, his)):
        c_lo, c_in = cnt[f"clo{i}"], cnt[f"cin{i}"]
        if c_lo < k <= c_lo + c_in:
            r = k - c_lo
            sel = bracket.filter(F.col("v").between(F.lit(lo), F.lit(hi)))
        else:  # sketch pathology: exact-but-slow global path
            r = k
            sel = vals
        v = _pick_rank(sel, r, accuracy, _REFINE_CAP)
        out.append((float(p), v))
    bracket.unpersist()
    # the |probs| answer rows as literals over a one-row inline table
    # (a LocalRelation): built in the JVM, no Python-worker round trip
    return spark.sql("VALUES (0)").select(
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(p).cast("double").alias("p"),
                        F.lit(v).cast(kt).alias("value"),
                    )
                    for p, v in out
                ]
            )
        )
    )


def exact_quantiles_by(
    df: DataFrame,
    key_col: str,
    col: str,
    probs: list[float],
    accuracy: int = 2000,
    broadcast_bounds: bool = True,
    strategy: str = "auto",
    max_histogram_rows: int = 8_000_000,
) -> DataFrame:
    """Per-group exact quantiles.

    Returns (key_col, p double, value <col type>): for each group, the
    element at rank max(1, ceil(p*n_group)) of its non-null values
    (quantile_disc semantics, same as :func:`exact_quantiles`). A NULL
    group key is a real group (oracle GROUP BY parity — every group
    join in both strategies is null-safe); null VALUES are excluded
    everywhere.

    Strategy selection mirrors the global variant (see
    :func:`_hist_or_none`): when a MEASURED probe certifies the
    distinct (group, value) domain is bounded, ONE corpus pass builds
    a per-group value histogram and every quantile is a cumulative-sum
    lookup (:func:`_hist_quantiles`) — measured at 160x: 4.9 ->
    ~1.3 s warm against a 0.8 s 1280-file scan floor, closing most of
    the r8 verdict's 7.6x headline gap (the GK maintenance constant
    was the dominant stage; the histogram path has no sketch at all).
    Continuous domains take the bracket path below, which stays fully
    in-plan — nothing reaches the driver:

    1. one grouped aggregation: n, min, max and the GK sketch bracket
       per (group, prob) — the only full-data shuffle, carrying
       map-side-merged sketches, not rows;
    2. the per-group bracket bounds join back (wide: one lo/hi pair
       per prob) and ONE conditional aggregation verifies every
       bracket exactly (c_lo, c_in per prob). A failed bracket widens
       in-plan to [group min, group max] — the correct-but-slow path
       for that (group, prob) only, no recompute of anything else;
    3. rows landing in any bracket explode to (group, prob, v) —
       O(n/accuracy) rows per (group, prob), never the full column —
       and a window picks rank k - c_lo within each.

    At 100 TB: the quantile of every group costs one sketch shuffle
    plus a window over sketch-bounded row counts; a per-group sort
    would shuffle and order the entire table.

    accuracy trades GK maintenance cost against bracket size — the
    sketch is the dominant stage, NOT the refine (measured at 160x,
    80M rows: GK alone 5.9 s at 10000, 2.7 s at 2000, 1.5 s at 500
    warm, while the window over even the 500-bracket stays ~1 s), so
    the default is 2000, not the global variant's 10000. The bounds
    frame (one row per group) is persisted: it feeds the verify, the
    widening, and the refine, and without the pin each consumer
    re-runs the GK pass — the initial form measured 15 s at 160x for
    exactly that reason. Lifetime is tied to the returned frame
    (cacheutil.tie_unpersist). Note the broadcast of per-group
    scalar metadata assumes broadcast-scale group cardinality (event
    types, sources, ASNs); at extreme cardinality pass
    ``broadcast_bounds=False`` and the joins shuffle on the group key
    instead — still never the full column as sort input.
    """
    import functools
    import operator

    if not probs:
        raise ValueError("probs must be non-empty")
    if any(not (0.0 <= p <= 1.0) for p in probs):
        raise ValueError(f"probs must be in [0, 1], got {probs}")
    if strategy not in ("auto", "histogram", "bracket"):
        raise ValueError(f"unknown strategy {strategy!r}")
    eps = 2.0 / accuracy
    plos = [max(0.0, p - eps) for p in probs]
    phis = [min(1.0, p + eps) for p in probs]
    P = len(probs)

    vals = df.select(F.col(key_col).alias("g"), F.col(col).alias("v")).filter(
        F.col("v").isNotNull()
    )
    if strategy != "bracket":
        hist = (
            vals.groupBy("g", "v").agg(F.count("*").alias("cnt")).persist()
            if strategy == "histogram"
            else _hist_or_none(df, vals, max_histogram_rows, [key_col, col])
        )
        if hist is not None:
            # the histogram path has no forced hints at all — AQE
            # sizes the totals join (see _hist_quantiles); the
            # broadcast_bounds escape applies to the bracket path's
            # per-group metadata joins below
            return tie_unpersist(
                _hist_quantiles(hist, probs).select(
                    F.col("g").alias(key_col), "p", "value"
                ),
                hist,
            )
    sketch = vals.groupBy("g").agg(
        F.count("v").alias("n"),
        F.min("v").alias("gmin"),
        F.max("v").alias("gmax"),
        F.percentile_approx("v", plos + phis, accuracy).alias("br"),
    ).persist()  # one row per group; three consumers (see docstring)
    # per-(group, prob) target rank; IEEE p*n then ceil matches the
    # pinned quantile_disc index formula bit-for-bit
    bounds = sketch.select(
        "g",
        "n",
        "gmin",
        "gmax",
        *[F.col("br")[i].alias(f"lo{i}") for i in range(P)],
        *[F.col("br")[P + i].alias(f"hi{i}") for i in range(P)],
        *[
            F.greatest(F.lit(1).cast("long"), F.ceil(F.lit(p) * F.col("n")))
            .alias(f"k{i}")
            for i, p in enumerate(probs)
        ],
    )
    hint = F.broadcast if broadcast_bounds else (lambda d: d)

    def _nsjoin(left, right):
        # null-safe group join: a null group is a real group under the
        # oracle's GROUP BY semantics; a plain equi-join on "g" would
        # silently drop it (hypothesis-caught)
        r = right.withColumnRenamed("g", "_g_r")
        return left.join(
            hint(r), F.col("g").eqNullSafe(F.col("_g_r"))
        ).drop("_g_r")

    joined = _nsjoin(vals, bounds)
    verify = joined.groupBy("g").agg(
        *[
            F.sum((F.col("v") < F.col(f"lo{i}")).cast("long")).alias(f"clo{i}")
            for i in range(P)
        ],
        *[
            F.sum(
                F.col("v").between(F.col(f"lo{i}"), F.col(f"hi{i}")).cast("long")
            ).alias(f"cin{i}")
            for i in range(P)
        ],
    )
    # widen failed brackets in-plan: lo -> gmin (c_lo becomes 0 by
    # definition), hi -> gmax, rank unchanged
    checked = _nsjoin(bounds, verify).select(
        "g",
        *functools.reduce(
            operator.add,
            [
                [
                    F.when(ok_i, F.col(f"lo{i}")).otherwise(F.col("gmin")).alias(f"lo{i}"),
                    F.when(ok_i, F.col(f"hi{i}")).otherwise(F.col("gmax")).alias(f"hi{i}"),
                    F.when(ok_i, F.col(f"clo{i}")).otherwise(F.lit(0).cast("long")).alias(f"clo{i}"),
                    F.col(f"k{i}"),
                ]
                for i in range(P)
                for ok_i in [
                    (F.col(f"clo{i}") < F.col(f"k{i}"))
                    & (F.col(f"k{i}") <= F.col(f"clo{i}") + F.col(f"cin{i}"))
                ]
            ],
        ),
    )
    probs_lit = F.array(*[F.lit(float(p)) for p in probs])
    tagged = (
        _nsjoin(vals, checked)
        .select(
            "g",
            "v",
            F.explode(
                F.filter(
                    F.array(
                        *[
                            F.when(
                                F.col("v").between(F.col(f"lo{i}"), F.col(f"hi{i}")),
                                F.struct(
                                    probs_lit[i].alias("p"),
                                    (F.col(f"k{i}") - F.col(f"clo{i}")).alias("r"),
                                ),
                            )
                            for i in range(P)
                        ]
                    ),
                    lambda s: s.isNotNull(),
                )
            ).alias("pr"),
        )
        .select("g", "v", F.col("pr.p").alias("p"), F.col("pr.r").alias("r"))
    )
    w = Window.partitionBy("g", "p").orderBy("v")
    return tie_unpersist(
        tagged.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == F.col("r"))
        .select(F.col("g").alias(key_col), "p", F.col("v").alias("value")),
        sketch,
    )


def quantiles_from_counts(
    counts: DataFrame,
    probs: list[float],
    small_max_bytes: int = 32 << 20,
) -> DataFrame:
    """Serve exact GLOBAL quantiles from a (v, cnt) value-count table —
    the ingest-maintained summary_value_counts serve path
    (sources/layout.py::update_value_hist_summary): one in-plan
    cumulative-sum lookup over distinct values, no corpus scan, no
    sketch. Output contract matches :func:`exact_quantiles`:
    (p double, value <v type>), quantile_disc semantics.

    Two physical shapes for the same arithmetic, size-gated on the
    input's measured bytes (fsutil.estimate_input_bytes; None — an
    in-memory frame — counts as small, the _hist_or_none policy):

    - SMALL (the maintained serve tables, KBs-to-MBs of distinct
      values): sort_array + an aggregate-HOF running sum — no
      WindowExec at all, so layout-build/serve logs stay free of the
      "No Partition Defined" warning and a grep for it only ever
      surfaces GENUINE unpartitioned windows over data rows
      (r12 verdict #7). The rank selector is bit-for-bit the pinned
      formula (IEEE p*n, ceil, first value whose cum >= k).
    - LARGE (toward the 8M-row domain-certificate bound): the
      constant-group cum-sum window — single-partition by design; the
      warning it logs then flags a genuinely heavy single-partition
      op, which is worth seeing."""
    from nerd_spark.sources.fsutil import estimate_input_bytes

    est = estimate_input_bytes(counts)
    if est is not None and est > small_max_bytes:
        hist = counts.select(F.lit(0).alias("g"), "v", "cnt")
        return _hist_quantiles(hist, probs).select("p", "value")
    vtype = counts.schema["v"].dataType
    agged = counts.select("v", "cnt").agg(
        F.sort_array(
            F.collect_list(
                F.struct(F.col("v").alias("_v"), F.col("cnt").alias("_c"))
            )
        ).alias("_a")
    )
    zero = F.lit(0).cast("long")
    agged = agged.withColumn(
        "_n", F.aggregate("_a", zero, lambda acc, x: acc + x["_c"])
    )
    picks = []
    for p in probs:
        k = F.greatest(
            F.lit(1).cast("long"), F.ceil(F.lit(p) * F.col("_n"))
        )
        pick = F.aggregate(
            "_a",
            F.struct(
                zero.alias("cum"),
                F.lit(None).cast(vtype).alias("ans"),
            ),
            lambda acc, x: F.struct(
                (acc["cum"] + x["_c"]).alias("cum"),
                F.when(acc["ans"].isNotNull(), acc["ans"])
                .otherwise(F.when(acc["cum"] + x["_c"] >= k, x["_v"]))
                .alias("ans"),
            ),
        )["ans"]
        picks.append(
            F.struct(F.lit(float(p)).alias("p"), pick.alias("value"))
        )
    return (
        agged.select(F.explode(F.array(*picks)).alias("_r"))
        .select("_r.p", "_r.value")
        .filter(F.col("value").isNotNull())  # empty input -> 0 rows
    )


def quantiles_by_from_counts(
    hist: DataFrame, key_col: str, probs: list[float]
) -> DataFrame:
    """Per-group variant over the ingest-maintained (et, v, cnt) pair
    histogram (null groups KEPT — the per-group quantile contract
    groups nulls). Output matches :func:`exact_quantiles_by`:
    (key_col, p double, value <v type>)."""
    h = hist.select(F.col("et").alias("g"), "v", "cnt")
    return _hist_quantiles(h, probs).select(
        F.col("g").alias(key_col), "p", "value"
    )


def _terms_count_fn():
    """EXACT per-batch term counting at the text level: one Arrow
    transfer of the TEXT column per batch, (term, tf) pairs out — the
    map-side combine of a word count, run where the tokenization is
    cheapest. Measured at 160x (800k docs, 43M tokens): an
    exploded-token screen spent 7.0 s in Arrow transfer ALONE
    (a transfer-only kernel measured the same 7.0 s as the counting
    one), and even fully JVM-side the per-token explode + hash
    aggregate costs ~5 s — token-granular ROWS are the expense in
    either engine tier, so the fix is to never materialize them.

    Tokenization parity with tokens() (= split(trim(text), '\\s+')
    under Java regex semantics): ``bytes.split()`` splits on exactly
    Java's six \\s bytes, trim strips 0x20 only, and the
    leading/trailing/empty-doc '' tokens that split(-1) keeps are
    added via per-doc head/tail corrections — the same edge model as
    keywords.token_stats, adversarially tested. Only batch-DISTINCT
    terms are decoded (vocabulary-sized). Non-ASCII docs tokenize on
    a per-doc Python-regex slow path with Java-equivalent classes."""
    from nerd_spark.operators.keywords import _JWS, _RX_JSPLIT

    def count(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            counts: Counter = Counter()
            fast_parts = []
            for s in pdf["k"]:
                if s is None:
                    continue
                if not s.isascii():
                    counts.update(_RX_JSPLIT.split(s.strip(" ")))
                    continue
                fast_parts.append(s)
                t = s.strip(" ")  # the '' tokens split(-1) keeps
                if not t:
                    counts[""] += 1
                else:
                    if t[0] in _JWS:
                        counts[""] += 1
                    if t[-1] in _JWS:
                        counts[""] += 1
            bcounts = Counter(" ".join(fast_parts).encode("ascii").split())
            for bk, v in bcounts.items():  # distinct terms only
                counts[bk.decode("ascii")] += v
            if counts:
                yield pd.DataFrame(
                    {"k": list(counts.keys()), "tf": list(counts.values())}
                )

    return count


def heavy_hitter_terms(
    docs: DataFrame,
    min_frac: float,
    text_col: str = "text",
) -> DataFrame:
    """Heavy-hitter TERMS over a document corpus: tokens (the shared
    whitespace tokenization, functions/text.tokens) whose corpus
    frequency is >= min_frac of all tokens.

    Terms invert the generic heavy_hitters cardinality assumption:
    natural-language vocabulary is tiny relative to token count, so
    per-batch EXACT counting (:func:`_terms_count_fn`) compresses the
    corpus to (batch-distinct term, tf) pairs in one pass and the
    final aggregation is vocabulary-sized — no candidate phase, no
    second corpus pass, trivially partition-invariant. The screen+
    verify shape (:func:`heavy_hitters`) remains the tool for
    high-cardinality keys, where per-batch distinct ~= batch size and
    this pair emit would degrade into the full word-count shuffle
    (batch-deduped, still correct, just no longer sublinear)."""
    if not (0.0 < min_frac <= 1.0):
        raise ValueError(f"min_frac must be in (0, 1], got {min_frac}")
    pairs = (
        docs.select(F.col(text_col).alias("k"))
        .mapInPandas(_terms_count_fn(), "k string, tf long")
        .persist()  # consumed twice (counts + total); vocab-sized
    )
    totals = pairs.groupBy().agg(F.sum("tf").alias("n"))
    counts = pairs.groupBy(F.col("k").alias("term")).agg(
        F.sum("tf").alias("cnt")
    )
    return tie_unpersist(
        counts.crossJoin(F.broadcast(totals))
        .filter(F.col("cnt") >= F.lit(min_frac) * F.col("n"))
        .select(
            "term",
            "cnt",
            F.round(F.col("cnt") / F.col("n"), 6).alias("share"),
        ),
        pairs,
    )
