"""Funnel / cohort-retention operator properties (operators/funnels.py)
plus the containment-vs-jaccard dominance property
(operators/dedup.py::containment_dedup)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nerd_spark.operators.funnels import cohort_retention, funnel


@pytest.fixture()
def ev(spark):
    rows = [
        # u1 completes the funnel in order
        (1, 1, "2024-01-01 10:00:00", "view"),
        (2, 1, "2024-01-01 10:05:00", "click"),
        (3, 1, "2024-01-01 10:10:00", "purchase"),
        # u2 clicks BEFORE viewing: click must not count, and the
        # purchase (after the view but with no qualifying click)
        # must not count either
        (4, 2, "2024-01-01 09:00:00", "click"),
        (5, 2, "2024-01-01 09:30:00", "view"),
        (6, 2, "2024-01-01 09:45:00", "purchase"),
        # u3 views only
        (7, 3, "2024-01-02 08:00:00", "view"),
        # u4 same-instant view+click (ts ties count, >= semantics)
        (8, 4, "2024-01-03 12:00:00", "view"),
        (9, 4, "2024-01-03 12:00:00", "click"),
    ]
    return (
        spark.createDataFrame(
            rows, "event_id long, user_id long, ts string, event_type string"
        ).withColumn("ts", F.col("ts").cast("timestamp"))
    )


def test_funnel_ordered_semantics(spark, ev):
    out = {
        r.stage: (r.users, r.rate)
        for r in funnel(ev, ["view", "click", "purchase"]).collect()
    }
    assert out["view"] == (4, 1.0)
    assert out["click"] == (2, 0.5)  # u1 + u4 (same-instant counts)
    assert out["purchase"] == (1, 0.25)  # u1 only


def test_funnel_monotonic_on_real_data(spark, sf_dir):
    from nerd_spark.queries import REGISTRY

    rows = sorted(
        REGISTRY["funnel_stages"](spark, sf_dir).collect(),
        key=lambda r: r.stage_idx,
    )
    users = [r.users for r in rows]
    assert users == sorted(users, reverse=True)
    assert users[0] > 0


def test_funnel_empty_first_stage(spark, ev):
    rows = funnel(ev, ["no_such_type", "click"]).collect()
    by = {r.stage: r for r in rows}
    assert by["no_such_type"].users == 0
    assert by["no_such_type"].rate is None
    assert by["click"].users == 0


def test_cohort_retention_periods(spark):
    rows = [
        (1, 10, "2024-01-01 00:00:00", "signup"),
        (2, 10, "2024-01-03 00:00:00", "click"),  # period 0
        (3, 10, "2024-01-09 00:00:00", "view"),  # period 1
        (4, 11, "2024-01-01 06:00:00", "signup"),  # same cohort day
        (5, 11, "2024-01-30 00:00:00", "view"),  # period 4 -> dropped
        (6, 12, "2023-12-31 23:59:59", "view"),  # pre-anchor, no signup
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {
        (r.cohort_date, r.period): (r.cohort_size, r.active_users, r.retention)
        for r in cohort_retention(ev, "signup").collect()
    }
    assert out[("2024-01-01", 0)] == (2, 2, 1.0)  # both signups active p0
    assert out[("2024-01-01", 1)] == (2, 1, 0.5)  # u10's day-9 view
    assert ("2024-01-01", 4) not in out  # capped at n_periods
    assert all(k[0] == "2024-01-01" for k in out)  # u12 never anchors


def test_containment_dominates_jaccard(spark, sf_dir):
    """containment(a,b) >= jaccard(a,b) pointwise, so every Jaccard
    pair at a threshold is a containment pair at that threshold."""
    from nerd_spark.operators.dedup import containment_dedup, jaccard_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    jac = {
        (r.a_id, r.b_id): r.jaccard
        for r in jaccard_dedup(docs, threshold=0.9).collect()
    }
    con = {
        (r.a_id, r.b_id): r.containment
        for r in containment_dedup(docs, threshold=0.9).collect()
    }
    assert set(jac) <= set(con)
    for pair, j in jac.items():
        assert con[pair] >= j - 1e-9
    assert len(con) > 0


def test_cohort_rejects_degenerate_params(spark):
    import pytest as _pytest

    ev = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", "signup")],
        "user_id long, ts string, event_type string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    with _pytest.raises(ValueError):
        cohort_retention(ev, "signup", period_days=0)
    with _pytest.raises(ValueError):
        cohort_retention(ev, "signup", n_periods=0)
    with _pytest.raises(ValueError):
        funnel(ev, [])


def test_jaccard_containment_pairs_equals_separate_ops(spark, sf_dir):
    """The shared-scan combined verify reproduces jaccard_dedup and
    containment_dedup exactly (per-measure filters over the one
    candidate frame) — the corpus_curation_v4 stage contract."""
    from nerd_spark.operators.dedup import (
        containment_dedup,
        jaccard_containment_pairs,
        jaccard_dedup,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    both = jaccard_containment_pairs(
        docs, jaccard_threshold=0.8, containment_threshold=0.9
    ).collect()
    jac_from_both = {
        (r.a_id, r.b_id): r.jaccard for r in both if r.jaccard >= 0.8
    }
    con_from_both = {
        (r.a_id, r.b_id): r.containment for r in both if r.containment >= 0.9
    }
    jac = {
        (r.a_id, r.b_id): r.jaccard
        for r in jaccard_dedup(docs, threshold=0.8).collect()
    }
    con = {
        (r.a_id, r.b_id): r.containment
        for r in containment_dedup(docs, threshold=0.9).collect()
    }
    assert jac_from_both == jac
    assert con_from_both == con


def test_containment_stage_drops_planted_subset_copy(spark):
    """A snippet fully contained in a long article survives any
    Jaccard threshold (jaccard ~ |A|/|B|) but containment catches it
    and the SHORTER doc drops — the corpus_curation_v4 stage rule."""
    from nerd_spark.operators.dedup import containment_dedup, jaccard_dedup

    long_words = " ".join(f"w{i}" for i in range(400))
    snippet = " ".join(f"w{i}" for i in range(40, 80))
    docs = spark.createDataFrame(
        [(1, long_words, "web"), (2, snippet, "web"),
         (3, " ".join(f"x{i}" for i in range(100)), "web")],
        "doc_id long, text string, source string",
    )
    assert jaccard_dedup(docs, threshold=0.5, max_df=3).count() == 0
    pairs = containment_dedup(docs, threshold=0.9, max_df=3).collect()
    assert [(r.a_id, r.b_id) for r in pairs] == [(1, 2)]
    assert pairs[0].containment == 1.0


def test_encoded_merge_verify_matches_broadcast(spark, sf_dir, monkeypatch):
    """r14 session-2: over the broadcast bound the verify's
    merge-join sides carry hot arrays bijectively encoded as longs
    (_encode_hot_longs) instead of strings. Forcing the over paths
    with broadcast_max_pairs=1 must reproduce the broadcast-path
    output EXACTLY for all three callers (the encode preserves
    per-pair intersection sizes), and the executed plan must show the
    bucketed-rank encode feeding the pair join."""
    from nerd_spark.operators import dedup as DD

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    orig = DD._pair_scores_rare

    def run(fn, bound, **kw):
        def forced(cand, aset, broadcast_max_pairs=2_000_000, **kws):
            return orig(cand, aset, broadcast_max_pairs=bound, **kws)

        monkeypatch.setattr(DD, "_pair_scores_rare", forced)
        df = fn(docs, **kw)
        rows = sorted(tuple(r) for r in df.collect())
        plan = df._jdf.queryExecution().executedPlan().toString()
        return rows, plan

    for fn, kw in (
        (DD.jaccard_dedup, {"threshold": 0.8}),
        (DD.containment_dedup, {"threshold": 0.9}),
        (DD.jaccard_containment_pairs, {}),
    ):
        fast, fast_plan = run(fn, 2_000_000, **kw)
        slow, slow_plan = run(fn, 1, **kw)
        assert fast == slow, fn.__name__
        assert "xxhash64" not in fast_plan  # broadcast path: no encode
        # merge path: pair-sized sort-merge joins whose array sides
        # come from the CACHED encoded frame (the encode subtree
        # itself hides behind the InMemoryTableScan)
        assert "SortMergeJoin" in slow_plan
        assert "InMemoryTableScan" in slow_plan


def test_encode_hot_longs_bijection(spark):
    """_encode_hot_longs preserves per-doc set sizes and pairwise
    intersection sizes (the only quantities the verify consumes) and
    emits array<bigint>."""
    from pyspark.sql import functions as F

    from nerd_spark.operators.dedup import _encode_hot_longs

    aset = spark.createDataFrame(
        [
            (1, 5, ["aa", "bb", "cc"]),
            (2, 4, ["bb", "cc", "dd"]),
            (3, 2, []),
            (4, 7, ["aa", "dd", "ee", "ff"]),
        ],
        "id long, n long, hot array<string>",
    )
    enc = _encode_hot_longs(aset)
    assert dict(enc.dtypes)["hot"] == "array<bigint>"
    raw = {r.id: set(r.hot) for r in aset.collect()}
    got = {r.id: set(r.hot) for r in enc.collect()}
    ns = {r.id: r.n for r in enc.collect()}
    assert ns == {1: 5, 2: 4, 3: 2, 4: 7}  # n carried through
    for i in raw:
        assert len(got[i]) == len(raw[i])  # per-doc cardinality
    for a in raw:
        for b in raw:
            assert len(got[a] & got[b]) == len(raw[a] & raw[b]), (a, b)
    enc.unpersist()
