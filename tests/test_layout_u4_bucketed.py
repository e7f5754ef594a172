"""Round-8 layout upgrades: ingest-materialized unscaled-long money
measures and the co-partitioned orders||customer bucketed pair
(sources/layout.py) — value parity with the raw path plus the plan
shapes the 100 TB design claims."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from nerd_spark.queries import REGISTRY
from nerd_spark.queries.compare import normalize
from nerd_spark.session import read_table
from nerd_spark.sources.layout import (
    bucketed_pair,
    bucketed_pair_names,
    optimize_layout,
)


@pytest.fixture(scope="module")
def layout_dir(spark, sf_dir):
    out = tempfile.mkdtemp(prefix="nerd_layout_r8_")
    optimize_layout(spark, sf_dir, out)
    yield out
    ot, ct = bucketed_pair_names(out)
    spark.sql(f"DROP TABLE IF EXISTS {ot}")
    spark.sql(f"DROP TABLE IF EXISTS {ct}")


@pytest.mark.slow
def test_u4_columns_materialized_and_bit_equal(spark, sf_dir, layout_dir):
    """The stored longs equal the on-the-fly _unscaled of the raw
    doubles row-for-row (serve parity is derivable either way)."""
    from nerd_spark.queries.base import _unscaled

    li = read_table(spark, layout_dir, "lineitem")
    for c in ("l_extendedprice_u4", "l_discprice_u4", "l_charge_u4",
              "l_discount_u4"):
        assert c in li.columns
    mismatch = li.filter(
        (F.col("l_extendedprice_u4") != _unscaled("l_extendedprice"))
        | (F.col("l_discount_u4") != _unscaled("l_discount"))
    ).count()
    assert mismatch == 0


def test_q1_a16_identical_raw_vs_layout(spark, sf_dir, layout_dir):
    for name in ("q1_pricing_summary", "a16_rollup_revenue"):
        a = normalize(REGISTRY[name](spark, sf_dir).toPandas())
        b = normalize(REGISTRY[name](spark, layout_dir).toPandas())
        assert a.equals(b), name


def test_q1_serves_from_partials_then_falls_back_to_u4_scan(spark, layout_dir):
    """Fresh optimized dir: q1 reads ONLY the |days|x6 partial table
    (no lineitem scan at all). After the source table changes (dir
    mtime bumps past the summary commit), the gate falls back to the
    lineitem scan — which must read the u4 longs, never the money
    doubles (ReadSchema-pruned)."""
    from nerd_spark.sources import fsutil
    from nerd_spark.sources.layout import SUMMARY_Q1_DIRNAME

    df = REGISTRY["q1_pricing_summary"](spark, layout_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert SUMMARY_Q1_DIRNAME.split(".")[0] in plan
    assert "lineitem" not in plan

    want = normalize(df.toPandas())
    # staleness: adding a (Spark-hidden) file bumps the dir mtime
    fsutil.touch(spark, os.path.join(layout_dir, "lineitem.parquet", "_stale"))
    df2 = REGISTRY["q1_pricing_summary"](spark, layout_dir)
    plan2 = df2._jdf.queryExecution().executedPlan().toString()
    try:
        scan = [
            l for l in plan2.splitlines()
            if "ReadSchema" in l and "lineitem" in l
        ]
        assert scan, plan2
        assert "l_extendedprice_u4" in scan[0]
        assert "l_extendedprice:" not in scan[0].replace("l_extendedprice_u4", "")
        assert "l_tax" not in scan[0]
        assert normalize(df2.toPandas()).equals(want)  # fallback == serve
    finally:
        fsutil.delete(spark, os.path.join(layout_dir, "lineitem.parquet", "_stale"))


def test_bucketed_pair_join_no_exchange_no_sort(spark, layout_dir):
    """Past the broadcast threshold, the custkey join over the
    co-partitioned pair plans SortMergeJoin on bucketed scans with
    ZERO Exchange and ZERO Sort on either input — the shuffle the r7
    verdict flagged is gone at ingest."""
    pair = bucketed_pair(spark, layout_dir)
    assert pair is not None
    o, c = pair
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = o.join(c.select("c_custkey", "c_nationkey"),
                   o.o_custkey == c.c_custkey)
        j.write.format("noop").mode("overwrite").save()
        plan = j._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, plan
    assert "Sort " not in plan.replace("SortMergeJoin", "SMJ"), plan


def test_bucketed_pair_serves_when_summary_absent(spark, layout_dir):
    """The pair is the beyond-broadcast scale path: with the a16
    summary gone (but sources unchanged), a16 reads the catalog pair
    as a bucketed scan."""
    import shutil

    from nerd_spark.sources.layout import SUMMARY_A16_DIRNAME

    want = normalize(REGISTRY["a16_rollup_revenue"](spark, layout_dir).toPandas())
    sdir = os.path.join(layout_dir, SUMMARY_A16_DIRNAME)
    saved = sdir + ".bak"
    shutil.move(sdir, saved)
    try:
        df = REGISTRY["a16_rollup_revenue"](spark, layout_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        ot, _ = bucketed_pair_names(layout_dir)
        assert "Bucketed: true" in plan or ot in plan
        assert normalize(df.toPandas()).equals(want)
    finally:
        shutil.move(saved, sdir)


def test_a16_serves_from_partials_then_falls_back(spark, layout_dir):
    """Fresh optimized dir: a16 reads only the 25-row (r, n) revenue
    partials. When orders changes, EVERY derived path is stale — the
    summary gate AND the bucketed pair's own freshness check (the
    pair is derived state too; serving it after a source change would
    be silently wrong, not just slow) — so a16 falls back to the raw
    join, which still reads the stored u4 longs."""
    from nerd_spark.sources import fsutil
    from nerd_spark.sources.layout import SUMMARY_A16_DIRNAME, bucketed_pair

    df = REGISTRY["a16_rollup_revenue"](spark, layout_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert SUMMARY_A16_DIRNAME.split(".")[0] in plan
    assert "orders" not in plan

    want = normalize(df.toPandas())
    fsutil.touch(spark, os.path.join(layout_dir, "orders.parquet", "_stale"))
    try:
        assert bucketed_pair(spark, layout_dir) is None  # pair stale too
        df2 = REGISTRY["a16_rollup_revenue"](spark, layout_dir)
        plan2 = df2._jdf.queryExecution().executedPlan().toString()
        assert "orders.parquet" in plan2  # raw join path
        assert "o_totalprice_u4" in plan2
        assert normalize(df2.toPandas()).equals(want)
    finally:
        # note: the delete bumps the dir mtime again, so the pair
        # (correctly) stays suspect for this layout_dir afterwards
        fsutil.delete(spark, os.path.join(layout_dir, "orders.parquet", "_stale"))


def test_dedup_incremental_indexed_equals_raw(spark, sf_dir, layout_dir):
    """The persisted-band-index path returns exactly the in-query
    recompute's pairs; a fresh optimized dir takes the indexed path
    once the source clears the size floor (forced to 0 here — the
    test corpus is tiny); and AT the default floor a tiny source
    correctly prefers the recompute even with a fresh index (the r8
    sf0.1 serve regression)."""
    from unittest import mock

    from nerd_spark.operators import dedup as DD
    from nerd_spark.sources.layout import MINHASH_BANDS_DIRNAME, summary_fresh

    assert summary_fresh(
        spark, layout_dir, MINHASH_BANDS_DIRNAME,
        sources=("documents.parquet",), expect_cols=("id", "b", "h"),
    )
    a = normalize(REGISTRY["dedup_incremental"](spark, sf_dir).toPandas())
    b = normalize(REGISTRY["dedup_incremental"](spark, layout_dir).toPandas())
    assert a.equals(b)
    # path probe: with the size floor lowered and the in-query
    # recompute disabled, the optimized dir still serves (indexed
    # path) while the raw dir cannot. (The eager cand checkpoint
    # severs lineage, so inputFiles() can't see the band scan — hence
    # the functional probe.)
    spark.conf.set("spark.nerd.dedupIndexMinBytes", "0")
    try:
        with mock.patch.object(
            DD, "incremental_minhash_pairs",
            side_effect=AssertionError("full recompute path taken"),
        ):
            c = normalize(
                REGISTRY["dedup_incremental"](spark, layout_dir).toPandas()
            )
            assert a.equals(c)
            with pytest.raises(AssertionError, match="full recompute"):
                REGISTRY["dedup_incremental"](spark, sf_dir)
    finally:
        spark.conf.unset("spark.nerd.dedupIndexMinBytes")
    # size gate: at the default floor the tiny optimized dir skips the
    # index (recompute is cheaper below the floor), same result
    with mock.patch.object(
        DD, "incremental_minhash_pairs_indexed",
        side_effect=AssertionError("indexed path taken"),
    ):
        d = normalize(REGISTRY["dedup_incremental"](spark, layout_dir).toPandas())
        assert a.equals(d)


def test_token_stats_pre_columns_bit_equal_and_served(spark, sf_dir, layout_dir):
    """Documents carry ingest-materialized per-doc token counts equal
    to the HOF reference expressions row-for-row, token_stats serves
    group sums from them (plan has no text-column scan), and the
    served result equals the raw-dir result exactly."""
    from nerd_spark.functions.text import bpe_ish_token_count, tokens
    from nerd_spark.operators.keywords import token_stats

    dd = read_table(spark, layout_dir, "documents")
    assert "n_tokens_pre" in dd.columns and "n_bpe_pre" in dd.columns
    staged = dd.withColumn("_toks", tokens("text"))
    mismatch = staged.filter(
        (F.col("n_tokens_pre") != F.size("_toks").cast("long"))
        | (
            F.col("n_bpe_pre")
            != bpe_ish_token_count("text", toks=F.col("_toks")).cast("long")
        )
    ).count()
    assert mismatch == 0
    served = token_stats(dd, group_col="source")
    # the served plan's scan reads only the pre columns, never text
    plan = served._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    schemas = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert schemas and all("text" not in ln for ln in schemas), schemas
    assert any("n_tokens_pre" in ln for ln in schemas), schemas
    a = normalize(served.toPandas())
    b = normalize(
        token_stats(read_table(spark, sf_dir, "documents"), group_col="source")
        .toPandas()
    )
    assert a.equals(b)


def test_bucketed_events_serves_j5_exchange_free(spark, sf_dir, tmp_path):
    """The user-bucketed (user_id, ts)-sorted events table satisfies
    the as-of window's required distribution: j5 plans WITHOUT an
    Exchange over it, values identical to the raw shuffle plan; a
    fresh session re-registers the catalog DDL over the surviving
    files; appending to events makes the gate refuse (raw fallback)."""
    import os

    from pyspark.sql import functions as F

    from nerd_spark.queries.relational import j5_asof_join
    from nerd_spark.sources.layout import (
        bucketed_events,
        bucketed_events_name,
        write_events_bucketed,
    )

    d = str(tmp_path / "data")
    src = spark.read.parquet(f"{sf_dir}/events.parquet")
    src.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    write_events_bucketed(spark, d)

    def rows(df):
        return sorted(map(repr, (tuple(r) for r in df.collect())))

    raw = rows(j5_asof_join(spark, sf_dir))
    srv = j5_asof_join(spark, d)
    plan = srv._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan
    assert rows(srv) == raw
    # cross-session re-register: drop the catalog entry (the files
    # survive) — bucketed_events rebuilds the DDL and the plan is
    # still exchange-free
    tbl = bucketed_events_name(d)
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    assert bucketed_events(spark, d) is not None
    plan2 = (
        j5_asof_join(spark, d)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange hashpartitioning" not in plan2
    # staleness: append to events -> gate refuses -> raw plan, exact
    src.limit(0).write.mode("append").parquet(os.path.join(d, "events.parquet"))
    assert bucketed_events(spark, d) is None
    stale = j5_asof_join(spark, d)
    assert "Exchange hashpartitioning" in (
        stale._jdf.queryExecution().executedPlan().toString()
    )
    assert rows(stale) == raw


def test_bucketed_events_reregisters_writer_bucket_count(
    spark, sf_dir, tmp_path
):
    """The cross-session DDL re-registration reads the bucket count
    from the writer's meta sidecar instead of assuming 32: metadata
    claiming a count the files don't satisfy would let Spark elide
    exchanges the data doesn't earn (r11 advisor)."""
    import os

    from nerd_spark.queries.relational import j5_asof_join
    from nerd_spark.sources.layout import (
        bucketed_events,
        bucketed_events_name,
        write_events_bucketed,
    )

    d = str(tmp_path / "data")
    src = spark.read.parquet(f"{sf_dir}/events.parquet")
    src.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    write_events_bucketed(spark, d, n_buckets=8)
    raw = sorted(
        map(repr, (tuple(r) for r in j5_asof_join(spark, sf_dir).collect()))
    )
    tbl = bucketed_events_name(d)
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")  # simulate a new session
    assert bucketed_events(spark, d) is not None
    desc = spark.sql(f"DESCRIBE FORMATTED {tbl}").collect()
    got = {r.col_name: r.data_type for r in desc}
    assert got.get("Num Buckets") == "8"
    srv = j5_asof_join(spark, d)
    plan = srv._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan
    assert sorted(map(repr, (tuple(r) for r in srv.collect()))) == raw


def test_quantile_and_card_serve_on_layout_dir(spark, sf_dir, layout_dir):
    """A layout dir carries the value histogram (events) and the
    token-count histogram (documents) when the colstats certificate
    allows — the quantile family and the corpus card then serve from
    distinct-value file reads, values identical to the raw dir."""
    from nerd_spark.queries.dataprep import (
        corpus_stats_card,
        quantile_by_event_type,
        quantile_event_values,
    )
    from nerd_spark.sources.layout import (
        SUMMARY_DOC_CARD_RESULT_DIRNAME,
        SUMMARY_QUANTILE_BY_RESULT_DIRNAME,
        SUMMARY_QUANTILE_RESULT_DIRNAME,
        SUMMARY_VALUE_HIST_DIRNAME,
    )

    def rows(df):
        return sorted(map(repr, (tuple(r) for r in df.collect())))

    assert os.path.exists(
        os.path.join(layout_dir, SUMMARY_VALUE_HIST_DIRNAME, "_SUCCESS")
    ), "bounded-domain certificate should hold on the test corpus"
    g = quantile_event_values(spark, layout_dir)
    assert any(SUMMARY_QUANTILE_RESULT_DIRNAME in f for f in g.inputFiles())
    assert rows(g) == rows(quantile_event_values(spark, sf_dir))
    by = quantile_by_event_type(spark, layout_dir)
    assert any(
        SUMMARY_QUANTILE_BY_RESULT_DIRNAME in f for f in by.inputFiles()
    )
    assert rows(by) == rows(quantile_by_event_type(spark, sf_dir))
    card = corpus_stats_card(spark, layout_dir)
    assert any(
        SUMMARY_DOC_CARD_RESULT_DIRNAME in f for f in card.inputFiles()
    )
    assert rows(card) == rows(corpus_stats_card(spark, sf_dir))


def test_q1_money_ties_round_like_the_oracle(spark, tmp_path):
    """One lineitem priced 0.285: its double sits just below the tie,
    so the DuckDB oracle's sums round it to 0.28. The raw and the
    served q1 path must answer the same, to the cent."""
    import datetime

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from nerd_spark.queries import ORACLE
    from nerd_spark.queries.compare import diff
    from nerd_spark.sources.layout import SUMMARY_Q1_DIRNAME, summary_fresh

    raw, out = str(tmp_path / "raw"), str(tmp_path / "layout")
    os.makedirs(raw)
    one = lambda v, t: pa.array([v], t)  # noqa: E731
    pq.write_table(
        pa.table(
            {
                "l_orderkey": one(1, pa.int64()),
                "l_partkey": one(1, pa.int64()),
                "l_suppkey": one(1, pa.int64()),
                "l_linenumber": one(1, pa.int32()),
                "l_quantity": one(1.0, pa.float64()),
                "l_extendedprice": one(0.285, pa.float64()),
                "l_discount": one(0.0, pa.float64()),
                "l_tax": one(0.0, pa.float64()),
                "l_returnflag": one("A", pa.string()),
                "l_linestatus": one("F", pa.string()),
                "l_shipdate": one(
                    datetime.datetime(1995, 1, 1), pa.timestamp("us")
                ),
            }
        ),
        os.path.join(raw, "lineitem.parquet"),
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM '{raw}/lineitem.parquet'"
    )
    want = con.execute(ORACLE["q1_pricing_summary"]).df()
    con.close()
    assert want["sum_base_price"].tolist() == [0.28]
    optimize_layout(spark, raw, out, tables=["lineitem"])
    assert summary_fresh(
        spark, out, SUMMARY_Q1_DIRNAME, sources=("lineitem.parquet",)
    )
    for d in (raw, out):
        got = REGISTRY["q1_pricing_summary"](spark, d).toPandas()
        assert diff(got, want) is None, d
