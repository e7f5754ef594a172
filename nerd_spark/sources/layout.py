"""Storage-layout optimization (compaction/clustering).

A scan can only parallelize across parquet row groups, and the
driver-provided testdata ships ONE row group per table — so every
scan is single-core no matter how many executors exist. Real
deployments solve this at ingest: compact inputs into right-sized,
sorted files (the reference's analogue is its int-IP + index layout,
NERDd/core/mongodb.py:81-117; here it's files + min/max stats).

optimize_layout rewrites each table into n-file sorted zstd parquet:
- n files -> n parallel scan tasks
- sort-within-partitions by the filter/key column -> tight min/max
  stats per file, so pushed predicates skip whole files (the same
  skip the reference buys with its range-encoded indexes)
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from typing import Callable

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession, functions as F

from nerd_spark.sources import fsutil

# (sort column, file count) per table; counts sized for ~100k rows or
# a few MB per file at sf0.1 — scale up with data.
# sort/cluster column per table; file COUNT is derived from measured
# source bytes at rewrite time (see optimize_layout), not fixed here —
# the r9 320x sweep found the old fixed-count-times-scale rule had
# written 2500 x 140KB lineitem files, so every stress-scale scan paid
# thousands of file opens (a bare count(*) cost 0.8 s at 160x, more
# than the comparator's entire grouped query)
_LAYOUT = {
    "lineitem": "l_shipdate",
    "orders": "o_orderdate",
    "customer": "c_custkey",
    "part": "p_partkey",
    "supplier": "s_suppkey",
    "nation": "n_nationkey",
    "region": "r_regionkey",
    "events": "ts",
    "documents": "doc_id",
    "embeddings": "vec_id",
}


# No leading underscore: Spark's hidden-path filter ignores _-prefixed
# dirs in any glob/recursive listing ("All paths were ignored" in the
# r4 bench tail); explicitly-specified roots only work by accident of
# the root-bypass, so derived state lives under ordinary names.
IVF_INDEX_DIRNAME = "ivf_embeddings.index"
SUMMARY_DAILY_DIRNAME = "summary_daily.parquet"
SUMMARY_ASOF_DIRNAME = "summary_asof.parquet"
SUMMARY_WINDOW_DIRNAME = "summary_window.parquet"
SUMMARY_Q1_DIRNAME = "summary_q1_daily.parquet"
SUMMARY_A16_DIRNAME = "summary_a16_rollup.parquet"
SUMMARY_MERGED_DIRNAME = "summary_merged.parquet"
SUMMARY_FUNNEL_DIRNAME = "summary_funnel.parquet"
SUMMARY_FUNNEL_RESULT_DIRNAME = "summary_funnel_result.parquet"
SUMMARY_COHORT_DIRNAME = "summary_cohort.parquet"
SUMMARY_COHORT_RESULT_DIRNAME = "summary_cohort_result.parquet"
# The stage sequence / cohort parameters the layout resolves and
# caches results for (the registered funnel_stages/cohort_retention
# contract). The per-user STATE tables are parameter-generic — any
# stage sequence over these types / any anchor+period resolves from
# them row-locally; only the tiny result caches are parameter-bound
# (meta sidecar records the binding, mismatches fall through).
FUNNEL_STAGES_DEFAULT = ("view", "click", "purchase")
COHORT_DEFAULTS = {"anchor_type": "signup", "period_days": 7, "n_periods": 4}
SUMMARY_META_NAME = "_nerd_meta.json"
SUMMARY_TYPE_USER_DIRNAME = "summary_type_user_counts.parquet"
SUMMARY_USER_COUNTS_DIRNAME = "summary_user_counts.parquet"
SUMMARY_TOPK_VALUE_DIRNAME = "summary_topk_value.parquet"
TOPK_VALUE_K = 100
# (event_type, value) histogram + its global (value) projection: the
# quantile family's serve tables (exact quantiles are cumulative-sum
# lookups over distinct values — operators/sketches.py::_hist_quantiles).
# Built/maintained ONLY under a bounded-domain certificate (the same
# 8M-row class as the query-time probe): on a continuous domain the
# histogram IS the corpus and the GK bracket path stays the tool.
SUMMARY_VALUE_HIST_DIRNAME = "summary_value_hist.parquet"
SUMMARY_VALUE_COUNTS_DIRNAME = "summary_value_counts.parquet"
VALUE_HIST_MAX_ROWS = 8_000_000
# per-(source, token-count) histogram of `documents` — the corpus
# stats card's serve table (volumes AND exact token quantiles derive
# from it); seeded at layout time from the n_tokens_pre column
SUMMARY_DOC_TOKEN_HIST_DIRNAME = "summary_doc_token_hist.parquet"
# Resolved result caches for the registered quantile bindings (the
# funnel-result discipline): |probs| rows / |groups|x|probs| rows /
# |sources| rows, meta-bound to their prob lists — the queries become
# a tiny file read; non-default bindings fall through to the
# histogram tier, which is exact for ANY probs.
SUMMARY_QUANTILE_RESULT_DIRNAME = "summary_quantile_result.parquet"
SUMMARY_QUANTILE_BY_RESULT_DIRNAME = "summary_quantile_by_result.parquet"
SUMMARY_DOC_CARD_RESULT_DIRNAME = "summary_doc_card_result.parquet"
QUANTILE_PROBS_DEFAULT = (0.25, 0.5, 0.9, 0.99)
QUANTILE_BY_PROBS_DEFAULT = (0.5, 0.95)
DOC_CARD_PROBS = (0.5, 0.95)
# Resolved heavy-hitter / top-k answers for the registered bindings —
# derived from the committed count tables at fold time, meta-bound to
# their parameters; other bindings fall to the count-table tier.
SUMMARY_HH_USERS_RESULT_DIRNAME = "summary_hh_users_result.parquet"
SUMMARY_HH_BY_TYPE_RESULT_DIRNAME = "summary_hh_by_type_result.parquet"
SUMMARY_TOPFREQ_RESULT_DIRNAME = "summary_topfreq_result.parquet"
HH_USERS_MIN_FRAC = 0.005
HH_BY_TYPE_MIN_FRAC = 0.008
TOPFREQ_K = 10
# Absolute-count heavy-key bindings (r12 verdict #5): the fractional
# thresholds above go EMPTY once the corpus outgrows any single key's
# bounded event rate (0.005 x 16M events >> any user's count at the
# replica shape), so their serve measurements above sf0.01 time empty
# answers. "Keys with >= N events" is the scale-stable companion (the
# reference's per-entity event-count trigger shape) — non-empty and
# selective at every SF of this data.
SUMMARY_HH_MINCOUNT_RESULT_DIRNAME = "summary_hh_mincount_result.parquet"
SUMMARY_HH_BY_MINCOUNT_RESULT_DIRNAME = (
    "summary_hh_by_mincount_result.parquet"
)
HH_USERS_MIN_COUNT = 50
HH_BY_TYPE_MIN_COUNT = 15
# Banded MinHash signatures of `documents` (id, b, h) at the default
# (k=3 shingles, 4 bands x 3 rows) family — the persisted LSH index
# the incremental-dedup contract assumes. Parameters are part of the
# index identity: a query at non-default parameters must not read it.
MINHASH_BANDS_DIRNAME = "minhash_bands.parquet"


# Reader gate for the window table. A CUSTOM marker, not _SUCCESS:
# the layout seed writes the table with a plain overwrite whose job
# commit creates root _SUCCESS BEFORE the sidecar meta anchor is
# written — gating on _SUCCESS could serve a new-anchor table against
# a stale anchor after a crash in that window. (The fold commits
# through _staged_partition_commit, whose swap never recreates a root
# marker.) Spark never creates this file, so touching it only after
# BOTH the table and the meta commit keeps the gate ordered on every
# write path (torn state -> no gate -> raw-recompute fallback).
WINDOW_GATE = "_NERD_GATE"


def _window_meta_path(window_path: str) -> str:
    """Sidecar holding the window table's as-of date (one row). Kept
    OUT of the row schema so a day-roll doesn't force rewriting rows
    whose window values are unchanged — with a per-row as_of_d every
    row 'changes' daily and the rewrite can never be bounded."""
    return window_path + ".meta"


# Reserved map key standing in for a NULL category in cat_counts30
# (maps cannot hold null keys; a NUL byte cannot appear in a real
# category string). Encoded in window_rollup's per-category map build,
# decoded back to null by the A5 serve path.
NULL_CAT_SENTINEL = "\x00"


def _EMPTY_MAP():
    return F.map_from_entries(
        F.array().cast("array<struct<cat:string,n30:bigint>>")
    )

_WINDOWS = (1, 7, 30)

# The window table is stored hash-bucketed by entity (partition column
# wb = pmod(hash(entity), WINDOW_BUCKETS)) so the same-day incremental
# merge rewrites ONLY the buckets containing batch entities — cost
# O(touched buckets), not O(entities). At the 10^8-entity design point
# this is the difference between ~MB and ~GB written per micro-batch
# (the reference's write path is likewise O(touched records),
# NERDd/core/mongodb.py:98-119). The day-roll recompute (once per day)
# still rewrites every bucket — every row's window ages shift then.
# Size buckets so one bucket ~ a few hundred MB at the deployed entity
# count; 32 keeps per-bucket files non-trivial at test scale.
WINDOW_BUCKETS = 32


def _wbucket(col="entity"):
    return F.pmod(F.hash(F.col(col)), F.lit(WINDOW_BUCKETS))


def _with_rep_columns(df):
    """Materialize the default-config reputation columns from the
    FINAL per-age vectors (after any merge) — applied by every window
    writer so a6/a7 serve as plain column reads. Row-local, so the
    cost lands only on rows being (re)written anyway."""
    from nerd_spark.plans.derivations import vector_reputation_columns

    for name, col in vector_reputation_columns().items():
        df = df.withColumn(name, col)
    return df

# per-age daily vectors kept in the window table: ages 0.._VEC_DAYS-1
# relative to as_of_d. This is the reference's own per-IP daily-bucket
# record model (event_counter keeps per-day buckets on the entity);
# 14 covers the EWMA (7d) and reputation (14d) windows, so A3/A6/A7
# become row-local expressions over the vectors — no aggregation at
# query time at all.
_VEC_DAYS = 14


def window_rollup(daily, as_of_d_df):
    """Second-level rollup: per-entity windowed totals + per-window
    distinct-category SETS + per-age daily vectors, ages relative to
    the single-row ``as_of_d`` (date) frame. One row per entity — the
    precomputed answer to A2/A3/A6/A7, stored so the per-entity
    shuffle over (entities x days x cats) summary rows happens at
    INGEST time once, not on every query. The category sets (bounded
    by the category vocabulary, not data) and the fixed-width daily
    vectors are stored rather than derived numbers so the no-day-roll
    incremental merge below stays exact: sets union, vectors add
    element-wise."""
    dwa = daily.crossJoin(F.broadcast(as_of_d_df))
    age = F.datediff(F.col("as_of_d"), F.col("d"))
    aggs = [F.sum("n").cast("long").alias("total")]
    for w in _WINDOWS:
        aggs.append(
            F.sum(F.when(age <= w, F.col("n")).otherwise(0))
            .cast("long")
            .alias(f"total{w}")
        )
        aggs.append(
            F.array_sort(
                F.array_distinct(
                    F.array_compact(F.collect_list(F.when(age <= w, F.col("cat"))))
                )
            ).alias(f"cats{w}")
        )
    # daily vectors: events / distinct-cat-count (rollup rows — cat is
    # unique within (entity, d) by the daily grain) / error events
    nd, cats, err = [], [], []
    for a in range(_VEC_DAYS):
        nd.append(F.sum(F.when(age == a, F.col("n")).otherwise(0)).cast("long"))
        cats.append(F.sum(F.when(age == a, 1).otherwise(0)).cast("int"))
        err.append(
            F.sum(
                F.when((age == a) & (F.col("cat") == "error"), F.col("n")).otherwise(0)
            ).cast("long")
        )
    aggs.append(F.array(*nd).alias("nd_days"))
    aggs.append(F.array(*cats).alias("cats_days"))
    aggs.append(F.array(*err).alias("err_days"))
    main = dwa.groupBy("entity").agg(*aggs)
    # per-category 30-day counts as a map (the A5 type-profile input):
    # bounded by the category vocabulary per entity; built via its own
    # (entity, cat) rollup and joined back. Event-count sums, so the
    # same-day incremental merge is a pure map union-add.
    per_cat = (
        dwa.filter(age <= 30)
        .groupBy("entity", "cat")
        .agg(F.sum("n").cast("long").alias("n30"))
    )
    cat_maps = per_cat.groupBy("entity").agg(
        F.map_from_entries(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        # null categories are legal rollup groups (the
                        # raw A5 path emits them) but illegal map keys:
                        # store them under the reserved sentinel; the
                        # A5 serve decodes it back to null. Both build
                        # paths (full + incremental batch) come through
                        # here, so the sentinel merges with itself.
                        F.coalesce(
                            "cat", F.lit(NULL_CAT_SENTINEL)
                        ).alias("cat"),
                        "n30",
                    )
                )
            )
        ).alias("cat_counts30")
    )
    empty_map = F.map_from_entries(
        F.array().cast("array<struct<cat:string,n30:bigint>>")
    )
    return (
        main.join(cat_maps, "entity", "left")
        .withColumn("cat_counts30", F.coalesce("cat_counts30", empty_map))
        .crossJoin(F.broadcast(as_of_d_df))
    )


def optimize_layout(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    tables: list[str] | None = None,
    scale: int = 1,
    build_indexes: bool = True,
) -> None:
    """Rewrite sf_dir tables into out_dir with a parallel-scan-friendly
    layout. out_dir then substitutes for sf_dir everywhere
    (read_table handles the events nanos column transparently).

    File counts are DERIVED from measured source bytes at a target of
    spark.nerd.layoutTargetFileBytes per file (default 8 MiB — sized
    for local[32]; a real cluster raises it toward 128 MiB+), so the
    invariant really is file size at every scale. ``scale`` is kept
    for signature compatibility and ignored: the old fixed-count ×
    scale rule held bytes-per-file constant at the 1× sizing, which
    was itself tiny — the r9 320x sweep measured 2500 x 140KB
    lineitem files, thousands of file opens on every scan."""
    from concurrent.futures import ThreadPoolExecutor

    from nerd_spark.session import read_table

    os.makedirs(out_dir, exist_ok=True)

    from nerd_spark.operators.dedup import _bytes_conf

    target = _bytes_conf(spark, "spark.nerd.layoutTargetFileBytes", 8 << 20)
    floor = _bytes_conf(spark, "spark.nerd.layoutMinFileBytes", 512 << 10)
    cpus = spark.sparkContext.defaultParallelism

    def _rewrite(name: str) -> None:
        sort_col = _LAYOUT[name]
        df = read_table(spark, sf_dir, name)
        est = fsutil.estimate_input_bytes(df) or 0
        # two regimes: small tables fan out toward one file per core
        # for scan parallelism but never below `floor` bytes/file
        # (open cost dominates under that); big tables grow by the
        # `target` bytes/file invariant — at any scale no tiny-file
        # storm and no single-task scans
        n_files = max(
            max(1, round(est / target)),
            min(cpus, max(1, est // floor)),
        )
        if name == "events" and "ts_ns" in df.columns:
            # keep the storage schema identical to the source (raw
            # nanos long) so read_table's shim applies on re-read
            df = df.drop("ts").withColumnRenamed("ts_ns", "ts")
        if name in ("lineitem", "orders"):
            # Materialize the unscaled-4dp-long view of the money
            # measures at ingest (queries/base.py::_unscaled): q1/a16
            # then SUM stored longs instead of running the
            # double->unscaled conversion per row per run — PLANS.md
            # r7 localized the residual q1 gap to exactly that scan
            # constant. Bit-identical to the on-the-fly path by
            # construction, so serve parity holds; the raw-dir path
            # (and every oracle) is unchanged.
            from nerd_spark.queries.base import _unscaled

            if name == "lineitem":
                disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
                df = (
                    df.withColumn(
                        "l_extendedprice_u4", _unscaled("l_extendedprice")
                    )
                    .withColumn("l_discprice_u4", _unscaled(disc))
                    .withColumn(
                        "l_charge_u4", _unscaled(disc * (1 + F.col("l_tax")))
                    )
                    .withColumn("l_discount_u4", _unscaled("l_discount"))
                )
            else:
                df = df.withColumn(
                    "o_totalprice_u4", _unscaled("o_totalprice")
                )
        if name == "documents":
            # Materialize per-doc token statistics at ingest (the
            # lineitem-u4 discipline applied to text): n_tokens /
            # n_bpe are immutable per document, so the one-time
            # tokenization here lets token_stats serve group sums
            # from two long columns instead of Arrow-transferring the
            # whole text column per query. The expressions are the
            # HOF reference semantics (keywords._token_stats_hof) —
            # kernel==HOF parity is already pinned, so the served
            # sums are bit-identical to either query-time path.
            # Contract (same as the u4 columns): any transform that
            # REWRITES text must drop these columns or recompute them.
            from nerd_spark.functions.text import (
                bpe_ish_token_count,
                tokens,
            )

            df = (
                df.withColumn("_toks", tokens("text"))
                .withColumn(
                    "n_tokens_pre", F.size("_toks").cast("long")
                )
                .withColumn(
                    "n_bpe_pre",
                    bpe_ish_token_count("text", toks=F.col("_toks")).cast(
                        "long"
                    ),
                )
                .drop("_toks")
            )
        (
            df.repartitionByRange(n_files, sort_col)
            .sortWithinPartitions(sort_col)
            .write.mode("overwrite")
            .parquet(f"{out_dir}/{name}.parquet")
        )

    # The rewrites are independent jobs; submit them concurrently so
    # the single-row-group (one-task) read stages overlap instead of
    # serializing — the scheduler interleaves their tasks across cores.
    with ThreadPoolExecutor(max_workers=4) as pool:
        list(pool.map(_rewrite, tables or list(_LAYOUT)))
    if not build_indexes:
        return
    # ---- ingest-time index / serve-table builds ----------------------
    # Every build below is an independent chain of tiny jobs over the
    # just-rewritten tables (distinct output dirs, no shared state
    # beyond the committed table files); run them CONCURRENTLY so the
    # scheduler back-fills each chain's stragglers with the next
    # chain's tasks (guide-recommended overlap of independent jobs;
    # the sequential form serialized ~20 small writes). Job
    # descriptions are thread-local, so each chain labels its own
    # jobs. The ONLY cross-chain ordering needed is (a) the events
    # column-stats sidecar before the value-histogram gate that reads
    # it, and (b) the documents sidecar before the band index whose
    # freshness gate compares against the documents dir mtime — both
    # kept by running the stats writes sequentially FIRST (they are
    # single map-side aggregates) and by keeping each dependent write
    # inside the same chain as its prerequisite.
    if tables is None or "events" in tables:
        # Column-stats sidecar: the sketch probes (top_frequent,
        # heavy_hitters_by, the quantile histogram gate) route on the
        # table's distinct-count profile — a property of the TABLE,
        # answered here ONCE in one map-side HLL aggregate instead of
        # a per-query corpus scan (the reference's cron-refreshed
        # meta-info discipline, scripts/update_db_meta_info.js). The
        # sidecar is signature-pinned: any later write invalidates it
        # and the probes fall back to scanning (sources/colstats.py).
        from nerd_spark.sources import colstats

        colstats.write_column_stats(
            spark,
            f"{out_dir}/events.parquet",
            ["user_id", "value", "event_type"],
            [("event_type", "user_id"), ("event_type", "value")],
        )

    _chains: list = []

    if tables is None or "lineitem" in tables:

        def _ix_q1():
            # Per-(shipdate, flag, status) partial aggregates for the q1
            # family — the reference's cron-refreshed meta-table
            # discipline (scripts/update_db_meta_info.js) applied to the
            # pricing summary: every q1 measure is additive (long u4
            # sums, exact-integer quantity sums, counts), so the daily
            # partials re-aggregate to BIT-IDENTICAL final values while
            # the query scan shrinks from |lineitem| to |days|x6 rows.
            # The shipdate filter hits the partial's group key exactly.
            # At 100 TB the ingest job maintains this incrementally
            # (append a day -> merge a day), like the daily summary.
            li = read_table(spark, out_dir, "lineitem")
            (
                li.groupBy("l_shipdate", "l_returnflag", "l_linestatus")
                .agg(
                    F.sum("l_quantity").alias("qty_sum"),
                    F.sum("l_extendedprice_u4").alias("ep_u4"),
                    F.sum("l_discprice_u4").alias("dp_u4"),
                    F.sum("l_charge_u4").alias("ch_u4"),
                    F.sum("l_discount_u4").alias("disc_u4"),
                    F.count("l_extendedprice_u4").alias("n_ep"),
                    F.count("l_discount_u4").alias("n_disc"),
                    F.count("l_quantity").alias("n_qty"),
                    F.count("*").alias("cnt"),
                )
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(os.path.join(out_dir, SUMMARY_Q1_DIRNAME))
            )

        _chains.append(("q1 partials", _ix_q1))

    if tables is None or {"orders", "customer"} <= set(tables):

        def _ix_a16():
            # Base (region, nation) revenue partials for a16: the rollup
            # margins re-derive from the 25-row base exactly (additive u4
            # longs), so serving is bit-identical to the 4-way join.
            o = read_table(spark, out_dir, "orders")
            c = read_table(spark, out_dir, "customer")
            n = read_table(spark, out_dir, "nation")
            r = read_table(spark, out_dir, "region")
            (
                o.join(
                    F.broadcast(c.select("c_custkey", "c_nationkey")),
                    o.o_custkey == F.col("c_custkey"),
                )
                .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
                .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
                .groupBy("r_name", "n_name")
                .agg(F.sum("o_totalprice_u4").alias("rev_u4"))
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(os.path.join(out_dir, SUMMARY_A16_DIRNAME))
            )
            # Co-partitioned orders||customer on custkey (the a16 join
            # key): both sides bucketed+sorted, so the fact-dim join plans
            # a zero-exchange zero-sort SortMergeJoin over bucketed scans.
            # This is the beyond-broadcast scale path — at SF where
            # customer no longer broadcasts (~1e8+ rows), the join cost is
            # the co-located scan itself. Registered as external catalog
            # tables under out_dir (bucket metadata needs the catalog).
            write_join_pair(spark, out_dir)

        _chains.append(("a16 partials + join pair", _ix_a16))

    if tables is None or "embeddings" in tables:

        def _ix_ivf():
            # Derived index structures are ingest-time work too: the IVF
            # inverted-list layout (corpus partitioned by coarse-centroid
            # list id) is built once here so ANN probes only ever pay
            # partition-pruned reads. Same deterministic first-N quantizer
            # as the ann_ivf_* queries, so results are interchangeable.
            from nerd_spark.operators import similarity as SIM

            emb = read_table(spark, out_dir, "embeddings")
            SIM.build_ivf_index(
                emb, os.path.join(out_dir, IVF_INDEX_DIRNAME), n_lists=8
            )

        _chains.append(("ivf index", _ix_ivf))

    if tables is None or "documents" in tables:

        def _ix_docs():
            # Persisted MinHash band index: continuous-ingestion dedup
            # (operators/dedup.py::incremental_minhash_pairs_indexed) is
            # O(batch + collisions) ONLY when the corpus band table
            # already exists — computing it per batch re-shingles the
            # whole corpus. Building it at ingest (12 narrow rows/doc)
            # mirrors the IVF index; at 100 TB the ingest job appends a
            # batch's bands in the same pass that archives the batch.
            from nerd_spark.operators.dedup import (
                _spread,
                minhash_band_table,
                shingle_arrays,
            )

            dd = read_table(spark, out_dir, "documents")
            # Column-stats sidecar over the just-materialized per-doc
            # token counts: the corpus-card quantile probe then answers
            # "is (source, n_tokens) a bounded domain?" from an FS stat
            # instead of a scanning HLL pass (same discipline as events).
            # Written BEFORE the band index: the sidecar lands inside
            # documents.parquet and bumps that dir's mtime, and the band
            # index's freshness gate (summary_fresh) compares against it.
            from nerd_spark.sources import colstats

            colstats.write_column_stats(
                spark,
                f"{out_dir}/documents.parquet",
                ["source", "n_tokens_pre"],
                [("source", "n_tokens_pre")],
            )
            # per-(source, token-count) histogram: the corpus stats card's
            # serve table — volumes (n_docs, total_tokens) and EXACT token
            # quantiles all derive from it, so the card never re-scans the
            # corpus on a fresh layout dir. Same bounded-domain gate as
            # the events value histogram.
            nd_doc = colstats.distinct_upper_bound(
                dd, ["source", "n_tokens_pre"]
            )
            if nd_doc is not None and nd_doc * 1.25 <= VALUE_HIST_MAX_ROWS:
                dh = (
                    dd.filter(F.col("n_tokens_pre").isNotNull())
                    .groupBy(
                        F.col("source").alias("src"),
                        F.col("n_tokens_pre").alias("ntok"),
                    )
                    .agg(F.count("*").alias("cnt"))
                )
                dhpath = os.path.join(out_dir, SUMMARY_DOC_TOKEN_HIST_DIRNAME)
                _commit_dir(spark, dh, dhpath)
                # resolved card rows (|sources|): volumes + exact token
                # quantiles from the committed histogram — the registered
                # corpus_stats_card becomes a file read (meta-bound to the
                # prob list; other bindings fall to the histogram tier)
                from nerd_spark.operators import sketches as SK

                h = spark.read.parquet(dhpath)
                vols = h.groupBy(F.col("src").alias("source")).agg(
                    F.sum("cnt").alias("n_docs"),
                    F.sum(F.col("ntok") * F.col("cnt")).alias("total_tokens"),
                )
                qby = SK.quantiles_by_from_counts(
                    h.select(
                        F.col("src").alias("et"),
                        F.col("ntok").alias("v"),
                        "cnt",
                    ),
                    "source",
                    list(DOC_CARD_PROBS),
                )
                wide = qby.groupBy("source").agg(
                    F.max(
                        F.when(F.col("p") == DOC_CARD_PROBS[0], F.col("value"))
                    ).alias("p50_tokens"),
                    F.max(
                        F.when(F.col("p") == DOC_CARD_PROBS[1], F.col("value"))
                    ).alias("p95_tokens"),
                )
                _commit_dir(
                    spark,
                    vols.join(wide, "source"),
                    os.path.join(out_dir, SUMMARY_DOC_CARD_RESULT_DIRNAME),
                    {"probs": list(DOC_CARD_PROBS)},
                )
            (
                minhash_band_table(shingle_arrays(_spread(dd), "doc_id", "text", 3))
                .coalesce(max(1, min(scale, 16)))
                .write.mode("overwrite")
                .parquet(os.path.join(out_dir, MINHASH_BANDS_DIRNAME))
            )

        _chains.append(("documents stats/card/bands", _ix_docs))

    if tables is None or "events" in tables:

        def _ix_daily_window():
            ev = read_table(spark, out_dir, "events")
            # the partitioned write clusters by day: without it every
            # shuffle partition drops a sliver file into every date dir
            # (days x partitions tiny files) and scan/listing cost eats
            # the summary's benefit
            daily = _daily_spec(
                os.path.join(out_dir, SUMMARY_DAILY_DIRNAME), "user_id"
            )
            _seed(spark, daily, daily.state(ev))
            as_of = ev.agg(F.max("ts").alias("as_of"))
            _commit_dir(
                spark, as_of, os.path.join(out_dir, SUMMARY_ASOF_DIRNAME)
            )
            # Second-level window rollup (the A2 answer table): reading
            # the just-committed daily summary (compact) rather than
            # re-aggregating raw events.
            sd = spark.read.parquet(daily.path)
            asof_d_df = as_of.select(F.to_date("as_of").alias("as_of_d"))
            wpath = os.path.join(out_dir, SUMMARY_WINDOW_DIRNAME)
            (
                _with_rep_columns(
                    window_rollup(sd.select("entity", "d", "cat", "n"), asof_d_df)
                )
                .drop("as_of_d")  # anchor lives in the sidecar meta
                .withColumn("wb", _wbucket())
                .repartition("wb")
                .write.mode("overwrite")
                .partitionBy("wb")
                .parquet(wpath)
            )
            asof_d_df.write.mode("overwrite").parquet(_window_meta_path(wpath))
            write_summary_meta(spark, wpath, {"entity": "user_id"})
            fsutil.touch(spark, os.path.join(wpath, WINDOW_GATE))

        def _ix_seed(spec):
            # a fold's state of ALL events, written straight into the
            # fresh dir. Merged snapshot (op_merge_snapshot), funnel /
            # cohort per-user state (+ result caches) and the (type,
            # entity) count table (+ totals, hh/top-k results) are the
            # op_merge discipline: exact mergeable state, so the folds
            # stay exact under out-of-order arrival. Raw dirs (and
            # every oracle) recompute from events.
            return spec.what, lambda: _seed(
                spark, spec, spec.state(read_table(spark, out_dir, "events"))
            )

        def _ix_topk():
            # global top-k-by-value rows (the w1 serve table; exactly
            # mergeable for append-only events — update_topk_summary)
            update_topk_summary(
                spark, out_dir, read_table(spark, out_dir, "events")
            )

        def _ix_valuehist():
            ev = read_table(spark, out_dir, "events")
            # (event_type, value) histogram + global value counts — the
            # quantile family's serve tables — seeded ONLY under a
            # bounded-domain certificate from the colstats sidecar written
            # above (a continuous value domain keeps the GK bracket path:
            # there the histogram would BE the corpus). One corpus pass;
            # quantiles become cumulative-sum lookups over distinct values.
            nd_ev = colstats.distinct_upper_bound(ev, ["event_type", "value"])
            if nd_ev is not None and nd_ev * 1.25 <= VALUE_HIST_MAX_ROWS:
                seed_value_hist(spark, out_dir, ev)

        _chains += [
            ("daily/window rollup", _ix_daily_window),
            _ix_seed(
                _merged_spec(os.path.join(out_dir, SUMMARY_MERGED_DIRNAME))
            ),
            _ix_seed(
                _funnel_spec(spark, out_dir, list(FUNNEL_STAGES_DEFAULT))
            ),
            _ix_seed(_cohort_spec(spark, out_dir)),
            # user-bucketed sorted events: per-user ordered operators
            # (the j5 as-of window, w4 last-N, sessionize) plan
            # exchange-free
            ("bucketed events", lambda: write_events_bucketed(spark, out_dir)),
            ("topk values", _ix_topk),
            _ix_seed(_keycount_spec(spark, out_dir)),
            ("value histogram", _ix_valuehist),
        ]

    def _run_chain(item):
        name, fn = item
        spark.sparkContext.setJobDescription(f"layout index: {name}")
        try:
            fn()
        finally:
            spark.sparkContext.setJobDescription(None)

    workers = int(
        str(spark.conf.get("spark.nerd.layoutIndexWorkers", "6"))
    )
    # NOTE: read_table (called inside every chain) does session-global
    # spark.conf.set; that is race-free across chains only because every
    # caller sets IDENTICAL values. Pre-set them once here so a future
    # conf divergence cannot silently race across threads (ADVICE r13).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set(
        "spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    )
    with ThreadPoolExecutor(max_workers=max(1, workers)) as pool:
        futs = [pool.submit(_run_chain, it) for it in _chains]
        try:
            for f in futs:
                f.result()  # propagate the first failure loudly
        except BaseException:
            # a failed build must stop queued chains from continuing to
            # write serve tables into out_dir behind the raised error
            # (ADVICE r13); running chains finish, queued ones cancel.
            pool.shutdown(cancel_futures=True)
            raise


def update_daily_summary(
    spark: SparkSession,
    summary_path: str,
    new_events,
    entity: str = "user_id",
    max_touched_dates: int = 64,
    batch_id: str | None = None,
) -> None:
    """Incremental maintenance of the daily summary table — what a
    production ingest job runs per micro-batch instead of the full
    rebuild in :func:`optimize_layout`.

    The batch rolls up to (entity, d, cat) rows, merges additively
    with ONLY its touched date partitions, and swaps those partitions
    in (:func:`_fold`): cost is O(batch + touched-partition rows),
    never O(summary history). Same bounded-touch guard as the
    fact-table merge (streaming/ingest.py::merge_facts): a batch
    spanning more dates than the acceptance window allows is a bug
    upstream, not a bigger rewrite.

    ``batch_id`` (optional) makes the additive merge replay-safe: the
    fold records applied ids in the dir's batch ledger and a replayed
    batch is skipped (see SUMMARY_LEDGER_NAME).
    """
    _fold(
        spark,
        _daily_spec(summary_path, entity, max_touched_dates),
        new_events,
        batch_id,
    )


def _daily_spec(path: str, entity: str, max_touched: int | None = None):
    from nerd_spark.plans import derivations as D

    return _FoldSpec(
        "update_daily_summary",
        path,
        "d",
        state=lambda ev: D.daily_rollup(ev, entity),
        merge=lambda old, new: new.unionByName(old)
        .groupBy("entity", "d", "cat")
        .agg(
            F.sum("n").alias("n"),
            # keep the store schema identical to daily_rollup's output
            # (sum widens decimal precision; values stay exact)
            F.sum("val_dec").cast("decimal(28,4)").alias("val_dec"),
        ),
        binding={"entity": entity},
        max_touched=max_touched,
    )


def update_window_summary(
    spark: SparkSession,
    window_path: str,
    daily_summary_path: str,
    new_events,
    entity: str = "user_id",
    max_window: int = 30,
    batch_id: str | None = None,
) -> None:
    """Incremental maintenance of the per-entity window rollup —
    call AFTER :func:`update_daily_summary` has merged the same batch
    (the day-roll path re-reads the merged daily summary; the two
    compose under replay because each fold keeps its own batch
    ledger — a replayed ``batch_id`` skips whichever folds already
    hold it).

    Two regimes, keyed on whether the as-of DATE advances:

    - **no day-roll** (the common many-batches-per-day case): existing
      rows' window ages are unchanged, so the update is a pure
      additive merge — per-entity batch sums add into total/totalN,
      batch categories union into the per-window sets. Cost
      O(batch entities + touched rows of the table via the outer
      join); at scale the table is entity-bucketed so the join is
      exchange-free on the big side.
    - **day-roll** (once per day): window membership shifts — but only
      for entities with any activity inside the trailing max_window
      days (of either anchor): everyone else's windows/vectors are
      already all-zero and stay so. The windowed parts recompute from
      the merged daily summary *pruned to those date partitions*, and
      the rewrite is bounded to buckets containing such ACTIVE
      entities (plus the batch's); long-idle buckets stay
      byte-identical on disk. The all-history `total` stays purely
      additive (old total + batch counts).

    The as-of anchor lives in a one-row sidecar (``<path>.meta``),
    NOT in the row schema — a per-row as_of_d would make every row
    change on day-roll and unbound the rewrite. Tables written by the
    earlier per-row-as_of_d format migrate via one full rewrite.

    Either way the result is bit-identical to a full
    :func:`window_rollup` over the merged summary (pinned by
    tests/test_summary_window.py, including across a day boundary).
    """
    import datetime as _dt

    from nerd_spark.plans import derivations as D

    # discard-only: the window's gate-down recovery is a full rebuild
    # that never reads the (possibly mixed) live state
    _staged_swap_recover(
        spark, window_path, "wb", gate_name=WINDOW_GATE, resume=False
    )
    if _fold_ledger_skip(spark, window_path, batch_id, marker=WINDOW_GATE):
        return
    bd = D.daily_rollup(new_events, entity).select("entity", "d", "cat", "n")
    batch_max_d = bd.agg(F.max("d")).first()[0]
    if batch_max_d is None:
        return  # empty batch

    have_old = fsutil.exists(spark, os.path.join(window_path, WINDOW_GATE))
    if have_old:
        # entity-binding guard: meta-less (crash/legacy) falls back to
        # the existing no-gate FULL-REBUILD path, which derives from
        # the daily summary and never reads the live window rows;
        # a genuine mismatch raises (_fold_binding)
        if (
            _fold_binding(
                spark, window_path, {"entity": entity}, True,
                "update_window_summary",
            )
            == "rebuild"
        ):
            have_old = False
    old = spark.read.parquet(window_path) if have_old else None
    meta_p = _window_meta_path(window_path)
    legacy = old is not None and "as_of_d" in old.columns
    if old is None:
        old_as_of_d = None
    elif fsutil.exists(spark, os.path.join(meta_p, "_SUCCESS")):
        old_as_of_d = spark.read.parquet(meta_p).first()[0]
    elif legacy:
        old_as_of_d = old.select(F.max("as_of_d")).first()[0]
    else:
        # table without meta or column (manual surgery): recompute
        # windows from the summary; totals stay additive
        old_as_of_d = None
    new_as_of_d = max(filter(None, [old_as_of_d, batch_max_d]))
    asof_df = spark.createDataFrame([(new_as_of_d,)], "as_of_d date")

    zero = F.lit(0).cast("long")
    empty = F.array().cast("array<string>")
    zvec_l = F.array_repeat(F.lit(0).cast("long"), _VEC_DAYS)
    zvec_i = F.array_repeat(F.lit(0).cast("int"), _VEC_DAYS)
    _VECS = (("nd_days", zvec_l), ("cats_days", zvec_i), ("err_days", zvec_l))

    # bucket-scoped rewrites need the CURRENT format: bucketed, no
    # per-row as_of_d (partition files must share one schema). Legacy
    # tables migrate via one full rewrite.
    day_roll = old is None or old_as_of_d is None or new_as_of_d > old_as_of_d
    scoped_ok = old is not None and not legacy and "wb" in old.columns
    touched: list[int] | None = None

    if day_roll:
        # day-roll (or first build): windowed parts from the merged
        # daily summary, PRUNED to the partitions that can matter
        lo = new_as_of_d - _dt.timedelta(days=max_window)
        recent = (
            spark.read.parquet(daily_summary_path)
            .filter(F.col("d") >= F.lit(lo))
            .select("entity", "d", "cat", "n")
        )
        winpart = window_rollup(recent, asof_df).drop("total", "as_of_d")
        if scoped_ok and old_as_of_d is not None:
            # Bound the rewrite to buckets holding entities ACTIVE in
            # the trailing window of either anchor (covers both rows
            # whose windows gain days and rows whose windows age out),
            # plus the batch's. Entities idle past both windows carry
            # all-zero windows/vectors before AND after the roll —
            # their buckets are not rewritten (byte-identical,
            # tested). The active scan reads only pruned date
            # partitions of the daily summary.
            lo_active = min(old_as_of_d, new_as_of_d) - _dt.timedelta(
                days=max_window
            )
            active = (
                spark.read.parquet(daily_summary_path)
                .filter(F.col("d") >= F.lit(lo_active))
                .select(_wbucket().alias("wb"))
                .unionByName(bd.select(_wbucket().alias("wb")))
                .distinct()
            )
            touched = sorted(r.wb for r in active.collect())
            if len(touched) >= WINDOW_BUCKETS:
                touched = None  # every bucket active: plain overwrite
            else:
                old = old.filter(F.col("wb").isin(touched))
        if old is not None and "wb" in old.columns:
            old = old.drop("wb")
        if old is None:
            # FIRST build: all-history totals from the FULL daily
            # summary — update_daily_summary has already merged this
            # batch, and a pre-existing summary with history (window
            # table deleted for rebuild, torn _SUCCESS) would be
            # silently undercounted by batch-only seeding (ADVICE r6).
            # Assumes daily history is unpruned; when retention has
            # already dropped partitions the rebuilt total can only
            # reflect surviving history — say so loudly.
            import logging

            logging.getLogger(__name__).warning(
                "window summary first build at %s: deriving all-history "
                "totals from the daily summary; if retention pruned old "
                "daily partitions, `total` reflects surviving history "
                "only (the incremental path preserves pruned counts)",
                window_path,
            )
            totals = (
                spark.read.parquet(daily_summary_path)
                .groupBy("entity")
                .agg(F.sum("n").cast("long").alias("total"))
            )
        else:
            # all-history total stays additive: old total + batch counts
            b_tot = bd.groupBy("entity").agg(
                F.sum("n").cast("long").alias("b_total")
            )
            totals = (
                old.select("entity", "total")
                .join(b_tot, "entity", "full")
                .select(
                    "entity",
                    (
                        F.coalesce("total", zero) + F.coalesce("b_total", zero)
                    ).alias("total"),
                )
            )
        merged = totals.join(winpart, "entity", "full").select(
            "entity",
            F.coalesce("total", zero).alias("total"),
            *[
                c
                for w in _WINDOWS
                for c in (
                    F.coalesce(f"total{w}", zero).alias(f"total{w}"),
                    F.coalesce(f"cats{w}", empty).alias(f"cats{w}"),
                )
            ],
            *[F.coalesce(v, z).alias(v) for v, z in _VECS],
            F.coalesce("cat_counts30", _EMPTY_MAP()).alias("cat_counts30"),
        )
    else:
        # same-day batch: ages unchanged -> additive merge for the
        # event-count measures (each event lands in exactly one batch,
        # so batch sums add: total, totalN, and the cats SETS union
        # idempotently). The per-age cats_days COUNTS are the one
        # non-mergeable measure — a (entity, d, cat) cell split across
        # two batches must count ONCE, not once per batch — so the
        # daily vectors recompute from the merged summary pruned to
        # the last _VEC_DAYS partitions (bounded; the same cost class
        # as the day-roll recompute, and update_event_summaries runs
        # the daily merge first so the summary already holds the
        # batch). Caught by the out-of-order streamed-batches test.
        bagg = window_rollup(bd, asof_df).drop("as_of_d")
        lo_v = new_as_of_d - _dt.timedelta(days=_VEC_DAYS - 1)
        recent_v = (
            spark.read.parquet(daily_summary_path)
            .filter(F.col("d") >= F.lit(lo_v))
            .select("entity", "d", "cat", "n")
        )
        if scoped_ok:
            # restrict the merge to the buckets the batch touches: only
            # those partition dirs are rewritten below; every other
            # bucket's files stay byte-identical on disk. The touched
            # set is driver-side metadata, bounded by WINDOW_BUCKETS.
            touched = sorted(
                r.wb for r in bd.select(_wbucket().alias("wb")).distinct().collect()
            )
            old = old.filter(F.col("wb").isin(touched))
            recent_v = recent_v.filter(_wbucket().isin(touched))
        if "wb" in old.columns:
            old = old.drop("wb")
        vecs = window_rollup(recent_v, asof_df).select(
            "entity", *[v for v, _ in _VECS]
        )
        o, b = old.alias("o"), bagg.alias("b")
        merge_cols = [
            c
            for w in _WINDOWS
            for c in (
                (
                    F.coalesce(f"o.total{w}", zero)
                    + F.coalesce(f"b.total{w}", zero)
                ).alias(f"total{w}"),
                F.array_sort(
                    F.array_distinct(
                        F.concat(
                            F.coalesce(f"o.cats{w}", empty),
                            F.coalesce(f"b.cats{w}", empty),
                        )
                    )
                ).alias(f"cats{w}"),
            )
        ]
        merged = (
            o.join(b, "entity", "full")
            .select(
                "entity",
                (F.coalesce("o.total", zero) + F.coalesce("b.total", zero)).alias(
                    "total"
                ),
                *merge_cols,
                # per-cat 30d counts: event-count sums -> map union-add
                F.map_zip_with(
                    F.coalesce("o.cat_counts30", _EMPTY_MAP()),
                    F.coalesce("b.cat_counts30", _EMPTY_MAP()),
                    lambda k, x, y: F.coalesce(x, F.lit(0).cast("long"))
                    + F.coalesce(y, F.lit(0).cast("long")),
                ).alias("cat_counts30"),
            )
            .join(vecs, "entity", "left")
            .select(
                "entity",
                "total",
                *[c for w in _WINDOWS for c in (f"total{w}", f"cats{w}")],
                *[F.coalesce(v, z).alias(v) for v, z in _VECS],
                "cat_counts30",
            )
        )

    # The reader gate (WINDOW_GATE — see its comment for why not
    # _SUCCESS) stays down until the sidecar anchor is written, so a
    # tear at ANY point leaves no gate and readers fall back to the
    # raw recompute. touched=None is the day-roll whole-table rewrite:
    # full=True also removes live buckets absent from the new state.
    merged = _with_rep_columns(merged).withColumn("wb", _wbucket())
    success = os.path.join(window_path, WINDOW_GATE)
    _staged_partition_commit(
        spark,
        merged,
        window_path,
        "wb",
        gate_name=WINDOW_GATE,
        full=touched is None,
    )
    # sidecar as-of anchor BEFORE restoring the reader gate: a tear
    # between the two leaves no gate and the next update rebuilds
    asof_df.write.mode("overwrite").parquet(_window_meta_path(window_path))
    write_summary_meta(spark, window_path, {"entity": entity})
    _fold_ledger_record(spark, window_path, batch_id)
    fsutil.touch(spark, success)
    _staged_commit_finalize(spark, window_path)


def update_merged_summary(
    spark: SparkSession,
    summary_path: str,
    new_events,
    entity: str = "user_id",
    batch_id: str | None = None,
) -> None:
    """Incremental maintenance of the §2.4 merged snapshot: fold the
    batch's snapshot state into the table with the op algebra
    (operators/merge.py::merge_snapshots) and rewrite ONLY the entity
    buckets the batch touches — cost O(batch + touched-bucket rows),
    never O(entities)."""
    _fold(spark, _merged_spec(summary_path, entity), new_events, batch_id)


def _merged_spec(path: str, entity: str = "user_id"):
    from nerd_spark.operators.merge import merge_snapshots, snapshot_events

    return _FoldSpec(
        "update_merged_summary",
        path,
        "wb",
        state=lambda ev: snapshot_events(ev, entity).withColumn(
            "wb", _wbucket(entity)
        ),
        merge=_bucketed(lambda o, n: merge_snapshots(o, n, entity), entity),
        binding={"entity": entity},
    )


def write_summary_meta(spark: SparkSession, dirpath: str, meta: dict) -> None:
    """Parameter-binding sidecar for a derived table; a gate-passing
    dir with missing/mismatched meta falls back instead of serving
    wrong parameters. The commit owns the ordering (a reader that sees
    the gate must also see the binding): :func:`_commit_dir` writes
    the sidecar inside its staging dir before the marker, and the
    partitioned folds write it before re-touching their gate."""
    fsutil.write_text(
        spark, os.path.join(dirpath, SUMMARY_META_NAME), json.dumps(meta)
    )


def read_summary_meta(spark: SparkSession, dirpath: str) -> dict | None:
    txt = fsutil.read_text(spark, os.path.join(dirpath, SUMMARY_META_NAME))
    if txt is None:
        return None
    try:
        return json.loads(txt)
    except ValueError:
        return None


# Per-fold batch ledger: the summary folds are additive (NOT
# idempotent), and the streaming layer's epoch marker only records a
# FULLY-applied batch — a crash mid-update_event_summaries (one fold
# committed, a sibling torn) would re-run every fold on replay and
# double-count the committed ones (r11 verdict #7). Each fold records
# applied batch ids in its own directory, inside its commit window
# (after the data write, before the gate touch), so a replayed batch
# skips folds that already hold it and re-runs only the torn ones.
# Crash between ledger write and gate touch: the data write had
# completed, so the skip path re-touches the gate. The data write
# itself goes through _staged_partition_commit (merge_facts'
# staging-rename pattern): a crash during the write job leaves the
# live table untouched and gated; a crash during the swap leaves the
# gate dropped (readers fall back to raw) plus an intact staging
# copy, and the replay re-runs just that fold.
SUMMARY_LEDGER_NAME = "_nerd_batches.json"
_LEDGER_KEEP = 256


def _ledger_ids(spark: SparkSession, dirpath: str) -> list[str]:
    txt = fsutil.read_text(spark, os.path.join(dirpath, SUMMARY_LEDGER_NAME))
    if txt is None:
        return []
    try:
        ids = json.loads(txt)
    except ValueError:
        return []
    return ids if isinstance(ids, list) else []


def _fold_ledger_skip(
    spark: SparkSession,
    dirpath: str,
    batch_id: str | None,
    marker: str = "_SUCCESS",
) -> bool:
    """True iff this batch is already folded into the table at
    ``dirpath`` (skip the fold). Re-touches a gate the previous run
    dropped between ledger write and touch — the data write had
    already completed by ledger time."""
    if batch_id is None or batch_id not in _ledger_ids(spark, dirpath):
        return False
    gate = os.path.join(dirpath, marker)
    if not fsutil.exists(spark, gate):
        fsutil.touch(spark, gate)
    return True


def _fold_ledger_record(
    spark: SparkSession, dirpath: str, batch_id: str | None, into=None
) -> None:
    """Append ``batch_id`` to the ledger of ``dirpath``, written to
    ``into`` (default: the same dir). A ledger that is absent and
    gains no id is not written."""
    if batch_id is None and into is None:
        return
    ids = [i for i in _ledger_ids(spark, dirpath) if i != batch_id]
    if batch_id is not None:
        ids.append(batch_id)
    if ids:
        fsutil.write_text(
            spark,
            os.path.join(into or dirpath, SUMMARY_LEDGER_NAME),
            json.dumps(ids[-_LEDGER_KEEP:]),
        )


# Written into the staging dir AFTER its write job completes and
# BEFORE anything destructive happens to the live table: its presence
# is the commit point of a staged partition swap. A staging dir
# without it is an unfinished write (live untouched — discard); with
# it and the reader gate down, the swap was torn and the staged
# partitions are the ONLY complete copy of the batch's touched state —
# _staged_swap_recover completes the swap before the next fold reads
# the (mixed) live table, closing the last mid-commit corruption
# window (a replayed or subsequent batch would otherwise merge into
# partitions that had already absorbed the torn batch and
# double-count them once the gate came back).
_STAGING_MANIFEST = "_nerd_staged_commit.json"


def _staged_swap_recover(
    spark: SparkSession,
    table_path: str,
    part_col: str,
    gate_name: str = "_SUCCESS",
    resume: bool = True,
) -> None:
    """Heal a staging dir left by a crashed _staged_partition_commit.
    MUST run at fold start, BEFORE the caller reads the live table —
    after a torn swap the live table mixes old and new partitions and
    is not a valid merge input.

    - no manifest (or an unparseable one — the atomic manifest write
      means a torn commit point reads as absent, and anything else
      unparseable predates the commit decision), or the reader gate is
      back up (the table committed
      since: a seed/rebuild, a prune cycle, or the ledger-skip path
      re-touching after a tear between ledger and gate), or
      ``resume=False``: the staging copy is garbage — discard it;
    - manifest + gate down: complete the swap (the renamed-away
      partitions are exactly the ones no longer in staging, so the
      remaining staged dirs are the not-yet-applied tail), record the
      manifest's batch id in the fold ledger (the data state now fully
      holds that batch; the additive fold must never re-apply it), and
      leave the gate DOWN — post-commit sidecars/projections for the
      torn batch may be missing, and the ledger-skip heal paths
      re-touch the gate and rebuild dependents on the next call.

    ``resume=False`` is for tables whose gate-down recovery is a full
    rebuild that never reads the live state (the window summary):
    completing the swap buys nothing, and skipping the resume keeps
    their designed no-gate -> rebuild path authoritative. Resume also
    assumes touched-partition commits (``full=False``) — the only
    ``full`` caller is the window summary, which discards."""
    staging = table_path.rstrip("/") + ".staging"
    if not fsutil.exists(spark, staging):
        return
    txt = fsutil.read_text(spark, os.path.join(staging, _STAGING_MANIFEST))
    gate_up = fsutil.exists(spark, os.path.join(table_path, gate_name))
    try:
        bid = json.loads(txt).get("batch_id") if txt is not None else None
    except (ValueError, AttributeError):
        # The manifest is written atomically (temp + rename), so a
        # readable-but-unparseable manifest means the commit point was
        # never durably reached (pre-atomic artifact, torn non-atomic
        # filesystem) — resuming would swap the batch in with no
        # ledger entry and replay would double-count it. Discard: the
        # live table is untouched and the fold simply re-runs.
        txt = None
        bid = None
    if txt is None or gate_up or not resume:
        fsutil.delete(spark, staging, recursive=True)
        return
    fsutil.swap_partition_dirs(spark, staging, table_path, part_col + "=")
    if bid is not None:
        _fold_ledger_record(spark, table_path, bid)
    fsutil.delete(spark, staging, recursive=True)


def _staged_partition_commit(
    spark: SparkSession,
    merged,
    table_path: str,
    part_col: str,
    gate_name: str = "_SUCCESS",
    full: bool = False,
    batch_id: str | None = None,
) -> list[str]:
    """Commit ``merged`` — the rewritten rows of its touched
    ``part_col`` partitions (the WHOLE table when ``full``) — into the
    partitioned summary at ``table_path`` with the staging-rename
    pattern of streaming/ingest.py::merge_facts, replacing the former
    in-place dynamic-partition overwrite. Two things the in-place
    overwrite could not give:

    - the merge plan reads the very live partitions it replaces, but
      the staging job writes ELSEWHERE — no self-overwrite race, so
      callers no longer pay the eager ``localCheckpoint`` lineage cut
      that previously guarded against it;
    - the reader gate is dropped around a handful of directory renames
      (each atomic on HDFS/posix) instead of around a whole Spark
      write job: the serve tier's gate-down window shrinks from the
      job's seconds to the swap's milliseconds. A tear during the
      write job leaves the live table untouched AND still gated; a
      tear mid-swap leaves no gate (readers fall back to raw) plus an
      intact staging copy for recovery, and the fold's batch ledger
      re-runs exactly that fold on replay.

    Only ``part_col=`` children are swapped: ledger files, meta
    sidecars and the gate at the table root are never touched by the
    swap. ``full`` additionally deletes live partitions absent from
    staging (the whole-table-rewrite case). The caller re-touches the
    gate after its sidecar/ledger writes, exactly as before. Object
    stores without atomic rename (raw S3) want an ACID table format
    (Delta/Iceberg) here instead — same note as merge_facts. Returns
    the staged partition names."""
    staging = table_path.rstrip("/") + ".staging"
    fsutil.delete(spark, staging, recursive=True)
    # one file per touched partition, as the dynamic overwrite kept it
    merged.repartition(part_col).write.mode("overwrite").partitionBy(
        part_col
    ).parquet(staging)
    prefix = part_col + "="
    staged = [
        n for n in fsutil.list_names(spark, staging) if n.startswith(prefix)
    ]
    # commit point: manifest AFTER the write job, BEFORE anything
    # destructive — from here _staged_swap_recover can finish the job.
    # Atomic (temp name + rename): the manifest's existence IS the
    # commit decision, so a crash mid-write must leave it absent, not
    # torn — a torn manifest would read as "commit reached" while its
    # batch_id is unrecoverable, and the recovery swap would apply the
    # batch unledgered (replay would then double-count it).
    fsutil.write_text_atomic(
        spark,
        os.path.join(staging, _STAGING_MANIFEST),
        json.dumps({"batch_id": batch_id, "part_col": part_col}),
    )
    fsutil.mkdirs(spark, table_path)
    # nothing destructive has happened yet; drop the reader gate only
    # now, for the duration of the swap
    fsutil.delete(spark, os.path.join(table_path, gate_name))
    if full:
        for name in fsutil.list_names(spark, table_path):
            stale = os.path.join(table_path, name)
            # Hadoop reports a failed delete by returning false —
            # unchecked, the stale partition would stay live
            if name.startswith(prefix) and name not in staged and not (
                fsutil.delete(spark, stale, recursive=True)
            ):
                raise IOError(
                    f"_staged_partition_commit: failed to remove {stale}"
                )
    fsutil.swap_partition_dirs(spark, staging, table_path, prefix)
    # staging (and its manifest) deliberately SURVIVES the swap: the
    # caller deletes it via _staged_commit_finalize only after its
    # sidecar writes, ledger record, and gate touch. A tear anywhere
    # in between leaves the manifest for _staged_swap_recover, which
    # records the batch in the fold ledger — without this, a tear
    # after the swap but before the ledger write would replay into a
    # state that already holds the batch and double-count it (caught
    # by the tear-point sweep test at exactly that boundary).
    return staged


def _fold_binding(
    spark: SparkSession,
    state_path: str,
    binding: dict,
    has_state: bool,
    what: str,
    lenient: tuple[str, ...] = (),
) -> str:
    """Parameter-binding guard for the additive folds (the funnel
    stage-binding discipline generalized): each fold stamps its
    parameters (entity column, type/value columns, k) into the state
    dir's meta sidecar inside the commit window, and a later fold
    must present the SAME binding — values from a different source
    column would merge into the same normalized columns and corrupt
    the state silently.

    Returns ``"fold"`` (binding matches, or fresh state — the caller
    stamps it), ``"rebuild"`` (state present but meta missing: a
    crash artifact or a pre-binding legacy dir — the binding is
    unknowable, so the caller rebuilds the state from the fact table
    for ITS binding where the table is reachable, or stamps when it
    is not), or raises on a genuine mismatch (a caller error, never a
    crash artifact — crashes lose the meta, they do not rewrite it).
    Keys in ``lenient`` may be absent from a legacy meta written
    before they were bound."""
    if not has_state:
        return "fold"
    prev = read_summary_meta(spark, state_path)
    if prev is None:
        return "rebuild"
    for k, v in binding.items():
        if prev.get(k) != v and not (k in lenient and prev.get(k) is None):
            bound = " / ".join(f"{b}={prev.get(b)!r}" for b in binding)
            raise ValueError(
                f"{what}: existing state at {state_path} is bound to "
                f"{bound}, cannot fold a batch at {binding!r} into it — "
                "rebuild from raw events instead"
            )
    return "fold"


def _warn_metaless_adoption(what: str, state_path: str, binding: dict) -> None:
    """Audit trail for the stamp-on-missing folds (daily/merged
    summary): those state dirs carry no route back to a fact table, so
    a meta-less dir (pre-binding legacy layout, or a crash that lost
    the sidecar) is ADOPTED and stamped with the caller's binding
    rather than rebuilt. If the dir was genuinely built under a
    different binding, the adoption merges mismatched semantics with
    no raised error — exactly what the binding guard exists to
    prevent — so say it loudly (the window summary's lossy first-build
    warning is the model): operators can audit legacy dirs instead of
    discovering corrupted summaries later."""
    import logging

    logging.getLogger(__name__).warning(
        "%s: state at %s has data but no binding sidecar (pre-binding "
        "legacy dir or crash artifact); ADOPTING it under %r. If it "
        "was built with different parameters this fold merges "
        "mismatched semantics — verify the dir's provenance or delete "
        "it to force a clean rebuild",
        what,
        state_path,
        binding,
    )


def _staged_commit_finalize(spark: SparkSession, table_path: str) -> None:
    """Drop the staging dir of a fully-committed staged fold — call
    ONLY after the ledger record and gate touch. From this point the
    ledger alone carries the batch's applied-ness."""
    fsutil.delete(
        spark, table_path.rstrip("/") + ".staging", recursive=True
    )


def _commit_dir(
    spark: SparkSession,
    rows,
    path: str,
    meta: dict | None = None,
    batch_id: str | None = None,
    one_file: bool = True,
) -> None:
    """Write-aside commit of a whole unpartitioned serve table — the
    only writer of those dirs. ``rows`` land in ``<path>.staging``
    (Spark's own ``_SUCCESS`` suppressed), then the meta sidecar and
    the live dir's batch ledger (plus ``batch_id``) go inside it, then
    ``_SUCCESS`` is touched LAST, then :func:`_recover_dir` replaces
    the live dir. A reader sees the old dir with its old meta, or no
    gated dir, or the new one complete: never a marker without its
    binding. The staging write reads nothing it replaces, so plans
    over the live dir (top-k, the as-of anchor) need no lineage cut."""
    staging = path.rstrip("/") + ".staging"
    (rows.coalesce(1) if one_file else rows).write.mode("overwrite").option(
        "mapreduce.fileoutputcommitter.marksuccessfuljobs", "false"
    ).parquet(staging)
    if meta is not None:
        write_summary_meta(spark, staging, meta)
    _fold_ledger_record(spark, path, batch_id, into=staging)
    fsutil.touch(spark, os.path.join(staging, "_SUCCESS"))
    _recover_dir(spark, path)


def _recover_dir(spark: SparkSession, path: str) -> None:
    """Finish or discard a whole-dir commit (:func:`_commit_dir`) —
    the rule of streaming/epochs._resume_pending: a staging dir
    holding ``_SUCCESS`` is complete and replaces the live dir
    (delete, then rename); one without it is discarded. Run it before
    reading a dir whose torn commit may have deleted the live copy."""
    staging = path.rstrip("/") + ".staging"
    if not fsutil.exists(spark, os.path.join(staging, "_SUCCESS")):
        fsutil.delete(spark, staging, recursive=True)
        return
    fsutil.delete(spark, path, recursive=True)
    if not fsutil.rename(spark, staging, path):
        raise IOError(f"_recover_dir: failed to swap in {staging}")


@dataclass(frozen=True)
class _FoldSpec:
    """One partitioned serve table as the fold driver sees it: what
    its state is and how two states merge — the state-of(batch) +
    merge(old, new) split of incremental maintenance. ``state`` maps
    events to state rows carrying ``part_col``; ``merge`` folds the
    batch's rows into the live rows of the partitions they touch.
    The layout seed (:func:`_seed`) and every fold share them."""

    what: str  # the public fold, named in errors and warnings
    path: str
    part_col: str
    state: Callable
    merge: Callable
    binding: dict  # stamped into the meta sidecar, checked per fold
    # meta-less state: rebuild from this dir's events; None = adopt it
    # under the caller's binding, with a warning
    events_dir: str | None = None
    deps: Callable | None = None  # rewrites tables derived from state
    deps_marker: str | None = None  # a dependent's commit marker
    lenient: tuple[str, ...] = ()
    # the table exists only where a seed certified it: an absent dir
    # is a no-op, a partition-less one the seed's schema-only marker
    seeded_only: bool = False
    max_touched: int | None = None


def _bucketed(merge: Callable, key: str) -> Callable:
    """Lift a state merge over the ``wb`` bucket column."""
    return lambda old, new: merge(old.drop("wb"), new.drop("wb")).withColumn(
        "wb", _wbucket(key)
    )


def _sum_counts(key: str) -> Callable:
    """Merge of additive (et, key, cnt) count tables."""
    return _bucketed(
        lambda o, n: o.unionByName(n)
        .groupBy("et", key)
        .agg(F.sum("cnt").alias("cnt")),
        key,
    )


def _fold(spark: SparkSession, spec: _FoldSpec, new_events, batch_id) -> None:
    """Fold one batch into the partitioned serve table of ``spec``.
    The commit sequence, shared by every partitioned fold:

    1. recover a torn staged swap (:func:`_staged_swap_recover`);
    2. ledger skip: a batch already in the dir's ledger returns after
       re-touching a gate dropped between ledger write and touch, and
       re-running the dependents whose commit marker predates the
       state's (a tear between the state commit and their writes);
    3. state of the batch, and the partitions it touches;
    4. binding check (:func:`_fold_binding`): meta-less state is
       rebuilt from the dir's events, or adopted with a warning when
       the table has no route back to them;
    5. merge the batch into ONLY the touched live partitions;
    6. staged commit (:func:`_staged_partition_commit`): the merged
       rows are fully written to a staging dir BEFORE any live
       partition moves — the merge plan reads the very partitions the
       commit replaces — and the root ``_SUCCESS`` reader gate is down
       only around the directory swap. A tear anywhere leaves no gate
       (queries fall back to the raw-events scan, never serve corrupt
       partitions) plus the staging copy for step 1;
    7. meta sidecar, ledger record, gate touch, staging finalize;
    8. dependents (result caches, projections) from the committed
       state, each a whole-dir :func:`_commit_dir`; ``deps_marker`` is
       the marker of the LAST one written, so a tear anywhere among
       them leaves it absent or older than the gate and step 2 re-runs
       them all.

    A table with no partitions never gets a gate: readers cannot infer
    a schema from it. With no state and an empty batch the fold only
    records the ledger id."""
    path, part = spec.path, spec.part_col
    gate = os.path.join(path, "_SUCCESS")

    def has_parts() -> bool:
        # state presence = any partition dir, NOT the gate: the gate is
        # down during every commit window, and a merge that missed the
        # existing rows would drop them on overlapping partitions
        return any(
            n.startswith(part + "=") for n in fsutil.list_names(spark, path)
        )

    _staged_swap_recover(spark, path, part)
    if spec.seeded_only and not fsutil.exists(spark, path):
        return
    if batch_id is not None and batch_id in _ledger_ids(spark, path):
        if has_parts():
            if not fsutil.exists(spark, gate):
                fsutil.touch(spark, gate)
            if spec.deps is not None:
                try:
                    stale = not fsutil.exists(spark, spec.deps_marker) or (
                        fsutil.mtime(spark, spec.deps_marker)
                        < fsutil.mtime(spark, gate)
                    )
                except Py4JJavaError:  # a marker deleted meanwhile
                    stale = True
                if stale:
                    spec.deps()
        return
    bs = spec.state(new_events)
    touched = [r[0] for r in bs.select(part).distinct().collect()]
    if spec.max_touched is not None and len(touched) > spec.max_touched:
        raise ValueError(
            f"{spec.what}: batch touches {len(touched)} {part} "
            f"partitions (> {spec.max_touched}); filter to the "
            "acceptance window first (P10)"
        )
    have = has_parts()
    verdict = _fold_binding(
        spark,
        path,
        spec.binding,
        have or spec.seeded_only,  # the seed marker's meta binds too
        spec.what,
        spec.lenient,
    )
    if verdict == "rebuild" and spec.events_dir is None:
        _warn_metaless_adoption(spec.what, path, spec.binding)
    elif verdict == "rebuild":
        from nerd_spark.session import read_table

        bs = spec.state(read_table(spark, spec.events_dir, "events"))
        have = False
    elif not have and not touched:
        _fold_ledger_record(spark, path, batch_id)
        return
    merged = bs
    if not have:
        # no partitions to merge with: clear what the dir holds (state
        # of unknown binding, a schema-only seed marker, a ledger of
        # empty batches) before the first partitioned build
        fsutil.delete(spark, path, recursive=True)
    else:
        old = (
            spark.read.parquet(path)
            .filter(F.col(part).isin(touched))  # partition-pruned scan
            .select(bs.columns)
        )
        merged = spec.merge(old, bs)
    staged = _staged_partition_commit(
        spark, merged, path, part, batch_id=batch_id
    )
    write_summary_meta(spark, path, spec.binding)
    _fold_ledger_record(spark, path, batch_id)
    if have or staged:
        fsutil.touch(spark, gate)
    _staged_commit_finalize(spark, path)
    if (have or staged) and spec.deps is not None:
        spec.deps()


def _seed(spark: SparkSession, spec: _FoldSpec, rows, partitioned=True) -> None:
    """Layout-time build of ``spec``'s table from its state ``rows``,
    written straight into the fresh dir: no staging, no ledger."""
    w = rows.write
    if partitioned:
        w = rows.repartition(spec.part_col).write.partitionBy(spec.part_col)
    w.mode("overwrite").parquet(spec.path)
    write_summary_meta(spark, spec.path, spec.binding)
    fsutil.touch(spark, os.path.join(spec.path, "_SUCCESS"))
    if spec.deps is not None:
        spec.deps()


def update_keycount_summaries(
    spark: SparkSession,
    data_dir: str,
    new_events,
    entity: str = "user_id",
    type_col: str = "event_type",
    batch_id: str | None = None,
) -> None:
    """Incremental maintenance of the (type, entity) count table and
    its entity-total projection — the serve tables behind the hh /
    top-k sketch-spot queries (operators/sketches.py::*_from_counts).
    Counts are ADDITIVE, so the fold is union + sum within touched
    entity buckets; null types/entities are KEPT in the table (true
    grain counts) and each serve path applies its own null contract.
    The totals table re-derives from the committed pair table (one
    O(pairs) pass), so the two can never disagree."""
    _fold(
        spark,
        _keycount_spec(spark, data_dir, entity, type_col),
        new_events,
        batch_id,
    )


def _keycount_spec(
    spark: SparkSession,
    data_dir: str,
    entity: str = "user_id",
    type_col: str = "event_type",
):
    pair_path = os.path.join(data_dir, SUMMARY_TYPE_USER_DIRNAME)
    tot_path = os.path.join(data_dir, SUMMARY_USER_COUNTS_DIRNAME)

    def deps():
        _commit_dir(
            spark,
            spark.read.parquet(pair_path)
            .groupBy("u")
            .agg(F.sum("cnt").alias("cnt")),
            tot_path,
            one_file=False,
        )
        # resolved hh/top-k answers for the registered bindings
        _write_keycount_results(spark, data_dir, entity, type_col)

    return _FoldSpec(
        "update_keycount_summaries",
        pair_path,
        "wb",
        state=lambda ev: ev.groupBy(
            F.col(type_col).alias("et"), F.col(entity).alias("u")
        )
        .agg(F.count("*").alias("cnt"))
        .withColumn("wb", _wbucket("u")),
        merge=_sum_counts("u"),
        binding={"entity": entity, "type_col": type_col},
        events_dir=data_dir,
        deps=deps,
        deps_marker=os.path.join(
            data_dir, SUMMARY_HH_BY_MINCOUNT_RESULT_DIRNAME, "_SUCCESS"
        ),
    )


def _write_keycount_results(
    spark: SparkSession,
    data_dir: str,
    entity: str = "user_id",
    type_col: str = "event_type",
) -> None:
    """Resolve the registered heavy-hitter/top-k bindings from the
    COMMITTED count tables into meta-bound result caches (the
    funnel-result discipline): hh answers are tiny (keys over a
    corpus-share threshold / top k rows), so even the count-table
    scan + totals join moves to ingest and the queries read files.
    Meta records the grain columns AND the threshold — a fold run at
    a different entity/type binding, or a query at different
    parameters, falls through to the count-table tier (exact for any
    binding). The by-type min-count answer is written LAST: its marker
    is the fold's dependents marker."""
    from nerd_spark.operators import sketches as SK

    tot = spark.read.parquet(
        os.path.join(data_dir, SUMMARY_USER_COUNTS_DIRNAME)
    ).withColumnRenamed("u", entity)
    pair = (
        spark.read.parquet(os.path.join(data_dir, SUMMARY_TYPE_USER_DIRNAME))
        .withColumnRenamed("et", type_col)
        .withColumnRenamed("u", entity)
    )
    ent = {"entity": entity}
    grp = {"group": type_col, "entity": entity}
    for dirname, rows, meta in (
        (
            SUMMARY_HH_USERS_RESULT_DIRNAME,
            SK.heavy_hitters_from_counts(tot, entity, HH_USERS_MIN_FRAC),
            {**ent, "min_frac": HH_USERS_MIN_FRAC},
        ),
        (
            SUMMARY_TOPFREQ_RESULT_DIRNAME,
            SK.top_frequent_from_counts(tot, entity, k=TOPFREQ_K),
            {**ent, "k": TOPFREQ_K},
        ),
        (
            SUMMARY_HH_MINCOUNT_RESULT_DIRNAME,
            SK.heavy_keys_min_count_from_counts(
                tot, entity, HH_USERS_MIN_COUNT
            ),
            {**ent, "min_count": HH_USERS_MIN_COUNT},
        ),
        (
            SUMMARY_HH_BY_TYPE_RESULT_DIRNAME,
            SK.heavy_hitters_by_from_counts(
                pair, type_col, entity, HH_BY_TYPE_MIN_FRAC
            ),
            {**grp, "min_frac": HH_BY_TYPE_MIN_FRAC},
        ),
        (
            SUMMARY_HH_BY_MINCOUNT_RESULT_DIRNAME,
            SK.heavy_keys_min_count_by_from_counts(
                pair, type_col, entity, HH_BY_TYPE_MIN_COUNT
            ),
            {**grp, "min_count": HH_BY_TYPE_MIN_COUNT},
        ),
    ):
        _commit_dir(spark, rows, os.path.join(data_dir, dirname), meta)


def _write_quantile_results(spark: SparkSession, data_dir: str) -> None:
    """Resolve the registered quantile bindings from the committed
    histogram tables into meta-bound result caches (|probs| rows and
    |groups|x|probs| rows) — the funnel-result discipline: even the
    histogram window's one small job moves to ingest and the queries
    read files. Non-default probs fall through to the histogram tier,
    which resolves ANY binding exactly. The per-type answer is written
    LAST: its marker is the fold's dependents marker."""
    from nerd_spark.operators import sketches as SK

    counts = spark.read.parquet(
        os.path.join(data_dir, SUMMARY_VALUE_COUNTS_DIRNAME)
    )
    hist = spark.read.parquet(
        os.path.join(data_dir, SUMMARY_VALUE_HIST_DIRNAME)
    )
    probs = list(QUANTILE_PROBS_DEFAULT)
    by_probs = list(QUANTILE_BY_PROBS_DEFAULT)
    _commit_dir(
        spark,
        SK.quantiles_from_counts(counts, probs),
        os.path.join(data_dir, SUMMARY_QUANTILE_RESULT_DIRNAME),
        {"probs": probs},
    )
    _commit_dir(
        spark,
        SK.quantiles_by_from_counts(hist, "event_type", by_probs),
        os.path.join(data_dir, SUMMARY_QUANTILE_BY_RESULT_DIRNAME),
        {"probs": by_probs},
    )


def _value_hist_spec(
    spark: SparkSession,
    data_dir: str,
    type_col: str = "event_type",
    value_col: str = "value",
    max_rows: int | None = None,
):
    hist_path = os.path.join(data_dir, SUMMARY_VALUE_HIST_DIRNAME)
    counts_path = os.path.join(data_dir, SUMMARY_VALUE_COUNTS_DIRNAME)

    def deps():
        # growth guard (folds only): parquet count(*) is footer-only
        if max_rows is not None and (
            spark.read.parquet(hist_path).count() > max_rows
        ):
            for p in (
                hist_path,
                counts_path,
                os.path.join(data_dir, SUMMARY_QUANTILE_RESULT_DIRNAME),
                os.path.join(data_dir, SUMMARY_QUANTILE_BY_RESULT_DIRNAME),
            ):
                fsutil.delete(spark, p, recursive=True)
            return
        _commit_dir(
            spark,
            spark.read.parquet(hist_path)
            .groupBy("v")
            .agg(F.sum("cnt").alias("cnt")),
            counts_path,
            one_file=False,
        )
        _write_quantile_results(spark, data_dir)

    return _FoldSpec(
        "update_value_hist_summary",
        hist_path,
        "wb",
        state=lambda ev: ev.filter(F.col(value_col).isNotNull())
        .groupBy(F.col(type_col).alias("et"), F.col(value_col).alias("v"))
        .agg(F.count("*").alias("cnt"))
        .withColumn("wb", _wbucket("v")),
        merge=_sum_counts("v"),
        binding={"type_col": type_col, "value_col": value_col},
        events_dir=data_dir,
        deps=deps,
        deps_marker=os.path.join(
            data_dir, SUMMARY_QUANTILE_BY_RESULT_DIRNAME, "_SUCCESS"
        ),
        seeded_only=True,
    )


def seed_value_hist(
    spark: SparkSession,
    data_dir: str,
    events=None,
    type_col: str = "event_type",
    value_col: str = "value",
) -> None:
    """One-shot build of the (event_type, value) histogram + global
    value-counts serve tables from ``events`` (default: the dir's
    events table). No bounded-domain gate here — callers certify
    (optimize_layout checks the colstats sidecar; tests and the
    serve-path demo query seed knowingly-bounded frames)."""
    if events is None:
        from nerd_spark.session import read_table

        events = read_table(spark, data_dir, "events")
    spec = _value_hist_spec(spark, data_dir, type_col, value_col)
    rows = spec.state(events).localCheckpoint()
    # a degenerate all-null-value corpus is written unpartitioned: a
    # partitioned write of an empty frame leaves an unreadable dir (no
    # partition files to infer from — hypothesis-caught). Projections
    # and results derive to empty (matching the reference: no values,
    # no quantiles), and the fold replaces this schema-only marker
    # with the first real partitioned build.
    _seed(spark, spec, rows, partitioned=rows.limit(1).count() > 0)


def update_value_hist_summary(
    spark: SparkSession,
    data_dir: str,
    new_events,
    type_col: str = "event_type",
    value_col: str = "value",
    batch_id: str | None = None,
    max_rows: int = VALUE_HIST_MAX_ROWS,
) -> None:
    """Incremental maintenance of the (event_type, value) histogram
    and its global (value) projection — the quantile family's serve
    tables (exact quantiles = cumulative-sum lookups over distinct
    values, operators/sketches.py::_hist_quantiles). Counts are
    ADDITIVE, so the fold is the keycount discipline verbatim: union
    + sum within touched value buckets, global projection re-derived
    from the committed pair table.

    The table exists only where optimize_layout's bounded-domain
    certificate allowed the seed; a dir without one is a no-op (the
    queries keep the GK bracket path). A fold that pushes the
    histogram past ``max_rows`` DELETES both tables — on a drifting-
    to-continuous domain the histogram stops earning its keep, and
    the queries' probe falls back to bracket exactly as if the seed
    had never been certified. Null event_type rows are KEPT (the
    per-group quantile contract groups nulls); null values are
    excluded (quantiles are over non-null values)."""
    _fold(
        spark,
        _value_hist_spec(spark, data_dir, type_col, value_col, max_rows),
        new_events,
        batch_id,
    )


def _topk_value(df, k: int):
    # no null filter: the raw path (and the oracle) keep null values,
    # sorted last by both engines' desc default — the serve table
    # must mirror that ordering exactly, and nulls-last is still a
    # total order so the top-k merge algebra holds
    return (
        df.select("event_id", "value")
        .orderBy(F.col("value").desc(), F.col("event_id"))
        .limit(k)
    )


def update_topk_summary(
    spark: SparkSession,
    data_dir: str,
    new_events,
    k: int = TOPK_VALUE_K,
    batch_id: str | None = None,
) -> None:
    """Incremental maintenance of the global top-k-by-value rows (the
    w1 serve table): top-k is an exactly mergeable sketch for
    APPEND-ONLY data — topk(S ∪ B) == topk(topk(S) ∪ topk(B)) — so
    the fold unions two k-row frames. The union dedupes on event_id
    (unique in the fact table) BEFORE re-limiting: a replayed batch or
    an optimize_layout re-run over an existing dir re-presents rows
    the state already holds, and without the dedupe each duplicate
    displaces a legitimate event from the served k rows (r11 advisor).
    Deletions/retention rewrites bump the events dir mtime past the
    commit and the gate falls back to the raw TakeOrderedAndProject
    (exact, just a corpus scan). The answer, its meta and the carried
    batch ledger commit as one dir (:func:`_commit_dir`)."""
    out = os.path.join(data_dir, SUMMARY_TOPK_VALUE_DIRNAME)
    _recover_dir(spark, out)
    if _fold_ledger_skip(spark, out, batch_id):
        return
    bt = _topk_value(new_events, k)
    if fsutil.exists(spark, os.path.join(out, "_SUCCESS")):
        prev = read_summary_meta(spark, out)
        if prev is not None and int(prev.get("k") or 0) == int(k):
            old = spark.read.parquet(out).select("event_id", "value")
            bt = _topk_value(
                old.unionByName(bt).dropDuplicates(["event_id"]), k
            )
        else:
            # k is a tuning parameter, not a semantic binding: a
            # different (or unknowable, meta-less) k rebuilds the
            # answer exactly from the fact table — merging k-row
            # states of different k silently truncates
            from nerd_spark.session import read_table

            bt = _topk_value(read_table(spark, data_dir, "events"), k)
    elif fsutil.exists(spark, out):
        # state lost: the dir exists without its gate — left by a
        # crash inside an in-place overwrite (legacy dirs; the
        # write-aside commit never exposes one), which destroyed the
        # k-row answer AND the in-dir ledger. Without this branch the
        # fold would commit topk(batch) as the global answer under a
        # fresh gate (served wrong). The exact answer IS recoverable
        # from the fact table (append-first contract: events holds
        # every folded batch), so rebuild from it; a later replay of
        # an old batch re-merges harmlessly — the event_id dedupe
        # makes the top-k fold idempotent.
        from nerd_spark.session import read_table

        bt = _topk_value(read_table(spark, data_dir, "events"), k)
    _commit_dir(spark, bt, out, {"k": k, "order": "value_desc"}, batch_id)


def update_funnel_summary(
    spark: SparkSession,
    data_dir: str,
    new_events,
    stages: list[str] | None = None,
    entity: str = "user_id",
    batch_id: str | None = None,
) -> None:
    """Incremental maintenance of the funnel per-user state + result
    cache: fold the batch's distinct (ts, stage) sets into the state
    table (set union is the exact mergeable form — a late stage-1
    event lowers t1 and re-qualifies stage-2 timestamps, so scalar
    t_i states cannot fold; operators/funnels.py::funnel_user_state)
    and rewrite ONLY touched entity buckets. Resolved t1..tk columns
    are recomputed row-locally on the rewritten buckets.

    The existing state's meta sidecar BINDS the stage list: the state
    only retains (ts, stage) pairs for its recorded stage types, so
    folding a differently-staged batch state into it would produce a
    gate-passing table missing historical events for the new stages
    (r11 advisor). A stage mismatch against existing state raises —
    rebuild the state from the full events table (optimize_layout or
    a fresh dir) instead of folding across bindings."""
    stages = list(stages or FUNNEL_STAGES_DEFAULT)
    _fold(
        spark, _funnel_spec(spark, data_dir, stages, entity), new_events, batch_id
    )


def _funnel_spec(
    spark: SparkSession, data_dir: str, stages: list[str], entity="user_id"
):
    from nerd_spark.operators.funnels import (
        funnel_rows_from_times,
        funnel_user_state,
        merge_funnel_state,
        resolve_funnel_times,
    )

    path = os.path.join(data_dir, SUMMARY_FUNNEL_DIRNAME)
    res_path = os.path.join(data_dir, SUMMARY_FUNNEL_RESULT_DIRNAME)

    def merge(old, new):
        return resolve_funnel_times(
            merge_funnel_state(
                old.select("u", "st_arr"), new.select("u", "st_arr")
            ),
            stages,
        )

    def deps():
        # the resolved |stages| rows (the registered query becomes a
        # 3-row file read), at the state's own binding: a ledger-skip
        # heal may be called with other stages than the state holds
        bound = (read_summary_meta(spark, path) or {}).get("stages")
        bound = list(bound or stages)
        rows = funnel_rows_from_times(spark.read.parquet(path), bound)
        _commit_dir(spark, rows, res_path, {"stages": bound})

    return _FoldSpec(
        "update_funnel_summary",
        path,
        "wb",
        state=lambda ev: resolve_funnel_times(
            funnel_user_state(ev, stages, user_col=entity), stages
        ).withColumn("wb", _wbucket("u")),
        merge=_bucketed(merge, "u"),
        binding={"stages": stages, "entity": entity},
        events_dir=data_dir,
        deps=deps,
        deps_marker=os.path.join(res_path, "_SUCCESS"),
        lenient=("entity",),
    )


def update_cohort_summary(
    spark: SparkSession,
    data_dir: str,
    new_events,
    entity: str = "user_id",
    batch_id: str | None = None,
) -> None:
    """Incremental maintenance of the cohort per-user state + result
    cache: day-set union / per-type first-day min per user (both
    order-insensitive — the streaming_cohort monotone-set argument),
    touched-buckets-only rewrite."""
    _fold(spark, _cohort_spec(spark, data_dir, entity), new_events, batch_id)


def _cohort_spec(spark: SparkSession, data_dir: str, entity="user_id"):
    from nerd_spark.operators.funnels import (
        cohort_state_to_per_user,
        cohort_user_state,
        merge_cohort_state,
        retention_from_per_user,
    )

    path = os.path.join(data_dir, SUMMARY_COHORT_DIRNAME)
    res_path = os.path.join(data_dir, SUMMARY_COHORT_RESULT_DIRNAME)
    c = COHORT_DEFAULTS

    def deps():
        # the resolved (cohort_date, period, ...) retention rows of the
        # default binding: |cohorts| x |periods| rows
        per_user = cohort_state_to_per_user(
            spark.read.parquet(path), c["anchor_type"]
        )
        rows = retention_from_per_user(
            per_user, c["period_days"], c["n_periods"]
        )
        _commit_dir(spark, rows, res_path, dict(c))

    return _FoldSpec(
        "update_cohort_summary",
        path,
        "wb",
        state=lambda ev: cohort_user_state(ev, user_col=entity).withColumn(
            "wb", _wbucket("u")
        ),
        merge=_bucketed(merge_cohort_state, "u"),
        binding={"entity": entity},
        events_dir=data_dir,
        deps=deps,
        deps_marker=os.path.join(res_path, "_SUCCESS"),
    )


# (dirname, reader-gate file) for every ingest-maintained serve table
# an events data dir can carry — the introspection registry behind
# serve_table_status, and where the one reader gate (_gate) looks up
# each table's commit marker. Document-side tables (token hist, doc
# card) are keyed on documents rather than events; status still
# reports them.
_SERVE_TABLES: tuple[tuple[str, str], ...] = (
    (SUMMARY_DAILY_DIRNAME, "_SUCCESS"),
    (SUMMARY_ASOF_DIRNAME, "_SUCCESS"),
    (SUMMARY_WINDOW_DIRNAME, WINDOW_GATE),
    (SUMMARY_MERGED_DIRNAME, "_SUCCESS"),
    (SUMMARY_FUNNEL_DIRNAME, "_SUCCESS"),
    (SUMMARY_FUNNEL_RESULT_DIRNAME, "_SUCCESS"),
    (SUMMARY_COHORT_DIRNAME, "_SUCCESS"),
    (SUMMARY_COHORT_RESULT_DIRNAME, "_SUCCESS"),
    (SUMMARY_TYPE_USER_DIRNAME, "_SUCCESS"),
    (SUMMARY_USER_COUNTS_DIRNAME, "_SUCCESS"),
    (SUMMARY_HH_USERS_RESULT_DIRNAME, "_SUCCESS"),
    (SUMMARY_HH_BY_TYPE_RESULT_DIRNAME, "_SUCCESS"),
    (SUMMARY_TOPFREQ_RESULT_DIRNAME, "_SUCCESS"),
    (SUMMARY_HH_MINCOUNT_RESULT_DIRNAME, "_SUCCESS"),
    (SUMMARY_HH_BY_MINCOUNT_RESULT_DIRNAME, "_SUCCESS"),
    (SUMMARY_TOPK_VALUE_DIRNAME, "_SUCCESS"),
    (SUMMARY_VALUE_HIST_DIRNAME, "_SUCCESS"),
    (SUMMARY_VALUE_COUNTS_DIRNAME, "_SUCCESS"),
    (SUMMARY_QUANTILE_RESULT_DIRNAME, "_SUCCESS"),
    (SUMMARY_QUANTILE_BY_RESULT_DIRNAME, "_SUCCESS"),
    (SUMMARY_DOC_TOKEN_HIST_DIRNAME, "_SUCCESS"),
    (SUMMARY_DOC_CARD_RESULT_DIRNAME, "_SUCCESS"),
)


def serve_table_status(spark: SparkSession, data_dir: str) -> list[dict]:
    """Operational introspection of every ingest-maintained serve
    table under ``data_dir`` — what an on-call runbook polls before
    trusting or debugging the serve tier. One dict per table:

    - ``present``: the directory exists;
    - ``gated``: its reader gate file is up (a committed table);
    - ``fresh``: gate mtime >= the events dir mtime — the freshness
      test of the one serve gate (:func:`summary_fresh`); False means
      queries are on the raw fallback for this table;
    - ``ledger_batches``: applied-batch count in the fold ledger
      (0 for seed-only or lederless tables);
    - ``staging``: a ``.staging`` sibling exists — either a commit in
      flight right now or a torn commit awaiting the next fold's
      recovery (with ``gated`` False, readers are on raw meanwhile).

    Pure driver-side metadata through the Hadoop FS layer (a handful
    of stats per table, no Spark jobs) — safe to poll from a
    monitoring loop at any frequency."""
    out = []
    for dirname, gate_name in _SERVE_TABLES:
        path = os.path.join(data_dir, dirname)
        present = fsutil.exists(spark, path)
        gate = os.path.join(path, gate_name)
        out.append(
            {
                "table": dirname,
                "present": present,
                "gated": present and fsutil.exists(spark, gate),
                "fresh": present and summary_fresh(spark, data_dir, dirname),
                "ledger_batches": len(_ledger_ids(spark, path))
                if present
                else 0,
                "staging": fsutil.exists(
                    spark, path.rstrip("/") + ".staging"
                ),
            }
        )
    return out


def update_event_summaries(
    spark: SparkSession,
    data_dir: str,
    new_events,
    entity: str = "user_id",
    batch_id: str | None = None,
) -> None:
    """One-call per-micro-batch maintenance of every derived event
    table (daily, as-of anchor, per-entity window rollup, §2.4 merged
    snapshot, funnel/cohort per-user state + result caches, hh/top-k
    count tables, w1 top-k answer) — what the ingest job runs so the
    A-family and event-analytics queries serve precomputed state.
    Call AFTER the batch has been merged into the dir's fact table:
    the serve gates compare against the events dir mtime, so the
    append-first ordering is what parks readers on raw while the
    derived state catches up.

    The folds after daily/as-of are mutually independent (each owns
    its directory and reads only new_events + its own prior state),
    so they submit CONCURRENTLY — the per-batch maintenance latency
    is the slowest fold, not the sum; the scheduler interleaves their
    small jobs across cores (the optimize_layout rewrite discipline).
    The window rollup reads the just-committed daily summary, so it
    joins the parallel phase only after daily+as-of land.

    ``batch_id`` (pass the stream's epoch id) makes the whole batch
    replay-safe at FOLD granularity: each fold keeps a batch ledger
    in its own directory, so a re-run after a mid-pool crash (one
    fold committed, a sibling torn — r11 verdict #7) skips the
    committed folds and re-runs only the torn ones, converging to
    the same state as a clean run (pinned by
    tests/test_summary_incremental.py::test_pool_crash_replay_converges)."""
    from concurrent.futures import ThreadPoolExecutor

    daily_p = os.path.join(data_dir, SUMMARY_DAILY_DIRNAME)
    asof_p = os.path.join(data_dir, SUMMARY_ASOF_DIRNAME)
    update_daily_summary(
        spark, daily_p, new_events, entity=entity, batch_id=batch_id
    )
    _recover_dir(spark, asof_p)
    b_asof = new_events.agg(F.max("ts").alias("as_of"))
    if fsutil.exists(spark, os.path.join(asof_p, "_SUCCESS")):
        b_asof = (
            spark.read.parquet(asof_p)
            .unionByName(b_asof)
            .agg(F.max("as_of").alias("as_of"))
        )
    elif fsutil.exists(spark, asof_p):
        # anchor lost: dir exists without its gate (a crash inside an
        # in-place overwrite — legacy dirs; the write-aside commit
        # never exposes one). Re-seeding from the batch alone can
        # REGRESS the anchor on an out-of-order batch (its max ts can
        # trail history's) and the A-family would then serve window
        # ages against the stale anchor under a fresh gate — recompute
        # from the dir's full fact table instead (append-first
        # contract: events already holds every folded batch).
        from nerd_spark.session import read_table

        b_asof = read_table(spark, data_dir, "events").agg(
            F.max("ts").alias("as_of")
        )
    _commit_dir(spark, b_asof, asof_p)
    folds = [
        lambda: update_window_summary(
            spark,
            os.path.join(data_dir, SUMMARY_WINDOW_DIRNAME),
            daily_p,
            new_events,
            entity=entity,
            batch_id=batch_id,
        ),
        lambda: update_merged_summary(
            spark,
            os.path.join(data_dir, SUMMARY_MERGED_DIRNAME),
            new_events,
            entity=entity,
            batch_id=batch_id,
        ),
        lambda: update_funnel_summary(
            spark, data_dir, new_events, entity=entity, batch_id=batch_id
        ),
        lambda: update_cohort_summary(
            spark, data_dir, new_events, entity=entity, batch_id=batch_id
        ),
        lambda: update_keycount_summaries(
            spark, data_dir, new_events, entity=entity, batch_id=batch_id
        ),
        lambda: update_topk_summary(
            spark, data_dir, new_events, batch_id=batch_id
        ),
        lambda: update_value_hist_summary(
            spark, data_dir, new_events, batch_id=batch_id
        ),
    ]
    with ThreadPoolExecutor(max_workers=4) as pool:
        # list() drains the iterator so any fold's exception raises
        list(pool.map(lambda f: f(), folds))
    # amortized column-stats refresh: every merge_facts append
    # invalidates the probe sidecar's signature; re-pin it only when
    # the table has grown past the refresh factor (O(log) passes over
    # the table's lifetime, colstats.maybe_refresh_column_stats)
    ev_path = os.path.join(data_dir, "events.parquet")
    if fsutil.exists(spark, ev_path):
        from nerd_spark.sources import colstats

        colstats.maybe_refresh_column_stats(
            spark,
            ev_path,
            ["user_id", "value", "event_type"],
            [("event_type", "user_id"), ("event_type", "value")],
        )


def prune_summary(
    spark: SparkSession,
    summary_path: str,
    keep_days: int = 90,
    as_of=None,
) -> list[str]:
    """History pruning on the date-partitioned summary = deleting
    expired partition directories (the §2.8 retention pass,
    reference: modules/cleaner.py:64-202 max_event_history) — no
    rewrite, no scan of surviving data. Returns the dropped
    partition names. ``as_of`` defaults to the newest partition."""
    import datetime as _dt

    days = sorted(
        d for d in fsutil.list_names(spark, summary_path) if d.startswith("d=")
    )
    if not days:
        return []
    anchor = as_of or _dt.date.fromisoformat(days[-1][2:])
    dropped = []
    for d in days:
        if (anchor - _dt.date.fromisoformat(d[2:])).days > keep_days:
            fsutil.delete(spark, os.path.join(summary_path, d), recursive=True)
            dropped.append(d)
    return dropped


def serve_table(
    spark: SparkSession,
    data_dir: str,
    dirname: str,
    binding: dict | None = None,
    expect_cols: tuple[str, ...] = (),
    sources: tuple[str, ...] = ("events.parquet",),
):
    """The one reader gate of every derived dir: the table, or None
    (the caller falls back to its raw path — exact, just slower). A
    dir is served iff its commit marker (from ``_SERVE_TABLES``;
    ``_SUCCESS`` for dirs not listed there) exists and is no older
    than any of its ``sources`` (mtime probes through the Hadoop FS
    layer — rewrites/appends under a source bump its dir mtime past
    the commit; an absent source outdates nothing), its meta sidecar
    matches ``binding``, and its schema carries ``expect_cols`` (an
    older-schema table falls back instead of failing). A memo miss
    serves the frame its schema probe built; a hit plans the read with
    the memoized schema. Either way the dir is listed once, with no
    second footer pass."""
    got = _gate(spark, data_dir, dirname, sources, binding, expect_cols)
    if got is None:
        return None
    schema, df = got
    if df is None:
        df = spark.read.schema(schema).parquet(os.path.join(data_dir, dirname))
    return df


def summary_fresh(
    spark: SparkSession,
    data_dir: str,
    dirname: str,
    sources: tuple[str, ...] = ("events.parquet",),
    expect_cols: tuple[str, ...] = (),
) -> bool:
    """:func:`serve_table`'s verdict without the read; the schema is
    probed only when ``expect_cols`` asks for columns."""
    return (
        _gate(spark, data_dir, dirname, sources, None, expect_cols,
              probe=bool(expect_cols))
        is not None
    )


# (path, marker mtime, meta mtime) -> (meta, schema). The meta read and
# the schema probe (~0.1 s of footer I/O, the dominant repeat-gate
# cost) run once per commit: every commit bumps the marker, and a bare
# meta edit bumps the sidecar, so the key self-invalidates.
_GATE_MEMO: dict = {}


def _gate(
    spark, data_dir, dirname, sources, binding, expect_cols, probe=True
):
    path = os.path.join(data_dir, dirname)
    marker = os.path.join(path, dict(_SERVE_TABLES).get(dirname, "_SUCCESS"))
    if not fsutil.exists(spark, marker):
        return None
    smtime = fsutil.mtime(spark, marker)
    for src in sources:
        try:
            if fsutil.mtime(spark, os.path.join(data_dir, src)) > smtime:
                return None
        except Exception:  # source absent (pure derived-state dir)
            continue
    if not probe:
        return True
    # exists() first: a raised FileNotFound costs more than the stat
    # (py4j converts it), and meta-less dirs are read on every call
    meta_p = os.path.join(path, SUMMARY_META_NAME)
    mmtime = fsutil.exists(spark, meta_p) and fsutil.mtime(spark, meta_p)
    key = (path, smtime, mmtime)
    memo = _GATE_MEMO.get(key)  # one lookup: the fold pool also reads
    df = None
    if memo is None:
        try:
            df = spark.read.parquet(path)
        except Exception:
            return None
        memo = (read_summary_meta(spark, path) or {}, df.schema)
        if len(_GATE_MEMO) > 256:  # bound the session memo
            _GATE_MEMO.clear()
        _GATE_MEMO[key] = memo
    meta, schema = memo
    if any(meta.get(k) != v for k, v in (binding or {}).items()):
        return None
    if not set(expect_cols) <= set(schema.fieldNames()):
        return None
    return schema, df


def bucketed_pair_names(data_dir: str) -> tuple[str, str]:
    """Catalog table names for the co-partitioned orders/customer pair
    of a layout dir (hash-suffixed: one session can hold pairs for
    several layout dirs — tests + bench — without collision)."""
    import hashlib

    h = hashlib.md5(os.path.abspath(data_dir).encode()).hexdigest()[:10]
    return f"orders_bkt_{h}", f"customer_bkt_{h}"


def bucketed_events_name(data_dir: str) -> str:
    """Catalog table name for the user-bucketed events table of a
    layout dir (same hash-suffix discipline as bucketed_pair_names)."""
    import hashlib

    h = hashlib.md5(os.path.abspath(data_dir).encode()).hexdigest()[:10]
    return f"events_bkt_{h}"


def write_events_bucketed(
    spark: SparkSession, data_dir: str, n_buckets: int = 32
) -> str:
    """Write events bucketed by user_id AND sorted by (user_id, ts)
    as an external table under data_dir. Every per-user ordered
    operator (the j5 as-of window, last-N-per-key, sessionization)
    then plans with NO Exchange — HashPartitioning(user_id) satisfies
    the window's required distribution — and the in-partition sort
    runs over pre-sorted buckets. At 100 TB this is the entity-
    clustered event layout the PLANS.md deployment map prescribes.

    The bucket count is part of the FILE layout, so it is recorded in
    the dir's meta sidecar and the cross-session DDL re-registration
    (bucketed_events) reads it back — registering a count the files
    don't satisfy would let Spark elide exchanges the data doesn't
    earn and silently corrupt every window result (r11 advisor)."""
    from nerd_spark.session import read_table

    tbl = bucketed_events_name(data_dir)
    loc = os.path.join(data_dir, f"{tbl}.bucketed")
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    # cold-start self-heal: clear an orphaned LOCATION a killed
    # session stranded (same as write_join_pair)
    fsutil.delete(spark, loc, recursive=True)
    (
        # one file per bucket (repartition on the bucket key first) so
        # the reader trusts sortBy — see write_join_pair
        read_table(spark, data_dir, "events")
        .repartition(n_buckets, F.col("user_id"))
        .write.mode("overwrite")
        .bucketBy(n_buckets, "user_id")
        .sortBy("user_id", "ts")
        .option("path", loc)
        .format("parquet")
        .saveAsTable(tbl)
    )
    # commit ordering: a reader that sees the gate must also see the
    # recorded bucket spec, so re-drop the marker saveAsTable created,
    # write the sidecar, then re-touch (the write_summary_meta rule)
    success = os.path.join(loc, "_SUCCESS")
    fsutil.delete(spark, success)
    write_summary_meta(spark, loc, {"n_buckets": int(n_buckets)})
    fsutil.touch(spark, success)
    return tbl


def bucketed_events(spark: SparkSession, data_dir: str):
    """The user-bucketed events table if this layout dir has one and
    it is no older than events.parquet, else None (raw fallback).

    Bucket METADATA lives in the session catalog and dies with the
    JVM while the files survive — a later session re-registers the
    DDL over the existing location. The bucket COUNT comes from the
    writer's meta sidecar (write_events_bucketed records it; a count
    the files don't satisfy would elide exchanges the data doesn't
    earn), defaulting to 32 for pre-sidecar dirs — the only count any
    writer ever produced before the sidecar existed."""
    tbl = bucketed_events_name(data_dir)
    loc = os.path.join(data_dir, f"{tbl}.bucketed")
    if not spark.catalog.tableExists(tbl):
        if not fsutil.exists(spark, os.path.join(loc, "_SUCCESS")):
            return None
        meta = read_summary_meta(spark, loc)
        n_buckets = int((meta or {}).get("n_buckets", 32))
        try:
            df = spark.read.parquet(loc)
            cols = ", ".join(
                f"`{f.name}` {f.dataType.simpleString()}"
                for f in df.schema.fields
            )
            spark.sql(
                f"CREATE TABLE {tbl} ({cols}) USING PARQUET "
                f"CLUSTERED BY (user_id) SORTED BY (user_id, ts) "
                f"INTO {n_buckets} BUCKETS LOCATION '{os.path.abspath(loc)}'"
            )
        except Exception:
            return None
    if not summary_fresh(
        spark, data_dir, f"{tbl}.bucketed", ("events.parquet",)
    ):
        return None
    return spark.table(tbl)


def write_join_pair(
    spark: SparkSession, data_dir: str, n_buckets: int = 32
) -> tuple[str, str]:
    """Write orders + customer bucketed AND sorted on custkey as
    external tables rooted under data_dir; returns the catalog names.
    Both sides share the bucket count, so a custkey equi-join plans
    SortMergeJoin over the bucketed scans with no Exchange and no
    Sort (asserted in tests/test_plan_shapes_r4.py)."""
    from nerd_spark.session import read_table

    ot, ct = bucketed_pair_names(data_dir)
    specs = [
        ("orders", ot, "o_custkey"),
        ("customer", ct, "c_custkey"),
    ]
    for name, tbl, key in specs:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        # a killed session strands the LOCATION while the in-memory
        # catalog entry dies with it; DROP TABLE can't reach an
        # orphaned dir, so clear it explicitly (cold-start self-heal)
        fsutil.delete(
            spark, os.path.join(data_dir, f"{tbl}.bucketed"), recursive=True
        )
        (
            # repartition on the bucket expression FIRST: the writer
            # then emits exactly one file per bucket, which is what
            # lets the reader trust sortBy and drop the per-side Sort
            # (multi-file buckets are individually sorted but not
            # merged, so Spark must re-sort them)
            read_table(spark, data_dir, name)
            .repartition(n_buckets, F.col(key))
            .write.mode("overwrite")
            .bucketBy(n_buckets, key)
            .sortBy(key)
            .option("path", os.path.join(data_dir, f"{tbl}.bucketed"))
            .format("parquet")
            .saveAsTable(tbl)
        )
    return ot, ct


def bucketed_pair(spark: SparkSession, data_dir: str):
    """(orders_df, customer_df) from the co-partitioned pair if this
    layout dir has one AND it is no older than the source tables it
    was written from (the pair is derived state like any summary — a
    changed orders/customer table makes it silently wrong, not just
    slow), else None — queries fall back to raw reads."""
    ot, ct = bucketed_pair_names(data_dir)
    if not (spark.catalog.tableExists(ot) and spark.catalog.tableExists(ct)):
        return None
    for tbl, src in ((ot, "orders.parquet"), (ct, "customer.parquet")):
        if not summary_fresh(spark, data_dir, f"{tbl}.bucketed", (src,)):
            return None
    return spark.table(ot), spark.table(ct)


def write_bucketed(
    df,
    table: str,
    bucket_col: str,
    n_buckets: int = 32,
    sort_col: str | None = None,
) -> None:
    """Persist a table bucketed (and optionally sorted) by its join/
    aggregation key — the 100 TB layout for `events` and the entity
    record table (PLANS.md deployment map): aggregations and joins on
    the bucket key read pre-partitioned data and plan NO shuffle
    exchange (verified in tests). Uses saveAsTable (bucket metadata
    lives in the session catalog / warehouse dir).

    Self-heals the orphaned-location cold start: a killed session can
    strand the table's warehouse DIRECTORY while the (in-memory)
    catalog entry dies with the JVM — the next saveAsTable then fails
    with LOCATION_ALREADY_EXISTS and no DROP TABLE can reach it. When
    the catalog has no such table but its location exists, the
    orphan is deleted before writing (r9 verdict #3).
    """
    spark = df.sparkSession
    if not spark.catalog.tableExists(table):
        wh = spark.conf.get("spark.sql.warehouse.dir")
        orphan = os.path.join(wh, table.lower())
        if fsutil.exists(spark, orphan):
            fsutil.delete(spark, orphan, recursive=True)
    w = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    w.format("parquet").saveAsTable(table)
