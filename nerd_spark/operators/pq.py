"""Product quantization (PQ) for memory-bounded ANN search.

Completes the ANN scale ladder (brute -> sign-LSH -> IVF-flat ->
PQ/ADC): the corpus representation shrinks from 4*dim bytes of floats
to m one-byte codes per vector (32x at dim=64, m=8), so the search
scan reads codes only — at 100 TB of embeddings this is the difference
between scanning the corpus and scanning 3 % of it, and the codes for
a 10^9-vector corpus fit in cluster memory where the raw vectors do
not. The construction is the classic one (Jegou, Douze & Schmid,
"Product Quantization for Nearest Neighbor Search", TPAMI 2011):
split each vector into m subvectors, vector-quantize each subspace
with its own k-entry codebook, and answer queries with Asymmetric
Distance Computation — a per-query (m x k) table of exact
query-subvector-to-centroid distances, summed by code lookup.

Spark mapping (one documented Arrow boundary, no row-at-a-time
Python anywhere):

- training: one distributed Lloyd loop over ALL m subspaces at once
  (explode to (id, sub, subvector), rank against the broadcast
  (sub, code, centroid) table); only the m*k*(dim/m)-float codebook
  ever reaches the driver — same discipline as
  :func:`~nerd_spark.operators.similarity.kmeans_centroids`.
- encoding: MAP-ONLY and exchange-free — an Arrow-batched numpy
  argmin over the (batch, m, k, dim/m) distance tensor
  (pq_encode_udf; the ml/fmp.py documented-boundary precedent).
  Encoding is the pass that touches every vector; keeping it
  shuffle-free is the scale property that matters, and this is one
  of the measured places where Python beats the JVM plan: the
  pure-expression argmin is either interpreted HOFs (223 s / 5k
  rows) or a janino 64 KB-method overflow (pq_code_expr keeps the
  small-codebook expression variant, with the ceiling documented).
- search: the per-query ADC table (m*k exact subvector-to-centroid
  distances, flat array<double>) rides the broadcast query side;
  approximate distance is m scalar element_at lookups per
  (vector, query) pair — codegen-compiled, no HOFs (_adc_dist_expr).
  Optional exact-cosine rerank of the top-R ADC candidates (the
  standard two-stage recall fix).

Vectors are L2-normalized throughout (spherical PQ), so ADC L2^2
order equals cosine order: cos = 1 - d^2/2 on the unit sphere, which
is also how the approximate `sim` column is derived.

Training is iterative (not SQL-expressible) -> the registered query
is rows-only, the ann_ivf_trained precedent; recall@10 against the
exact brute-force baseline is pinned in tests/test_pq.py.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from nerd_spark.operators.similarity import _as_double, cosine, norm


def _unit(col):
    """L2-normalize an array<double> column (zero vectors pass through
    unchanged so downstream folds stay NULL-free)."""
    n = norm(col)
    return F.when(n > 0, F.transform(col, lambda x: x / n)).otherwise(col)


# -- scalar (codegen-compiled) distance math ---------------------------------
#
# Spark's higher-order functions (zip_with / aggregate / transform) are
# CodegenFallback: every evaluation is interpreted, with per-element
# boxing and a fresh ArrayData per call. A per-(sub, code) HOF fold puts
# m*k interpreted closures on EVERY corpus row — measured 223 s to
# encode 5 000 rows at m=8, k=32. The expansions below write the same
# arithmetic as flat scalar expression trees (element_at + literals),
# which whole-stage codegen compiles to straight-line Java: the same
# encode runs at scan speed. Catalyst's subexpression elimination reuses
# each element_at across the k code distances.


def _sq_l2_scalar(v, base: int, center: list[float]):
    """sum_i (v[base+i] - center[i])^2 as a flat scalar expression
    (1-based `base`)."""
    terms = []
    for i in range(len(center)):
        d = F.element_at(v, base + i) - F.lit(float(center[i]))
        terms.append(d * d)
    return sum(terms[1:], terms[0])


def train_pq_codebooks(
    embeddings: DataFrame,
    m: int = 8,
    k: int = 16,
    n_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_rows: int | None = None,
) -> list[list[list[float]]]:
    """Deterministic PQ codebook training: per-subspace k-means.

    Returns codebooks[sub][code] = centroid (dim/m doubles). Init is
    the first k corpus vectors' subvectors (deterministic, no RNG);
    each Lloyd round runs over all m subspaces in ONE distributed
    pass: explode to (id, sub, sv), broadcast-join the (sub, code,
    cv) table, rank by (L2^2 asc, code), recompute per-(sub, code)
    per-dimension means. Empty codes keep their previous centroid.
    Only the codebook (m*k*(dim/m) floats) reaches the driver.

    ``train_rows`` bounds the Lloyd passes to the first-N-by-id
    corpus slice — the standard quantizer-training discipline (faiss
    trains codebooks on 10^5-ish samples regardless of corpus size):
    training cost stops growing with the corpus while encode/search
    stay full-corpus. Measured at 80x (160k vectors): full-corpus
    train 34.8 s vs the query-grade codebook from a bounded sample in
    the sf0.1-scale ~11 s.
    """
    spark = embeddings.sparkSession
    e = embeddings.select(
        F.col(id_col).alias("id"), _unit(_as_double(vec_col)).alias("v")
    )
    if train_rows is not None:
        e = e.orderBy("id").limit(train_rows)
    init = [list(r.v) for r in e.orderBy("id").limit(k).collect()]
    if not init:
        return []
    dim = len(init[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    k = min(k, len(init))
    books = [
        [init[c][s * dsub : (s + 1) * dsub] for c in range(k)] for s in range(m)
    ]
    subs = e.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda s: F.struct(
                    s.cast("int").alias("sub"),
                    F.slice("v", s * dsub + 1, F.lit(dsub)).alias("sv"),
                ),
            )
        ).alias("sc"),
    ).select("id", "sc.sub", "sc.sv")
    # every Lloyd round consumes subs twice (assignment + means) and
    # the loop runs n_iter rounds — without a cache the whole scan/
    # normalize/explode lineage (and the train_rows sort) re-executes
    # 2*n_iter times
    subs = subs.cache()
    for _ in range(n_iter):
        cdf = spark.createDataFrame(
            [(s, c, books[s][c]) for s in range(m) for c in range(k)],
            "sub int, code int, cv array<double>",
        )
        # scalar expansion over the known dsub (the _sq_l2 HOF fold
        # ran interpreted over the n*m*k joined rows — ~3 s/iteration
        # at sf0.1; this codegen-compiles)
        d_terms = []
        for i in range(1, dsub + 1):
            di = F.element_at("sv", i) - F.element_at("cv", i)
            d_terms.append(di * di)
        scored = subs.join(F.broadcast(cdf), "sub").select(
            "id", "sub", "sv", "code",
            sum(d_terms[1:], d_terms[0]).alias("d2"),
        )
        w = Window.partitionBy("id", "sub").orderBy(F.col("d2"), F.col("code"))
        assigned = scored.withColumn("r", F.row_number().over(w)).filter(
            F.col("r") == 1
        )
        means = (
            assigned.select("sub", "code", F.posexplode("sv").alias("pos", "x"))
            .groupBy("sub", "code", "pos")
            .agg(F.avg("x").alias("mx"))
            .groupBy("sub", "code")
            .agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "mx"))),
                    lambda st: st["mx"],
                ).alias("cv")
            )
            .collect()
        )
        new = {(r.sub, r.code): list(r.cv) for r in means}
        books = [
            [new.get((s, c), books[s][c]) for c in range(k)] for s in range(m)
        ]
    subs.unpersist()
    return books


def pq_code_expr(v_col, codebooks) -> "F.Column":
    """codes array<int> for a unit-normalized array<double> column —
    pure column math: per subspace, argmin over k literal centroid
    distances. No join, no shuffle.

    CEILING: at m*k cells the generated Java exceeds janino's 64 KB
    method limit somewhere around ~128 cells (measured: m=8, k=32
    fails to compile and the whole stage runs interpreted at ~4 ms/
    row). Use for small codebooks; the DEFAULT encode path is
    :func:`pq_encode`'s Arrow-batched numpy argmin — the same
    documented-boundary discipline as ml/fmp.py's scorer — which is
    map-only, exchange-free, and runs the full (n, m, k, d/m)
    distance tensor through BLAS-grade vectorized code."""
    m = len(codebooks)
    k = len(codebooks[0])
    dsub = len(codebooks[0][0])
    v = v_col if not isinstance(v_col, str) else F.col(v_col)
    codes = []
    for s in range(m):
        dists = F.array(
            *[_sq_l2_scalar(v, s * dsub + 1, codebooks[s][c]) for c in range(k)]
        )
        codes.append(
            (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
        )
    return F.array(*codes)


def pq_encode_udf(codebooks):
    """Arrow-batched numpy PQ encoder: array<float|double> -> codes
    array<int>. Normalizes internally (spherical PQ), computes the
    full (batch, m, k) distance tensor vectorized, argmin per
    subspace (first-min ties, matching array_position-of-min).

    This is the hot corpus-wide pass, and it is one of the few places
    in the repo where Python beats the JVM plan: the pure-expression
    formulation is either interpreted HOFs (223 s / 5k rows) or a
    janino-overflow fallback (see pq_code_expr) — the numpy tensor
    does the same 10^7 flops per batch in milliseconds, and the
    operator stays MAP-ONLY (ArrowEvalPython, no exchange;
    plan-asserted in tests, the ml/fmp.py scoring precedent).
    """
    C = np.asarray(codebooks, dtype="float64")  # (m, k, dsub)
    m, k, dsub = C.shape

    def encode(v):
        X = np.stack(
            [
                np.asarray(x, dtype="float64")
                if x is not None
                else np.zeros(m * dsub)
                for x in v
            ]
        )
        n = np.linalg.norm(X, axis=1, keepdims=True)
        X = np.divide(X, n, out=X.copy(), where=n > 0)
        Xs = X.reshape(len(X), m, dsub)
        d = ((Xs[:, :, None, :] - C[None, :, :, :]) ** 2).sum(-1)
        return pd.Series(list(d.argmin(-1).astype("int32")))

    return pandas_udf(encode, "array<int>")


def pq_encode(
    embeddings: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes) for the whole corpus — map-only, exchange-free
    (see pq_encode_udf). m bytes of code replace 4*dim bytes of
    floats: the representation a 100 TB embedding corpus is actually
    searched from."""
    enc = pq_encode_udf(codebooks)
    return embeddings.select(
        F.col(id_col).alias("id"), enc(_as_double(vec_col)).alias("codes")
    )


def adc_table_udf(codebooks):
    """Arrow-batched ADC table builder: raw qv -> flat m*k
    array<double> of exact unit-subvector-to-centroid squared
    distances (normalizes internally, like the encoder — cosine is
    scale-invariant, so NO plan ever needs a normalized vector
    column; the expression-level normalization this replaces ran
    interpreted at ~1 ms/row — the PLANS.md HOF/codegen note). Runs
    on the QUERY side only (Q rows)."""
    C = np.asarray(codebooks, dtype="float64")  # (m, k, dsub)
    m, k, dsub = C.shape

    def table(qv):
        X = np.stack(
            [
                np.asarray(x, dtype="float64")
                if x is not None
                else np.zeros(m * dsub)
                for x in qv
            ]
        )
        n = np.linalg.norm(X, axis=1, keepdims=True)
        X = np.divide(X, n, out=X.copy(), where=n > 0)
        Xs = X.reshape(len(X), m, dsub)
        d = ((Xs[:, :, None, :] - C[None, :, :, :]) ** 2).sum(-1)  # (n, m, k)
        return pd.Series(list(d.reshape(len(X), m * k)))

    return pandas_udf(table, "array<double>")


def _adc_dist_expr(codes_col, qtab_col, m: int, k: int):
    """ADC approximate distance: sum_s qtab[s*k + codes[s]] as m flat
    element_at lookups (codegen-compiled; the HOF formulation put an
    interpreted closure on every candidate row)."""
    codes = codes_col if not isinstance(codes_col, str) else F.col(codes_col)
    qtab = qtab_col if not isinstance(qtab_col, str) else F.col(qtab_col)
    terms = [
        F.element_at(qtab, F.lit(s * k + 1) + F.element_at(codes, s + 1))
        for s in range(m)
    ]
    return sum(terms[1:], terms[0])


def pq_topk(
    embeddings: DataFrame,
    query_pred,
    codebooks,
    k: int = 10,
    rerank: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k by ADC over PQ codes, optional exact rerank.

    Scan side reads only (id, codes); each (vector, query) distance
    is m scalar lookups into the query's broadcast ADC table. With rerank=R > k, the top R ADC candidates are joined
    back to their full vectors for exact cosine and re-ranked — the
    standard two-stage recall fix, still touching only Q*R vectors.
    Output (query_id, neighbor_id, sim, rank) matches the rest of the
    ANN family (sim from ADC is the unit-sphere identity
    cos = 1 - d^2/2; after rerank it is exact cosine).
    """
    kk = len(codebooks[0])
    qk = max(k, rerank)
    # raw vectors throughout: both UDFs normalize internally and the
    # rerank cosine is scale-invariant, so the plan never pays for a
    # normalized-array column (expression-level normalization ran
    # interpreted at ~1 ms/row -- the PLANS.md HOF/codegen note)
    e = embeddings.select(
        F.col(id_col).alias("id"), _as_double(vec_col).alias("v")
    )
    corpus = e.select("id", pq_encode_udf(codebooks)(F.col("v")).alias("codes"))
    q = e.filter(query_pred(F.col("id"))).select(
        F.col("id").alias("query_id"),
        F.col("v").alias("qv"),
        adc_table_udf(codebooks)(F.col("v")).alias("qtab"),
    )
    m = len(codebooks)
    adist = _adc_dist_expr("codes", "qtab", m, kk)
    # qtab is consumed map-side by the adist projection; only the
    # 3-column (query_id, neighbor_id, d2) rows enter the top-k
    # shuffle — carrying qv (or the 2 KB table) per candidate row
    # would re-create the fat-row scan PQ exists to avoid
    cand = (
        corpus.crossJoin(F.broadcast(q))
        .filter(F.col("id") != F.col("query_id"))
        .select("query_id", F.col("id").alias("neighbor_id"), adist.alias("d2"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("d2"), F.col("neighbor_id"))
    top = cand.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= qk
    )
    if rerank and rerank > k:
        exact = (
            top.select("query_id", "neighbor_id")
            .join(e.select(F.col("id").alias("neighbor_id"), "v"), "neighbor_id")
            .join(F.broadcast(q.select("query_id", "qv")), "query_id")
            .select(
                "query_id",
                "neighbor_id",
                F.round(cosine(F.col("qv"), F.col("v")), 6).alias("sim"),
            )
        )
        w2 = Window.partitionBy("query_id").orderBy(
            F.col("sim").desc(), F.col("neighbor_id")
        )
        return (
            exact.withColumn("rank", F.row_number().over(w2))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "sim", "rank")
        )
    return top.select(
        "query_id",
        "neighbor_id",
        F.round(1 - F.col("d2") / 2, 6).alias("sim"),
        "rank",
    )


def build_ivfpq_index(
    embeddings: DataFrame,
    path: str,
    n_lists: int = 8,
    codebooks=None,
    m: int = 8,
    k: int = 16,
    n_iter: int = 4,
    centroids: list[list[float]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Persist the corpus as an on-disk IVF-PQ index — the structure
    faiss deploys at billion-vector scale, combining BOTH pruning
    axes: a coarse quantizer partitions rows into inverted lists
    (partition pruning: a probe lists n_probe/n_lists of the files),
    and PQ codes shrink the candidate scan's bytes (column pruning:
    the ADC pass reads the m-byte ``codes`` column, never the
    4*dim-byte ``v`` — ReadSchema-asserted in tests). Vectors are
    PQ-encoded directly rather than as residuals (faiss's
    by_residual=False variant), which keeps the stored raw ``v`` the
    single source of truth for the exact rerank.

    Layout: ``cid=<n>/`` parquet dirs holding (id, v, codes), plus
    ``<path>.centroids`` and ``<path>.codebooks`` sidecars so probes
    need neither the corpus nor a training pass. Returns the trained
    codebooks (for callers that go on to encode queries or batches).
    """
    spark = embeddings.sparkSession
    if codebooks is None:
        codebooks = train_pq_codebooks(
            embeddings, m=m, k=k, n_iter=n_iter, id_col=id_col, vec_col=vec_col
        )
    # raw vectors: the centroid assignment and the probe-time rerank
    # are cosine (scale-invariant), and the encoder normalizes
    # internally -- storing raw keeps the index bit-compatible with
    # the brute-force baseline's arithmetic
    e = embeddings.select(
        F.col(id_col).alias("id"), _as_double(vec_col).alias("v")
    )
    if centroids is not None:
        n_lists = len(centroids)
        cents = spark.createDataFrame(
            [(i, c) for i, c in enumerate(centroids)], "cid long, cv array<double>"
        )
    else:
        from nerd_spark.operators.similarity import _default_centroids

        cents = _default_centroids(e, n_lists)
    from nerd_spark.operators.similarity import cosine as _cos

    scored = e.crossJoin(F.broadcast(cents)).select(
        "id", "v", "cid", F.round(_cos(F.col("v"), F.col("cv")), 6).alias("csim")
    )
    w = Window.partitionBy("id").orderBy(F.col("csim").desc(), F.col("cid"))
    corpus = (
        scored.withColumn("crank", F.row_number().over(w))
        .filter(F.col("crank") == 1)
        .select(
            "id",
            "v",
            pq_encode_udf(codebooks)(F.col("v")).alias("codes"),
            "cid",
        )
    )
    # cluster the write by list id (same rationale as build_ivf_index:
    # one file per holding task per list, not tasks x lists slivers)
    corpus.repartition(n_lists, F.col("cid")).write.mode("overwrite").partitionBy(
        "cid"
    ).parquet(path)
    cents.write.mode("overwrite").parquet(path + ".centroids")
    mm, kk = len(codebooks), len(codebooks[0])
    spark.createDataFrame(
        [(s, c, codebooks[s][c]) for s in range(mm) for c in range(kk)],
        "sub int, code int, cv array<double>",
    ).write.mode("overwrite").parquet(path + ".codebooks")
    # build-size marker: the staleness bound (ivfpq_maintenance_due)
    # compares rows-now against rows-at-training-time
    spark.createDataFrame(
        [(embeddings.count(),)], "build_rows long"
    ).write.mode("overwrite").parquet(path + ".meta")
    return codebooks


def ivfpq_append(
    spark,
    path: str,
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Append a new batch into an existing IVF-PQ index — O(batch),
    no rebuild, no touch of stored rows.

    The quantizers are FROZEN: centroid and codebook sidecars are
    read back, the batch is assigned to lists and PQ-encoded with
    exactly the build-time rules, and the rows land as NEW files
    inside their lists' ``cid=`` directories (append-mode dynamic
    partition write). This is the window-table/daily-summary
    maintenance discipline applied to the ANN index: ingest cost
    scales with the batch, never the corpus. Probes need no change.
    Quantizer drift under a shifting distribution is the documented
    tradeoff (faiss's add-to-trained-index behaves the same);
    retrain + rebuild is the compaction path. Bit-equal to building
    the full index with the same quantizers (tested).
    """
    cb = spark.read.parquet(path + ".codebooks").collect()
    mm = 1 + max(r.sub for r in cb)
    kk = 1 + max(r.code for r in cb)
    books = [[None] * kk for _ in range(mm)]
    for r in cb:
        books[r.sub][r.code] = list(r.cv)
    cents = spark.read.parquet(path + ".centroids")
    n_lists = cents.count()
    from nerd_spark.operators.similarity import cosine as _cos

    e = embeddings.select(
        F.col(id_col).alias("id"), _as_double(vec_col).alias("v")
    )
    scored = e.crossJoin(
        F.broadcast(cents.select("cid", "cv"))
    ).select(
        "id", "v", "cid", F.round(_cos(F.col("v"), F.col("cv")), 6).alias("csim")
    )
    w = Window.partitionBy("id").orderBy(F.col("csim").desc(), F.col("cid"))
    batch = (
        scored.withColumn("crank", F.row_number().over(w))
        .filter(F.col("crank") == 1)
        .select(
            "id",
            "v",
            pq_encode_udf(books)(F.col("v")).alias("codes"),
            "cid",
        )
    )
    batch.repartition(n_lists, F.col("cid")).write.mode("append").partitionBy(
        "cid"
    ).parquet(path)


def ivfpq_probe(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    rerank: int = 50,
) -> DataFrame:
    """Search an on-disk IVF-PQ index built by
    :func:`build_ivfpq_index`.

    ``queries`` is (query_id, qv array<double>). Three bounded steps:

    1. rank the broadcast centroid sidecar -> n_probe lists per
       query; the probed cids reach the driver (<= n_lists values)
       as the LITERAL partition filter, exactly like ivf_probe;
    2. ADC candidate scan over ONLY the pruned lists' (id, codes)
       columns — the full vectors stay on disk; approximate distance
       is m scalar lookups into each query's broadcast table;
    3. exact rerank: the top-``rerank`` candidates per query (Q*R
       rows, broadcast) join back to the SAME pruned partitions for
       their ``v`` and re-score by exact cosine.

    So a query touches n_probe/n_lists of the files, reads m bytes
    per candidate row, and reads full vectors for only Q*rerank rows.
    Output (query_id, neighbor_id, sim, rank), the family shape.
    """
    cb = spark.read.parquet(path + ".codebooks").collect()  # m*k rows
    mm = 1 + max(r.sub for r in cb)
    kk = 1 + max(r.code for r in cb)
    books = [[None] * kk for _ in range(mm)]
    for r in cb:
        books[r.sub][r.code] = list(r.cv)
    cents = spark.read.parquet(path + ".centroids")
    from nerd_spark.operators.similarity import cosine as _cos

    q = queries.select("query_id", _as_double("qv").alias("qv"))
    qscored = q.crossJoin(F.broadcast(cents)).select(
        "query_id", "qv", "cid", F.round(_cos(F.col("qv"), F.col("cv")), 6).alias("csim")
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("csim").desc(), F.col("cid"))
    probes = (
        qscored.withColumn("crank", F.row_number().over(wq))
        .filter(F.col("crank") <= n_probe)
        .select(
            "query_id",
            "qv",
            adc_table_udf(books)(F.col("qv")).alias("qtab"),
            "cid",
        )
        # consumed twice: the cid collect + the candidate join. An
        # eager unpersist here would invalidate the lazy result
        # before the caller materializes it, so the lifetime is tied
        # to the returned frame instead (cacheutil.tie_unpersist —
        # DataFrame cache entries are CacheManager-pinned and never
        # reclaimed by GC alone, review r10).
        .cache()
    )
    probe_cids = sorted(r.cid for r in probes.select("cid").distinct().collect())
    pruned = spark.read.parquet(path).filter(
        F.col("cid").isin(probe_cids)
    ).withColumn("cid", F.col("cid").cast("long"))
    tomb = _read_tombstones(spark, path)
    if tomb is not None:
        # logical deletes (ivfpq_delete): mask tombstoned rows from
        # both the ADC candidate scan and the rerank join-back —
        # broadcast anti-join over the already-pruned partitions only
        pruned = pruned.join(F.broadcast(tomb), "id", "left_anti")
    adist = _adc_dist_expr("codes", "qtab", mm, kk)
    cand = (
        pruned.select("id", "codes", "cid")
        .join(F.broadcast(probes), "cid")
        .filter(F.col("id") != F.col("query_id"))
        .select("query_id", F.col("id").alias("neighbor_id"), adist.alias("d2"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.min("d2").alias("d2"))  # neighbor seen via 2 probed lists
    )
    w1 = Window.partitionBy("query_id").orderBy(F.col("d2"), F.col("neighbor_id"))
    top = (
        cand.withColumn("r", F.row_number().over(w1))
        .filter(F.col("r") <= max(k, rerank))
        .select("query_id", "neighbor_id")
    )
    exact = (
        pruned.select(F.col("id").alias("neighbor_id"), "v")
        .join(F.broadcast(top), "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(_cos(F.col("qv"), F.col("v")), 6).alias("sim"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    from nerd_spark.operators.cacheutil import tie_unpersist

    return tie_unpersist(
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank"),
        probes,
    )


# ---------------------------------------------------------------------------
# Index lifecycle: deletes (tombstones), list compaction, staleness bound
# — the reference's cleaner/updater discipline (NERDd/modules/cleaner.py
# removes expired entities; scripts/update_db_meta_info.js refreshes
# derived state) applied to the ANN index.
# ---------------------------------------------------------------------------


def _read_tombstones(spark, path: str):
    """Tombstone set (id) for an index, or None when there are none."""
    from nerd_spark.sources import fsutil

    tpath = path + ".tombstones"
    if not fsutil.exists(spark, tpath):
        return None
    df = spark.read.parquet(tpath).select("id").distinct()
    return df


def ivfpq_delete(spark, path: str, ids) -> None:
    """Delete vectors from an IVF-PQ index by id — O(batch), LSM
    discipline: the ids land as an APPEND to the ``<path>.tombstones``
    sidecar; no stored row is touched. Probes anti-join the tombstone
    set (broadcast, candidate rows only); :func:`ivfpq_compact`
    physically reclaims the space later. Re-inserting a deleted id
    requires compaction first (the tombstone would mask the new row —
    same rule as any tombstone store).

    ``ids`` is a DataFrame with an ``id`` column or an iterable of ints.
    """
    if not isinstance(ids, DataFrame):
        ids = spark.createDataFrame([(int(i),) for i in ids], "id long")
    ids.select(F.col("id").cast("long")).write.mode("append").parquet(
        path + ".tombstones"
    )


# Commit point of a list compaction, written atomically into the
# aside after its write job: the touched lists, and those of them that
# still hold rows (staged in the aside). From the moment it exists the
# aside is the only complete copy of the touched lists' live rows.
_COMPACT_MANIFEST = "_nerd_compact.json"


def ivfpq_compact(spark, path: str) -> int:
    """Physically drop tombstoned rows — O(touched lists), never a
    full rebuild: only the ``cid=`` partitions that actually hold a
    tombstoned row are rewritten (write-aside to ``<path>.compact``,
    then an atomic per-partition swap); untouched list files are not
    read past their id column, not rewritten, byte-identical after
    (tested). Clears the tombstone sidecar on success. Returns the
    number of lists rewritten.

    Crash-safe: on entry a complete aside (one holding the manifest)
    is landed (:func:`_land_compaction`) and an incomplete one, whose
    touched lists are still live, is discarded.
    """
    from nerd_spark.sources import fsutil

    aside = path + ".compact"
    txt = fsutil.read_text(spark, os.path.join(aside, _COMPACT_MANIFEST))
    if txt is not None:
        return _land_compaction(spark, path, json.loads(txt))
    fsutil.delete(spark, aside, recursive=True)
    tomb = _read_tombstones(spark, path)
    if tomb is None:
        return 0
    # which lists hold tombstoned rows: a column-pruned (id, cid) scan
    touched = [
        r.cid
        for r in spark.read.parquet(path)
        .select("id", "cid")
        .join(F.broadcast(tomb), "id", "left_semi")
        .select("cid")
        .distinct()
        .collect()
    ]
    if not touched:
        fsutil.delete(spark, path + ".tombstones", recursive=True)
        return 0
    keep = (
        spark.read.parquet(path)
        .filter(F.col("cid").isin(touched))
        .join(F.broadcast(tomb), "id", "left_anti")
    )
    keep.repartition(len(touched), F.col("cid")).write.mode(
        "overwrite"
    ).partitionBy("cid").parquet(aside)
    manifest = {
        "touched": [f"cid={c}" for c in touched],
        # a fully-deleted list has no dir in the aside
        "staged": [
            n for n in fsutil.list_names(spark, aside) if n.startswith("cid=")
        ],
    }
    fsutil.write_text_atomic(
        spark, os.path.join(aside, _COMPACT_MANIFEST), json.dumps(manifest)
    )
    return _land_compaction(spark, path, manifest)


def _land_compaction(spark, path: str, manifest: dict) -> int:
    """Finish a compaction whose aside is complete: swap its staged
    lists in (a false rename raises), delete the fully-tombstoned
    lists, drop the aside, then clear the tombstones. Each step is
    idempotent, so a tear anywhere before the aside is gone re-runs
    this from the manifest; a tear after it leaves tombstones whose
    rows are gone, which the next call clears without a rewrite."""
    from nerd_spark.sources import fsutil

    aside = path + ".compact"
    fsutil.swap_partition_dirs(spark, aside, path, "cid=")
    for name in sorted(set(manifest["touched"]) - set(manifest["staged"])):
        dead = os.path.join(path, name)
        # the tombstones go next: a list left behind would resurface
        if not fsutil.delete(spark, dead, recursive=True) and (
            fsutil.exists(spark, dead)
        ):
            raise IOError(f"ivfpq_compact: failed to remove {dead}")
    fsutil.delete(spark, aside, recursive=True)
    fsutil.delete(spark, path + ".tombstones", recursive=True)
    return len(manifest["touched"])


def ivfpq_maintenance_due(
    spark, path: str, max_append_frac: float = 0.10
) -> bool:
    """Staleness bound for the frozen-quantizer append path: True when
    the rows appended since training exceed ``max_append_frac`` of the
    current corpus — the retrain-and-rebuild trigger.

    Calibration (r9, de-confounded — audits/drift_ivfpq.py): with
    FIXED-SAMPLE quantizers (faiss's bounded training discipline) the
    r8 drift table (0.82/0.68/0.62) is revealed as a training-set-size
    artifact — an identically-distributed append is bit-equal to a
    full rebuild under the same quantizers, so pure iid append drift
    is exactly ZERO by construction. What the trigger actually guards
    is DISTRIBUTION SHIFT: shifted appends query at recall ~0.13
    below the index's intrinsic level from the first shifted batch
    (sf0.1, dimension-reversed appends: 0.40 vs intrinsic 0.53 at
    +11%), with only slow further decay (0.34 at +100%), and base-
    region queries hold near intrinsic until appends crowd the lists
    (0.46 at +100%). Append FRACTION is therefore a weak proxy —
    the 0.10 default stays as a cheap conservative staleness bound,
    and the in-path recall floors (queries/dataprep.py) are the
    authoritative drift detector. Indexes built before the meta
    sidecar existed report True (unknown staleness -> maintain)."""
    from nerd_spark.sources import fsutil

    if not fsutil.exists(spark, path + ".meta"):
        return True
    build_rows = spark.read.parquet(path + ".meta").collect()[0].build_rows
    now = spark.read.parquet(path).count()
    tomb = _read_tombstones(spark, path)
    if tomb is not None:
        now -= tomb.join(
            spark.read.parquet(path).select("id"), "id", "left_semi"
        ).count()
    if now <= 0:
        return True
    appended = max(0, now - build_rows)
    return appended / now > max_append_frac
