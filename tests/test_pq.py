"""Product-quantization ANN: codebook training, map-only encode,
ADC search + exact rerank (operators/pq.py).

Key properties pinned here:
- with rerank >= corpus size the two-stage search degenerates to the
  exact brute-force result (same sims, same order) — the approximation
  is ONLY in candidate selection, never in the returned scores;
- the corpus-wide encode is a map-only projection: no Exchange (and
  no Python eval) anywhere in its optimized plan;
- codes are m ints in [0, k) — the 4*dim-bytes -> m-bytes compression
  the 100 TB scan-cost story rests on;
- recall@10 at sf0.01 with the shipped parameters (m=8, k=32,
  rerank=100) is pinned >= 0.8 against the exact baseline.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from nerd_spark.operators import pq as PQ
from nerd_spark.operators import similarity as SIM
from nerd_spark.session import read_table
import pytest


def test_rerank_full_equals_brute_force(spark, sf_dir):
    emb = read_table(spark, sf_dir, "embeddings")
    n = emb.count()
    books = PQ.train_pq_codebooks(emb, m=8, k=16, n_iter=2)
    got = PQ.pq_topk(emb, lambda c: c < 5, books, k=10, rerank=n + 1).collect()
    want = SIM.brute_force_topk(emb, F.col("vec_id") < 5, k=10).collect()
    key = lambda r: (r.query_id, r.rank)  # noqa: E731
    got_m = {key(r): (r.neighbor_id, r.sim) for r in got}
    want_m = {key(r): (r.neighbor_id, r.sim) for r in want}
    assert got_m == want_m and len(got_m) > 0


def test_encode_is_map_only_and_codes_bounded(spark, sf_dir):
    emb = read_table(spark, sf_dir, "embeddings")
    books = PQ.train_pq_codebooks(emb, m=8, k=16, n_iter=1)
    codes = PQ.pq_encode(emb, books)
    # map-only: no exchange anywhere; the one Python seam is the
    # documented Arrow-batched encoder (never row-at-a-time)
    plan = codes._jdf.queryExecution().executedPlan().toString()
    for bad in ("Exchange", "Repartition", "Sort", "Join", "BatchEvalPython"):
        assert bad not in plan, f"{bad} in encode plan:\n{plan}"
    assert "ArrowEvalPython" in plan
    rows = codes.select(
        F.size("codes").alias("m"),
        F.array_min("codes").alias("lo"),
        F.array_max("codes").alias("hi"),
    ).collect()
    assert rows and all(r.m == 8 and 0 <= r.lo and r.hi < 16 for r in rows)


def test_training_deterministic(spark, sf_dir):
    emb = read_table(spark, sf_dir, "embeddings")
    b1 = PQ.train_pq_codebooks(emb, m=4, k=8, n_iter=2)
    b2 = PQ.train_pq_codebooks(emb, m=4, k=8, n_iter=2)
    assert b1 == b2
    assert len(b1) == 4 and len(b1[0]) == 8 and len(b1[0][0]) == 16


def test_ivfpq_all_probes_full_rerank_equals_brute_force(spark, sf_dir):
    import tempfile

    emb = read_table(spark, sf_dir, "embeddings")
    n = emb.count()
    path = tempfile.mkdtemp(prefix="nerd_ivfpq_t_") + "/idx"
    PQ.build_ivfpq_index(emb, path, n_lists=4, m=8, k=8, n_iter=1)
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    got = PQ.ivfpq_probe(spark, path, q, k=10, n_probe=4, rerank=n + 1)
    want = SIM.brute_force_topk(emb, F.col("vec_id") < 5, k=10)
    gm = {(r.query_id, r.rank): (r.neighbor_id, r.sim) for r in got.collect()}
    wm = {(r.query_id, r.rank): (r.neighbor_id, r.sim) for r in want.collect()}
    assert gm == wm and len(gm) > 0


def test_ivfpq_candidate_scan_reads_codes_not_vectors(spark, sf_dir):
    import re
    import tempfile

    emb = read_table(spark, sf_dir, "embeddings")
    path = tempfile.mkdtemp(prefix="nerd_ivfpq_p_") + "/idx"
    PQ.build_ivfpq_index(emb, path, n_lists=4, m=8, k=8, n_iter=1)
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    plan = (
        PQ.ivfpq_probe(spark, path, q, k=5, n_probe=2, rerank=20)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    idx_scans = [
        re.search(r"FileScan parquet \[([^\]]*)\]", ln).group(1)
        for ln in plan.splitlines()
        if "FileScan parquet" in ln and "/idx]" in ln
    ]
    adc = [s for s in idx_scans if "codes" in s]
    rr = [s for s in idx_scans if re.search(r"\bv#", s)]
    # the ADC candidate scan projects codes and never the vectors; the
    # rerank scan projects vectors and never the codes — the column-
    # pruning half of the IVF-PQ cost model
    assert adc and all("v#" not in s for s in adc), idx_scans
    assert rr and all("codes" not in s for s in rr), idx_scans


@pytest.mark.slow
def test_ivfpq_append_equals_full_build(spark, sf_dir):
    """Frozen-quantizer append: building on half the corpus and
    appending the other half yields bit-identical probe results to
    one full build with the same quantizers — the O(batch)
    maintenance property."""
    import tempfile

    emb = read_table(spark, sf_dir, "embeddings")
    books = PQ.train_pq_codebooks(emb, m=8, k=8, n_iter=1)
    cents = [
        list(r.v)
        for r in emb.orderBy("vec_id")
        .limit(4)
        .select(F.col("embedding").cast("array<double>").alias("v"))
        .collect()
    ]
    base = tempfile.mkdtemp(prefix="nerd_ivfpq_app_")
    p_full, p_inc = base + "/full", base + "/inc"
    PQ.build_ivfpq_index(emb, p_full, codebooks=books, centroids=cents)
    PQ.build_ivfpq_index(
        emb.filter(F.col("vec_id") % 2 == 0), p_inc,
        codebooks=books, centroids=cents,
    )
    PQ.ivfpq_append(spark, p_inc, emb.filter(F.col("vec_id") % 2 == 1))
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    want = {
        tuple(r) for r in PQ.ivfpq_probe(spark, p_full, q, k=10, n_probe=2).collect()
    }
    got = {
        tuple(r) for r in PQ.ivfpq_probe(spark, p_inc, q, k=10, n_probe=2).collect()
    }
    assert got == want and len(want) > 0


def test_recall_at_sf001_with_shipped_params(spark):
    emb = read_table(spark, "/root/testdata/sf0.01", "embeddings")
    books = PQ.train_pq_codebooks(emb, m=8, k=32, n_iter=4)
    approx = PQ.pq_topk(emb, lambda c: c < 10, books, k=10, rerank=100)
    exact = SIM.brute_force_topk(emb, F.col("vec_id") < 10, k=10)
    assert SIM.recall_at_k(approx, exact) >= 0.8


def test_pq_code_expr_matches_arrow_encoder_small_codebook(spark, sf_dir):
    """The pure-expression encode variant (small codebooks only — the
    janino ceiling is documented on pq_code_expr) agrees with the
    default Arrow encoder on a unit-normalized input."""
    from nerd_spark.operators.similarity import _as_double

    emb = read_table(spark, sf_dir, "embeddings")
    books = PQ.train_pq_codebooks(emb, m=4, k=4, n_iter=1)
    unit = PQ._unit(_as_double("embedding"))
    expr = emb.select(
        F.col("vec_id").alias("id"), unit.alias("v")
    ).select("id", PQ.pq_code_expr(F.col("v"), books).alias("codes"))
    udf = PQ.pq_encode(emb, books)
    e_m = {r.id: list(r.codes) for r in expr.collect()}
    u_m = {r.id: list(r.codes) for r in udf.collect()}
    assert e_m == u_m and len(e_m) > 0


def _mk_index(spark, emb, base, frac=None):
    books = PQ.train_pq_codebooks(emb, m=8, k=8, n_iter=1)
    cents = [
        list(r.v)
        for r in emb.orderBy("vec_id")
        .limit(4)
        .select(F.col("embedding").cast("array<double>").alias("v"))
        .collect()
    ]
    PQ.build_ivfpq_index(emb, base, codebooks=books, centroids=cents)
    return books, cents


@pytest.mark.slow
def test_ivfpq_delete_compact_bit_equal_rebuild(spark, sf_dir):
    """Lifecycle (r8): tombstone delete -> probe excludes the ids
    immediately; compaction -> probe bit-equal to an index REBUILT
    without the deleted rows (same frozen quantizers); untouched list
    partitions are not rewritten (byte-identical files)."""
    import glob
    import os
    import tempfile

    emb = read_table(spark, sf_dir, "embeddings")
    books = PQ.train_pq_codebooks(emb, m=8, k=8, n_iter=1)
    cents = [
        list(r.v)
        for r in emb.orderBy("vec_id")
        .limit(4)
        .select(F.col("embedding").cast("array<double>").alias("v"))
        .collect()
    ]
    base = tempfile.mkdtemp(prefix="nerd_ivfpq_life_")
    p_live, p_ref = base + "/live", base + "/ref"
    PQ.build_ivfpq_index(emb, p_live, codebooks=books, centroids=cents)
    # delete every 7th vector (but never the queries)
    dead_pred = (F.col("vec_id") % 7 == 0) & (F.col("vec_id") >= 5)
    dead = emb.filter(dead_pred).select(F.col("vec_id").alias("id"))
    PQ.build_ivfpq_index(
        emb.filter(~dead_pred), p_ref, codebooks=books, centroids=cents
    )
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    want = {
        tuple(r)
        for r in PQ.ivfpq_probe(spark, p_ref, q, k=10, n_probe=2).collect()
    }
    PQ.ivfpq_delete(spark, p_live, dead)
    got_tomb = {
        tuple(r)
        for r in PQ.ivfpq_probe(spark, p_live, q, k=10, n_probe=2).collect()
    }
    assert got_tomb == want and len(want) > 0  # logical delete suffices

    # snapshot per-partition file bytes to prove untouched lists stay
    def _files(p):
        out = {}
        for f in glob.glob(os.path.join(p, "cid=*", "*.parquet")):
            out[os.path.relpath(f, p)] = os.path.getsize(f)
        return out

    before = _files(p_live)
    dead_cids = {
        r.cid
        for r in spark.read.parquet(p_live)
        .select("id", "cid")
        .join(dead, "id", "left_semi")
        .select("cid")
        .distinct()
        .collect()
    }
    n = PQ.ivfpq_compact(spark, p_live)
    assert n == len(dead_cids) > 0
    after = _files(p_live)
    untouched_before = {
        f: s for f, s in before.items()
        if int(f.split("=")[1].split("/")[0]) not in dead_cids
    }
    untouched_after = {
        f: s for f, s in after.items()
        if int(f.split("=")[1].split("/")[0]) not in dead_cids
    }
    assert untouched_before == untouched_after
    got_compact = {
        tuple(r)
        for r in PQ.ivfpq_probe(spark, p_live, q, k=10, n_probe=2).collect()
    }
    assert got_compact == want
    # tombstones cleared; second compact is a no-op
    assert PQ.ivfpq_compact(spark, p_live) == 0


def test_ivfpq_maintenance_due_flips_on_append_drift(spark, sf_dir):
    """Staleness bound: fresh build -> not due; appending past the
    drift fraction -> due (the retrain trigger)."""
    import tempfile

    emb = read_table(spark, sf_dir, "embeddings")
    half = emb.filter(F.col("vec_id") % 2 == 0)
    books = PQ.train_pq_codebooks(half, m=8, k=8, n_iter=1)
    cents = [
        list(r.v)
        for r in half.orderBy("vec_id")
        .limit(4)
        .select(F.col("embedding").cast("array<double>").alias("v"))
        .collect()
    ]
    base = tempfile.mkdtemp(prefix="nerd_ivfpq_drift_")
    PQ.build_ivfpq_index(half, base + "/idx", codebooks=books, centroids=cents)
    assert not PQ.ivfpq_maintenance_due(spark, base + "/idx", 0.25)
    PQ.ivfpq_append(spark, base + "/idx", emb.filter(F.col("vec_id") % 2 == 1))
    assert PQ.ivfpq_maintenance_due(spark, base + "/idx", 0.25)
    # a wider bound tolerates the same append volume
    assert not PQ.ivfpq_maintenance_due(spark, base + "/idx", 0.60)


@pytest.mark.slow
def test_ivfpq_compact_tear_sweep(spark, sf_dir, tear_sweep):
    """Crash-safe compaction: tear ``ivfpq_compact`` at every mutating
    FS op (aside cleanup, manifest write, each list delete/rename of
    the swap, tombstone clear), then compact again without injection.
    Every terminal state probes bit-equal to the index REBUILT without
    the deleted rows — a list torn between its delete and its rename
    must come back from the aside, never be lost."""
    import shutil
    import tempfile

    emb = read_table(spark, sf_dir, "embeddings")
    books = PQ.train_pq_codebooks(emb, m=8, k=8, n_iter=1)
    cents = [
        list(r.v)
        for r in emb.orderBy("vec_id")
        .limit(4)
        .select(F.col("embedding").cast("array<double>").alias("v"))
        .collect()
    ]
    base = tempfile.mkdtemp(prefix="nerd_ivfpq_tear_")
    tmpl, p_ref = base + "/tmpl", base + "/ref"
    PQ.build_ivfpq_index(emb, tmpl, codebooks=books, centroids=cents)
    dead_pred = (F.col("vec_id") % 7 == 0) & (F.col("vec_id") >= 5)
    PQ.build_ivfpq_index(
        emb.filter(~dead_pred), p_ref, codebooks=books, centroids=cents
    )
    PQ.ivfpq_delete(
        spark, tmpl, emb.filter(dead_pred).select(F.col("vec_id").alias("id"))
    )
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )

    def probe(p):
        return {
            tuple(r)
            for r in PQ.ivfpq_probe(spark, p, q, k=10, n_probe=2).collect()
        }

    want = probe(p_ref)
    assert len(want) > 0

    def setup(tag):
        p = os.path.join(base, tag)
        for suffix in ("", ".centroids", ".codebooks", ".meta",
                       ".tombstones"):
            shutil.copytree(tmpl + suffix, p + suffix)
        return p

    def check(p, label):
        assert probe(p) == want, label
        assert not os.path.exists(p + ".compact"), label
        assert not os.path.exists(p + ".tombstones"), label

    try:
        tear_sweep(setup, lambda p: PQ.ivfpq_compact(spark, p), check, 8)
    finally:
        shutil.rmtree(base, ignore_errors=True)
