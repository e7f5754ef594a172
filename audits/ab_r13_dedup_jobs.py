#!/usr/bin/env python
"""Interleaved same-process A/B for the r13 session-2 dedup changes.

Three changes, each A/B'd old-vs-new inside ONE Spark session with
alternating reps (host canary swings make cross-run walls useless):

  A. dedup_incremental: pass the caller's measured broadcast verdict
     into _pair_jaccard so the verify does not persist+probe the
     checkpointed candidate frame a second time (one job saved).
     Old side = the HEAD~ module loaded under a shadow name.
  B. dedup_clusters_scalable: minhash_cluster_edges no longer
     localCheckpoints the star frame (its (a,b) projection is
     materialized into _pair_jaccard's persisted candidates anyway;
     only a residue round re-derives it). Old side = shadow module.
  C. corpus_curation_v4: the containment stage's size gate gets the
     file-backed corpus estimate (d3 is an in-memory checkpoint ->
     gate used to default to the scale path). Old side = the SAME
     code with spark.nerd.rareVerifyMinBytes=0 (forces the scale
     path, which is exactly what the un-plumbed gate chose).

Usage: PYTHONPATH=/root/repo python audits/ab_r13_dedup_jobs.py [git-rev]
git-rev (default HEAD) = where to read the OLD dedup.py from.
"""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

REPS = 4


def load_old_dedup(rev: str):
    src = subprocess.check_output(
        ["git", "-C", os.path.join(os.path.dirname(__file__), ".."),
         "show", f"{rev}:nerd_spark/operators/dedup.py"],
        text=True,
    )
    path = os.path.join(tempfile.mkdtemp(prefix="old_dedup_"), "old_dedup.py")
    with open(path, "w") as f:
        f.write(src)
    spec = importlib.util.spec_from_file_location("old_dedup", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def canary():
    t0 = time.monotonic()
    x = 0
    for i in range(2_000_000):
        x += i * i
    return time.monotonic() - t0


def main():
    rev = sys.argv[1] if len(sys.argv) > 1 else "HEAD"
    from pyspark.sql import functions as F

    from nerd_spark.operators import components as CCOMP
    from nerd_spark.operators import dedup as DD
    from nerd_spark.queries import REGISTRY
    from nerd_spark.session import get_spark, read_table
    from nerd_spark.sources.layout import (
        MINHASH_BANDS_DIRNAME,
        optimize_layout,
        serve_table,
    )

    old = load_old_dedup(rev)
    spark = get_spark(app_name="ab_r13_dedup_jobs")
    print(f"canary pre: {canary():.3f}s", flush=True)

    d = tempfile.mkdtemp(prefix="ab_r13_layout_")
    t0 = time.monotonic()
    optimize_layout(spark, "/root/testdata/sf0.1", d)
    print(f"layout: {time.monotonic() - t0:.1f}s", flush=True)

    docs = read_table(spark, d, "documents")
    batch = lambda c: c % 5 == 4  # noqa: E731

    def run_incr_new():
        noop(REGISTRY["dedup_incremental"](spark, d))

    def run_incr_old():
        bands = serve_table(
            spark, d, MINHASH_BANDS_DIRNAME, sources=("documents.parquet",)
        )
        noop(old.incremental_minhash_pairs_indexed(docs, bands, batch))

    def run_csc_new():
        noop(REGISTRY["dedup_clusters_scalable"](spark, d))

    def run_csc_old():
        edges = old.minhash_cluster_edges(
            spark, docs, n_bands=4, rows_per_band=3, threshold=0.5
        )
        noop(CCOMP.dedup_clusters(edges))

    def run_v4_new():
        noop(REGISTRY["corpus_curation_v4"](spark, d))

    def run_v4_old():
        # rareVerifyMinBytes=0 => small=False everywhere: the exact
        # scale-path choice the un-plumbed gate made for v4's d3
        spark.conf.set("spark.nerd.rareVerifyMinBytes", "0")
        try:
            noop(REGISTRY["corpus_curation_v4"](spark, d))
        finally:
            spark.conf.unset("spark.nerd.rareVerifyMinBytes")

    pairs = [
        ("incr", run_incr_old, run_incr_new),
        ("csc", run_csc_old, run_csc_new),
        ("v4", run_v4_old, run_v4_new),
    ]
    # warm both sides once (file listing, codegen, broadcast paths)
    for name, fo, fn in pairs:
        fo()
        fn()
        spark.catalog.clearCache()
    print("warmed", flush=True)

    for name, fo, fn in pairs:
        for rep in range(REPS):
            order = [("old", fo), ("new", fn)]
            if rep % 2:
                order.reverse()
            t = {}
            for tag, fn_ in order:
                spark.sparkContext.setJobDescription(f"{name} {tag} rep{rep}")
                t0 = time.monotonic()
                fn_()
                t[tag] = time.monotonic() - t0
                spark.catalog.clearCache()
            print(
                f"{name} rep{rep}: old {t['old']:.2f}s new {t['new']:.2f}s",
                flush=True,
            )
    print(f"canary post: {canary():.3f}s", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
