"""Continuous-ingestion near-dup detection: Structured Streaming over
arriving documents, each micro-batch checked against (and added to) a
persisted MinHash LSH index.

State is two parquet tables, not the streaming state store (the
entity-table pattern of streaming/ingest.py), each laid out as one
subdirectory per micro-batch epoch:
- ``<index>/bands/epoch=N``:    (id, b, h) band signatures — the LSH index
- ``<index>/shingles/epoch=N``: (id, ss)   distinct shingle arrays — the
                                verification payload

Per micro-batch: signatures for the batch ONLY (map work O(batch)),
candidates = batch bands ⋈ (index ∪ batch bands) — the batch side
broadcasts, the index never shuffles — then exact-Jaccard verify
against the persisted shingle sets of just the candidate ids.
Cumulative emitted pairs equal the one-shot batch dedup over
everything ingested so far (proven in tests/test_dedup_stream.py):
every pair is found exactly when its second member arrives.

Exactly-once under foreachBatch's at-least-once replay: every write —
the emitted pairs AND the index absorption — commits the batch's own
``epoch=N`` subdirectory by the staged rule of streaming/epochs.py, so
a replayed epoch replaces its own output instead of double-appending
(and a replay that fails leaves the committed one in place); the
candidate join reads the index EXCLUDING the current epoch, so a crash that
landed between the pairs write and the index write (or mid-index
write) replays against exactly the pre-batch index state. Pairs are
durable on disk before the index mutates, so no cached plan can ever
be recomputed against an already-absorbed index.

At 100 TB the two state tables are additionally date-partitioned and
bucketed by (b, h) / id respectively; a micro-batch touches
O(batch + collisions) rows of either. The shingle store is the large
one — production variants replace it with fixed-width signature
sketches; the seam is the same.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from nerd_spark.operators.cacheutil import tie_unpersist
from nerd_spark.operators.dedup import (
    _pair_jaccard,
    minhash_band_table,
    shingle_arrays,
)
from nerd_spark.sources.layout import _commit_dir
from nerd_spark.streaming.epochs import _epochs, read_epochs


def _read_index(spark, root: str, exclude_epoch: int) -> DataFrame | None:
    """Read all committed epochs of a state table except `exclude_epoch`
    (the in-flight batch's own — excluded so at-least-once replay sees
    exactly the pre-batch index even after a partial absorption)."""
    return read_epochs(
        spark, root, [e for e in _epochs(spark, root) if e != exclude_epoch]
    )


def process_batch(
    spark,
    batch_docs: DataFrame,
    index_dir: str,
    epoch_id: int | None = None,
    pairs_dir: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    n_bands: int = 4,
    rows_per_band: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Dedup one arriving batch against the index, then absorb it.
    Returns the new near-dup pairs (a_id < b_id, at least one side in
    the batch). Usable directly (epoch auto-assigned), or as the
    foreachBatch body via :func:`stream_dedup` (epoch = the stream's
    epoch_id, making replays idempotent)."""
    bands_path = os.path.join(index_dir, "bands")
    sets_path = os.path.join(index_dir, "shingles")
    if epoch_id is None:
        known = _epochs(spark, bands_path)
        epoch_id = (known[-1] + 1) if known else 0

    sarr = shingle_arrays(batch_docs, id_col, text_col, k).cache()
    batch_bands = minhash_band_table(sarr, n_bands, rows_per_band).cache()
    batch_sets = sarr.select("id", F.array_distinct("sarr").alias("ss"))

    idx_bands = _read_index(spark, bands_path, epoch_id)
    idx_sets = _read_index(spark, sets_path, epoch_id)
    all_bands = (
        idx_bands.unionByName(batch_bands) if idx_bands is not None else batch_bands
    )
    all_sets = idx_sets.unionByName(batch_sets) if idx_sets is not None else batch_sets

    cand = (
        all_bands.alias("x")
        .join(F.broadcast(batch_bands.alias("y")), ["b", "h"])
        .filter(F.col("x.id") != F.col("y.id"))
        .select(
            F.least("x.id", "y.id").alias("a_id"),
            F.greatest("x.id", "y.id").alias("b_id"),
        )
        .distinct()
    )
    pj = _pair_jaccard(cand, all_sets)
    # re-tie: keep the candidate pin alive through the write below
    # (the intermediate handle would otherwise drop it immediately)
    pairs = tie_unpersist(pj.filter(F.col("jaccard") >= threshold), pj)

    # Durability order: pairs FIRST, then the index absorption, each
    # committed as this epoch's own subdir. A crash at any point
    # replays the epoch against the pre-batch index (own epoch is
    # excluded from reads) and rewrites both outputs identically.
    if pairs_dir is not None:
        own = os.path.join(pairs_dir, f"epoch={epoch_id}")
        _commit_dir(spark, pairs, own, one_file=False)
        out = spark.read.parquet(own)
    else:
        # Direct-API path: pin the result before the index mutates.
        # localCheckpoint (not cache) — eviction would otherwise let
        # the plan recompute against the absorbed index.
        out = pairs.localCheckpoint()
    for rows, root in ((batch_bands, bands_path), (batch_sets, sets_path)):
        _commit_dir(
            spark, rows, os.path.join(root, f"epoch={epoch_id}"), one_file=False
        )
    sarr.unpersist()
    batch_bands.unpersist()
    return out


def stream_dedup(
    spark,
    docs_stream: DataFrame,
    index_dir: str,
    pairs_dir: str,
    checkpoint_dir: str,
    **kw,
):
    """Wire :func:`process_batch` as a foreachBatch sink: every
    micro-batch's new pairs land in ``pairs_dir/epoch=N``. availableNow
    / continuous triggers both work; per-key ordering is irrelevant
    (pair discovery is commutative across batches)."""

    compact_after = kw.pop("compact_after", 16)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        process_batch(
            spark, batch_df, index_dir, epoch_id=epoch_id, pairs_dir=pairs_dir, **kw
        )
        # Automatic index roll-up: bands/shingles are disjoint ROW-SET
        # epochs (count_col=None — pure re-layout union), folded once
        # the committed-epoch count passes the bound. keep_recent=2
        # keeps the in-flight replay window unfolded, so a replayed
        # epoch still reads exactly the pre-batch index and overwrites
        # only its own directory. compact_after=None disables.
        if compact_after is not None:
            from nerd_spark.streaming.epochs import maybe_compact

            for sub in ("bands", "shingles"):
                maybe_compact(
                    spark,
                    os.path.join(index_dir, sub),
                    None,
                    max_epochs=compact_after,
                )

    return (
        docs_stream.writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
    )
