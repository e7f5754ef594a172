"""Continuous heavy-hitter tracking: Structured Streaming over
arriving documents, maintaining an exact (term, tf) count table.

State is one parquet table laid out as a subdirectory per micro-batch
epoch (the streaming/dedup_stream.py pattern): each batch compacts its
own text to per-batch exact (term, tf) pairs — the same text-level
counting kernel the batch hh_terms query uses
(operators/sketches.py::_terms_count_fn), so no token row is ever
materialized — and commits them as ``<state>/epoch=N``. At-least-once
replay of an epoch rewrites exactly the same pairs into the same
directory (the kernel is deterministic and reads nothing but the
batch), so the state is idempotent with no read-exclusion protocol
at all — simpler than the dedup index because batches never interact
at write time. The write commits staged (streaming/epochs.py): a
replay that fails leaves the epoch it would have rewritten in place.

The SERVING query (current_heavy_hitters) unions all committed
epochs, sums per term, and applies the exact cnt >= phi*N filter —
cumulative results equal the one-shot batch hh_terms over everything
ingested so far (test-pinned). State size is epochs x per-batch
vocabulary, compacted per batch; streaming/epochs.py::compact_epochs
is the periodic base-epoch roll-up that bounds the union width at
long horizons (serve equality test-pinned).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from nerd_spark.operators.sketches import _terms_count_fn
from nerd_spark.sources.layout import _commit_dir
from nerd_spark.streaming.epochs import _epochs, read_epochs


def process_batch(
    spark,
    batch_docs: DataFrame,
    state_dir: str,
    epoch_id: int | None = None,
    text_col: str = "text",
) -> None:
    """Absorb one arriving batch: exact per-batch (term, tf) pairs,
    batch-compacted (one row per distinct term in the batch), written
    to the batch's own epoch directory."""
    if epoch_id is None:
        known = _epochs(spark, state_dir)
        epoch_id = (known[-1] + 1) if known else 0
    pairs = (
        batch_docs.select(F.col(text_col).alias("k"))
        .mapInPandas(_terms_count_fn(), "k string, tf long")
        .groupBy(F.col("k").alias("term"))
        .agg(F.sum("tf").alias("tf"))
    )
    _commit_dir(
        spark, pairs, os.path.join(state_dir, f"epoch={epoch_id}"),
        one_file=False,
    )


def current_heavy_hitters(
    spark, state_dir: str, min_frac: float
) -> DataFrame:
    """Exact heavy hitters over everything ingested so far — the same
    (term, cnt, share) contract as the batch hh_terms query."""
    pairs = read_epochs(spark, state_dir)
    if pairs is None:
        return spark.createDataFrame([], "term string, cnt long, share double")
    counts = pairs.groupBy("term").agg(F.sum("tf").alias("cnt"))
    totals = pairs.groupBy().agg(F.sum("tf").alias("n"))
    return (
        counts.crossJoin(F.broadcast(totals))
        .filter(F.col("cnt") >= F.lit(min_frac) * F.col("n"))
        .select(
            "term", "cnt", F.round(F.col("cnt") / F.col("n"), 6).alias("share")
        )
    )


def stream_heavy_hitters(
    spark,
    docs_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    compact_after: int | None = 16,
):
    """Wire :func:`process_batch` as a foreachBatch sink. The sink
    also runs the automatic base-epoch roll-up (epochs.maybe_compact)
    once the committed-epoch count passes ``compact_after`` — safe
    from inside foreachBatch because epochs below the current one are
    checkpoint-committed and keep_recent=2 keeps the in-flight replay
    window unfolded. ``compact_after=None`` disables."""
    from nerd_spark.streaming.epochs import maybe_compact

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        process_batch(
            spark, batch_df, state_dir, epoch_id=epoch_id, text_col=text_col
        )
        if compact_after is not None:
            maybe_compact(spark, state_dir, "tf", max_epochs=compact_after)

    return (
        docs_stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
