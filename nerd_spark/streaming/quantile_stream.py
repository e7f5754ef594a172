"""Continuous EXACT quantile tracking over Structured Streaming: a
thin shell over the value-histogram serve table's fold.

Each micro-batch is one :func:`~nerd_spark.sources.layout._fold` of
the quantile family's histogram state and merge (``_value_hist_spec``:
exact (et, v, cnt) value counts per value bucket ``wb``, summed on
merge — the same histogram the batch quantile operator's
bounded-domain path reduces to, operators/sketches.py::
_hist_quantiles) into the stream's own state dir, with the staged
commit, torn-commit recovery and batch ledger every fold has. The
batch id is ``epoch=<epoch_id>``, so the ledger skips a replayed
epoch: the additive fold is applied once per epoch.

Unlike sketch state (GK summaries), histograms ADD exactly across
batches — there is no merge error at any point, so the cumulative
serving result equals the one-shot batch ``exact_quantiles_by`` over
everything ingested so far (test- and oracle-pinned). State size is
the distinct (type, value) pairs ingested, rewritten only in the
value buckets a batch touches: vocabulary-like for the bounded value
domains the histogram path targets. For truly continuous values the
histogram approaches the data size — that is the price of exactness;
the batch operator's GK bracket path is the right tool for a one-shot
answer there, and a streaming serve would hold a GK sketch instead
(documented trade, not implemented: every registered value domain is
bounded).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from nerd_spark.operators.sketches import _hist_quantiles
from nerd_spark.sources import fsutil
from nerd_spark.sources.layout import _fold, _value_hist_spec


def process_batch(
    spark,
    batch: DataFrame,
    state_dir: str,
    epoch_id: int | None = None,
    key_col: str = "event_type",
    col: str = "value",
) -> None:
    """Fold one arriving batch's exact (``key_col``, ``col``) value
    counts into the histogram at ``state_dir``. ``epoch_id`` keys the
    fold's batch ledger (a replayed epoch is skipped); None folds
    unledgered."""
    _fold(
        spark,
        _value_hist_spec(spark, state_dir, key_col, col).at(state_dir),
        batch,
        None if epoch_id is None else f"epoch={epoch_id}",
    )


def current_quantiles(
    spark,
    state_dir: str,
    probs: list[float],
    key_col: str = "event_type",
    value_type: str = "double",
) -> DataFrame:
    """Exact per-group quantiles over everything ingested so far —
    the same (key, p, value) contract as the batch
    ``exact_quantiles_by``: the cumulative-sum quantile_disc selector
    over the committed histogram.

    The value column carries the SOURCE type (the histogram parquet
    preserves it). Without committed state there is no schema to
    derive it from, so the empty frame uses ``value_type`` (default
    double) — callers tracking a non-double measure should pass their
    type to keep the schema stable across the empty boundary."""
    if not fsutil.exists(spark, os.path.join(state_dir, "_SUCCESS")):
        return spark.createDataFrame(
            [], f"{key_col} string, p double, value {value_type}"
        )
    hist = spark.read.parquet(state_dir).select(
        F.col("et").alias("g"), "v", "cnt"
    )
    return _hist_quantiles(hist, probs).select(
        F.col("g").alias(key_col), "p", "value"
    )


def stream_quantiles(
    spark,
    events_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    key_col: str = "event_type",
    col: str = "value",
):
    """Wire :func:`process_batch` as a foreachBatch sink."""

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        process_batch(
            spark, batch_df, state_dir,
            epoch_id=epoch_id, key_col=key_col, col=col,
        )

    return (
        events_stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
