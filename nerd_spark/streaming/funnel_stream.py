"""Watermark-bounded continuous funnel over Structured Streaming.

streaming/cohort_stream.py documents why the funnel has no UNBOUNDED
exact streaming reduction: a late stage-1 event can lower t1 and
retroactively qualify stage-2 timestamps an earlier epoch already
discarded, so exactness requires the stage-typed events themselves.
But the engine's own ingest contract bounds lateness — the P10
acceptance window drops events more than `lateness_days` behind the
high-water event time (reference: warden_receiver.py:510-517's 7-day
window) — and WITHIN that contract a bounded exact state exists:

- Acceptance: epoch N accepts only events with
  ts >= W_N = max(event time over epochs < N) - lateness. W is a
  pure function of the COMMITTED prefix, so replaying epoch N
  reproduces the same accepted set (the deterministic-kernel epoch
  discipline; using the running max INCLUDING the current batch
  would make a replay drop rows its first attempt accepted).
- Freeze: once no event below W can ever arrive, the timeline prefix
  (ts < W) is final. Resolving the stage chain within the prefix
  gives t_1..t_j that are FINAL (inductively: t_i < W and every
  future event has ts >= W > t_i, so the qualifying min cannot
  drop), and prefix events at unresolved stages are dead weight (a
  stage-(j+1) prefix event has ts < W <= any future t_j', so it can
  never qualify). The prefix therefore reduces to k scalars.
- Compaction folds a PREFIX of epochs (committed by the staged rule
  of streaming/epochs.py, as every epoch write is): events below the
  fold watermark resolve into per-user frozen scalars, events at or
  above it stay as rows. Rows in NEWER (unfolded) epochs are always
  >= the fold watermark — acceptance watermarks are monotone over
  epochs and the fold is a prefix — so the freeze argument's "prefix
  holds ALL events < W" premise is structural, not assumed.

State size per user: k frozen scalars + distinct stage-typed events
within the lateness horizon — the bounded exact state the
impossibility note said order-delivery would buy; the acceptance
window buys it instead.

Epoch rows are one schema, discriminated by `kind`:
  'e' — accepted stage-typed event (u, ts, et)
  'f' — frozen per-user scalars (u, tvals array<timestamp>)
  'w' — epoch high-water event time (ts only; drives acceptance)
Serving unions committed epochs, combines frozen scalars with the
row window per user (t_i = frozen_i if set, else the array-HOF min at
or after t_{i-1}), and finishes through the batch operator's
funnel_rows_from_times — so the cumulative result equals the one-shot
batch funnel over every ACCEPTED event (test- and oracle-pinned).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from nerd_spark.sources.layout import _commit_dir
from nerd_spark.streaming.epochs import _epochs, _resume, commit_fold, read_epochs


def _high_water(spark, state_dir: str, before_epoch: int | None = None):
    """Max accepted event time over committed epochs, optionally only
    those with id < ``before_epoch``: acceptance for epoch N must be a
    function of the prefix STRICTLY before N — a crash after the
    epoch dir commits but before the checkpoint commits replays N,
    and a watermark that saw N's own high-water row would re-accept a
    smaller set than the first attempt landed."""
    eps = _epochs(spark, state_dir)
    if before_epoch is not None:
        eps = [e for e in eps if e < before_epoch]
    st = read_epochs(spark, state_dir, eps)
    if st is None:
        return None
    return st.filter(F.col("kind") == "w").agg(F.max("ts")).first()[0]


def process_batch(
    spark,
    batch: DataFrame,
    state_dir: str,
    stages: list[str],
    epoch_id: int | None = None,
    lateness_days: int = 7,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> None:
    """Absorb one arriving batch: accepted stage-typed distinct
    (u, ts, et) rows plus the batch's high-water row into the batch's
    own epoch directory. Acceptance watermark = committed high water
    minus ``lateness_days`` — events older than that are DROPPED (the
    P10 contract; the cumulative serve equals the batch funnel over
    accepted events, which is the only exactness on offer once the
    store refuses arbitrarily late data)."""
    if epoch_id is None:
        known = _epochs(spark, state_dir)
        epoch_id = (known[-1] + 1) if known else 0
    hw = _high_water(spark, state_dir, before_epoch=epoch_id)
    e = batch.select(
        F.col(user_col).alias("u"),
        F.col(ts_col).alias("ts"),
        F.col(type_col).alias("et"),
    ).filter(F.col("ts").isNotNull())
    if hw is not None:
        cutoff = F.lit(hw) - F.expr(f"INTERVAL {int(lateness_days)} DAYS")
        e = e.filter(F.col("ts") >= cutoff)
    rows = (
        e.filter(F.col("et").isin(list(stages)))
        .distinct()
        .select(
            "u",
            F.lit("e").alias("kind"),
            "ts",
            "et",
            F.lit(None).cast("array<timestamp>").alias("tvals"),
        )
    )
    # high-water row from the ACCEPTED batch (deterministic under
    # replay: acceptance is a function of the committed prefix)
    wrow = e.agg(F.max("ts").alias("ts")).filter(
        F.col("ts").isNotNull()
    ).select(
        F.lit(None).cast(rows.schema["u"].dataType).alias("u"),
        F.lit("w").alias("kind"),
        "ts",
        F.lit(None).cast("string").alias("et"),
        F.lit(None).cast("array<timestamp>").alias("tvals"),
    )
    _commit_dir(
        spark,
        rows.unionByName(wrow),
        os.path.join(state_dir, f"epoch={epoch_id}"),
        one_file=False,
    )


def _resolve(state: DataFrame, stages: list[str]) -> DataFrame:
    """Per-user stage times from the union of frozen scalars and the
    event-row window: t_i = frozen_i when set (FINAL by the freeze
    argument), else the array-HOF min at or after t_{i-1}."""
    frozen = state.filter(F.col("kind") == "f").select("u", "tvals")
    events = (
        state.filter(F.col("kind") == "e")
        .groupBy("u")
        .agg(F.collect_set(F.struct("ts", "et")).alias("st_arr"))
    )
    j = events.alias("e").join(
        frozen.alias("fz"),
        F.col("e.u").eqNullSafe(F.col("fz.u")),
        "full_outer",
    ).select(
        F.coalesce(F.col("e.u"), F.col("fz.u")).alias("u"),
        F.coalesce(
            F.col("e.st_arr"),
            F.array().cast("array<struct<ts:timestamp,et:string>>"),
        ).alias("st_arr"),
        F.col("fz.tvals").alias("tvals"),
    )

    def _fz(i):
        return F.try_element_at("tvals", F.lit(i))

    def _hof(st, prev):
        # closure factory (see operators/funnels.py::_qualifies):
        # pyspark counts the lambda's parameters, so captured values
        # must not appear as defaulted params
        from nerd_spark.operators.funnels import _qualifies

        cond = (
            (lambda x: x["et"] == F.lit(st))
            if prev is None
            else _qualifies(st, prev)
        )
        return F.array_min(
            F.transform(F.filter("st_arr", cond), lambda x: x["ts"])
        )

    out = j.withColumn("t1", F.coalesce(_fz(1), _hof(stages[0], None)))
    for i, st in enumerate(stages[1:], start=2):
        out = out.withColumn(
            f"t{i}",
            F.coalesce(_fz(i), _hof(st, F.col(f"t{i - 1}"))),
        )
    return out


def current_funnel(
    spark, state_dir: str, stages: list[str]
) -> DataFrame:
    """Funnel conversion over everything ACCEPTED so far — the same
    (stage_idx, stage, users, rate) contract as the batch operator."""
    from nerd_spark.operators.funnels import funnel_rows_from_times

    st = read_epochs(spark, state_dir)
    if st is None:
        return spark.createDataFrame(
            [],
            "stage_idx int, stage string, users long, rate double",
        )
    return funnel_rows_from_times(_resolve(st, stages), stages)


def compact(
    spark,
    state_dir: str,
    stages: list[str],
    lateness_days: int = 7,
    keep_recent: int = 2,
) -> bool:
    """Fold all but the ``keep_recent`` newest epochs into one base
    epoch, freezing the pre-watermark prefix into per-user scalars and
    keeping only in-horizon event rows — the funnel-shaped analog of
    epochs.compact_epochs, committed the same way
    (epochs.commit_fold)."""
    _resume(spark, state_dir)
    eps = _epochs(spark, state_dir)
    if len(eps) <= max(keep_recent, 1):
        return False
    fold = eps[: len(eps) - keep_recent]
    st = read_epochs(spark, state_dir, fold)
    hw = st.filter(F.col("kind") == "w").agg(F.max("ts")).first()[0]
    if hw is None:
        return False
    cutoff = F.lit(hw) - F.expr(f"INTERVAL {int(lateness_days)} DAYS")
    # prefix = frozen scalars + event rows below the fold watermark;
    # resolve it per user (FINAL — see module docstring), keep the
    # rest as rows. Rows in unfolded epochs are >= this watermark by
    # acceptance monotonicity, so the prefix is complete.
    prefix = st.filter(
        (F.col("kind") == "f")
        | ((F.col("kind") == "e") & (F.col("ts") < cutoff))
    )
    resolved = _resolve(prefix, stages)
    frozen_rows = resolved.select(
        "u",
        F.lit("f").alias("kind"),
        F.lit(None).cast("timestamp").alias("ts"),
        F.lit(None).cast("string").alias("et"),
        F.array(*[F.col(f"t{i}") for i in range(1, len(stages) + 1)]).alias(
            "tvals"
        ),
    )
    survivors = st.filter(
        (F.col("kind") == "e") & (F.col("ts") >= cutoff)
    ).distinct()
    wrow = spark.createDataFrame(
        [("w",)], "kind string"
    ).select(
        F.lit(None).cast(st.schema["u"].dataType).alias("u"),
        "kind",
        F.lit(hw).alias("ts"),
        F.lit(None).cast("string").alias("et"),
        F.lit(None).cast("array<timestamp>").alias("tvals"),
    )
    commit_fold(
        spark, state_dir, fold,
        frozen_rows.unionByName(survivors).unionByName(wrow),
    )
    return True


def stream_funnel(
    spark,
    events_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    stages: list[str],
    lateness_days: int = 7,
    compact_after: int | None = 16,
):
    """Wire :func:`process_batch` as a foreachBatch sink with the
    funnel-shaped compaction past ``compact_after`` committed epochs
    (keep_recent=2 covers the at-least-once replay window)."""

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        process_batch(
            spark, batch_df, state_dir, stages,
            epoch_id=epoch_id, lateness_days=lateness_days,
        )
        if compact_after is not None and len(
            _epochs(spark, state_dir)
        ) > compact_after:
            compact(
                spark, state_dir, stages, lateness_days=lateness_days
            )

    return (
        events_stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
