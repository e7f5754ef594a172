"""Multi-day streaming soak (r7 verdict #8): replay 3 simulated days
through the full ingest -> daily summary -> window-table day-roll ->
retention pipeline under foreachBatch, with a KILL/RESTART mid-day-2
(new query on the same checkpoint — the recovery path), asserting at
every day boundary that the served A-family equals a raw recompute
over exactly the events streamed so far, and that the as-of anchor
actually rolled."""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import functions as F

from nerd_spark.queries import REGISTRY
from nerd_spark.session import read_table
from nerd_spark.sources.layout import (
    SUMMARY_DAILY_DIRNAME,
    SUMMARY_WINDOW_DIRNAME,
    prune_summary,
    read_summary_meta,
)
from nerd_spark.streaming.summary_stream import stream_all_summaries

SERVED = (
    "a2_window_totals",
    "a3_ewma",
    "a5_type_profile",
    "a6_source_reputation",
    "a7_total_reputation",
)


def _drain(spark, schema, src, state, ckpt):
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        stream_all_summaries(spark, stream, state, checkpoint_dir=ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert not q.isActive


@pytest.mark.slow
def test_three_day_soak_with_midday_restart(spark, sf_dir, tmp_path):
    ev = read_table(spark, sf_dir, "events").localCheckpoint()
    dates = [
        r.d
        for r in ev.select(F.to_date("ts").alias("d"))
        .distinct()
        .orderBy("d")
        .collect()
    ]
    if len(dates) < 3:
        pytest.skip("needs >= 3 distinct event dates")
    days = [dates[0], dates[len(dates) // 2], dates[-1]]

    src = str(tmp_path / "incoming")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    raw = str(tmp_path / "raw")
    os.makedirs(raw, exist_ok=True)

    rows = lambda df: sorted(tuple(r) for r in df.collect())  # noqa: E731
    streamed = None

    def day_frame(d):
        return ev.filter(F.to_date("ts") == F.lit(d))

    def check_day(d):
        nonlocal streamed
        streamed.write.mode("overwrite").parquet(os.path.join(raw, "events.parquet"))
        # the anchor rolled to this day
        asof = datetime.date.fromisoformat(
            read_summary_meta(
                spark, os.path.join(state, SUMMARY_WINDOW_DIRNAME)
            )["as_of_d"]
        )
        assert asof == d, f"anchor {asof} != day {d}"
        for name in SERVED:
            served = REGISTRY[name](spark, state)
            plan = served._jdf.queryExecution().optimizedPlan().toString()
            assert "Aggregate" not in plan, f"{name} not on the serve path"
            assert rows(served) == rows(REGISTRY[name](spark, raw)), (name, d)

    # --- day 1: two micro-batches
    d1 = day_frame(days[0])
    for i in range(2):
        d1.filter(F.col("event_id") % 2 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    _drain(spark, ev.schema, src, state, ckpt)
    streamed = d1
    check_day(days[0])

    # --- day 2 first half, then KILL (query ended) and RESTART on the
    # same checkpoint with the second half — the mid-day recovery path
    d2 = day_frame(days[1])
    d2.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    _drain(spark, ev.schema, src, state, ckpt)  # dies here (availableNow end)
    d2.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    _drain(spark, ev.schema, src, state, ckpt)  # restarted query
    streamed = streamed.unionByName(d2)
    check_day(days[1])

    # --- day 3, then retention: prune expired daily partitions and
    # re-assert the serve paths (window state must survive the prune)
    d3 = day_frame(days[2])
    d3.coalesce(1).write.mode("append").parquet(src)
    _drain(spark, ev.schema, src, state, ckpt)
    streamed = streamed.unionByName(d3)
    check_day(days[2])

    daily = os.path.join(state, SUMMARY_DAILY_DIRNAME)
    keep = (days[2] - days[0]).days - 1  # drops at least day-1's partition
    dropped = prune_summary(spark, daily, keep_days=max(keep, 1))
    assert dropped, "retention pass dropped nothing"
    for name in ("a2_window_totals", "a7_total_reputation"):
        served = REGISTRY[name](spark, state)
        assert rows(served) == rows(REGISTRY[name](spark, raw)), name
