"""Structured Streaming query paths.

`streaming_daily_counts` carries a real SQL oracle: with an
availableNow trigger draining the whole (static) file set, every
event is on time, so the streamed tumbling-window result must equal
the plain batch daily rollup — the same invariant
tests/test_ingest.py proves for the ingest pipeline. The oracle is
that batch rollup in DuckDB, so the driver hash-checks the streaming
path instead of recording a rows-only row.
"""

from __future__ import annotations

import tempfile
import uuid

from pyspark.sql import functions as F

from nerd_spark.queries.base import query


@query(
    "streaming_daily_counts",
    """
    SELECT strftime(ts, '%Y-%m-%d') AS d, event_type, count(*) AS n
    FROM events GROUP BY 1, 2
    """,
)
def streaming_daily_counts(spark, sf_dir):
    """The A1 daily rollup as a Structured Streaming job: file source
    over the events parquet, 7-day watermark (the P10 late-data
    policy, reference: warden_receiver.py:444-457), tumbling 1-day
    window, availableNow trigger draining to a memory sink
    (SURVEY §2.8 tumbling windows + watermark).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    static = spark.read.parquet(f"{sf_dir}/events.parquet")
    # the file source wants a directory: scan sf_dir, match only events
    stream = (
        spark.readStream.schema(static.schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    # ts arrives as nanos-as-long (legacy nanos files) or as a native
    # parquet us-timestamp depending on how the testdata was written;
    # normalize either to a session-UTC TIMESTAMP.
    if dict(stream.dtypes).get("ts") == "bigint":
        events = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        events = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    agg = (
        events.withWatermark("ts", "7 days")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd").alias("d"), "event_type", "n"
        )
    )
    # Update mode + foreachBatch appending to parquet: no complete-mode
    # state replay and no driver-side materialization — the scale shape
    # (state bounded by watermark, sink distributed). Counts only grow,
    # so the final value per window is the max across emitted updates.
    out_dir = tempfile.mkdtemp(prefix=f"nerd_spark_sdc_{uuid.uuid4().hex[:8]}_")

    def sink(batch_df, epoch_id: int) -> None:
        batch_df.write.mode("append").parquet(out_dir)

    q = (
        agg.writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="nerd_spark_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return (
        spark.read.parquet(out_dir)
        .groupBy("d", "event_type")
        .agg(F.max("n").alias("n"))
    )


@query(
    "streaming_hh_terms",
    r"""
    WITH src AS (
      SELECT unnest(string_split_regex(trim(text), '\s+')) AS term
      FROM documents WHERE text IS NOT NULL
    ),
    tot AS (SELECT count(*) AS n FROM src),
    c AS (SELECT term, count(*) AS cnt FROM src GROUP BY 1)
    SELECT term, cnt,
           round(cnt / (SELECT n FROM tot), 6) AS share
    FROM c WHERE cnt >= 0.01 * (SELECT n FROM tot)
    """,
)
def streaming_hh_terms(spark, sf_dir):
    """Continuous heavy-hitter tracking (streaming/hh_stream.py): the
    document stream drains under availableNow into the per-epoch
    exact (term, tf) state table, and the serving query must equal the
    one-shot batch hh_terms — so it shares that query's SQL oracle
    (the streaming_daily_counts discipline: a drained static set has
    no late data, making the streamed result hash-checkable)."""
    from nerd_spark.streaming.hh_stream import (
        current_heavy_hitters,
        stream_heavy_hitters,
    )

    static = spark.read.parquet(f"{sf_dir}/documents.parquet")
    stream = (
        spark.readStream.schema(static.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    state = tempfile.mkdtemp(prefix=f"nerd_spark_hhs_{uuid.uuid4().hex[:8]}_")
    q = stream_heavy_hitters(
        spark, stream, state_dir=state,
        checkpoint_dir=tempfile.mkdtemp(prefix="nerd_spark_ckpt_"),
    )
    q.awaitTermination(300)
    return current_heavy_hitters(spark, state, 0.01)


@query(
    "streaming_quantiles",
    """
    WITH v AS (SELECT event_type, value FROM events WHERE value IS NOT NULL)
    SELECT event_type, CAST(0.5 AS DOUBLE) AS p,
           quantile_disc(value, 0.5) AS value FROM v GROUP BY 1
    UNION ALL
    SELECT event_type, CAST(0.95 AS DOUBLE),
           quantile_disc(value, 0.95) FROM v GROUP BY 1
    """,
)
def streaming_quantiles(spark, sf_dir):
    """Continuous EXACT quantile tracking
    (streaming/quantile_stream.py): the event stream drains under
    availableNow, each micro-batch one fold of the exact value
    histogram, and the serving query must equal the one-shot batch
    exact_quantiles_by — so it shares quantile_by_event_type's SQL
    oracle (the streaming_daily_counts discipline: a drained static
    set has no late data, making the streamed result hash-checkable).
    Histograms
    add exactly across batches, so unlike sketch state the cumulative
    result carries no merge error at any horizon."""
    from nerd_spark.streaming.quantile_stream import (
        current_quantiles,
        stream_quantiles,
    )

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    static = spark.read.parquet(f"{sf_dir}/events.parquet")
    stream = (
        spark.readStream.schema(static.schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    state = tempfile.mkdtemp(prefix=f"nerd_spark_qs_{uuid.uuid4().hex[:8]}_")
    q = stream_quantiles(
        spark, stream, state_dir=state,
        checkpoint_dir=tempfile.mkdtemp(prefix="nerd_spark_ckpt_"),
    )
    q.awaitTermination(300)
    return current_quantiles(spark, state, [0.5, 0.95])


@query(
    "streaming_cohort",
    """
    WITH a AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'signup'
                      THEN CAST(ts AS DATE) END) AS d0
      FROM events WHERE user_id IS NOT NULL GROUP BY 1
    ),
    c AS (
      SELECT user_id, d0, strftime(d0, '%Y-%m-%d') AS cohort_date
      FROM a WHERE d0 IS NOT NULL
    ),
    sizes AS (
      SELECT cohort_date, count(*) AS cohort_size FROM c GROUP BY 1
    ),
    act AS (
      SELECT DISTINCT c.user_id, c.cohort_date,
             date_diff('day', c.d0, CAST(e.ts AS DATE)) // 7 AS period
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE CAST(e.ts AS DATE) >= c.d0
        AND date_diff('day', c.d0, CAST(e.ts AS DATE)) // 7 < 4
    ),
    cnt AS (
      SELECT cohort_date, period, count(*) AS active_users
      FROM act GROUP BY 1, 2
    )
    SELECT cnt.cohort_date, period, cohort_size, active_users,
           round(active_users * 1.0 / cohort_size, 6) AS retention
    FROM cnt JOIN sizes ON cnt.cohort_date = sizes.cohort_date
    """,
)
def streaming_cohort(spark, sf_dir):
    """Continuous cohort retention (streaming/cohort_stream.py): the
    event stream drains under availableNow, each micro-batch one fold
    of the per-user day-set state (set union and min, so replays
    cannot perturb the answer), and the serving query must equal the
    one-shot batch cohort_retention, so it shares that query's SQL
    oracle (the streaming_quantiles discipline: a drained static set
    has no late data, making the streamed result hash-checkable)."""
    from nerd_spark.streaming.cohort_stream import (
        current_retention,
        stream_retention,
    )

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    static = spark.read.parquet(f"{sf_dir}/events.parquet")
    stream = (
        spark.readStream.schema(static.schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if dict(stream.dtypes).get("ts") == "bigint":
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    state = tempfile.mkdtemp(prefix=f"nerd_spark_cs_{uuid.uuid4().hex[:8]}_")
    q = stream_retention(
        spark, stream, state_dir=state,
        checkpoint_dir=tempfile.mkdtemp(prefix="nerd_spark_ckpt_"),
    )
    q.awaitTermination(300)
    return current_retention(spark, state)


@query(
    "streaming_funnel",
    """
    WITH t1 AS (
      SELECT user_id, min(ts) AS t FROM events
      WHERE event_type = 'view' GROUP BY 1
    ),
    t2 AS (
      SELECT e.user_id, min(e.ts) AS t FROM events e
      JOIN t1 ON e.user_id = t1.user_id
      WHERE e.event_type = 'click' AND e.ts >= t1.t GROUP BY 1
    ),
    t3 AS (
      SELECT e.user_id, min(e.ts) AS t FROM events e
      JOIN t2 ON e.user_id = t2.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= t2.t GROUP BY 1
    )
    SELECT 1 AS stage_idx, 'view' AS stage,
           (SELECT count(*) FROM t1) AS users,
           round((SELECT count(*) FROM t1)::DOUBLE
                 / nullif((SELECT count(*) FROM t1), 0), 6) AS rate
    UNION ALL
    SELECT 2, 'click', (SELECT count(*) FROM t2),
           round((SELECT count(*) FROM t2)::DOUBLE
                 / nullif((SELECT count(*) FROM t1), 0), 6)
    UNION ALL
    SELECT 3, 'purchase', (SELECT count(*) FROM t3),
           round((SELECT count(*) FROM t3)::DOUBLE
                 / nullif((SELECT count(*) FROM t1), 0), 6)
    """,
)
def streaming_funnel(spark, sf_dir):
    """Watermark-bounded continuous funnel (streaming/funnel_stream.py,
    r10 verdict #6): the event stream drains under availableNow into
    per-epoch accepted stage-event state; acceptance drops events more
    than 7 days behind the committed high-water event time (the P10
    contract that makes a bounded exact state possible — see the
    module docstring's freeze argument). Serving must equal the batch
    funnel over ACCEPTED events; a drained static set arrives as one
    on-time batch (no drops), so it shares funnel_stages' SQL oracle
    (the streaming_cohort discipline). The late-beyond-watermark
    divergence case is pytest-pinned instead
    (tests/test_funnel_stream.py)."""
    from nerd_spark.streaming.funnel_stream import (
        current_funnel,
        stream_funnel,
    )

    stages = ["view", "click", "purchase"]
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    static = spark.read.parquet(f"{sf_dir}/events.parquet")
    stream = (
        spark.readStream.schema(static.schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if dict(stream.dtypes).get("ts") == "bigint":
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    state = tempfile.mkdtemp(prefix=f"nerd_spark_fs_{uuid.uuid4().hex[:8]}_")
    q = stream_funnel(
        spark, stream, state_dir=state,
        checkpoint_dir=tempfile.mkdtemp(prefix="nerd_spark_ckpt_"),
        stages=stages,
    )
    q.awaitTermination(300)
    return current_funnel(spark, state, stages)
