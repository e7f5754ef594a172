#!/usr/bin/env python
"""The exact screen+verify sketch family on the synthetic tables —
the corpus-statistics pass a training-data pipeline runs before it
decides sampling weights and filters:

  1. heavy-hitter event keys (top talkers) — batch-local candidate
     screen, broadcast-semi-join exact verify (operators/sketches.py)
  2. heavy-hitter terms — exact text-level per-batch counting, no
     token rows materialized in any engine tier
  3. global exact quantiles of a numeric column — GK bracket, exact
     observe() verify, refine over sketch-bounded rows
  4. per-group exact quantiles — the same, fully in-plan
  5. the streaming variant of (2): drain the documents as a file
     stream into per-epoch (term, tf) state and serve cumulatively

Everything printed is EXACT (the sketches only bound work, never the
answer) — each result is identical to the naive full groupBy / full
sort, which is what makes the whole family DuckDB-oracle-checkable.

Run: PYTHONPATH=. python examples/sketch_suite.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import tempfile

from nerd_spark.operators.sketches import (
    exact_quantiles,
    exact_quantiles_by,
    heavy_hitter_terms,
    heavy_hitters,
    heavy_hitters_by,
)
from nerd_spark.session import get_spark, read_table
from nerd_spark.streaming.hh_stream import (
    current_heavy_hitters,
    stream_heavy_hitters,
)

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
spark = get_spark(app_name="sketch_suite", shuffle_partitions=8)

events = read_table(spark, sf_dir, "events")
docs = read_table(spark, sf_dir, "documents")

print("== heavy-hitter event keys (>= 0.5% of rows) ==")
heavy_hitters(events, "user_id", 0.005).orderBy("cnt", ascending=False).show(5)

print("== heavy-hitter terms (>= 1% of tokens) ==")
heavy_hitter_terms(docs, 0.01).orderBy("cnt", ascending=False).show(5)

print("== per-event-type heavy hitters (group-local dominance) ==")
heavy_hitters_by(events, "event_type", "user_id", 0.008).orderBy(
    "event_type", "cnt", ascending=[True, False]
).show(5)

print("== exact top-5 most frequent users (iterated hh) ==")
from nerd_spark.operators.sketches import top_frequent

top_frequent(events, "user_id", k=5).orderBy("rank").show()

print("== exact value quantiles ==")
exact_quantiles(events, "value", [0.25, 0.5, 0.9, 0.99]).show()

print("== exact value quantiles per event type ==")
exact_quantiles_by(events, "event_type", "value", [0.5, 0.95]).orderBy(
    "event_type", "p"
).show()

print("== streaming heavy-hitter terms (file-stream drain) ==")
base = tempfile.mkdtemp(prefix="sketch_suite_")
docs.select("doc_id", "text").write.parquet(os.path.join(base, "incoming"))
stream = (
    spark.readStream.schema(docs.select("doc_id", "text").schema)
    .option("maxFilesPerTrigger", "1")
    .parquet(os.path.join(base, "incoming"))
)
q = stream_heavy_hitters(
    spark,
    stream,
    state_dir=os.path.join(base, "state"),
    checkpoint_dir=os.path.join(base, "ckpt"),
)
q.awaitTermination(300)
current_heavy_hitters(spark, os.path.join(base, "state"), 0.01).orderBy(
    "cnt", ascending=False
).show(5)

print("== streaming exact quantiles (folded value-histogram state) ==")
from nerd_spark.streaming.quantile_stream import (
    current_quantiles,
    stream_quantiles,
)

ev_src = events.select("event_id", "event_type", "value")
ev_src.write.parquet(os.path.join(base, "ev_incoming"))
ev_stream = (
    spark.readStream.schema(ev_src.schema)
    .option("maxFilesPerTrigger", "1")
    .parquet(os.path.join(base, "ev_incoming"))
)
q2 = stream_quantiles(
    spark,
    ev_stream,
    state_dir=os.path.join(base, "qstate"),
    checkpoint_dir=os.path.join(base, "qckpt"),
)
q2.awaitTermination(300)
current_quantiles(spark, os.path.join(base, "qstate"), [0.5, 0.95]).orderBy(
    "event_type", "p"
).show()
