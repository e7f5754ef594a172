"""Base-epoch roll-up for per-epoch additive state tables.

The hh_stream / quantile_stream state layout (one parquet dir per
micro-batch epoch) grows its serving union one directory per batch.
Both serving queries re-SUM per key, and their state rows are
ADDITIVE (term tf counts, value-histogram counts), so any prefix of
epochs can be folded into one base epoch without changing any serve —
the day-roll discipline of the window summary table, applied to
stream state. At 100 TB horizons this bounds the union width: serve
cost stays O(base + recent epochs), not O(all batches ever).

Crash-safe protocol (write-aside, self-healing commit — the
ivfpq_compact discipline, hardened per the r9 advice):

1. write the folded state to ``epoch=<base>.new`` (parquet emits
   _SUCCESS last, so a torn write is self-identifying);
2. COMMIT via :func:`_land`: delete every epoch dir with id <= base,
   then rename ``epoch=<base>.new`` -> ``epoch=<base>``.

The fold always covers the full prefix of committed epochs up to
``base`` (``_epochs`` is sorted and the fold takes a prefix), so a
COMPLETE aside is authoritative for everything <= base. That makes
every crash point converge under :func:`_resume_pending`:

- crash before the aside's _SUCCESS: the torn ``.new`` is deleted on
  resume; all source epochs are intact (nothing was deleted yet).
- crash anywhere inside :func:`_land` (mid-delete, including before
  the old ``epoch=<base>`` dir itself is removed): resume re-runs
  _land — it deletes whatever sources <= base survive (target dir
  included) and renames the complete aside in. Unlike the pre-r10
  protocol, resume does NOT skip when the target still exists, so a
  partial delete can never cause the next compaction to recompute
  from surviving epochs and clobber the aside (silent loss), nor can
  a stale complete aside be resurrected later to double-count.

Serves during the commit window transiently UNDERCOUNT (an epoch dir
disappears before the base lands) — never double-count, because the
base only becomes visible after everything it covers is gone. The
base reuses the HIGHEST folded epoch id: stream epoch ids only grow
(checkpointed), and batch ids at or below the base are by definition
committed, so no replay can target it.

Only compact epochs the stream's checkpoint has committed, from a
SINGLE maintenance actor — i.e. run this from the maintenance side,
not inside foreachBatch (see :func:`maybe_compact` for the cadence
hook the streams call).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from nerd_spark.streaming.hh_stream import _epochs


def _land(spark, state_dir: str, base: int) -> None:
    """Commit a COMPLETE ``epoch=<base>.new``: delete every epoch dir
    with id <= base (the fold covered that full committed prefix),
    then rename the aside in. Idempotent — safe to re-run from any
    crash point inside itself."""
    from nerd_spark.sources import fsutil

    for name in fsutil.list_names(spark, state_dir):
        if not name.startswith("epoch=") or name.endswith(".new"):
            continue
        try:
            e = int(name.split("=", 1)[1])
        except ValueError:
            continue
        if e <= base:
            fsutil.delete(
                spark, os.path.join(state_dir, name), recursive=True
            )
    src = os.path.join(state_dir, f"epoch={base}.new")
    if not fsutil.rename(spark, src, os.path.join(state_dir, f"epoch={base}")):
        raise IOError(f"_land: failed to swap in {src}")


def _resume_pending(spark, state_dir: str) -> None:
    """Converge any crashed compaction: a COMPLETE (_SUCCESS-bearing)
    ``epoch=<n>.new`` is the committed state for everything <= n —
    land it unconditionally (even if the target dir still exists: a
    crash mid-delete leaves sources the aside supersedes). A torn
    ``.new`` (no _SUCCESS) was never committed and its sources are
    intact — delete it so it can never linger or be half-trusted."""
    from nerd_spark.sources import fsutil

    for name in sorted(fsutil.list_names(spark, state_dir)):
        if not name.endswith(".new") or not name.startswith("epoch="):
            continue
        src = os.path.join(state_dir, name)
        try:
            base = int(name[len("epoch=") : -len(".new")])
        except ValueError:
            continue
        if fsutil.exists(spark, os.path.join(src, "_SUCCESS")):
            _land(spark, state_dir, base)
        else:
            fsutil.delete(spark, src, recursive=True)


def compact_epochs(
    spark,
    state_dir: str,
    count_col: str | None,
    keep_recent: int = 0,
) -> int:
    """Fold committed epochs into one base epoch; returns how many
    source epochs were folded (0 = nothing to do). ``count_col`` is
    the additive column (hh state: ``tf``; quantile state: ``cnt``);
    every other column is part of the key. ``count_col=None`` marks
    ROW-SET state (the dedup index's band/shingle tables — epochs are
    disjoint row sets, replays overwrite whole epochs): the fold is a
    pure re-layout union, shrinking directory/file counts without an
    aggregation. ``keep_recent`` leaves the newest N epochs unfolded
    (cheap incremental serves often touch only recent epochs; from a
    foreachBatch maintenance hook it must cover the replay window —
    the in-flight epoch is the only one at-least-once can rewrite)."""
    from nerd_spark.sources import fsutil

    if not fsutil.exists(spark, state_dir):
        return 0
    _resume_pending(spark, state_dir)
    eps = _epochs(spark, state_dir)
    if keep_recent:
        eps = eps[: -keep_recent or None]
    if len(eps) < 2:
        return 0
    base = eps[-1]
    paths = [os.path.join(state_dir, f"epoch={e}") for e in eps]
    pairs = (
        spark.read.option("basePath", state_dir).parquet(*paths).drop("epoch")
    )
    if count_col is None:
        merged = pairs
    else:
        keys = [c for c in pairs.columns if c != count_col]
        merged = pairs.groupBy(*keys).agg(F.sum(count_col).alias(count_col))
    merged.write.mode("overwrite").parquet(
        os.path.join(state_dir, f"epoch={base}.new")
    )
    _land(spark, state_dir, base)
    return len(eps)


def maybe_compact(
    spark,
    state_dir: str,
    count_col: str | None,
    max_epochs: int = 16,
    keep_recent: int = 2,
) -> int:
    """Cadence hook for automatic maintenance: fold only once the
    committed-epoch count passes ``max_epochs``, keeping the newest
    ``keep_recent`` unfolded (they cover any in-flight replay window).
    Cheap when below the bound — one directory listing, no Spark job —
    so streams can call it every batch from their maintenance side.
    Returns the number of epochs folded (0 = below bound/no-op)."""
    from nerd_spark.sources import fsutil

    if not fsutil.exists(spark, state_dir):
        return 0
    _resume_pending(spark, state_dir)
    if len(_epochs(spark, state_dir)) <= max_epochs:
        return 0
    return compact_epochs(
        spark, state_dir, count_col, keep_recent=keep_recent
    )
