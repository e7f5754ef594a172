"""Committed epoch dirs of the stream state tables, and their roll-up.

The hh, dedup, funnel and nru streams keep their state as one parquet
dir per micro-batch epoch, ``<state>/epoch=N``. Every write of one —
a batch's own epoch and a compaction's folded base alike — commits by
the staged rule of sources/layout.py::_commit_dir: rows into
``epoch=N.staging``, then its meta sidecar, then ``_SUCCESS`` last;
the live dir is replaced (delete, then rename) only after that
(:func:`~nerd_spark.sources.layout._recover_dir`). Spark deletes an
overwrite target when the write command starts, so an in-place
overwrite lets a replay whose final stage fails destroy an epoch that
was already committed; staged, the committed epoch stays until its
replacement is complete. Readers list only ``epoch=N`` dirs holding
``_SUCCESS`` (:func:`_epochs`).

Base-epoch roll-up (:func:`compact_epochs`, funnel_stream.compact):
a prefix of committed epochs folds into one base epoch, bounding the
serve union at long horizons (the day-roll discipline of the window
summary table, applied to stream state). The fold is staged as
``epoch=<base>.staging`` with a meta listing the folded epoch ids,
then landed (:func:`_land`): delete the folded epoch dirs, then
:func:`_recover_dir`. Every crash point converges when
:func:`_resume` lands every complete ``epoch=*.staging`` the same way
and discards the incomplete ones:

- before the staging's ``_SUCCESS``: discarded; every source epoch is
  intact (nothing was deleted yet);
- mid-delete, or inside ``_recover_dir``: the complete staging is
  authoritative for every epoch it lists, so resume deletes whatever
  of them survives and swaps it in — a partial delete can never let
  the next compaction recompute from the survivors (silent loss), nor
  a stale staging be landed later over newer state (double count).

Serves in the landing window transiently UNDERCOUNT (a folded epoch
disappears before the base lands), never double-count. The base
reuses the HIGHEST folded epoch id: stream epoch ids only grow
(checkpointed), and batch ids at or below the base are committed, so
no replay can target it. Compact only epochs the stream's checkpoint
has committed, from a SINGLE maintenance actor (see
:func:`maybe_compact` for the cadence hook the streams call).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from nerd_spark.sources import fsutil
from nerd_spark.sources.layout import _recover_dir, _stage_dir, read_summary_meta


def _epochs(spark, root: str) -> list[int]:
    """Committed epoch ids under ``root``, sorted: ``epoch=N`` dirs
    holding ``_SUCCESS``. A staging sibling or a dir without the
    marker is never listed. Listed through the Hadoop FS API
    (sources/fsutil.py), so non-local roots (hdfs://, s3a://) work."""
    out = []
    for name in fsutil.list_names(spark, root):
        if name.startswith("epoch="):
            try:
                e = int(name.split("=", 1)[1])
            except ValueError:
                continue
            if fsutil.exists(spark, os.path.join(root, name, "_SUCCESS")):
                out.append(e)
    return sorted(out)


def read_epochs(spark, root: str, eps: list[int] | None = None):
    """The rows of the committed epochs ``eps`` (default: all) under
    ``root``, or None when there are none."""
    eps = _epochs(spark, root) if eps is None else eps
    if not eps:
        return None
    paths = [os.path.join(root, f"epoch={e}") for e in eps]
    return spark.read.option("basePath", root).parquet(*paths).drop("epoch")


def _land(spark, staging: str) -> None:
    """Land one ``epoch=N.staging`` dir: a complete one first deletes
    the epoch dirs its meta lists as folded, then replaces ``epoch=N``
    (:func:`_recover_dir`); an incomplete one is discarded."""
    path = staging[: -len(".staging")]
    if fsutil.exists(spark, os.path.join(staging, "_SUCCESS")):
        root = os.path.dirname(path)
        for e in (read_summary_meta(spark, staging) or {}).get("folded", []):
            fsutil.delete(spark, os.path.join(root, f"epoch={e}"), recursive=True)
    _recover_dir(spark, path)


def _resume(spark, state_dir: str) -> None:
    """Converge every commit a crash left under ``state_dir``."""
    for name in fsutil.list_names(spark, state_dir):
        if name.startswith("epoch=") and name.endswith(".staging"):
            _land(spark, os.path.join(state_dir, name))


def commit_fold(spark, state_dir: str, folded: list[int], rows) -> None:
    """Commit ``rows`` as the base epoch of the committed epochs
    ``folded`` (a prefix, ascending): staged with the folded ids in
    its meta, then landed."""
    base = os.path.join(state_dir, f"epoch={folded[-1]}")
    _stage_dir(spark, rows, base, {"folded": folded}, one_file=False)
    _land(spark, base + ".staging")


def compact_epochs(
    spark,
    state_dir: str,
    count_col: str | None,
    keep_recent: int = 0,
) -> int:
    """Fold committed epochs into one base epoch; returns how many
    source epochs were folded (0 = nothing to do). ``count_col`` is
    the additive column (hh state: ``tf``); every other column is part
    of the key. ``count_col=None`` marks ROW-SET state (the dedup
    index's band/shingle tables — epochs are disjoint row sets,
    replays rewrite whole epochs): the fold is a pure re-layout union,
    shrinking directory/file counts without an aggregation.
    ``keep_recent`` leaves the newest N epochs unfolded (from a
    foreachBatch maintenance hook it must cover the replay window —
    the in-flight epoch is the only one at-least-once can rewrite)."""
    if not fsutil.exists(spark, state_dir):
        return 0
    _resume(spark, state_dir)
    eps = _epochs(spark, state_dir)
    if keep_recent:
        eps = eps[:-keep_recent]
    if len(eps) < 2:
        return 0
    rows = read_epochs(spark, state_dir, eps)
    if count_col is not None:
        keys = [c for c in rows.columns if c != count_col]
        rows = rows.groupBy(*keys).agg(F.sum(count_col).alias(count_col))
    commit_fold(spark, state_dir, eps, rows)
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
    Cheap when below the bound — directory listings, no Spark job —
    so streams can call it every batch from their maintenance side.
    Returns the number of epochs folded (0 = below bound/no-op)."""
    if not fsutil.exists(spark, state_dir):
        return 0
    _resume(spark, state_dir)
    if len(_epochs(spark, state_dir)) <= max_epochs:
        return 0
    return compact_epochs(
        spark, state_dir, count_col, keep_recent=keep_recent
    )
