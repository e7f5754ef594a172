"""The whole-dir write-aside commit (sources/layout.py::_commit_dir) and
its recovery rule, under an exhaustive tear sweep: every unpartitioned
serve table (result caches, projections, top-k, the as-of anchor)
commits through it, so its ordering is what every reader gate relies
on."""

from __future__ import annotations

import json
import os

from nerd_spark.sources.layout import (
    SUMMARY_LEDGER_NAME,
    _commit_dir,
    _recover_dir,
    read_summary_meta,
    summary_fresh,
)

NAME = "derived.parquet"


def _state(spark, d):
    """What a reader sees: (rows, meta) of the gated dir, or None.
    FS-only (the gate's freshness verdict, the sidecar, the parquet
    files read by pyarrow), so the sweep runs no Spark job per look."""
    import pyarrow.parquet as pq

    if not summary_fresh(spark, d, NAME, sources=()):
        return None
    path = os.path.join(d, NAME)
    rows = sorted(pq.read_table(path).column("x").to_pylist())
    return rows, read_summary_meta(spark, path)


def test_commit_dir_tear_sweep(spark, tmp_path, tear_sweep):
    """Tear the commit at every mutating FS op (meta, ledger, marker,
    live delete, rename). Right after the tear a reader sees the old
    dir with its old meta, or no gated dir — never a marker without
    its binding. Recovery alone lands the new dir iff its staging
    was complete, else keeps the old one; the next commit always
    lands the new dir with its meta and carried ledger, and leaves no
    staging sibling."""
    old = ([1, 2], {"v": 1})
    new = ([3, 4, 5], {"v": 2})

    def commit(d, rows, meta, bid):
        frame = spark.range(rows[0], rows[-1] + 1).toDF("x")
        _commit_dir(spark, frame, os.path.join(d, NAME), meta, bid)

    def setup(tag):
        d = str(tmp_path / tag)
        commit(d, *old, "b1")
        return {"d": d, "calls": 0}

    def fold(h):
        h["calls"] += 1
        d, path = h["d"], os.path.join(h["d"], NAME)
        if h["calls"] == 2:  # the replay after a tear
            seen = _state(spark, d)
            assert seen in (old, None), seen
            marker = os.path.join(path + ".staging", "_SUCCESS")
            complete = os.path.exists(marker)
            _recover_dir(spark, path)
            assert _state(spark, d) == (new if complete else old)
            assert not os.path.exists(path + ".staging")
        commit(d, *new, "b2")

    def check(h, label):
        path = os.path.join(h["d"], NAME)
        assert _state(spark, h["d"]) == new, label
        assert not os.path.exists(path + ".staging"), label
        with open(os.path.join(path, SUMMARY_LEDGER_NAME)) as f:
            assert json.load(f) == ["b1", "b2"], label

    tear_sweep(setup, fold, check, min_ops=5)


def test_seed_gates_only_after_its_meta(spark, tmp_path, monkeypatch):
    """The layout seed's rows land without Spark's ``_SUCCESS`` and
    the gate is touched after the meta, so a crash at the meta write
    leaves an ungated dir, never a gated one without its binding."""
    import pytest
    from pyspark.sql import functions as F

    from nerd_spark.sources import layout

    path = str(tmp_path / NAME)
    spec = layout._FoldSpec(
        "seed", path, "wb", state=None, merge=None, binding={"v": 1}
    )

    def crash(*a, **kw):
        raise RuntimeError("crash at the meta write")

    monkeypatch.setattr(layout, "write_summary_meta", crash)
    with pytest.raises(RuntimeError, match="meta write"):
        layout._seed(
            spark, spec, spark.range(4).withColumn("wb", F.col("id") % 2)
        )
    assert any(n.startswith("wb=") for n in os.listdir(path))
    assert not os.path.exists(os.path.join(path, "_SUCCESS"))
    assert not summary_fresh(spark, str(tmp_path), NAME, sources=())
