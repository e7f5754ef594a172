"""Checks on the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import workloads  # noqa: E402


def _files(d: str) -> dict[str, bytes]:
    out = {}
    for root, _, names in os.walk(d):
        for n in names:
            p = os.path.join(root, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, d)] = f.read()
    return out


def _generate(d: str, seed: int) -> dict[str, bytes]:
    inputs.write_tables(os.path.join(d, "tables"), seed)
    for k in range(2):
        inputs.write_batch(
            seed, k, os.path.join(d, f"batch{k}"), os.path.join(d, f"spool{k}")
        )
    return _files(d)


def test_same_seed_same_bytes(tmp_path):
    a = _generate(str(tmp_path / "a"), 7)
    b = _generate(str(tmp_path / "b"), 7)
    assert len(a) == 14  # ten tables, two batches, two spool files
    assert a == b
    names = workloads.QUERIES["serve"]
    assert inputs.query_order(7, names, 3) == inputs.query_order(7, names, 3)


def test_other_seed_other_inputs(tmp_path):
    a = _generate(str(tmp_path / "a"), 7)
    b = _generate(str(tmp_path / "b"), 8)
    assert a.keys() == b.keys()
    # the fixed dimension tables and the empty ones do not depend on
    # the seed
    same = {k for k in a if a[k] == b[k]}
    assert same == {
        f"tables/{t}.parquet" for t in ("region", "nation", "documents", "embeddings")
    }
    names = workloads.QUERIES["serve"]
    assert inputs.query_order(7, names, 1) != inputs.query_order(8, names, 1)


def test_sizes_do_not_depend_on_seed(tmp_path):
    rows = []
    for seed in (1, 2):
        d = str(tmp_path / str(seed))
        inputs.write_tables(d, seed)
        rows.append(
            {t: pq.read_metadata(os.path.join(d, f"{t}.parquet")).num_rows
             for t in inputs.SIZES}
        )
    assert rows[0] == rows[1] == inputs.SIZES


def test_batches_are_disjoint_and_partly_late():
    base = inputs.events_table(3)
    base_ids = set(base.column("event_id").to_pylist())
    last_base = max(base.column("ts").to_pylist())
    seen = set(base_ids)
    for k in range(3):
        b = inputs.event_batch(3, k)
        ids = set(b.column("event_id").to_pylist())
        assert len(ids) == b.num_rows == inputs.BATCH_EVENTS
        assert not ids & seen
        seen |= ids
        ts = b.column("ts").to_pylist()
        assert max(ts) > last_base  # advances the as-of anchor
        late = sum(t <= last_base for t in ts) if k == 0 else None
        if late is not None:
            assert late >= inputs.BATCH_EVENTS * inputs.BATCH_LATE_SHARE * 0.9
        spool = inputs.idea_lines(b)
        assert len(spool) == b.num_rows
        assert {json.loads(x)["ID"] for x in spool} == {f"ev{i}" for i in ids}


NAME = re.compile(r"[A-Za-z0-9_.-]+")


def test_metric_names_match_pattern():
    names = list(workloads.END_TO_END) + list(workloads.layer_metrics())
    assert names
    bad = [n for n in names if not NAME.fullmatch(n) or len(n) > 64]
    assert not bad


def test_benchmark_json_declares_the_emitted_metrics():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    declared = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert declared == workloads.END_TO_END
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert layer == workloads.layer_metrics()


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_checked_queries_have_oracles(workload):
    sys.path.insert(0, os.path.dirname(HERE))
    from nerd_spark.queries import ORACLE

    for q in workloads.QUERIES[workload]:
        assert q in ORACLE, q
