"""Seeded input generators for the benchmark.

Everything the engine reads in a benchmark run is written here from the
workload seed: the ten source tables, the ingest micro-batches (as
parquet and as an IDEA JSON spool) and the per-pass query orders. The
same seed gives byte-identical files; table sizes and value
distributions do not depend on the seed, so the cost of a run does not
either. Only numpy and pyarrow are used, so the generators run (and are
tested) without Spark.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Fixed sizes and shapes. The relational tables have the row counts of
# the repo's sf0.01 test tables (TESTDATA.md). The events have the
# shape of its sf0.001 events table: 1,000 events over 15 users (ids
# 0..14) drawn uniformly (per-user counts 51..88, median 67; the sf0.01
# table has ten times the events over ten times the users, counts
# 49..86, median 66), 30 days from 2024-01-01 at microsecond resolution
# (parquet TIMESTAMP(MICROS) at sf0.001, sf0.01 and sf0.1 alike), five
# event types drawn uniformly, values exponential with mean 50 rounded
# to cents (test tables: median 35.7 / 34.6, p90 112.4 / 113.3), rows
# in ts order with ids 0..n-1. With the sf0.01 events a micro-batch's
# eight folds took about 10 s, with these about 8 s: the difference is
# what lets `ingest` time three batches within its run length.
SIZES = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 1000,
}
EVENT_USERS = 15
EVENT_DAYS = 30
EVENT_T0 = dt.datetime(2024, 1, 1)
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
BATCH_EVENTS = SIZES["events"] // 50  # a ~2% micro-batch
BATCH_LATE_SHARE = 0.25  # events landing in already-folded days
BATCH_ID_BASE = 10**8  # batch event ids never collide with base ids

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "cold", "hot", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
# IDEA category per event type: the spool carries the same events the
# fact table gets, in the alert vocabulary the ingest path parses
_IDEA_CATEGORY = {
    "click": "Recon.Scanning",
    "error": "Availability.DoS",
    "purchase": "Intrusion.UserCompromise",
    "signup": "Attempt.Login",
    "view": "Abusive.Spam",
}
_IDEA_NODES = ["cz.cesnet.nemea", "cz.cesnet.dionaea", "cz.muni.csirt", "cz.vutbr.hp"]


def _rng(seed: int, *stream: int) -> np.random.Generator:
    """An independent generator per (seed, stream): adding a table or a
    batch never shifts the values of another one."""
    return np.random.default_rng([seed, *stream])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: dt.datetime, span_days: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    d = rng.integers(0, span_days, n).astype("timedelta64[D]")
    return pa.array(base + d.astype("timedelta64[us]"), pa.timestamp("us"))


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def events_table(seed: int) -> pa.Table:
    """The base events: EVENT_DAYS days from EVENT_T0."""
    rng = _rng(seed, 1)
    n = SIZES["events"]
    users = rng.integers(0, EVENT_USERS, n)
    span_us = EVENT_DAYS * 86_400_000_000
    offs = np.sort(rng.integers(0, span_us, n))
    ts = np.datetime64(EVENT_T0, "us") + offs.astype("timedelta64[us]")
    return _events(np.arange(n, dtype=np.int64), ts, users, rng)


def _events(ids, ts, users, rng) -> pa.Table:
    n = len(ids)
    return pa.table(
        {
            "event_id": pa.array(ids, pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(users, pa.int64()),
            "event_type": pa.array(
                [EVENT_TYPES[i] for i in rng.integers(0, len(EVENT_TYPES), n)]
            ),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array(
                [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)]
            ),
        }
    )


def event_batch(seed: int, k: int) -> pa.Table:
    """Micro-batch ``k`` (0-based): BATCH_EVENTS events with ids
    disjoint from the base and every other batch. Most land on day
    EVENT_DAYS + k, which advances the as-of anchor by one day per
    batch; BATCH_LATE_SHARE land in the six days before it, which the
    folds have already committed. A tenth of the users are new."""
    rng = _rng(seed, 100 + k)
    n = BATCH_EVENTS
    n_late = int(n * BATCH_LATE_SHARE)
    day0 = np.datetime64(EVENT_T0, "us") + np.timedelta64(EVENT_DAYS + k, "D")
    day_us = 86_400_000_000
    offs = rng.integers(0, day_us, n)
    offs[:n_late] -= rng.integers(1, 7, n_late) * day_us
    ts = day0 + offs.astype("timedelta64[us]")
    users = rng.integers(0, EVENT_USERS, n)
    new = rng.random(n) < 0.1
    users[new] = EVENT_USERS + 1000 * (k + 1) + rng.integers(0, 50, new.sum())
    ids = BATCH_ID_BASE * (k + 1) + np.arange(n, dtype=np.int64)
    return _events(ids, ts, users, rng)


def _ip(user_id: int) -> str:
    return f"10.{(user_id >> 16) & 255}.{(user_id >> 8) & 255}.{user_id & 255}"


def idea_lines(batch: pa.Table) -> list[str]:
    """The batch as IDEA alert messages, one JSON document per line:
    one message per event, the event's user as the source address (a
    tenth of the messages name a second source), the event type as the
    category and the value as the connection count."""
    out = []
    cols = batch.to_pydict()
    for eid, ts, uid, etype, value in zip(
        cols["event_id"], cols["ts"], cols["user_id"], cols["event_type"],
        cols["value"],
    ):
        ips = [_ip(uid)] + ([_ip(uid + 7919)] if eid % 10 == 3 else [])
        out.append(
            json.dumps(
                {
                    "ID": f"ev{eid}",
                    "DetectTime": ts.strftime("%Y-%m-%dT%H:%M:%S.%fZ"),
                    "Category": [_IDEA_CATEGORY[etype]],
                    "Node": [{"Name": _IDEA_NODES[uid % len(_IDEA_NODES)]}],
                    "Source": [{"IP4": ips}],
                    "ConnCount": int(value) + 1,
                },
                sort_keys=True,
            )
        )
    return out


def write_batch(seed: int, k: int, batch_dir: str, spool_dir: str) -> pa.Table:
    """Write micro-batch ``k`` as ``batch_dir/events.parquet`` and as an
    IDEA spool file under ``spool_dir``; returns the batch."""
    batch = event_batch(seed, k)
    os.makedirs(batch_dir, exist_ok=True)
    os.makedirs(spool_dir, exist_ok=True)
    _write(batch_dir, "events", batch)
    with open(os.path.join(spool_dir, "alerts.json"), "w") as f:
        f.write("\n".join(idea_lines(batch)) + "\n")
    return batch


# No workload reads documents or embeddings; the oracle connection
# (bench_duckdb.duck_connect) opens every table, so they are written
# empty with the test tables' schema.
_EMPTY = {
    "documents": pa.schema(
        [("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
         ("source", pa.string()), ("n_chars", pa.int64())]
    ),
    "embeddings": pa.schema(
        [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
         ("label", pa.int32())]
    ),
}


def _tpch(seed: int) -> dict[str, pa.Table]:
    rng = _rng(seed, 4)
    s = SIZES
    out = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": _REGIONS,
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(s["customer"]), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(s["customer"])],
                "c_nationkey": pa.array(
                    rng.integers(0, 25, s["customer"]), pa.int32()
                ),
                "c_acctbal": _money(rng, -999.99, 9999.99, s["customer"]),
                "c_mktsegment": [
                    _SEGMENTS[i] for i in rng.integers(0, 5, s["customer"])
                ],
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(s["supplier"]), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(s["supplier"])],
                "s_nationkey": pa.array(
                    rng.integers(0, 25, s["supplier"]), pa.int32()
                ),
                "s_acctbal": _money(rng, -999.99, 9999.99, s["supplier"]),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(s["part"]), pa.int64()),
                "p_name": [
                    f"{_ADJ[a]} {_NOUN[b]}"
                    for a, b in zip(
                        rng.integers(0, len(_ADJ), s["part"]),
                        rng.integers(0, len(_NOUN), s["part"]),
                    )
                ],
                "p_brand": [
                    f"Brand#{i}" for i in rng.integers(1, 26, s["part"])
                ],
                "p_type": [_PTYPES[i] for i in rng.integers(0, 6, s["part"])],
                "p_size": pa.array(rng.integers(1, 51, s["part"]), pa.int32()),
                "p_retailprice": np.round(
                    900.0 + (np.arange(s["part"]) % 1000) / 10.0, 2
                ),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(s["orders"]), pa.int64()),
                "o_custkey": pa.array(
                    rng.integers(0, s["customer"], s["orders"]), pa.int64()
                ),
                "o_orderstatus": [
                    "FOP"[i] for i in rng.integers(0, 3, s["orders"])
                ],
                "o_totalprice": _money(rng, 1000.0, 500000.0, s["orders"]),
                "o_orderdate": _days(
                    rng, dt.datetime(1995, 1, 1), 2404, s["orders"]
                ),
                "o_orderpriority": [
                    _PRIORITIES[i] for i in rng.integers(0, 5, s["orders"])
                ],
            }
        ),
    }
    n = s["lineitem"]
    # as in the test tables: rows in no key order, line numbers 1..7
    # drawn per row, extended price uniform and independent of quantity
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, s["orders"], n), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, s["part"], n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, s["supplier"], n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": rng.integers(1, 51, n).astype(float),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n),
            "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
            "l_returnflag": ["ANR"[i] for i in rng.integers(0, 3, n)],
            "l_linestatus": ["FO"[i] for i in rng.integers(0, 2, n)],
            "l_shipdate": _days(rng, dt.datetime(1995, 1, 2), 2498, n),
        }
    )
    return out


def write_tables(out_dir: str, seed: int) -> None:
    """Write the ten source tables for ``seed`` into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    tables = _tpch(seed)
    tables["events"] = events_table(seed)
    for name, schema in _EMPTY.items():
        tables[name] = schema.empty_table()
    for name, table in tables.items():
        _write(out_dir, name, table)


def query_order(seed: int, names: list[str], pass_no: int) -> list[str]:
    """The order the closed loop issues ``names`` in on pass ``pass_no``."""
    rng = _rng(seed, 5, pass_no)
    return [names[i] for i in rng.permutation(len(names))]
