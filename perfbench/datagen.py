"""Deterministic synthetic inputs for the benchmark.

Writes the ten tables the engine reads (`catalog.TESTDATA_TABLES`) as
parquet: a TPC-H-like star schema (uniform, independent columns;
1995-2001 dates; ~4 lines per order) plus the `events` stream. The
`documents` corpus and the `embeddings` come from
`tools/gen_scale_data.py`'s generators, at the row counts of the
reference test data (TESTDATA.md).

The generator is part of the benchmark, not of the engine, so a change
to the engine can never change the benchmark's inputs. Data depend only
on the scale factor and `DATA_SEED`; the workload seed permutes op
order and never touches the data.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20240101
GEN_VERSION = "2"

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EPOCH = np.datetime64("1995-01-01", "D")


def sizes(sf: float) -> dict[str, int]:
    return {
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "users": max(15, int(15_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _days(rng, lo: int, hi: int, n: int) -> pa.Array:
    d = EPOCH + rng.integers(lo, hi, size=n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> pa.Array:
    return pa.array(np.round(rng.uniform(lo, hi, size=n), 2), pa.float64())


def relational(sf: float, rng) -> dict[str, pa.Table]:
    n = sizes(sf)
    nc, ns, npart, no, nl = (
        n["customer"], n["supplier"], n["part"], n["orders"], n["lineitem"]
    )
    return {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(range(nc), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc).tolist()),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(range(ns), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }),
        "part": pa.table({
            "p_partkey": pa.array(range(npart), pa.int64()),
            "p_name": pa.array([
                f"{P_ADJ[a]} {P_NOUN[b]}"
                for a, b in rng.integers(0, 8, (npart, 2))
            ]),
            "p_brand": pa.array(
                [f"Brand#{i}" for i in rng.integers(1, 26, npart)]
            ),
            "p_type": pa.array(rng.choice(P_TYPES, npart).tolist()),
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": pa.array(
                900.0 + np.arange(npart) % 1000 / 10.0, pa.float64()
            ),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(range(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no).tolist()),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
            "o_orderdate": _days(rng, 0, 2405, no),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, no).tolist()),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": pa.array(
                rng.integers(1, 51, nl).astype(np.float64), pa.float64()
            ),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
            "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0, pa.float64()),
            "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0, pa.float64()),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl).tolist()),
            "l_linestatus": pa.array(rng.choice(["F", "O"], nl).tolist()),
            "l_shipdate": _days(rng, 1, 2499, nl),
        }),
    }


def events(n: int, n_users: int, rng) -> pa.Table:
    """The event stream. It departs from ``gen_scale_data.gen_events`` on
    purpose: the reference test data (TESTDATA.md) number users from 0 and
    have a right-skewed ``value`` with mean about 50 (max about 490 at
    sf0.01, 560 at sf0.1), which an exponential matches; that generator
    numbers users from 1 and draws ``value`` uniformly from [0, 200)."""
    from tools.gen_scale_data import EVENT_TYPES

    t0 = np.datetime64("2024-01-01T00:00:00.000000")
    ts = np.sort(t0 + rng.integers(0, 30 * 86_400 * 10**6, size=n).astype(
        "timedelta64[us]"
    ))
    return pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, size=n), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, size=n).tolist()),
        "value": pa.array(
            np.round(0.01 + rng.exponential(50.0, size=n), 2), pa.float64()
        ),
        "props": pa.array(
            [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, size=n)]
        ),
    })


def generate(sf: float, out: str) -> str:
    """Write every table under ``out`` (idempotent: a stamp file records
    the generator version and SF, and a matching stamp skips the work).
    Tables are written to a temporary directory first and renamed into
    place, so an interrupted run never leaves half a dataset."""
    stamp = f"{GEN_VERSION}:{sf}:{DATA_SEED}"
    stamp_path = os.path.join(out, "_GENERATED")
    if os.path.exists(stamp_path) and open(stamp_path).read() == stamp:
        return out
    import shutil

    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    from tools.gen_scale_data import gen_documents, gen_embeddings

    rng = np.random.default_rng(DATA_SEED)
    n = sizes(sf)
    tables = relational(sf, rng)
    tables["documents"] = gen_documents(n["documents"], rng)
    tables["embeddings"] = gen_embeddings(n["embeddings"], rng)
    tables["events"] = events(n["events"], n["users"], rng)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    with open(os.path.join(tmp, "_GENERATED"), "w") as fh:
        fh.write(stamp)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out
