"""Deterministic sf0.1 input tables for the benchmark.

The engine's queries read ten parquet tables (``sources.catalog.TABLES``),
which the engine is developed against as a fixed sf0.1 set generated with
seed 42. A checkout does not carry that set, so this module rebuilds it:
the same schemas, row counts and values, drawn in the same order from
``numpy.random.default_rng(42)``. Run as a script with a directory that
holds the original set, it compares the two table by table:

    python3 perfbench/datagen.py SF_DIR

The tables depend only on ``DATA_SEED``, never on the benchmark's
``--seed``: every run of every workload reads the same bytes, and the seed
only reorders the work.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
#: Bump when the generated bytes change, so a stale set is rebuilt.
VERSION = "2"

# The order of each list decides which value a draw picks.
_VOCAB = (
    "the a spark query table join group filter window data order customer "
    "part line fast slow big small hash sort merge scan agg stream batch "
    "vector key value row column"
).split()
_SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
_PART_NOUN = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
_PART_TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
#: English is three draws in seven
_LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: dt.date, span: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(rng, n: int) -> dict:
    texts = [
        " ".join(rng.choice(_VOCAB, int(rng.integers(10, 100))))
        for _ in range(n)
    ]
    # 5% near-duplicates: a document replaced by another plus one token
    dst = rng.choice(n, n // 20, replace=False)
    src = rng.integers(0, n, n // 20)
    for d, s in zip(dst, src):
        texts[d] = texts[s] + " dup"
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    vecs = rng.standard_normal((n, dim)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(vecs.ravel()), dim
            ).cast(pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )


def tables(seed: int = DATA_SEED) -> dict[str, pa.Table]:
    """Build every table in memory (~600k lineitem rows)."""
    rng = np.random.default_rng(seed)
    i32 = np.int32
    n_cust, n_supp, n_part, n_ord, n_line, n_ev = (
        15_000, 1_000, 20_000, 150_000, 600_000, 100_000
    )
    out = {
        "region": pa.table({
            "r_regionkey": np.arange(5, dtype=i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": np.arange(25, dtype=i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(i32),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(i32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10, 2),
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days(rng, dt.date(1995, 1, 1), 2404, n_ord),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line).astype(i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
            "l_discount": _money(rng, 0.0, 0.1, n_line),
            "l_tax": _money(rng, 0.0, 0.08, n_line),
            "l_returnflag": rng.choice(["R", "A", "N"], n_line),
            "l_linestatus": rng.choice(["O", "F"], n_line),
            "l_shipdate": _days(rng, dt.date(1995, 1, 2), 2498, n_line),
        }),
        "events": pa.table({
            "event_id": np.arange(n_ev, dtype=np.int64),
            # seconds as floats, cut to nanoseconds, then to microseconds
            "ts": (
                np.datetime64("2024-01-01T00:00:00", "ns")
                + (np.sort(rng.uniform(0, 30 * 86_400, n_ev)) * 1e9)
                .astype(np.int64).astype("timedelta64[ns]")
            ).astype("datetime64[us]"),
            "user_id": rng.integers(0, 1500, n_ev),
            "event_type": rng.choice(_EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }),
        "documents": pa.table(_documents(rng, 5_000)),
        "embeddings": _embeddings(rng, 2_000),
    }
    return out


def ensure(out_dir: str) -> str:
    """Write the table set under ``out_dir`` unless a complete set of this
    VERSION is already there; returns ``out_dir``."""
    stamp = os.path.join(out_dir, "VERSION")
    try:
        with open(stamp) as fh:
            if fh.read() == VERSION:
                return out_dir
    except OSError:
        pass
    shutil.rmtree(out_dir, ignore_errors=True)
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in tables().items():
        # one row group per table, like the fixture set: the scan split
        # layout is part of what the engine's plans see
        pq.write_table(
            table, os.path.join(tmp, f"{name}.parquet"),
            row_group_size=max(1, table.num_rows),
        )
    with open(os.path.join(tmp, "VERSION"), "w") as fh:
        fh.write(VERSION)
    os.replace(tmp, out_dir)
    return out_dir


def compare(ref_dir: str) -> list[str]:
    """Table-by-table differences between the generated set and the set
    under ``ref_dir``; an empty list means every table is equal in schema,
    row count and values."""
    diffs = []
    for name, table in tables().items():
        ref = pq.read_table(os.path.join(ref_dir, f"{name}.parquet"))
        ref = ref.replace_schema_metadata(None)
        if not ref.schema.equals(table.schema):
            diffs.append(f"{name}: schema {table.schema} != {ref.schema}")
        elif not ref.equals(table):
            diffs.append(f"{name}: values differ")
        print(f"{name}: {table.num_rows} rows, reference {ref.num_rows}")
    return diffs


if __name__ == "__main__":
    import sys

    found = compare(sys.argv[1])
    print("\n".join(found) or "every table equals the reference set")
    sys.exit(1 if found else 0)
