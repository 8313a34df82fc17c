#!/usr/bin/env python3
"""Seeded fixture generator for the benchmark.

Writes the ten testdata-schema tables (region, nation, customer, supplier,
part, orders, lineitem, events, documents, embeddings) as one parquet file
each, with the value distributions of the sf0.1 fixture: uniform keys,
TPC-H-style categorical columns, events sorted by time over 30 days with
exponential values, a 30-word document vocabulary with 5% near-duplicates
(" dup" appended to an earlier document), and unit-norm 64-d embeddings.

The same seed and sizes give a byte-identical directory: each table draws
from its own stream of the seed, and the parquet writer is fixed (one row
group, snappy, no pandas metadata). `rows.json` records the row counts.

    python3 perfbench/gen.py --seed 7 --sf 0.1 --out <dir>
"""
import argparse
import json
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "en", "en", "en", "en", "de", "es", "fr", "zh"]  # en ~ 5/9
DIM = 64
US_PER_DAY = 86_400_000_000


def sizes(sf):
    """Row counts at scale factor `sf`, the ratios of the testdata."""
    n = lambda base: max(1, int(round(base * sf)))
    return {
        "region": 5, "nation": 25,
        "customer": n(150_000), "supplier": n(10_000), "part": n(200_000),
        "orders": n(1_500_000), "lineitem": n(6_000_000),
        "events": n(1_000_000),
        "documents": max(500, n(50_000)),
        "embeddings": max(500, n(20_000)),
    }


def _rng(seed, table):
    # one independent stream per table, so a table's bytes do not depend
    # on which other tables are generated alongside it
    return np.random.Generator(np.random.PCG64([seed, zlib.crc32(table.encode())]))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n):
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def _named(prefix, keys):
    return [f"{prefix}#{k:09d}" for k in keys.tolist()]


def _dates(rng, start, days, n):
    d0 = np.datetime64(start, "us")
    return d0 + rng.integers(0, days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def build(table, n, rows, rng):
    """The pyarrow table `table` with `n` rows; `rows` gives sibling sizes."""
    if table == "region":
        return pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                         "r_name": REGIONS})
    if table == "nation":
        k = np.arange(25)
        return pa.table({"n_nationkey": pa.array(k, pa.int32()),
                         "n_name": [f"NATION_{i}" for i in k.tolist()],
                         "n_regionkey": pa.array(k % 5, pa.int32())})
    if table == "customer":
        k = np.arange(n, dtype=np.int64)
        return pa.table({"c_custkey": k, "c_name": _named("Customer", k),
                         "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
                         "c_acctbal": _money(rng, -999.99, 9999.99, n),
                         "c_mktsegment": pa.array(_pick(rng, SEGMENTS, n), pa.string())})
    if table == "supplier":
        k = np.arange(n, dtype=np.int64)
        return pa.table({"s_suppkey": k, "s_name": _named("Supplier", k),
                         "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
                         "s_acctbal": _money(rng, -999.99, 9999.99, n)})
    if table == "part":
        k = np.arange(n, dtype=np.int64)
        names = [f"{a} {b}" for a, b in zip(_pick(rng, ADJ, n), _pick(rng, NOUN, n))]
        return pa.table({"p_partkey": k, "p_name": names,
                         "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n).tolist()],
                         "p_type": pa.array(_pick(rng, PTYPES, n), pa.string()),
                         "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
                         "p_retailprice": np.round(900.0 + (k % 1000) / 10.0, 1)})
    if table == "orders":
        return pa.table({"o_orderkey": np.arange(n, dtype=np.int64),
                         "o_custkey": rng.integers(0, rows["customer"], n),
                         "o_orderstatus": pa.array(_pick(rng, ["F", "O", "P"], n), pa.string()),
                         "o_totalprice": _money(rng, 1000.0, 500000.0, n),
                         "o_orderdate": pa.array(_dates(rng, "1995-01-01", 2404, n), pa.timestamp("us")),
                         "o_orderpriority": pa.array(_pick(rng, PRIORITIES, n), pa.string())})
    if table == "lineitem":
        return pa.table({"l_orderkey": rng.integers(0, rows["orders"], n),
                         "l_partkey": rng.integers(0, rows["part"], n),
                         "l_suppkey": rng.integers(0, rows["supplier"], n),
                         "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
                         "l_quantity": rng.integers(1, 51, n).astype(np.float64),
                         "l_extendedprice": _money(rng, 900.0, 105000.0, n),
                         "l_discount": rng.integers(0, 11, n) / 100.0,
                         "l_tax": rng.integers(0, 9, n) / 100.0,
                         "l_returnflag": pa.array(_pick(rng, ["A", "N", "R"], n), pa.string()),
                         "l_linestatus": pa.array(_pick(rng, ["F", "O"], n), pa.string()),
                         "l_shipdate": pa.array(_dates(rng, "1995-01-02", 2498, n), pa.timestamp("us"))})
    if table == "events":
        t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
        ts = np.sort(rng.integers(0, 30 * US_PER_DAY, n)) + t0
        users = max(1, int(round(n * 0.015)))
        return pa.table({"event_id": np.arange(n, dtype=np.int64),
                         "ts": pa.array(ts, pa.timestamp("us")),
                         "user_id": rng.integers(0, users, n),
                         "event_type": pa.array(_pick(rng, EVENT_TYPES, n), pa.string()),
                         "value": np.round(rng.exponential(50.0, n), 2),
                         "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n).tolist()]})
    if table == "documents":
        texts = []
        lens = rng.integers(10, 101, n)
        kind = rng.random(n)
        for i in range(n):
            if i > 0 and kind[i] < 0.05:      # near-duplicate of an earlier doc
                texts.append(texts[int(rng.integers(0, i))] + " dup")
            elif i > 0 and kind[i] < 0.052:   # exact copy of an earlier doc
                texts.append(texts[int(rng.integers(0, i))])
            else:
                texts.append(" ".join(_pick(rng, VOCAB, int(lens[i])).tolist()))
        return pa.table({"doc_id": np.arange(n, dtype=np.int64), "text": texts,
                         "lang": pa.array(_pick(rng, LANGS, n), pa.string()),
                         "source": [f"src{s}" for s in rng.integers(0, 20, n).tolist()],
                         "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    if table == "embeddings":
        v = rng.standard_normal((n, DIM)).astype(np.float32)
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        emb = pa.ListArray.from_arrays(pa.array(np.arange(0, n * DIM + 1, DIM, dtype=np.int32)),
                                       pa.array(v.reshape(-1), pa.float32()))
        return pa.table({"vec_id": np.arange(n, dtype=np.int64), "embedding": emb,
                         "label": pa.array(rng.integers(0, 10, n), pa.int32())})
    raise ValueError(f"unknown table {table}")


def generate(out, seed, rows, tables=TABLES):
    """Write `tables` (sized by `rows`) under `out`; returns their row counts."""
    os.makedirs(out, exist_ok=True)
    written = {}
    for t in tables:
        tbl = build(t, rows[t], rows, _rng(seed, t))
        pq.write_table(tbl, os.path.join(out, f"{t}.parquet"),
                       row_group_size=max(1, tbl.num_rows), compression="snappy")
        written[t] = tbl.num_rows
    with open(os.path.join(out, "rows.json"), "w") as f:
        json.dump(written, f, sort_keys=True)
    return written


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--sf", type=float, default=0.1)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(json.dumps(generate(a.out, a.seed, sizes(a.sf)), sort_keys=True))


if __name__ == "__main__":
    main()
