"""Seeded inputs of the benchmark workloads.

Writes TPC-H-ish fixture tables with the column names and types of the
shipped test data (one parquet file and one row group per table) under
<dir>/tables, the KG source tables also as headed TSV files in a seeded row
order (<dir>/tsv), plus what each workload needs besides:

- kg_build: the PG element counts by (type, label) derived from the tables
  with plain SQL (<dir>/expected_labels.tsv).
- delta_queries: seeded triple batches for PgGraph.mergeInc (<dir>/batches),
  and the tables of the staged queries.

The same seed always gives the same files.
"""
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

KG_TABLES = ["customer", "nation", "orders", "part", "supplier", "lineitem"]
TABLES = {
    "kg_build": KG_TABLES,
    "delta_queries": KG_TABLES + ["region", "events", "embeddings"],
}
BATCHES = 2
LATEST_KEYS = ["status"]  # PgGraph.mergeInc latestKeys of delta_queries


def row_count(table, sf):
    base = {"supplier": 10000, "customer": 150000, "part": 200000, "orders": 1500000,
            "lineitem": 6000000, "events": 1000000}
    if table == "region":
        return 5
    if table == "nation":
        return 25
    if table == "embeddings":
        return max(500, round(20000 * sf))
    return max(1, round(base[table] * sf))


def _pick(rng, choices, n):
    return np.array(choices, dtype=object)[rng.integers(0, len(choices), n)]


def _money(rng, lo, hi, n):
    return np.round(rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0, 2)


def _days(rng, start, span, n):
    return (np.datetime64(start, "us") + rng.integers(0, span, n) * np.timedelta64(1, "D"))


def table(name, seed, sf):
    """One fixture table as a pyarrow Table; each table has its own stream."""
    rng = np.random.default_rng([seed, sum(map(ord, name))])
    n = row_count(name, sf)
    ids = np.arange(n, dtype=np.int64)
    i32 = pa.int32()
    if name == "region":
        return pa.table({"r_regionkey": pa.array(ids, i32),
                         "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    if name == "nation":
        return pa.table({"n_nationkey": pa.array(ids, i32),
                         "n_name": [f"NATION_{i}" for i in ids],
                         "n_regionkey": pa.array(ids % 5, i32)})
    if name == "supplier":
        return pa.table({"s_suppkey": ids, "s_name": [f"Supplier#{i:09d}" for i in ids],
                         "s_nationkey": pa.array(rng.integers(0, 25, n), i32),
                         "s_acctbal": _money(rng, -999.99, 9999.99, n)})
    if name == "customer":
        return pa.table({"c_custkey": ids, "c_name": [f"Customer#{i:09d}" for i in ids],
                         "c_nationkey": pa.array(rng.integers(0, 25, n), i32),
                         "c_acctbal": _money(rng, -999.99, 9999.99, n),
                         "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                                     "HOUSEHOLD", "MACHINERY"], n)})
    if name == "part":
        adj = _pick(rng, ["small", "red", "blue", "large", "steel", "green"], n)
        noun = _pick(rng, ["ring", "widget", "bolt", "gear", "valve"], n)
        return pa.table({"p_partkey": ids, "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
                         "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
                         "p_type": _pick(rng, ["ECONOMY", "SMALL", "STANDARD", "MEDIUM",
                                               "LARGE", "PROMO"], n),
                         "p_size": pa.array(rng.integers(1, 51, n), i32),
                         "p_retailprice": np.round(900.0 + (ids % 1000) / 10.0, 2)})
    if name == "orders":
        return pa.table({"o_orderkey": ids,
                         "o_custkey": rng.integers(0, row_count("customer", sf), n),
                         "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
                         "o_totalprice": _money(rng, 900.0, 500000.0, n),
                         "o_orderdate": _days(rng, "1995-01-01", 2400, n),
                         "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                                        "4-NOT SPECIFIED", "5-LOW"], n)})
    if name == "lineitem":
        return pa.table({"l_orderkey": rng.integers(0, row_count("orders", sf), n),
                         "l_partkey": rng.integers(0, row_count("part", sf), n),
                         "l_suppkey": rng.integers(0, row_count("supplier", sf), n),
                         "l_linenumber": pa.array(rng.integers(1, 8, n), i32),
                         "l_quantity": rng.integers(1, 51, n).astype(np.float64),
                         "l_extendedprice": _money(rng, 900.0, 100000.0, n),
                         "l_discount": rng.integers(0, 11, n) / 100.0,
                         "l_tax": rng.integers(0, 9, n) / 100.0,
                         "l_returnflag": _pick(rng, ["A", "N", "R"], n),
                         "l_linestatus": _pick(rng, ["F", "O"], n),
                         "l_shipdate": _days(rng, "1995-01-02", 2500, n)})
    if name == "events":
        start = np.datetime64("2024-01-01T00:00:00", "us")
        ts = np.sort(start + rng.integers(0, 30 * 86400 * 10**6, n) * np.timedelta64(1, "us"))
        return pa.table({"event_id": ids, "ts": ts,
                         "user_id": rng.integers(0, max(15, round(15000 * sf)), n),
                         "event_type": _pick(rng, ["click", "view", "purchase", "signup",
                                                   "error"], n),
                         "value": _money(rng, 0.01, 490.0, n),
                         "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})
    if name == "embeddings":
        # ten labelled clusters: a centre per label plus per-vector noise
        labels = rng.integers(0, 10, n)
        centres = rng.uniform(-0.15, 0.15, (10, 64))
        vecs = (centres[labels] + rng.uniform(-0.05, 0.05, (n, 64))).astype(np.float32)
        return pa.table({"vec_id": ids,
                         "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                         "label": pa.array(labels, i32)})
    raise ValueError(f"unknown table {name}")


def _triples(ids, key, values):
    return pa.table({"id": pa.array(ids, pa.string()),
                     "key": pa.array([key] * len(ids), pa.string()),
                     "value": pa.array(values, pa.string())})


def batches(tables, seed):
    """The mergeInc triple batches: about 1 % of ids upserted (a latest-key
    status, an extra acctbal value, an Audited label), new orders with
    placed edges, whole-element tombstones on orders and their placed
    edges, and per-key tombstones. Values are JSON like the mapping's.
    """
    orders, customers = tables["orders"], tables["customer"]
    okeys = orders["o_orderkey"].to_numpy()
    ocust = orders["o_custkey"].to_numpy()
    ckeys = customers["c_custkey"].to_numpy()
    pkeys = tables["part"]["p_partkey"].to_numpy()
    out = []
    for b in range(1, BATCHES + 1):
        rng = np.random.default_rng([seed, 1000 + b])

        def some(n, share):
            return np.sort(rng.choice(n, max(1, round(n * share)), replace=False))

        up_o, up_c, up_p = some(len(okeys), 0.01), some(len(ckeys), 0.01), some(len(pkeys), 0.01)
        gone = np.setdiff1d(some(len(okeys), 0.005), up_o)
        unset_o, unset_c = some(len(okeys), 0.005), some(len(ckeys), 0.005)
        fresh = [f"order:b{b}-{i}" for i in range(max(1, len(okeys) // 200))]
        buyers = [f"cust:{c}" for c in rng.choice(ckeys, len(fresh))]
        cust = [f"cust:{c}" for c in ckeys[up_c]]
        placed = [f"placed:{c}-{o}" for c, o in zip(buyers, fresh)]
        parts = [
            _triples([f"order:{o}" for o in okeys[up_o]], "status", [f'"S{b}"'] * len(up_o)),
            _triples(cust, "acctbal", [str(v) for v in rng.integers(-999, 10000, len(cust))]),
            _triples(cust, "@type", ["Audited"] * len(cust)),
            _triples([f"part:{p}" for p in pkeys[up_p]], "@type", ["Audited"] * len(up_p)),
            _triples(fresh, "@type", ["Order"] * len(fresh)),
            _triples(fresh, "status", ['"O"'] * len(fresh)),
            _triples(placed, "@type", ["placed"] * len(fresh)),
            _triples(placed, "@from", buyers),
            _triples(placed, "@to", fresh),
            _triples([f"order:{o}" for o in okeys[gone]], "@delete", ["*"] * len(gone)),
            _triples([f"placed:cust:{c}-order:{o}" for c, o in zip(ocust[gone], okeys[gone])],
                     "@delete", ["*"] * len(gone)),
            _triples([f"order:{o}" for o in okeys[unset_o]], "@delete",
                     ["priority"] * len(unset_o)),
            _triples([f"cust:{c}" for c in ckeys[unset_c]], "@delete",
                     ["segment"] * len(unset_c)),
        ]
        out.append(pa.concat_tables(parts))
    return out


EXPECTED_LABELS = """
SELECT 'node' AS type, 'Customer' AS label, count(DISTINCT c_custkey) AS n FROM customer
UNION ALL SELECT 'node', 'Nation', count(DISTINCT n_nationkey) FROM nation
UNION ALL SELECT 'node', 'Order', count(DISTINCT o_orderkey) FROM orders
UNION ALL SELECT 'node', 'Part', count(DISTINCT p_partkey) FROM part
UNION ALL SELECT 'node', 'Product', count(DISTINCT l_partkey) FROM lineitem
UNION ALL SELECT 'node', 'Supplier', count(DISTINCT s_suppkey) FROM supplier
UNION ALL SELECT 'edge', 'placed', count(DISTINCT (o_custkey, o_orderkey)) FROM orders
UNION ALL SELECT 'edge', 'basedIn',
  (SELECT count(DISTINCT (s_suppkey, s_nationkey)) FROM supplier) +
  (SELECT count(DISTINCT (c_custkey, c_nationkey)) FROM customer)
"""


def generate(out, workload, seed, sf):
    os.makedirs(f"{out}/tables", exist_ok=True)
    tables = {t: table(t, seed, sf) for t in TABLES[workload]}
    for t, data in tables.items():
        pq.write_table(data, f"{out}/tables/{t}.parquet")
    os.makedirs(f"{out}/tsv", exist_ok=True)
    rng = np.random.default_rng([seed, 7])
    for t in KG_TABLES:
        shuffled = tables[t].take(rng.permutation(tables[t].num_rows))
        pacsv.write_csv(shuffled, f"{out}/tsv/{t}.tsv",
                        pacsv.WriteOptions(delimiter="\t", quoting_style="none"))
    if workload == "kg_build":
        con = duckdb.connect()
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{out}/tables/{t}.parquet')")
        with open(f"{out}/expected_labels.tsv", "w") as fh:
            for row in con.execute(EXPECTED_LABELS).fetchall():
                fh.write("\t".join(map(str, row)) + "\n")
    else:
        os.makedirs(f"{out}/batches", exist_ok=True)
        for b, data in enumerate(batches(tables, seed), start=1):
            pq.write_table(data, f"{out}/batches/batch{b}.parquet")
