#!/usr/bin/env python3
"""Deterministic generator for the benchmark's input tables.

Writes the ten tables the engine reads (`graft.Tables.names`) as one
parquet file each, with the schemas, value domains and distributions of
the TPC-H-shaped testdata the engine is developed against: uniform keys,
the same categorical vocabularies (segments, priorities, brands, nation
and region names, event types, languages), microsecond timestamps without
a zone, ~5% near-duplicate documents (an earlier text plus " dup") and
unit-norm 64-dim embeddings.

Row counts scale linearly with `sf` (lineitem = 6,000,000 × sf); nation
and region are fixed. The data depends only on `sf` and the fixed dataset
seed, never on the benchmark's --seed, so recorded output digests stay
valid. `row_groups` splits the two fact tables (lineitem, orders) into
that many parquet row groups so their scans run as that many tasks.

Usage: python3 gen_data.py <out_dir> <sf> [row_groups]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATASET_SEED = 20240101

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
P_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = ("a the agg batch big column customer data fast filter group hash "
         "join key line merge order part query row scan slow small sort spark "
         "stream table value vector window").split()

DAY_US = 86_400_000_000


def day_us(y, m, d):
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


def ts_col(us):
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def choice(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    type=pa.string())


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def keyed_names(prefix, n):
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)], type=pa.string())


def gen(sf):
    rng = np.random.default_rng(DATASET_SEED)
    n_cust = max(1, int(150_000 * sf))
    n_supp = max(1, int(10_000 * sf))
    n_part = max(1, int(200_000 * sf))
    n_ord = max(1, int(1_500_000 * sf))
    n_line = max(1, int(6_000_000 * sf))
    n_ev = max(1, int(1_000_000 * sf))
    n_users = max(1, int(15_000 * sf))
    n_docs = max(1, int(50_000 * sf))
    n_vec = max(1, int(50_000 * sf))
    t = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), type=pa.int32()),
        "r_name": pa.array(REGIONS, type=pa.string())})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), type=pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], type=pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], type=pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": keyed_names("Customer", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": choice(rng, SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": keyed_names("Supplier", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(money(rng, -999.99, 9999.99, n_supp))})
    pk = np.arange(n_part, dtype=np.int64)
    adj = np.asarray(P_ADJ, dtype=object)[rng.integers(0, 8, n_part)]
    noun = np.asarray(P_NOUN, dtype=object)[rng.integers(0, 8, n_part)]
    t["part"] = pa.table({
        "p_partkey": pa.array(pk),
        "p_name": pa.array(adj + " " + noun, type=pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                            type=pa.string()),
        "p_type": choice(rng, P_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) * 0.1, 1))})

    o_lo, o_hi = day_us(1995, 1, 1), day_us(2001, 8, 1)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": choice(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": ts_col(rng.integers(0, (o_hi - o_lo) // DAY_US + 1, n_ord)
                              * DAY_US + o_lo),
        "o_orderpriority": choice(rng, PRIORITIES, n_ord)})

    s_lo, s_hi = day_us(1995, 1, 2), day_us(2001, 11, 4)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(money(rng, 900.0, 105000.0, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": choice(rng, ["A", "N", "R"], n_line),
        "l_linestatus": choice(rng, ["F", "O"], n_line),
        "l_shipdate": ts_col(rng.integers(0, (s_hi - s_lo) // DAY_US + 1, n_line)
                             * DAY_US + s_lo)})

    e_lo = day_us(2024, 1, 1)
    offs = np.sort(rng.integers(0, 30 * DAY_US, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": ts_col(offs + e_lo),
        "user_id": pa.array(rng.integers(0, n_users, n_ev, dtype=np.int64)),
        "event_type": choice(rng, EVENT_TYPES, n_ev),
        "value": pa.array(np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
                          type=pa.string())})

    vocab = np.asarray(VOCAB, dtype=object)
    lens = rng.integers(10, 100, n_docs)
    is_dup = rng.random(n_docs) < 0.05
    texts = []
    for i in range(n_docs):
        if is_dup[i] and i > 0:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(VOCAB), lens[i])]))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, type=pa.string()),
        "lang": choice(rng, LANGS, n_docs, p=LANG_P),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n_docs)],
                           type=pa.string()),
        "n_chars": pa.array(np.fromiter((len(x) for x in texts), np.int64, n_docs))})

    v = rng.standard_normal((n_vec, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), 64)
                       .cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec, dtype=np.int32))})
    return t


def main():
    out, sf = sys.argv[1], float(sys.argv[2])
    row_groups = int(sys.argv[3]) if len(sys.argv) > 3 else 1
    os.makedirs(out, exist_ok=True)
    for name, tb in gen(sf).items():
        rg = row_groups if name in ("lineitem", "orders") else 1
        pq.write_table(tb, f"{out}/{name}.parquet",
                       row_group_size=-(-tb.num_rows // rg))
    print(f"generated sf={sf} into {out}")


if __name__ == "__main__":
    main()
