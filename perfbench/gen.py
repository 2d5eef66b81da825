"""Seeded input generator for the benchmark.

Writes the ten tables graft reads (region, nation, customer, supplier,
part, orders, lineitem, events, documents, embeddings) as one parquet
file each, with the same schemas, key spaces and value vocabularies as
the project's synthetic test data. The same (sf, seed) always gives the
same bytes; a different seed gives different rows and a different row
order.

Layout written under <out>:
  full/   every table (the oracle reads this one)
  base/   orders and lineitem without the held-out late order days
  late/   orders and lineitem of the late order days only
The other eight tables are identical in all three directories.
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
STATUS = ["F", "O", "P"]
PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]

US_PER_DAY = 86_400_000_000
ORDER_DAY0 = 9131          # 1995-01-01 as days since the epoch
ORDER_DAYS = 2405          # through 2001-08-01
EVENT_T0 = 1_704_067_200_000_000  # 2024-01-01 UTC in epoch micros
EVENT_SPAN_US = 30 * US_PER_DAY
LATE_WINDOW = 60           # late days are drawn from at most the last 60 order days


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf, seed, order_days=ORDER_DAYS):
    """All ten tables as pyarrow Tables, plus the sorted late order days.
    Order dates fall in the last `order_days` days of the order range."""
    rng = np.random.default_rng(seed)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))
    n_line = max(400, int(6_000_000 * sf))
    n_ev = max(100, int(1_000_000 * sf))
    n_users = max(5, int(15_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    ck = np.arange(n_cust, dtype=np.int64)
    t["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    sk = np.arange(n_supp, dtype=np.int64)
    t["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 1)})
    odays = rng.integers(ORDER_DAYS + 1 - order_days, ORDER_DAYS + 1, n_ord)
    t["orders"] = pa.table({
        "o_orderkey": rng.permutation(n_ord).astype(np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(STATUS, n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _ts((ORDER_DAY0 + odays).astype(np.int64) * US_PER_DAY),
        "o_orderpriority": rng.choice(PRIORITY, n_ord)})
    lorder = rng.integers(0, n_ord, n_line).astype(np.int64)
    t["lineitem"] = pa.table({
        "l_orderkey": lorder,
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_line),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts((ORDER_DAY0 + rng.integers(0, ORDER_DAYS + 90, n_line))
                          .astype(np.int64) * US_PER_DAY)})
    ev_ts = np.sort(rng.integers(0, EVENT_SPAN_US, n_ev)) + EVENT_T0
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(ev_ts),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        if i >= 20 and i % 20 == 7:
            # planted near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    labels = rng.integers(0, 10, 500)
    centers = rng.normal(0, 0.14 / np.sqrt(64), (10, 64))
    vecs = centers[labels] + rng.normal(0, 1 / np.sqrt(64), (500, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(500, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    # seeded row order for the big tables
    for name in ("lineitem", "orders", "events"):
        t[name] = t[name].take(rng.permutation(t[name].num_rows))
    late_from = ORDER_DAYS + 1 - min(LATE_WINDOW, order_days // 2)
    late = np.sort(rng.choice(np.arange(late_from, ORDER_DAYS + 1),
                              3, replace=False)) + ORDER_DAY0
    return t, late


def write(out, sf, seed, order_days=ORDER_DAYS):
    t, late_days = tables(sf, seed, order_days)
    odays = (t["orders"]["o_orderdate"].cast(pa.int64()).to_numpy() // US_PER_DAY)
    is_late = np.isin(odays, late_days)
    late_keys = t["orders"]["o_orderkey"].to_numpy()[is_late]
    line_late = np.isin(t["lineitem"]["l_orderkey"].to_numpy(), late_keys)
    split = {
        "full": (t["orders"], t["lineitem"]),
        "base": (t["orders"].filter(pa.array(~is_late)),
                 t["lineitem"].filter(pa.array(~line_late))),
        "late": (t["orders"].filter(pa.array(is_late)),
                 t["lineitem"].filter(pa.array(line_late))),
    }
    for sub, (o, li) in split.items():
        d = os.path.join(out, sub)
        os.makedirs(d, exist_ok=True)
        for name, tbl in t.items():
            if name == "orders":
                tbl = o
            elif name == "lineitem":
                tbl = li
            pq.write_table(tbl, os.path.join(d, f"{name}.parquet"))
    return [str(np.datetime64(int(d), "D")) for d in late_days]


if __name__ == "__main__":
    print(write(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]),
                *[int(x) for x in sys.argv[4:5]]))
