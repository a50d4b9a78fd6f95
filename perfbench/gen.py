"""Seeded input generators. The same seed gives the same inputs.

`tables` writes the engine's fixture family (TPC-H-ish star schema plus the
events, documents and embeddings tables, FIXTURES.md section 2) as one
parquet file per table, with the fixtures' column names, types and value
domains. `KdgEvents` produces the reference's Kinesis event shape
(FIXTURES.md section 1) as JSON lines.
"""
import datetime
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = np.array(["en", "zh", "de", "es", "fr"])
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EVENT_TYPES = np.array(["click", "signup", "error", "view", "purchase"])
SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
PART_TYPES = np.array(["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"])
PART_ADJ = np.array(["small", "red", "blue", "green", "large", "steel", "brass"])
PART_NOUN = np.array(["ring", "widget", "bolt", "gear", "valve", "panel"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
US_PER_DAY = 86_400_000_000


def _epoch_us(year):
    return int((datetime.datetime(year, 1, 1) - datetime.datetime(1970, 1, 1)).total_seconds()) * 1_000_000


EPOCH_1995 = _epoch_us(1995)
EPOCH_2024 = _epoch_us(2024)


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def tables(out_dir, scale, seed, names):
    """Write the named tables at scale factor `scale` into out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_ord = max(1500, int(1_500_000 * scale))
    n_events = max(1000, int(1_000_000 * scale))
    n_users = 150
    gens = {}

    gens["region"] = lambda: {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)}
    gens["nation"] = lambda: {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)}
    gens["customer"] = lambda: {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust))}
    gens["supplier"] = lambda: {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))}
    gens["part"] = lambda: {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array(np.char.add(np.char.add(rng.choice(PART_ADJ, n_part), " "),
                                       rng.choice(PART_NOUN, n_part))),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str))),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 2000) * 0.1, 2))}

    order_days = rng.integers(0, 2404, n_ord)

    def orders():
        return {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
            "o_orderstatus": pa.array(rng.choice(np.array(["F", "O", "P"]), n_ord)),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
            "o_orderdate": _ts(EPOCH_1995 + order_days * US_PER_DAY),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord))}
    gens["orders"] = orders

    def lineitem():
        lines = rng.integers(1, 8, n_ord)
        okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
        n = len(okey)
        starts = np.repeat(np.cumsum(lines) - lines, lines)
        qty = rng.integers(1, 51, n).astype(np.float64)
        return {
            "l_orderkey": pa.array(okey),
            "l_partkey": pa.array(rng.integers(0, n_part, n, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n, dtype=np.int64)),
            "l_linenumber": pa.array((np.arange(n) - starts + 1).astype(np.int32)),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": pa.array(rng.choice(np.array(["A", "N", "R"]), n)),
            "l_linestatus": pa.array(rng.choice(np.array(["F", "O"]), n)),
            "l_shipdate": _ts(EPOCH_1995 + (np.repeat(order_days, lines)
                                            + rng.integers(1, 122, n)) * US_PER_DAY)}
    gens["lineitem"] = lineitem

    def events():
        n = n_events
        ts = np.sort(rng.integers(0, 30 * US_PER_DAY, n))
        etype = rng.choice(EVENT_TYPES, n)
        value = _money(rng, 0.01, 50.0, n)
        value = np.where(etype == "purchase", np.round(value * 9.8, 2), value)
        return {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": _ts(EPOCH_2024 + ts),
            "user_id": pa.array(rng.integers(0, n_users, n, dtype=np.int64)),
            "event_type": pa.array(etype),
            "value": pa.array(value),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)])}
    gens["events"] = events

    def documents():
        n = 500 if scale <= 0.01 else int(50_000 * scale)
        texts = []
        for i in range(n):
            if i > 10 and rng.random() < 0.05:
                # near-duplicate of an earlier document: a few tokens changed
                toks = texts[rng.integers(0, i)].split()
                for j in rng.integers(0, len(toks), 2):
                    toks[j] = VOCAB[rng.integers(0, len(VOCAB))]
                toks.append("dup")
            else:
                toks = [VOCAB[k] for k in rng.integers(0, len(VOCAB), rng.integers(8, 80))]
            texts.append(" ".join(toks))
        return {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))}
    gens["documents"] = documents

    def embeddings():
        n = 500 if scale <= 0.01 else int(20_000 * scale)
        labels = rng.integers(0, 10, n)
        centers = rng.normal(0.0, 1.0, (10, 64))
        vecs = centers[labels] + rng.normal(0.0, 0.6, (n, 64))
        vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
        return {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs.astype(np.float32)), type=pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32))}
    gens["embeddings"] = embeddings

    for name in names:
        _write(out_dir, name, gens[name]())


KDG_PRODUCTS = ["Gorgeous Steel Chair", "Small Wooden Table", "Rustic Cotton Hat",
                "Sleek Granite Mouse", "Ergonomic Rubber Keyboard", "Handmade Frozen Pizza",
                "Practical Plastic Shoes", "Tasty Fresh Salad"]
KDG_COLORS = ["red", "blue", "green", "black", "white", "orchid", "teal", "silver"]
KDG_DEPARTMENTS = ["Books", "Movies", "Music", "Games", "Electronics", "Computers",
                   "Home", "Garden", "Tools", "Grocery", "Health", "Beauty",
                   "Toys", "Kids", "Baby", "Clothing", "Shoes", "Jewelery",
                   "Sports", "Outdoors", "Automotive", "Industrial"]
KDG_PRODUCT = ["Chair", "Table", "Hat", "Mouse", "Keyboard", "Pizza", "Shoes", "Salad"]
CAMPAIGNS = ["BlackFriday", "10Percent", "NONE"]


class KdgEvents:
    """The reference's Kinesis Data Generator template (FIXTURES.md section
    1): a seeded stream of JSON events, produced a file at a time, each
    with its row count and price sum for the answer checks."""

    def __init__(self, seed):
        self.rng = np.random.default_rng(seed)

    def file(self, rows):
        r = self.rng
        now = datetime.datetime.now(datetime.timezone.utc).strftime("%Y-%m-%d %H:%M:%S")
        prices = r.integers(10, 151, rows)
        camp = r.integers(0, len(CAMPAIGNS), rows)
        dept = r.integers(0, len(KDG_DEPARTMENTS), rows)
        prod = r.integers(0, len(KDG_PRODUCTS), rows)
        color = r.integers(0, len(KDG_COLORS), rows)
        users = r.integers(1, 101, rows)
        body = "".join(json.dumps({
            "userID": str(users[i]), "productName": KDG_PRODUCTS[prod[i]],
            "color": KDG_COLORS[color[i]], "department": KDG_DEPARTMENTS[dept[i]],
            "product": KDG_PRODUCT[prod[i]], "campaign": CAMPAIGNS[camp[i]], "price": int(prices[i]),
            "creationTimestamp": now}) + "\n" for i in range(rows))
        return body, {"rows": rows, "price": int(prices.sum())}
