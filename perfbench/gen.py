"""Seeded input generator for the benchmark.

Writes the TPC-H-style test-table schemas the registry queries expect (region,
nation, customer, supplier, part, orders, lineitem, events, documents) as
parquet, plus, for `incremental_cycles`, a landing area and
one pre-computed delta per cycle. The same seed always produces
byte-identical files; `inputs_digest` hashes them.

Usage: python3 gen.py <out_dir> <seed> '{"scale": "sf0.1", "tables": true, "cycles": 3, "delta_frac": 0.02}'
"""
import hashlib
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()
LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["red", "blue", "hot", "old", "large", "small", "green", "cold"]
PART_NOUN = ["plate", "widget", "ring", "rod", "bolt", "gizmo", "gear", "pin"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

# row counts per table at the test-table scale factors
SCALES = {
    "sf0.001": dict(customer=150, supplier=10, part=200, orders=1500,
                    lineitem=6000, events=1000, documents=500),
    "sf0.01": dict(customer=1500, supplier=100, part=2000, orders=15000,
                   lineitem=60000, events=10000, documents=500),
    "sf0.1": dict(customer=15000, supplier=1000, part=20000, orders=150000,
                  lineitem=600000, events=100000, documents=5000),
}

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us):
    return pa.array(np.asarray(us, dtype=np.int64).astype("datetime64[us]"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _text(rng, n_words):
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n_words))


def dimensions(rng, z):
    region = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": REGIONS})
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    nc = z["customer"]
    customer = pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)]})
    ns = z["supplier"]
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})
    npt = z["part"]
    adj = rng.integers(0, len(PART_ADJ), npt)
    noun = rng.integers(0, len(PART_NOUN), npt)
    part = pa.table({
        "p_partkey": pa.array(np.arange(npt, dtype=np.int64)),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npt)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, npt)],
        "p_size": pa.array(rng.integers(1, 51, npt).astype(np.int32)),
        "p_retailprice": np.round(900 + (np.arange(npt) % 1000) * 0.1, 2)})
    return dict(region=region, nation=nation, customer=customer,
                supplier=supplier, part=part)


def orders(rng, n, n_cust, first_key=0, cycle=None):
    # as in TPC-H's generator, every third customer places no orders
    buyers = np.arange(n_cust, dtype=np.int64)
    buyers = buyers[buyers % 3 != 0]
    cols = {
        "o_orderkey": pa.array(np.arange(first_key, first_key + n,
                                         dtype=np.int64)),
        "o_custkey": pa.array(rng.choice(buyers, n)),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, 1000, 500000, n),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2400, n) * DAY_US),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n)]}
    if cycle is not None:
        cols["cycle"] = pa.array(np.full(n, cycle, dtype=np.int32))
    return pa.table(cols)


def lineitem(rng, n, z):
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, z["orders"], n).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, z["part"], n).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, z["supplier"], n).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n), 2),
        "l_discount": np.round(rng.integers(0, 11, n) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n) * 0.01, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n)],
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(0, 2500, n) * DAY_US)})


def events(rng, n, n_users, first_id=0, day_lo=0, day_hi=30, cycle=None):
    cols = {
        "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "ts": _ts(EPOCH_2024 + rng.integers(day_lo * DAY_US, day_hi * DAY_US, n)),
        "user_id": pa.array(rng.integers(0, n_users, n).astype(np.int64)),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50, n) + 0.01, 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n)]}
    if cycle is not None:
        cols["cycle"] = pa.array(np.full(n, cycle, dtype=np.int32))
    return pa.table(cols)


def documents(rng, n, first_id=0, near_dup_of=None, cycle=None):
    """`near_dup_of`: texts to copy with a one-word edit (half the rows)."""
    texts = []
    for i in range(n):
        if near_dup_of and i % 2 == 0:
            words = near_dup_of[rng.integers(0, len(near_dup_of))].split()
            words[rng.integers(0, len(words))] = WORDS[rng.integers(0, len(WORDS))]
            texts.append(" ".join(words))
        else:
            texts.append(_text(rng, int(rng.integers(8, 90))))
    cols = {
        "doc_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))}
    if cycle is not None:
        cols["cycle"] = pa.array(np.full(n, cycle, dtype=np.int32))
    return pa.table(cols)


def write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def test_tables(out, seed, z):
    """The nine test tables under `out/<name>.parquet`."""
    rng = np.random.default_rng([seed, 1])
    tabs = dimensions(rng, z)
    tabs["orders"] = orders(rng, z["orders"], z["customer"])
    tabs["lineitem"] = lineitem(rng, z["lineitem"], z)
    tabs["events"] = events(rng, z["events"], z["customer"])
    tabs["documents"] = documents(rng, z["documents"])
    for name, t in tabs.items():
        write(t, f"{out}/{name}.parquet")


def landing(out, seed, z, cycles, delta_frac):
    """Base landing files (cycle 0) plus `cycles` deltas under
    `out/deltas/<k>/`. Each delta holds new keys, new versions of existing
    orders, late events (timestamps in already-landed days) and
    near-duplicate documents, about `delta_frac` of the base each."""
    rng = np.random.default_rng([seed, 2])
    no, ne, nd = z["orders"], z["events"], z["documents"]
    base_docs = documents(rng, nd, cycle=0)
    write(orders(rng, no, z["customer"], cycle=0), f"{out}/landing/orders/c0000.parquet")
    write(events(rng, ne, z["customer"], 0, 0, 120, cycle=0),
          f"{out}/landing/events/c0000.parquet")
    write(base_docs, f"{out}/landing/documents/c0000.parquet")
    texts = base_docs.column("text").to_pylist()
    next_order, next_event, next_doc = no, ne, nd
    for k in range(1, cycles + 1):
        d = f"{out}/deltas/{k:04d}"
        n_new = max(1, int(no * delta_frac / 2))
        n_upd = max(1, int(no * delta_frac / 2))
        new = orders(rng, n_new, z["customer"], next_order, cycle=k)
        upd_keys = np.sort(rng.choice(next_order, n_upd, replace=False))
        upd = orders(rng, n_upd, z["customer"], 0, cycle=k)
        upd = upd.set_column(0, "o_orderkey", pa.array(upd_keys.astype(np.int64)))
        write(pa.concat_tables([new, upd]), f"{d}/orders/c{k:04d}.parquet")
        next_order += n_new
        n_ev = max(1, int(ne * delta_frac))
        # a fifth of each delta's events are late: they fall within the
        # 20 days before the delta's own day
        day = 120 + k // 4
        late = events(rng, n_ev // 5, z["customer"], next_event, day - 20, day, cycle=k)
        fresh = events(rng, n_ev - n_ev // 5, z["customer"],
                       next_event + n_ev // 5, day, day + 1, cycle=k)
        write(pa.concat_tables([late, fresh]), f"{d}/events/c{k:04d}.parquet")
        next_event += n_ev
        n_doc = max(2, int(nd * delta_frac))
        docs = documents(rng, n_doc, next_doc, near_dup_of=texts, cycle=k)
        texts += docs.column("text").to_pylist()
        write(docs, f"{d}/documents/c{k:04d}.parquet")
        next_doc += n_doc


def inputs_digest(root):
    """sha256 over every generated file (relative path + bytes)."""
    h = hashlib.sha256()
    for dirpath, dirnames, files in os.walk(root):
        dirnames.sort()
        for f in sorted(files):
            if not f.endswith(".parquet"):
                continue
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def generate(out, seed, spec):
    """Writes a workload's inputs; returns their digest. `spec` holds
    `scale` (a key of SCALES), `tables` (write the test tables), `cycles`
    and `delta_frac` (landing area and deltas)."""
    sizes = SCALES[spec["scale"]]
    if spec.get("tables"):
        test_tables(out, seed, sizes)
    if spec.get("cycles"):
        landing(out, seed, sizes, spec["cycles"], spec["delta_frac"])
    return inputs_digest(out)


if __name__ == "__main__":
    print(generate(sys.argv[1], int(sys.argv[2]), json.loads(sys.argv[3])))
