"""Seeded input generator for the benchmark.

Every input the program under test reads is written here from one seed:
the star-schema tables (`region` ... `events`), the `documents` and
`embeddings` tables, the 4x token-suffixed corpus and the CSV / JSON-lines
files the `flow_etl` flows read. The distributions follow the fixture
tables the query suite was written against (TPC-H-like keys and value
ranges, a 31-word document vocabulary with ~5% near-duplicates, unit-norm
64-d embeddings in 10 labelled clusters), so every query and every oracle
query runs unchanged. The same seed always gives byte-identical files.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("query row stream the batch sort value hash filter big data dup spark "
         "line small fast group customer part column order scan a slow agg key "
         "window table merge vector join").split()
ADJ = "large hot blue old cold small red new".split()
NOUN = "ring bolt plate gear widget nut pipe valve".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]


def _write(table, path):
    # one row group, no dictionary surprises across pyarrow versions, no
    # pandas metadata: the bytes depend on the data alone
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   row_group_size=1 << 22, store_schema=False)


def _money(rng, lo, hi, n):
    """Uniform 2-dp amounts in [lo, hi] as doubles that are exact decimals."""
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _days(start, rng, span, n):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span + 1, n).astype("timedelta64[D]")).astype("datetime64[us]")


def gen_tables(out, seed, sf, docs=None, only=None):
    """Write the base tables at scale factor `sf` into directory `out`: all
    ten, or the names in `only`. `docs` replaces the generated documents.
    Each table draws from its own seeded stream, so a table's bytes do not
    depend on which other tables are written."""
    os.makedirs(out, exist_ok=True)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    nc, ns, np_ = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    no, nl, ne = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)

    def region(rng):
        return {"r_regionkey": pa.array(np.arange(5), i32),
                "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], s)}

    def nation(rng):
        return {"n_nationkey": pa.array(np.arange(25), i32),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
                "n_regionkey": pa.array(np.arange(25) % 5, i32)}

    def customer(rng):
        return {"c_custkey": pa.array(np.arange(nc), i64),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)], s),
                "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
                "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc), f64),
                "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, nc)], s)}

    def supplier(rng):
        return {"s_suppkey": pa.array(np.arange(ns), i64),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)], s),
                "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
                "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns), f64)}

    def part(rng):
        names = np.array([f"{a} {b}" for a in ADJ for b in NOUN])
        keys = np.arange(np_)
        return {"p_partkey": pa.array(keys, i64),
                "p_name": pa.array(names[rng.integers(0, len(names), np_)], s),
                "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, np_)], s),
                "p_type": pa.array(np.array(PTYPES)[rng.integers(0, 6, np_)], s),
                "p_size": pa.array(rng.integers(1, 51, np_), i32),
                "p_retailprice": pa.array(np.round(900 + (keys % 1000) / 10.0, 1), f64)}

    def orders(rng):
        return {"o_orderkey": pa.array(np.arange(no), i64),
                "o_custkey": pa.array(rng.integers(0, nc, no), i64),
                "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, no)], s),
                "o_totalprice": pa.array(_money(rng, 1000, 500_000, no), f64),
                "o_orderdate": pa.array(_days("1995-01-01", rng, 2404, no), ts),
                "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, no)], s)}

    def lineitem(rng):
        return {"l_orderkey": pa.array(rng.integers(0, no, nl), i64),
                "l_partkey": pa.array(rng.integers(0, np_, nl), i64),
                "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
                "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
                "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64), f64),
                "l_extendedprice": pa.array(_money(rng, 900, 105_000, nl), f64),
                "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0, f64),
                "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0, f64),
                "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, nl)], s),
                "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, nl)], s),
                "l_shipdate": pa.array(_days("1995-01-02", rng, 2498, nl), ts)}

    def events(rng):
        # timestamps increase with event_id over 30 days of 2024-01
        gaps = rng.exponential(30 * 86400e6 / max(ne, 1), ne)
        us = np.minimum(np.cumsum(gaps).astype(np.int64) + 11_000_000, 30 * 86400 * 10**6 - 1)
        start = np.datetime64("2024-01-01T00:00:00", "us")
        return {"event_id": pa.array(np.arange(ne), i64),
                "ts": pa.array(start + us.astype("timedelta64[us]"), ts),
                "user_id": pa.array(rng.integers(0, max(int(15_000 * sf), 1), ne), i64),
                "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, ne)], s),
                "value": pa.array(np.round(np.minimum(rng.exponential(50.0, ne), 560.0), 2), f64),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)], s)}

    def documents(rng):
        texts = docs if docs is not None else gen_texts(seed, int(50_000 * sf))
        nd = len(texts)
        return {"doc_id": pa.array(np.arange(nd), i64),
                "text": pa.array(texts, s),
                "lang": pa.array(np.array(LANGS)[rng.choice(5, nd, p=LANG_P)], s),
                "source": pa.array([f"src{i % 20}" for i in range(nd)], s),
                "n_chars": pa.array([len(t) for t in texts], i64)}

    def embeddings(rng):
        # unit vectors around 10 labelled cluster centres
        nv, dim = 2000, 64
        centers = rng.normal(0, 1, (10, dim))
        labels = rng.integers(0, 10, nv)
        vecs = centers[labels] + rng.normal(0, 1.5, (nv, dim))
        vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
        return {"vec_id": pa.array(np.arange(nv), i64),
                "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                "label": pa.array(labels, i32)}

    tables = [region, nation, customer, supplier, part, orders, lineitem, events,
              documents, embeddings]
    counts = {}
    for i, make in enumerate(tables):
        name = make.__name__
        if only is None or name in only:
            t = pa.table(make(np.random.default_rng([seed, 1, i])))
            _write(t, os.path.join(out, f"{name}.parquet"))
            counts[name] = t.num_rows
    return counts


def gen_texts(seed, n):
    """`n` documents of 10-100 vocabulary words; ~5% are a copy of an earlier
    document with " dup" appended and a few are exact copies."""
    rng = np.random.default_rng([seed, 4])
    vocab = np.array(VOCAB)
    lens = rng.integers(10, 101, n)
    kinds = rng.random(n)
    texts = []
    for i in range(n):
        if i > 10 and kinds[i] < 0.05:
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i > 10 and kinds[i] < 0.052:
            texts.append(texts[rng.integers(0, i)])
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), lens[i])]))
    return texts


def replicate_texts(texts, copies):
    """`copies` shifted copies of the corpus; every token of copy c gets the
    suffix `x<c>`, so copies share no n-grams and near-duplicate structure
    stays within a copy (the corpus grows linearly, not quadratically)."""
    return [" ".join(w + f"x{c}" for w in t.split(" ")) for c in range(copies) for t in texts]


def gen_flow_inputs(out, seed, rows):
    """CSV line items and JSON-lines events for the flow workload."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 5])
    n = rows
    ok = rng.integers(0, n // 4 + 1, n)
    qty = rng.integers(1, 51, n)
    cents = rng.integers(90_000, 10_500_000, n)
    disc = rng.integers(0, 11, n)
    flag = np.array(["A", "N", "R"])[rng.integers(0, 3, n)]
    status = np.array(["F", "O"])[rng.integers(0, 2, n)]
    day = rng.integers(0, 2500, n)
    dates = (np.datetime64("1995-01-02") + day.astype("timedelta64[D]")).astype(str)
    lines = ["id,orderkey,qty,price_cents,disc_pct,flag,status,shipdate"]
    lines += [f"{i},{ok[i]},{qty[i]},{cents[i]},{disc[i]},{flag[i]},{status[i]},{dates[i]}"
              for i in range(n)]
    with open(os.path.join(out, "lineitem.csv"), "w") as f:
        f.write("\n".join(lines) + "\n")

    m = rows // 2
    users = rng.integers(0, 2000, m)
    etype = np.array(EVENT_TYPES)[rng.integers(0, 5, m)]
    val = rng.integers(0, 50_000, m)
    ks = rng.integers(0, 100, m)
    with open(os.path.join(out, "events.json"), "w") as f:
        for i in range(m):
            f.write(json.dumps({"event_id": i, "user_id": int(users[i]), "event_type": str(etype[i]),
                                "value_cents": int(val[i]), "props": {"k": int(ks[i])}},
                               separators=(",", ":")) + "\n")
    return {"lineitem.csv": n, "events.json": m}


def describe(dirs):
    """Byte count of every file in `dirs`, keyed by path below their parent."""
    out = {}
    for d in dirs:
        for name in sorted(os.listdir(d)):
            p = os.path.join(d, name)
            if os.path.isfile(p):
                out[os.path.relpath(p, os.path.dirname(d))] = {"bytes": os.path.getsize(p)}
    return out
