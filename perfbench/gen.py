"""Seeded input generator for the graft benchmark.

Every workload's inputs are derived from one seed and written under a
scratch directory; the program under test receives only these files.
The tables follow the shape of the repository's sf0.1 fixture (the
TPC-H-like star schema, an event stream and a synthetic document
corpus): the value ranges, shares and distributions below were measured
on it once and are cited beside each constant (README.md, "Input
shape"). The generator draws from them at benchmark size, so a run
depends on nothing outside its checkout. Constants marked "workload
design" have no counterpart in a static snapshot (re-sends, changes,
schema growth, a held-out set) or were sized from the timings.

Run directly to inspect one workload's inputs:

    python3 perfbench/gen.py --workload elt_merge --seed 1 --out /tmp/in
"""
import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---- sizes (workload design) -------------------------------------------
# elt_merge: small load packages, so the fixed cost per load dominates
ELT_PACKAGES = 120
ELT_ORDERS_PER_PKG = 40
ELT_RESEND_SHARE = 0.3          # share of a package re-sending earlier keys
ELT_EVENTS_PER_PKG = 150
ELT_CUSTOMERS = 400
ELT_CUSTOMERS_PER_PKG = 30
ELT_CUSTOMER_CHANGE_SHARE = 0.4
ELT_ADD_COLUMN_AT = 3           # package that first carries o_clerk

# lake_query: a star schema landed as several merge packages, its table
# sizes sf0.1's divided by ten
LAKE_CUSTOMERS = 1500           # sf0.1: 15000
LAKE_ORDERS = 15000             # sf0.1: 150000
LAKE_PARTS = 2000               # sf0.1: 20000
LAKE_SUPPLIERS = 100            # sf0.1: 1000
LAKE_PACKAGES = 3               # orders/lineitem/customer merge packages
LAKE_UPDATE_SHARE = 0.1         # share of earlier keys re-sent per package
LAKE_QUERIES = 4000
LAKE_TEMPLATES = ["lookup", "range", "agg", "join", "asof", "rowcounts",
                  "loads", "topn"]

# corpus_screen: seed corpus + near-dups + held-out benchmark + a stream
CORPUS_SEED_DOCS = 300          # indexed seed split
CORPUS_EXTRA_DOCS = 150         # assembly-only docs beyond the seed split
CORPUS_BENCH_DOCS = 30          # held-out benchmark set
CORPUS_CONTAMINATED = 15        # benchmark copies planted in the corpus
STREAM_FILES = 120
STREAM_DOCS_PER_FILE = 60

# ---- shape (measured on sf0.1) ------------------------------------------
# documents: 30 words, each 3.3% of tokens ("the" and "a" are two of them)
VOCAB = ("the fast key order sort table scan merge part window small hash "
         "join batch stream spark group query row data slow filter "
         "customer line value column agg big vector a").split()
DOC_TOKENS = (10, 100)          # tokens per doc, flat over [10, 100)
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_SHARES = [0.412, 0.151, 0.149, 0.148, 0.140]
SOURCES = 20                    # src0..src19, 250 docs each
NEAR_DUP_MARK = "dup"           # a near-dup is a doc with " dup" appended
NEAR_DUP_SHARE = 0.05           # 250 of 5000 docs; also the stream's share
# orders / lineitem / customer / part
STATUSES = ["F", "O", "P"]      # one third each
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
TOTALPRICE = (1000, 500000)     # 1001.91 .. 499993.18, flat
ORDER_DAYS = 2405               # 1995-01-01 .. 2001-08-01
ITEMS_MEAN = 4                  # items per order ~ Poisson(4); sf0.1's 1.8%
                                # of orders without items are left out
QUANTITY = (1, 51)              # 1 .. 50
EXTENDEDPRICE = (900, 105000)   # 900.68 .. 104999.91
ACCTBAL = (-999.85, 9999.8)
NATIONS = 25
BRANDS = 25                     # Brand#1 .. Brand#25
RETAILPRICE = (900, 1000)       # 900.0 .. 999.9
# events: ids in time order, one every ~26 s (exponential)
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
EVENT_USERS = 1500              # user_id 0 .. 1499
EVENT_VALUE_MEAN = 50.0         # exponential: median 34.8, mean 49.9
EVENT_GAP_S = 26.0
EVENT_PROPS_K = 100             # props '{"k": 0..99}'


def _money(rng, lo, hi):
    return round(float(rng.uniform(lo, hi)), 2)


def _date(rng):
    d = int(rng.integers(0, ORDER_DAYS))
    return str(np.datetime64("1995-01-01") + np.timedelta64(d, "D"))


def _items(rng):
    return max(1, int(rng.poisson(ITEMS_MEAN)))


def _write_jsonl(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r, separators=(",", ":")))
            f.write("\n")
    return os.path.getsize(path)


def _write_parquet(path, columns):
    pq.write_table(pa.table(columns), path)
    return os.path.getsize(path)


# ---- elt_merge ---------------------------------------------------------
def gen_elt_merge(rng, out):
    os.makedirs(out, exist_ok=True)
    next_key = 0
    sent = []               # order keys sent so far
    event_id = 0
    boundary = None
    ts = np.datetime64("2024-01-01T00:00:00")
    cust = {c: {"c_custkey": c, "c_name": f"Customer#{c:06d}",
                "c_nationkey": int(rng.integers(0, NATIONS)),
                "c_acctbal": _money(rng, *ACCTBAL),
                "c_mktsegment": str(rng.choice(SEGMENTS))}
            for c in range(ELT_CUSTOMERS)}
    nbytes = 0
    package_rows = []
    for p in range(ELT_PACKAGES):
        n_resend = min(len(sent), int(ELT_ORDERS_PER_PKG * ELT_RESEND_SHARE))
        keys = ([int(k) for k in rng.choice(sent, n_resend, replace=False)]
                if n_resend else [])
        fresh = list(range(next_key, next_key + ELT_ORDERS_PER_PKG - n_resend))
        next_key += len(fresh)
        sent.extend(fresh)
        orders = []
        for k in keys + fresh:
            items = [{"l_linenumber": ln + 1,
                      "l_partkey": int(rng.integers(0, LAKE_PARTS)),
                      "l_quantity": int(rng.integers(*QUANTITY)),
                      "l_extendedprice": _money(rng, *EXTENDEDPRICE)}
                     for ln in range(_items(rng))]
            o = {"o_orderkey": k, "o_custkey": int(rng.integers(0, ELT_CUSTOMERS)),
                 "o_orderstatus": str(rng.choice(STATUSES)),
                 "o_totalprice": _money(rng, *TOTALPRICE),
                 "o_orderdate": _date(rng),
                 "o_orderpriority": str(rng.choice(PRIORITIES)),
                 "rev": p, "items": items}
            if p >= ELT_ADD_COLUMN_AT:
                o["o_clerk"] = f"Clerk#{int(rng.integers(0, 1000)):05d}"
            orders.append(o)
        # events: each window re-delivers the previous window's boundary row
        events = [boundary] if boundary is not None else []
        for _ in range(ELT_EVENTS_PER_PKG):
            ts += np.timedelta64(int(rng.exponential(EVENT_GAP_S * 1000)), "ms")
            events.append({"event_id": event_id, "ts": str(ts),
                           "user_id": int(rng.integers(0, EVENT_USERS)),
                           "event_type": str(rng.choice(EVENT_TYPES)),
                           "value": round(float(rng.exponential(EVENT_VALUE_MEAN)), 2),
                           "props": json.dumps({"k": int(rng.integers(0, EVENT_PROPS_K))})})
            event_id += 1
        boundary = events[-1]
        # customers: a sample, a seeded share of them with changed attributes
        custs = []
        for c in rng.choice(ELT_CUSTOMERS, ELT_CUSTOMERS_PER_PKG, replace=False):
            c = int(c)
            if rng.random() < ELT_CUSTOMER_CHANGE_SHARE:
                cust[c] = dict(cust[c], c_acctbal=_money(rng, *ACCTBAL),
                               c_mktsegment=str(rng.choice(SEGMENTS)))
            custs.append(dict(cust[c]))
        d = os.path.join(out, f"pkg{p:04d}")
        os.makedirs(d)
        nbytes += _write_jsonl(os.path.join(d, "orders.jsonl"), orders)
        nbytes += _write_jsonl(os.path.join(d, "events.jsonl"), events)
        nbytes += _write_jsonl(os.path.join(d, "customers.jsonl"), custs)
        package_rows.append(len(orders) + sum(len(o["items"]) for o in orders)
                            + len(events) + len(custs))
    return {"packages": ELT_PACKAGES, "rows": sum(package_rows), "bytes": nbytes,
            "package_rows": package_rows,
            "orders_per_package": ELT_ORDERS_PER_PKG,
            "events_per_package": ELT_EVENTS_PER_PKG + 1,
            "customers_per_package": ELT_CUSTOMERS_PER_PKG}


# ---- lake_query --------------------------------------------------------
def gen_lake_query(rng, out):
    os.makedirs(out, exist_ok=True)
    nbytes = rows = 0
    small = {
        "part": {"p_partkey": np.arange(LAKE_PARTS, dtype=np.int64),
                 "p_brand": [f"Brand#{int(b)}" for b in rng.integers(1, BRANDS + 1, LAKE_PARTS)],
                 "p_size": rng.integers(1, 51, LAKE_PARTS).astype(np.int32),
                 "p_retailprice": np.round(rng.uniform(*RETAILPRICE, LAKE_PARTS), 2)},
    }
    for name, cols in small.items():
        nbytes += _write_parquet(os.path.join(out, f"{name}.parquet"), cols)
        rows += len(next(iter(cols.values())))
    # orders / lineitem / customer arrive in LAKE_PACKAGES merge packages:
    # package j carries a key range plus re-sent (updated) earlier keys
    per = LAKE_ORDERS // LAKE_PACKAGES
    cper = LAKE_CUSTOMERS // LAKE_PACKAGES
    for j in range(LAKE_PACKAGES):
        keys = np.arange(j * per, (j + 1) * per, dtype=np.int64)
        ckeys = np.arange(j * cper, (j + 1) * cper, dtype=np.int64)
        if j:
            keys = np.concatenate([rng.choice(j * per, int(per * LAKE_UPDATE_SHARE),
                                              replace=False).astype(np.int64), keys])
            ckeys = np.concatenate([rng.choice(j * cper, int(cper * LAKE_UPDATE_SHARE),
                                               replace=False).astype(np.int64), ckeys])
        n = len(keys)
        days = rng.integers(0, ORDER_DAYS, n)
        orders = {"o_orderkey": keys,
                  "o_custkey": rng.integers(0, LAKE_CUSTOMERS, n).astype(np.int64),
                  "o_orderstatus": rng.choice(STATUSES, n),
                  "o_totalprice": np.round(rng.uniform(*TOTALPRICE, n), 2),
                  "o_orderdate": [str(np.datetime64("1995-01-01") + np.timedelta64(int(d), "D"))
                                  for d in days],
                  "o_orderpriority": rng.choice(PRIORITIES, n),
                  "o_rev": np.full(n, j, dtype=np.int32)}
        nli = np.maximum(1, rng.poisson(ITEMS_MEAN, n))
        lk = np.repeat(keys, nli)
        ln = np.concatenate([np.arange(1, c + 1) for c in nli]).astype(np.int32)
        m = len(lk)
        lineitem = {"l_orderkey": lk, "l_linenumber": ln,
                    "l_partkey": rng.integers(0, LAKE_PARTS, m).astype(np.int64),
                    "l_suppkey": rng.integers(0, LAKE_SUPPLIERS, m).astype(np.int64),
                    "l_quantity": rng.integers(*QUANTITY, m).astype(np.int64),
                    "l_extendedprice": np.round(rng.uniform(*EXTENDEDPRICE, m), 2),
                    "l_discount": np.round(rng.integers(0, 11, m) / 100.0, 2),
                    "l_returnflag": rng.choice(["A", "N", "R"], m)}
        nc = len(ckeys)
        customer = {"c_custkey": ckeys,
                    "c_name": [f"Customer#{int(c):06d}" for c in ckeys],
                    "c_nationkey": rng.integers(0, NATIONS, nc).astype(np.int32),
                    "c_acctbal": np.round(rng.uniform(*ACCTBAL, nc), 2),
                    "c_mktsegment": rng.choice(SEGMENTS, nc)}
        for name, cols in (("orders", orders), ("lineitem", lineitem),
                           ("customer", customer)):
            nbytes += _write_parquet(os.path.join(out, f"{name}_{j}.parquet"), cols)
            rows += len(next(iter(cols.values())))
    # the query stream: templates round-robin in a seeded order, params seeded
    queries = []
    order = []
    while len(order) < LAKE_QUERIES:
        order.extend(rng.permutation(LAKE_TEMPLATES).tolist())
    for i, t in enumerate(order[:LAKE_QUERIES]):
        q = {"i": i, "template": t}
        if t == "lookup":
            q["key"] = int(rng.integers(0, LAKE_ORDERS))
        elif t == "range":
            lo = int(rng.integers(0, LAKE_ORDERS - 200))
            q["lo"], q["hi"] = lo, lo + int(rng.integers(20, 200))
        elif t == "agg":
            q["date"] = _date(rng)
        elif t == "join":
            lo = int(rng.integers(0, LAKE_CUSTOMERS - 300))
            q["lo"], q["hi"] = lo, lo + 300
        elif t in ("asof", "loads"):
            q["package"] = int(rng.integers(0, LAKE_PACKAGES))
        elif t == "topn":
            q["status"] = str(rng.choice(STATUSES))
            q["n"] = int(rng.integers(5, 20))
        queries.append(q)
    nbytes += _write_jsonl(os.path.join(out, "queries.jsonl"), queries)
    return {"packages": LAKE_PACKAGES, "rows": rows, "bytes": nbytes,
            "queries": LAKE_QUERIES, "orders": LAKE_ORDERS,
            "customers": LAKE_CUSTOMERS}


# ---- corpus_screen -----------------------------------------------------
def _doc(rng):
    return " ".join(rng.choice(VOCAB, int(rng.integers(*DOC_TOKENS))).tolist())


def _near_dup(text):
    """sf0.1's near-duplicate: the doc with one marker token appended.
    A doc of n distinct trigrams keeps Jaccard n / (n + 1) to it, at or
    above 0.9 from 11 tokens up."""
    return f"{text} {NEAR_DUP_MARK}"


def gen_corpus_screen(rng, out):
    os.makedirs(out, exist_ok=True)
    docs = []       # (doc_id, text, lang, source)

    def add(text):
        docs.append((len(docs), text, str(rng.choice(LANGS, p=LANG_SHARES)),
                     f"src{int(rng.integers(0, SOURCES))}"))

    for _ in range(CORPUS_SEED_DOCS):
        add(_doc(rng))
    n_seed = len(docs)
    # assembly-only tail: fresh docs, near-dups of earlier docs, and
    # planted copies of benchmark docs (decontamination must drop them)
    bench = [(i, _doc(rng)) for i in range(CORPUS_BENCH_DOCS)]
    for _ in range(CORPUS_EXTRA_DOCS):
        add(_doc(rng))
    for src in rng.choice(len(docs), int(len(docs) * NEAR_DUP_SHARE),
                          replace=False):
        add(_near_dup(docs[int(src)][1]))
    contaminated = []
    for b in rng.choice(CORPUS_BENCH_DOCS, CORPUS_CONTAMINATED, replace=False):
        contaminated.append(len(docs))
        add(bench[int(b)][1])
    nbytes = _write_parquet(os.path.join(out, "corpus.parquet"), {
        "doc_id": np.array([d[0] for d in docs], dtype=np.int64),
        "text": [d[1] for d in docs],
        "lang": [d[2] for d in docs],
        "source": [d[3] for d in docs]})
    nbytes += _write_parquet(os.path.join(out, "benchmark.parquet"), {
        "doc_id": np.array([b[0] for b in bench], dtype=np.int64),
        "text": [b[1] for b in bench]})
    # the stream: new docs, a share near-copying a seed doc
    sd = os.path.join(out, "stream")
    os.makedirs(sd)
    next_id = 1_000_000
    for f in range(STREAM_FILES):
        ids, texts = [], []
        for _ in range(STREAM_DOCS_PER_FILE):
            if rng.random() < NEAR_DUP_SHARE:
                texts.append(_near_dup(docs[int(rng.integers(0, n_seed))][1]))
            else:
                texts.append(_doc(rng))
            ids.append(next_id)
            next_id += 1
        nbytes += _write_parquet(os.path.join(sd, f"batch{f:05d}.parquet"), {
            "doc_id": np.array(ids, dtype=np.int64), "text": texts})
    return {"docs": len(docs), "seed_docs": n_seed, "benchmark_docs": CORPUS_BENCH_DOCS,
            "batches": STREAM_FILES, "docs_per_batch": STREAM_DOCS_PER_FILE,
            "contaminated_ids": contaminated, "bytes": nbytes}


GENERATORS = {"elt_merge": gen_elt_merge, "lake_query": gen_lake_query,
              "corpus_screen": gen_corpus_screen}


def generate(workload, seed, out):
    """Write `workload`'s inputs for `seed` under `out`; returns their sizes."""
    rng = np.random.default_rng([seed, sorted(GENERATORS).index(workload)])
    sizes = GENERATORS[workload](rng, out)
    with open(os.path.join(out, "sizes.json"), "w") as f:
        json.dump(sizes, f)
    return sizes


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(json.dumps(generate(a.workload, a.seed, a.out)))
