"""Output checkers for the graft benchmark.

They use no graft code: the expected results are recomputed from the
generated inputs with plain Python and DuckDB, then compared with what
the program wrote. Each checker returns first the number of timed
operations whose output was wrong, then a short list of what was wrong;
the lake_query and corpus_screen checkers add what the run record needs
(rows each query template reads, the assembly hashes).
"""
import hashlib
import json
import os

import duckdb

# ---- shared ------------------------------------------------------------
def _rows_hash(rows):
    lines = sorted("\x1f".join("NULL" if v is None else str(v) for v in r) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def _parquet(con, path):
    return con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')")


def _boundary(i):
    """The SCD2 validity boundary of elt_merge package i (one minute apart)."""
    return f"2024-01-01 {i // 60:02d}:{i % 60:02d}:00"


# ---- elt_merge ---------------------------------------------------------
def check_elt_merge(inputs, out, record):
    loaded = [(int(x["package"]), x["ok"]) for x in record["check"]["loaded"]]
    pkgs = [p for p, ok in loaded if ok]
    bad = {p for p, ok in loaded if not ok}
    problems = []

    def jsonl(p, name):
        with open(os.path.join(inputs, f"pkg{p:04d}", f"{name}.jsonl")) as f:
            return [json.loads(line) for line in f]

    orders, events, history = {}, {}, {}
    for p in pkgs:
        for o in jsonl(p, "orders"):
            orders[o["o_orderkey"]] = o
        for e in jsonl(p, "events"):
            events.setdefault(e["event_id"], p)
        for c in jsonl(p, "customers"):
            versions = history.setdefault(c["c_custkey"], [])
            attrs = tuple(c[k] for k in ("c_name", "c_nationkey", "c_acctbal", "c_mktsegment"))
            if not versions or versions[-1][0] != attrs:
                if versions:
                    versions[-1][2] = _boundary(p)
                versions.append([attrs, _boundary(p), None, p])

    con = duckdb.connect()
    # merge: last writer wins, root and child rows
    got = {r[0]: r for r in _parquet(con, f"{out}/orders").fetchall()}
    for k, o in orders.items():
        g = got.get(k)
        want = (k, o["rev"], round(o["o_totalprice"], 2), o.get("o_clerk"))
        if g is None or (g[0], g[1], round(g[2], 2), g[3]) != want:
            bad.add(o["rev"])
    extra = set(got) - set(orders)
    if extra:
        problems.append(f"orders: {len(extra)} unexpected keys")
    items = con.sql(f"""
        SELECT o.o_orderkey, i.l_linenumber, i.l_partkey, i.l_quantity,
               round(i.l_extendedprice, 2)
        FROM read_parquet('{out}/orders__items/*.parquet') i
        JOIN read_parquet('{out}/orders/*.parquet') o ON i._dlt_parent_id = o._dlt_id""").fetchall()
    got_items = {}
    for r in items:
        got_items.setdefault(r[0], []).append(tuple(r[1:]))
    for k, o in orders.items():
        want = sorted((i["l_linenumber"], i["l_partkey"], i["l_quantity"],
                       round(i["l_extendedprice"], 2)) for i in o["items"])
        if sorted(got_items.get(k, [])) != want:
            bad.add(o["rev"])
    # incremental: every event exactly once
    ids = [r[0] for r in _parquet(con, f"{out}/events").fetchall()]
    seen = {}
    for i in ids:
        seen[i] = seen.get(i, 0) + 1
    for i, p in events.items():
        if seen.get(i) != 1:
            bad.add(p)
    if set(seen) - set(events):
        problems.append("events: unexpected ids")
    # scd2: one row per version, retired at the next change
    got_hist = {}
    for r in _parquet(con, f"{out}/customers").fetchall():
        got_hist.setdefault(r[0], set()).add(
            (tuple(r[1:5]), r[5][:19] if r[5] else None, r[6][:19] if r[6] else None))
    for c, versions in history.items():
        want = {(v[0], v[1], v[2]) for v in versions}
        if got_hist.get(c) != want:
            bad.add(versions[-1][3])
    if bad:
        problems.append(f"elt_merge: wrong final state for packages {sorted(bad)[:10]}")
    return len(bad), problems


# ---- lake_query --------------------------------------------------------
LAKE_TABLES = ("part", "customer", "orders", "lineitem")


def _lake_tables(con, inputs, packages):
    """Final tables: merges keep the last package's version of each key;
    lineitem is replaced per order key (delete-insert on the merge key)."""
    con.sql(f"CREATE TABLE part AS SELECT * FROM read_parquet('{inputs}/part.parquet')")
    for t in ("orders", "lineitem", "customer"):
        parts = " UNION ALL ".join(
            f"SELECT *, {j} AS pkg FROM read_parquet('{inputs}/{t}_{j}.parquet')"
            for j in range(packages))
        con.sql(f"CREATE TABLE {t}_all AS {parts}")
    con.sql("""CREATE TABLE orders AS SELECT * EXCLUDE (pkg), pkg FROM orders_all
               QUALIFY pkg = max(pkg) OVER (PARTITION BY o_orderkey)""")
    con.sql("""CREATE TABLE customer AS SELECT * EXCLUDE (pkg) FROM customer_all
               QUALIFY pkg = max(pkg) OVER (PARTITION BY c_custkey)""")
    con.sql("""CREATE TABLE lineitem AS SELECT * EXCLUDE (pkg) FROM lineitem_all
               QUALIFY pkg = max(pkg) OVER (PARTITION BY l_orderkey)""")


def _money(c):
    return f"CAST(CAST({c} AS DECIMAL(18,2)) AS VARCHAR)"


def _lake_sql(q):
    t = q["template"]
    if t == "lookup":
        return f"""SELECT o_orderkey, o_custkey, o_orderstatus, {_money('o_totalprice')}, o_rev
                   FROM orders WHERE o_orderkey = {q['key']}"""
    if t == "range":
        return f"""SELECT l_returnflag, count(*), {_money('sum(CAST(l_extendedprice AS DECIMAL(18,2)))')},
                          sum(l_quantity)
                   FROM lineitem WHERE l_orderkey BETWEEN {q['lo']} AND {q['hi']}
                   GROUP BY l_returnflag"""
    if t == "agg":
        return f"""SELECT o_orderstatus, count(*), {_money('sum(CAST(o_totalprice AS DECIMAL(18,2)))')}
                   FROM orders WHERE o_orderdate >= '{q['date']}' GROUP BY o_orderstatus"""
    if t == "join":
        return f"""SELECT c.c_mktsegment, count(*), {_money('sum(CAST(o.o_totalprice AS DECIMAL(18,2)))')}
                   FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
                   WHERE o.o_custkey BETWEEN {q['lo']} AND {q['hi']} GROUP BY c.c_mktsegment"""
    if t == "asof":
        return f"""WITH s AS (SELECT * FROM orders_all WHERE pkg <= {q['package']}
                              QUALIFY pkg = max(pkg) OVER (PARTITION BY o_orderkey))
                   SELECT count(*), sum(o_rev) FROM s"""
    if t == "rowcounts":
        return " UNION ALL ".join(f"SELECT '{n}', count(*) FROM {n}" for n in
                                  LAKE_TABLES)
    if t == "loads":
        return f"""SELECT count(*), {_money('sum(CAST(o_totalprice AS DECIMAL(18,2)))')}
                   FROM orders WHERE pkg = {q['package']}"""
    if t == "topn":
        return f"""SELECT o_orderkey, {_money('o_totalprice')} FROM orders
                   WHERE o_orderstatus = '{q['status']}'
                   ORDER BY o_totalprice DESC, o_orderkey LIMIT {q['n']}"""
    raise ValueError(t)


def lake_query_rows(con):
    """Rows of the tables each template reads: its logical input size."""
    n = {t: con.sql(f"SELECT count(*) FROM {t}").fetchone()[0]
         for t in LAKE_TABLES}
    return {"lookup": n["orders"], "range": n["lineitem"], "agg": n["orders"],
            "join": n["orders"] + n["customer"], "asof": n["orders"],
            "rowcounts": sum(n.values()), "loads": n["orders"], "topn": n["orders"]}


def check_lake_query(inputs, out, record, packages):
    con = duckdb.connect()
    _lake_tables(con, inputs, packages)
    with open(os.path.join(inputs, "queries.jsonl")) as f:
        queries = [json.loads(line) for line in f]
    failed, problems = 0, []
    for op in record["ops"]:
        i, t = op["note"].split(":")[:2]
        q = queries[int(i)]
        if not op["ok"]:
            failed += 1
            continue
        _, _, h, _ = op["note"].split(":")
        rows = con.sql(_lake_sql(q)).fetchall()
        if _rows_hash(rows) != h:
            failed += 1
            if len(problems) < 5:
                problems.append(f"lake_query: query {i} ({t}) result differs")
    return failed, problems, lake_query_rows(con)


# ---- corpus_screen -----------------------------------------------------
STOPWORDS = ["the", "a", "an", "and", "of", "to", "in", "is", "it", "that",
             "for", "on", "with", "as", "was", "at", "by", "be", "this", "are"]


def _score_sql(weights, table):
    """Replay of the ridge score: bias + weighted surface features, the
    same left-to-right double arithmetic the classifier documents."""
    w = [f"CAST('{x}' AS DOUBLE)" for x in weights]
    stops = ", ".join(f"'{s}'" for s in STOPWORDS)
    ntok = ("(CASE WHEN length(trim(text)) = 0 THEN 0 "
            "ELSE len(string_split_regex(trim(text), '\\s+')) END)")
    return f"""
      WITH f AS (
        SELECT doc_id,
          least(1.0, {ntok}::DOUBLE / 50.0) AS len_sat,
          CASE WHEN length(text) = 0 THEN 0.0
               ELSE len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))::DOUBLE / length(text)
          END AS punct_ratio,
          CASE WHEN {ntok} = 0 THEN 0.0
               ELSE len(list_filter(string_split_regex(trim(text), '\\s+'),
                                    t -> t IN ({stops})))::DOUBLE / {ntok}
          END AS stop_ratio,
          least(1.0, length(text)::DOUBLE / 2000.0) AS char_sat
        FROM {table})
      SELECT doc_id, {w[0]} + {w[1]} * len_sat + {w[2]} * punct_ratio
                     + {w[3]} * stop_ratio + {w[4]} * char_sat AS score
      FROM f"""


def _shingles_sql(table):
    """Distinct word trigrams of the whitespace-normalized lower-cased
    text; a doc under three tokens is one whole-text shingle."""
    return f"""
      WITH toks AS (SELECT doc_id, string_split(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ') AS ts
                    FROM {table})
      SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
      FROM toks, LATERAL (SELECT unnest(generate_series(1, len(ts) - 2)) AS i) g
      UNION
      SELECT doc_id, array_to_string(ts, ' ') FROM toks WHERE len(ts) < 3"""


def check_corpus_screen(inputs, out, record, sizes, params, golden, seed):
    con = duckdb.connect()
    chk = record["check"]
    failed, problems = 0, []
    # phase 1: every assembly pass packs the same output, that output is
    # the one recorded for this seed, and it holds the assembly's contract
    asm = con.sql(f"""SELECT load_id, doc_id, source, n_tokens, tok_offset, first_chunk, last_chunk
                      FROM read_parquet('{out}/assembled/*.parquet')""").fetchall()
    by_pass = {}
    for r in asm:
        by_pass.setdefault(r[0], []).append(r[1:])
    corpus_ids = {r[0] for r in con.sql(
        f"SELECT doc_id FROM read_parquet('{inputs}/corpus.parquet')").fetchall()}
    planted = set(sizes["contaminated_ids"])
    want = golden.get(str(seed))
    # an operation that threw (an assembly pass, or a drain's batches)
    # left no output to check: it counts as failed
    failed += sum(1 for op in record["ops"] if not op["ok"])
    hashes = {}
    for lid in chk["passes"]:
        rows = by_pass.get(lid, [])
        h = hashes[lid] = _rows_hash(rows)
        ids = [r[0] for r in rows]
        per_source = {}
        for r in rows:
            per_source[r[1]] = per_source.get(r[1], 0) + 1
        ok = (rows and set(ids) <= corpus_ids and not (set(ids) & planted)
              and max(per_source.values()) <= params["domain_cap"]
              and h == (want or hashes[chk["passes"][0]]))
        if not ok:
            failed += 1
            if len(problems) < 5:
                problems.append(f"corpus_screen: assembly pass {lid} wrong")
    # phase 2: landed = scored at or above the cut and no seed doc at or
    # above the near-dup Jaccard
    streamed = [os.path.join(inputs, "stream", f) for f in chk["streamed"]]
    if streamed:
        files = ", ".join(f"'{f}'" for f in streamed)
        con.sql(f"CREATE TABLE new_docs AS SELECT *, filename AS file FROM read_parquet([{files}], filename=true)")
        con.sql(f"""CREATE TABLE seed_docs AS SELECT doc_id, text FROM read_parquet('{inputs}/corpus.parquet')
                    WHERE doc_id < {sizes['seed_docs']}""")
        con.sql(f"CREATE TABLE sh_new AS {_shingles_sql('new_docs')}")
        con.sql(f"CREATE TABLE sh_seed AS {_shingles_sql('seed_docs')}")
        expected = con.sql(f"""
          WITH s AS ({_score_sql(chk['weights'], 'new_docs')}),
          sz_new AS (SELECT doc_id, count(*) AS n FROM sh_new GROUP BY doc_id),
          sz_seed AS (SELECT doc_id, count(*) AS n FROM sh_seed GROUP BY doc_id),
          inter AS (SELECT a.doc_id AS new_id, b.doc_id AS old_id, count(*) AS n
                    FROM sh_new a JOIN sh_seed b ON a.shingle = b.shingle GROUP BY 1, 2),
          dups AS (SELECT DISTINCT new_id FROM inter
                   JOIN sz_new x ON new_id = x.doc_id JOIN sz_seed y ON old_id = y.doc_id
                   WHERE inter.n::DOUBLE / (x.n + y.n - inter.n) >= {params['near_dup']})
          SELECT doc_id FROM s
          WHERE score >= CAST('{params['min_score']}' AS DOUBLE)
            AND doc_id NOT IN (SELECT new_id FROM dups)""").fetchall()
        expected = {r[0] for r in expected}
        got = {r[0] for r in _parquet(con, f"{out}/curated").fetchall()}
        wrong = expected ^ got
        if wrong:
            ids = ", ".join(str(i) for i in wrong)
            bad_files = con.sql(f"SELECT DISTINCT file FROM new_docs WHERE doc_id IN ({ids})").fetchall()
            failed += len(bad_files)
            problems.append(f"corpus_screen: {len(wrong)} docs landed wrongly in {len(bad_files)} batches")
    return failed, problems, hashes
