"""Seeded input generation for the three workloads.

Everything the program under test receives is written here, from
`--seed` alone: the same seed gives byte-identical files (their digest is
recorded), another seed gives different values of the same size.

  olap_headline    TPC-H-ish star schema + events/documents/embeddings,
                   the ten tables the headline queries read (parquet).
  lakehouse_rw     initial rows of the three hot tables and the cold-table
                   template, plus a script of rounds of six steps (an
                   append batch per table, then a MERGE source, DELETE key
                   and UPDATE key/delta, one per table) with the read
                   parameters of each step (JSON).
  curation_ingest  a corpus drawn from a generated document set, plus
                   arriving batches of held-out documents and planted
                   near-duplicates (token edits of corpus documents).
"""
import datetime
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# olap_headline size: lineitem ~ 6,000,000 * OLAP_SF rows (TESTDATA.md ratios)
OLAP_SF = 0.01

# lakehouse_rw shape
HOT_TABLES = ("native", "delta", "iceberg")
HOT_INITIAL_ROWS = 2000
PARTS = ("p0", "p1", "p2", "p3")
KEYS = 200                      # unclustered key k in [0, KEYS)
APPEND_ROWS = 200
MERGE_ROWS = 100                # half updates of live ids, half inserts
ROUND = 6                       # 3 appends, then MERGE, DELETE and UPDATE
COLD_TABLES = 70                # > 64-location SnapshotCache
COLD_ROWS = 200
LAKEHOUSE_STEPS = 20 * ROUND    # more than any run can consume

# curation_ingest shape
CORPUS_DOCS = 500
BATCH_NEW = 80                  # held-out documents per batch
BATCH_PLANTED = 20              # planted near-duplicates per batch
CURATION_BATCHES = 24           # more than any run can consume
SHINGLE_K = 3
JACCARD_T = 0.8

VOCAB = ("a the data table row column key value part hash join merge sort "
         "group filter scan order line customer window stream batch query "
         "agg spark fast slow big small vector").split()

EPOCH = datetime.datetime(1970, 1, 1)


def _ts_us(dt):
    return int((dt - EPOCH).total_seconds()) * 1_000_000


def _words(rng, lo, hi):
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), rng.integers(lo, hi + 1)))


def _write(path, table):
    pq.write_table(table, path, compression="snappy")


def _documents(rng, n, planted_share=0.05):
    """Fixture-shaped documents: 8..90 vocabulary tokens; a share of them
    are earlier documents with ' dup' appended (in-corpus near-dups)."""
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < planted_share:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(_words(rng, 8, 90))
    langs = np.array(["en", "de", "fr", "es", "zh"])[rng.integers(0, 5, n)]
    sources = [f"src{j}" for j in rng.integers(0, 20, n)]
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": list(langs),
        "source": sources,
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def gen_olap(rng, out):
    sf = OLAP_SF
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_ev, n_doc, n_emb = int(1_500_000 * sf), int(1_000_000 * sf), int(50_000 * sf), int(50_000 * sf)
    i32, i64, f64, s, ts = pa.int32(), pa.int64(), pa.float64(), pa.string(), pa.timestamp("us")

    def tbl(name, cols, types):
        _write(os.path.join(out, f"{name}.parquet"),
               pa.table({c: pa.array(v, type=types[c]) for c, v in cols.items()}))

    tbl("region", {"r_regionkey": np.arange(5, dtype=np.int32),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
        {"r_regionkey": i32, "r_name": s})
    tbl("nation", {"n_nationkey": np.arange(25, dtype=np.int32),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": rng.integers(0, 5, 25).astype(np.int32)},
        {"n_nationkey": i32, "n_name": s, "n_regionkey": i32})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    tbl("customer", {"c_custkey": np.arange(n_cust, dtype=np.int64),
                     "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                     "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                     "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
                     "c_mktsegment": list(segs[rng.integers(0, 5, n_cust)])},
        {"c_custkey": i64, "c_name": s, "c_nationkey": i32, "c_acctbal": f64, "c_mktsegment": s})
    tbl("supplier", {"s_suppkey": np.arange(n_supp, dtype=np.int64),
                     "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                     "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                     "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)},
        {"s_suppkey": i64, "s_name": s, "s_nationkey": i32, "s_acctbal": f64})
    adj = np.array(["small", "large", "red", "blue", "old", "hot", "green", "shiny"])
    noun = np.array(["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "spring"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    tbl("part", {"p_partkey": np.arange(n_part, dtype=np.int64),
                 "p_name": [f"{a} {b}" for a, b in zip(adj[rng.integers(0, 8, n_part)],
                                                       noun[rng.integers(0, 8, n_part)])],
                 "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                 "p_type": list(types[rng.integers(0, 6, n_part)]),
                 "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                 "p_retailprice": np.round(900.0 + rng.integers(0, 1000, n_part) / 10.0, 1)},
        {"p_partkey": i64, "p_name": s, "p_brand": s, "p_type": s, "p_size": i32,
         "p_retailprice": f64})
    day0 = _ts_us(datetime.datetime(1995, 1, 1))
    day_us = 86_400_000_000
    odate = day0 + rng.integers(0, 2404, n_ord) * day_us
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    tbl("orders", {"o_orderkey": np.arange(n_ord, dtype=np.int64),
                   "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
                   "o_orderstatus": list(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
                   "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
                   "o_orderdate": odate,
                   "o_orderpriority": list(prios[rng.integers(0, 5, n_ord)])},
        {"o_orderkey": i64, "o_custkey": i64, "o_orderstatus": s, "o_totalprice": f64,
         "o_orderdate": ts, "o_orderpriority": s})
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n_li = len(okey)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    tbl("lineitem", {"l_orderkey": okey,
                     "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
                     "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
                     "l_linenumber": lnum,
                     "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
                     "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
                     "l_discount": rng.integers(0, 11, n_li) / 100.0,
                     "l_tax": rng.integers(0, 9, n_li) / 100.0,
                     "l_returnflag": list(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
                     "l_linestatus": list(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
                     "l_shipdate": np.repeat(odate, lines) + rng.integers(1, 122, n_li) * day_us},
        {"l_orderkey": i64, "l_partkey": i64, "l_suppkey": i64, "l_linenumber": i32,
         "l_quantity": f64, "l_extendedprice": f64, "l_discount": f64, "l_tax": f64,
         "l_returnflag": s, "l_linestatus": s, "l_shipdate": ts})
    ev0 = _ts_us(datetime.datetime(2024, 1, 1))
    evts = np.sort(ev0 + rng.integers(0, 30 * day_us, n_ev))
    tbl("events", {"event_id": np.arange(n_ev, dtype=np.int64),
                   "ts": evts,
                   "user_id": rng.integers(0, max(10, n_ev // 66), n_ev).astype(np.int64),
                   "event_type": list(np.array(["click", "view", "purchase", "signup", "error"])
                                      [rng.integers(0, 5, n_ev)]),
                   "value": np.round(rng.uniform(0.01, 490.0, n_ev), 2),
                   "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]},
        {"event_id": i64, "ts": ts, "user_id": i64, "event_type": s, "value": f64, "props": s})
    d = _documents(rng, n_doc)
    tbl("documents", d, {"doc_id": i64, "text": s, "lang": s, "source": s, "n_chars": i64})
    emb = np.clip(rng.normal(0.0, 0.15, (n_emb, 64)), -0.6, 0.6).astype(np.float32)
    _write(os.path.join(out, "embeddings.parquet"), pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32))}))


def _rows(rng, ids):
    n = len(ids)
    return [[int(i), PARTS[p], int(k), int(v), f"s{t}"] for i, p, k, v, t in zip(
        ids, rng.integers(0, len(PARTS), n), rng.integers(0, KEYS, n),
        rng.integers(-1000, 100_000, n), rng.integers(0, 50, n))]


def gen_lakehouse(rng, out):
    """Initial rows per hot table and a step script. Ids are globally
    unique per table; every MERGE source mixes ids that exist (updates) with
    fresh ids (inserts). Ids that may exist are tracked with a model-free
    upper bound (the next fresh id), so the script does not depend on how
    far a run gets."""
    # rows are [id, p, k, v, s]
    script = {"tables": {}, "cold_tables": COLD_TABLES, "cold_rows": None, "steps": []}
    next_id = {}
    for t in HOT_TABLES:
        script["tables"][t] = _rows(rng, range(HOT_INITIAL_ROWS))
        next_id[t] = HOT_INITIAL_ROWS
    script["cold_rows"] = _rows(rng, range(COLD_ROWS))
    for i in range(LAKEHOUSE_STEPS):
        r, pos = divmod(i, ROUND)
        t = HOT_TABLES[pos % len(HOT_TABLES)]
        step = {"table": t,
                "point_k": int(rng.integers(0, KEYS)),
                "part": PARTS[int(rng.integers(0, len(PARTS)))],
                "fresh_k": int(rng.integers(0, KEYS)),
                "cold": int(i % COLD_TABLES),
                "cold_k": int(rng.integers(0, KEYS))}
        if pos >= len(HOT_TABLES):
            # kinds rotate over the tables from round to round
            kind = ("merge", "delete", "update")[(pos - len(HOT_TABLES) + r) % 3]
            step["kind"] = kind
            if kind == "merge":
                half = MERGE_ROWS // 2
                old = rng.choice(next_id[t], size=half, replace=False)
                new = np.arange(next_id[t], next_id[t] + half)
                next_id[t] += half
                step["rows"] = _rows(rng, np.concatenate([old, new]))
            elif kind == "delete":
                step["k"] = int(rng.integers(0, KEYS))
            else:
                step["k"] = int(rng.integers(0, KEYS))
                step["delta"] = int(rng.integers(1, 100))
        else:
            step["kind"] = "append"
            step["rows"] = _rows(rng, range(next_id[t], next_id[t] + APPEND_ROWS))
            next_id[t] += APPEND_ROWS
        script["steps"].append(step)
    with open(os.path.join(out, "lakehouse.json"), "w") as f:
        json.dump(script, f)


def tokens(text):
    """graft's tokenization (TokenizeUtil.tokens): lower-case runs of
    [a-z0-9']."""
    out, cur = [], []
    for ch in text.lower():
        if "a" <= ch <= "z" or "0" <= ch <= "9" or ch == "'":
            cur.append(ch)
        elif cur:
            out.append("".join(cur))
            cur = []
    if cur:
        out.append("".join(cur))
    return out


def shingles(text, k=SHINGLE_K):
    t = tokens(text)
    if len(t) < k:
        return {" ".join(t)}
    return {" ".join(t[i:i + k]) for i in range(len(t) - k + 1)}


def jaccard(a, b):
    return len(a & b) / len(a | b) if a or b else 1.0


def gen_curation(rng, out):
    pool = _documents(rng, CORPUS_DOCS + CURATION_BATCHES * BATCH_NEW)
    texts = pool["text"]
    corpus_idx = np.sort(rng.choice(len(texts), CORPUS_DOCS, replace=False))
    in_corpus = np.zeros(len(texts), bool)
    in_corpus[corpus_idx] = True
    held = np.flatnonzero(~in_corpus)
    rng.shuffle(held)
    corpus = {k: [v[i] for i in corpus_idx] for k, v in pool.items()}
    corpus["doc_id"] = list(range(CORPUS_DOCS))
    _write(os.path.join(out, "corpus.parquet"), pa.table({
        "doc_id": pa.array(corpus["doc_id"], pa.int64()), "text": pa.array(corpus["text"]),
        "source": pa.array(corpus["source"])}))
    long_src = [i for i, t in enumerate(corpus["text"]) if len(tokens(t)) >= 50]
    batches, next_id = [], 1_000_000
    for b in range(CURATION_BATCHES):
        docs = []
        for j in held[b * BATCH_NEW:(b + 1) * BATCH_NEW]:
            docs.append({"doc_id": next_id, "text": texts[j], "source": pool["source"][j],
                         "planted_from": -1})
            next_id += 1
        for _ in range(BATCH_PLANTED):
            src = long_src[int(rng.integers(0, len(long_src)))]
            toks = tokens(corpus["text"][src])
            pos = int(rng.integers(0, len(toks)))
            toks[pos] = VOCAB[(int(rng.integers(1, len(VOCAB))) +
                               (VOCAB.index(toks[pos]) if toks[pos] in VOCAB else 0)) % len(VOCAB)]
            text = " ".join(toks)
            planted = jaccard(shingles(text), shingles(corpus["text"][src])) >= JACCARD_T
            docs.append({"doc_id": next_id, "text": text, "source": corpus["source"][src],
                         "planted_from": src if planted else -1})
            next_id += 1
        order = rng.permutation(len(docs))
        batches.append([docs[i] for i in order])
    with open(os.path.join(out, "curation.json"), "w") as f:
        json.dump({"shingle_k": SHINGLE_K, "threshold": JACCARD_T, "batches": batches}, f)


GENERATORS = {"olap_headline": gen_olap, "lakehouse_rw": gen_lakehouse,
              "curation_ingest": gen_curation}


def generate(workload, seed, out):
    """Write the inputs of `workload` for `seed` into `out`; return
    (sha256 digest over every file, total bytes)."""
    os.makedirs(out, exist_ok=True)
    GENERATORS[workload](np.random.default_rng([seed, 0x6772616674]), out)
    h, size = hashlib.sha256(), 0
    for name in sorted(os.listdir(out)):
        with open(os.path.join(out, name), "rb") as f:
            data = f.read()
        h.update(name.encode() + b"\0" + data)
        size += len(data)
    return h.hexdigest(), size
