"""Output checks, run after the timed phase. Each returns (ok, facts) where
facts is a dict of what was checked (and what failed)."""
import glob
import json
import os

import duckdb
import pyarrow.parquet as pq

from gen import jaccard, shingles, tokens

OLAP_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
               "events", "documents", "embeddings")


def check_olap(record, inputs):
    """Every headline result equals its DuckDB oracle on the same inputs:
    same columns and dtypes, and the same rows once columns and rows are
    sorted (the comparison tools/selfcheck.py makes, kept here so that the
    benchmark's checks live with the benchmark)."""
    c = record["checks"]
    oracle = json.load(open(c["oracle"]))
    con = duckdb.connect()
    for t in OLAP_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{inputs}/{t}.parquet'")
    failures, passed = [], 0
    for name in c["queries"]:
        if name not in oracle:
            failures.append(f"{name}: no oracle")
            continue
        files = glob.glob(os.path.join(c["results_dir"], name, "*.parquet"))
        if not files:
            failures.append(f"{name}: no result")
            continue
        want = con.execute(oracle[name]).fetchdf()
        got = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()
        cols = sorted(want.columns)
        if cols != sorted(got.columns):
            failures.append(f"{name}: columns {sorted(got.columns)} != {cols}")
            continue
        want = want[cols].sort_values(cols, ignore_index=True)
        got = got[cols].sort_values(cols, ignore_index=True)
        if len(want) != len(got):
            failures.append(f"{name}: {len(got)} rows != {len(want)}")
            continue
        bad = [col for col in cols
               if str(want[col].dtype) != str(got[col].dtype) or not want[col].equals(got[col])]
        if bad:
            failures.append(f"{name}: column {bad[0]} differs")
        else:
            passed += 1
    return not failures, {"oracle_passed": passed, "failures": failures}


def _norm(rows):
    return sorted(tuple(r) for r in rows)


def check_lakehouse(record, inputs):
    """Replays the executed steps on a plain-Python model of each table
    (no graft code) and compares every read, each against the model state
    right after its step's commit, and each table's final content."""
    script = json.load(open(os.path.join(inputs, "lakehouse.json")))
    c = record["checks"]
    model = {t: {r[0]: list(r) for r in rows} for t, rows in script["tables"].items()}
    cold = script["cold_rows"]
    reads = {}
    for op in record["ops"]:
        if op["cls"].startswith("read.") and op["ok"]:
            reads.setdefault(op["result"]["step"], []).append(op)
    failures, compared = [], 0
    for i in range(c["steps_done"]):
        st = script["steps"][i]
        m = model[st["table"]]
        kind = st["kind"]
        if kind == "append":
            for r in st["rows"]:
                m[r[0]] = list(r)
        elif kind == "merge":
            for r in st["rows"]:
                if r[0] in m:
                    m[r[0]][3], m[r[0]][4] = r[3], r[4]
                else:
                    m[r[0]] = list(r)
        elif kind == "delete":
            for key in [key for key, r in m.items() if r[2] == st["k"]]:
                del m[key]
        else:
            for r in m.values():
                if r[2] == st["k"]:
                    r[3] += st["delta"]
        for op in reads.get(i, []):
            got = _norm(op["result"]["rows"])
            cls = op["cls"]
            if cls in ("read.fresh", "read.point"):
                k = st["fresh_k"] if cls == "read.fresh" else st["point_k"]
                want = _norm([r[0], r[3]] for r in m.values() if r[2] == k)
            elif cls == "read.part_agg":
                groups = {}
                for r in m.values():
                    if r[1] == st["part"]:
                        g = groups.setdefault(r[2] % 10, [0, 0])
                        g[0] += 1
                        g[1] += r[3]
                want = _norm([b, n, s] for b, (n, s) in groups.items())
            elif cls == "read.meta_agg":
                ids = list(m)
                want = _norm([[len(ids), min(ids) if ids else None, max(ids) if ids else None]])
            else:
                sel = [r for r in cold if r[2] < st["cold_k"]]
                want = _norm([[len(sel), sum(r[3] for r in sel) if sel else None]])
            compared += 1
            if got != want:
                failures.append(f"step {i} {cls} on {st['table']}: {got[:3]} != {want[:3]}")
    for t, rows in c["tables"].items():
        if _norm(rows) != _norm(model[t].values()):
            failures.append(f"final content of {t} differs from the model")
    return not failures, {"reads_compared": compared, "failures": failures[:10]}


def classifier_keep(text):
    """graft's zero-config hashed linear classifier (ClassifierScoreGen),
    restated: keep when the summed pseudo-weights are positive."""
    raw = 0
    for t in tokens(text):
        h = 0
        for ch in t:
            h = (h * 31 + ord(ch)) % 1048576
        raw += ((h * 2654435761) % 4294967296) - 2147483648
    return raw > 0


def check_curation(record, inputs):
    """Every document dropped as a near-duplicate verifies by exact shingle
    Jaccard against a document of the corpus it was checked against; the
    classifier kept exactly the survivors it should; the corpus holds
    exactly the initial documents plus what was kept; every pair the sweep
    reported verifies. Also measures recall over the planted
    near-duplicates."""
    cfg = json.load(open(os.path.join(inputs, "curation.json")))
    t = cfg["threshold"]
    corpus = pq.read_table(os.path.join(inputs, "corpus.parquet")).to_pydict()
    text = dict(zip(corpus["doc_id"], corpus["text"]))
    live = set(corpus["doc_id"])
    sets = {d: shingles(x) for d, x in text.items()}
    postings = {}
    for d, s in sets.items():
        for g in s:
            postings.setdefault(g, set()).add(d)
    c = record["checks"]
    failures = []
    dropped = verified = planted = caught = 0
    for b in c["batches"]:
        docs = cfg["batches"][b["batch"]]
        survivors = set(b["survivors"])
        for d in docs:
            text[d["doc_id"]] = d["text"]
            if d["planted_from"] >= 0:
                planted += 1
                caught += d["doc_id"] not in survivors
            if d["doc_id"] in survivors:
                continue
            dropped += 1
            s = shingles(d["text"])
            cands = set().union(*(postings.get(g, ()) for g in s))
            if any(jaccard(s, sets[o]) >= t for o in cands):
                verified += 1
            else:
                failures.append(f"batch {b['batch']}: dropped doc {d['doc_id']} has no match")
        want_kept = sorted(d["doc_id"] for d in docs
                           if d["doc_id"] in survivors and classifier_keep(d["text"]))
        if want_kept != sorted(b["kept"]):
            failures.append(f"batch {b['batch']}: classifier kept {len(b['kept'])} != {len(want_kept)}")
        for d in b["kept"]:
            live.add(d)
            sets[d] = shingles(text[d])
            for g in sets[d]:
                postings.setdefault(g, set()).add(d)
    if sorted(live) != sorted(c["corpus_ids"]):
        failures.append("final corpus differs from initial + kept documents")
    bad_pairs = [p for p in c["last_sweep"] if jaccard(sets[p[0]], sets[p[1]]) < t]
    if bad_pairs:
        failures.append(f"sweep reported {len(bad_pairs)} pairs below the threshold")
    facts = {"dropped": dropped, "verified": verified, "planted": planted, "caught": caught,
             "sweep_pairs": len(c["last_sweep"]), "failures": failures[:10]}
    return not failures, facts


CHECKS = {"olap_headline": check_olap, "lakehouse_rw": check_lakehouse,
          "curation_ingest": check_curation}
