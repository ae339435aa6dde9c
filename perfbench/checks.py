"""Output checks. Each op's kept output is compared with a result computed
here, independently of the engine: the reference jobs against the
generator's expectations, the pipeline keys against the program's own
DuckDB oracle SQL, and the ingest index, verdicts and reads against a
restatement over the seed and landed documents.

`check(workload, record, inputs)` returns {op id: None if right, else a
one-line reason}.
"""
import json
import math
import os
import re
from collections import Counter

import duckdb
import pyarrow.parquet as pq

WS = re.compile(r"[ \t\n\x0b\f\r]+")


def tokens(text):
    return [t for t in WS.split(text) if t]


def same_value(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(same_value(x, y) for x, y in zip(a, b))
    return a == b


def canon(v):
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if hasattr(v, "as_integer_ratio") and not isinstance(v, (int, float)):
        return float(v)  # DuckDB decimals
    return v


def sort_key(row):
    return tuple((x is None, str(x)) for x in row)


# ---------------------------------------------------------------- batch

def check_batch(record, inputs):
    exp = json.load(open(os.path.join(inputs, "expected.json")))
    con = None
    oracle_rows = {}
    out = {}
    for op in record["ops"] + record["untraced_ops"]:
        if not op.get("ok"):
            out[op["id"]] = op.get("error", "op failed")
            continue
        kind, rows = op["kind"], op.get("rows")
        reason = None
        if kind == "w1_word_count":
            if [r[0] for r in rows] != sorted(r[0] for r in rows):
                reason = "words not in order"
            elif {r[0]: r[1] for r in rows} != exp["word_count"]:
                reason = "word counts differ"
        elif kind == "w2_char_count":
            if {r[0]: r[1] for r in rows} != exp["char_count"]:
                reason = "char counts differ"
        elif kind == "w3_peak_numbers":
            if {r[0]: r[1] for r in rows} != exp["peak_numbers"]:
                reason = "peaks differ"
        elif kind == "w4_suspects":
            if {r[0]: sorted(r[1]) for r in rows} != exp["suspects"]:
                reason = "suspects differ"
        elif kind == "pipe_word_count":
            got = dict((w, int(c)) for w, c in (r[0].split() for r in rows))
            if got != exp["word_count"]:
                reason = "pipe word counts differ"
        else:
            if con is None:
                con = duckdb.connect()
                con.execute("CREATE VIEW documents AS SELECT * FROM "
                            f"'{os.path.join(inputs, 'corpus', 'documents.parquet')}'")
            if kind not in oracle_rows:
                rel = con.execute(record["oracles"][kind])
                cols = [d[0] for d in rel.description]
                oracle_rows[kind] = (cols, rel.fetchall())
            cols, want = oracle_rows[kind]
            if sorted(op["cols"]) != sorted(cols):
                reason = f"columns {sorted(op['cols'])} != {sorted(cols)}"
            else:
                names = sorted(cols)
                at = [op["cols"].index(c) for c in names]
                got = sorted((tuple(canon(r[i]) for i in at) for r in rows), key=sort_key)
                idx = [cols.index(c) for c in names]
                want_s = sorted((tuple(canon(r[i]) for i in idx) for r in want), key=sort_key)
                if len(got) != len(want_s):
                    reason = f"{len(got)} rows, oracle {len(want_s)}"
                elif not all(same_value(a, b) for a, b in zip(got, want_s)):
                    reason = "values differ from the oracle"
        out[op["id"]] = reason
    return out


# ---------------------------------------------------------------- ingest

def scrub(text, c):
    text = re.sub(c["pii_email"], "<EMAIL>", text)
    text = re.sub(c["pii_ip"], "<IP>", text)
    return re.sub(c["pii_num"], "<NUM>", text)


def quality(toks, c):
    """The quality score the ingest gate applies (None without tokens)."""
    if not toks:
        return None
    n = len(toks)
    stop = sum(1 for t in toks if t in c["stop_en"])
    return (len(set(toks)) / n) * 0.4 + min(n / 50.0, 1.0) * 0.4 + (stop / n) * 0.2


def bm25_top(docs, slice_ids, n_docs, avgdl, c):
    """Top-k (doc_id, score) of the fixed query over `docs` (doc_id ->
    tokens), df from all of `docs`, ranking restricted to `slice_ids`."""
    q, k1, b = c["bm25_query"], c["bm25_k1"], c["bm25_b"]
    df = [sum(1 for t in docs.values() if term in t) for term in q]
    idf = [math.log(1.0 + (n_docs - d + 0.5) / (d + 0.5)) for d in df]
    scored = []
    for d in slice_ids:
        toks = docs[d]
        tf = [toks.count(term) for term in q]
        if not any(tf):
            continue
        dl = len(toks)
        s = sum(idf[i] * (tf[i] * (k1 + 1.0)) /
                (tf[i] + k1 * ((1.0 - b) + b * dl / avgdl)) for i in range(len(q)))
        scored.append((round(s, 6), d))
    scored.sort(key=lambda x: (-x[0], x[1]))
    return scored[:c["bm25_topk"]]


def same_ranking(got, want, tol=2e-6):
    """Equal top-k up to ties: same scores, and the same docs except where
    a score ties with the cut."""
    if len(got) != len(want):
        return False
    if not all(abs(a[0] - b[0]) <= tol for a, b in zip(got, want)):
        return False
    cut = want[-1][0] if want else 0.0
    strict = lambda xs: {d for s, d in xs if s > cut + tol}
    return strict(got) == strict(want)


def index_as_of(ops, seed_toks, file_toks, compact_every):
    """For each op in id order: the op, the text index it reads (doc_id ->
    tokens of the seed and of the files landed so far, documents without
    tokens left out) and the (n_docs, avgdl) its reads score with. Those
    are the seed's until the stream's first compaction, which runs after
    every `compact_every`-th landed file and brings them up to date."""
    def doc_stats(docs):
        return len(docs), sum(len(t) for t in docs.values()) / len(docs)

    indexed = {d: t for d, t in seed_toks.items() if t}
    scoring = doc_stats(indexed)
    files = 0
    for op in ops:
        if "file" in op:
            indexed.update((d, t) for d, t in file_toks[op["file"]].items() if t)
            files += 1
            if files % compact_every == 0:
                scoring = doc_stats(indexed)
        yield op, indexed, scoring


def read_docs(path):
    t = pq.read_table(path).to_pydict()
    return dict(zip(t["doc_id"], zip(t["text"], t["lang"])))


def check_ingest(record, inputs):
    c = record["constants"]
    fin = record["finish"]
    seed = read_docs(os.path.join(inputs, "ingest_seed", "documents.parquet"))
    landed = {}
    file_of = {}
    for name in fin["landed"]:
        for d, v in read_docs(os.path.join(inputs, "landing_pool", name)).items():
            landed[d] = v
            file_of[d] = name
    meta = json.load(open(os.path.join(inputs, "landing_meta.json")))
    reads = open(os.path.join(inputs, "ingest_reads.txt")).read().split()
    ops = sorted(record["untraced_ops"] + record["ops"], key=lambda o: o["id"])
    op_of_file = {op["file"]: op["id"] for op in ops if "file" in op}
    out = {op["id"]: (None if op.get("ok") else op.get("error", "op failed")) for op in ops}

    def fail(doc_or_file, reason):
        oid = op_of_file.get(file_of.get(doc_or_file, doc_or_file))
        for k in ([oid] if oid is not None else list(out)):
            out[k] = out[k] or reason

    alldocs = {**seed, **landed}
    toks = {d: tokens(t) for d, (t, _) in alldocs.items()}

    file_toks = {name: {} for name in fin["landed"]}
    for d in landed:
        file_toks[file_of[d]][d] = toks[d]

    # reads: each against the index as of its op
    for op, indexed, scoring in index_as_of(
            ops, {d: toks[d] for d in seed}, file_toks, c["compact_every"]):
        if out[op["id"]]:
            continue
        lang = reads[op["read"]]
        slice_ids = [d for d in indexed if alldocs[d][1] == lang]
        got = [(r[-1], r[0]) for r in op["rows"]]
        if not same_ranking(got, bm25_top(indexed, slice_ids, *scoring, c)):
            out[op["id"]] = f"bm25 read on lang={lang} differs from the restatement"

    # final index: postings == tokenization of seed + landed documents
    post = pq.read_table(os.path.join(fin["dumps"], "postings")).to_pydict()
    got = set(zip(post["term"], post["doc_id"], post["tf"]))
    want = {(t, d, n) for d, ts in indexed.items() for t, n in Counter(ts).items()}
    for _, d, _ in got ^ want:
        fail(d if d in landed else None, "text index postings differ from the restatement")

    # verdicts: one per landed doc, the quality gate restated, planted
    # verbatim copies of indexed docs never admitted
    v = pq.read_table(os.path.join(fin["dumps"], "verdicts")).to_pylist()
    per_doc = {}
    for r in v:
        per_doc.setdefault(r["doc_id"], []).append(r)
    planted = {d for m in meta.values() for d in m["dups"]}
    admitted = set()
    for d, (text, _) in landed.items():
        rs = per_doc.get(d, [])
        if len(rs) != 1:
            fail(d, f"doc {d} has {len(rs)} verdicts")
            continue
        r = rs[0]
        q = quality(tokens(scrub(text, c)), c)
        ok = q is not None and q >= c["quality_min"]
        if (r["verdict"] == "rejected") == ok:
            fail(d, f"doc {d} verdict {r['verdict']} against quality {q}")
        elif q is not None and (r["score"] is None or abs(r["score"] - q) > 1e-9):
            fail(d, f"doc {d} score {r['score']} != {q}")
        elif d in planted and r["verdict"] == "admitted":
            fail(d, f"doc {d} copies an indexed doc but was admitted")
        elif r["verdict"] == "dup" and r["dup_of"] not in seed and r["dup_of"] not in landed:
            fail(d, f"doc {d} dup_of {r['dup_of']} is unknown")
        if r["verdict"] == "admitted":
            admitted.add(d)
    clean = pq.read_table(os.path.join(fin["dumps"], "clean")).to_pydict()
    got_clean = dict(zip(clean["doc_id"], clean["text"]))
    for d in set(got_clean) ^ admitted:
        fail(d, f"clean store and admitted set differ at doc {d}")
    for d in admitted & set(got_clean):
        if got_clean[d] != scrub(landed[d][0], c):
            fail(d, f"clean text of doc {d} is not the scrubbed text")
    sig = set(pq.read_table(os.path.join(fin["dumps"], "simhash_ids")).column("doc_id").to_pylist())
    for d in sig ^ (set(seed) | admitted):
        fail(d if d in landed else None, f"signature index and seed+admitted differ at doc {d}")
    return out


def check(workload, record, inputs):
    if workload == "batch":
        return check_batch(record, inputs)
    return check_ingest(record, inputs)
