"""Seeded input generator for the benchmark.

Every input a workload reads is a pure function of ``--seed``: the same
seed writes byte-identical files and the same expected results, another
seed writes different ones. Expected results for the reference jobs
(W1-W4) are computed here, from the generated data, so the run can check
the engine's output against them.

The documents copy the shape measured on the repository's sf0.1
``documents`` table (TESTDATA.md), which a run cannot read because it
stays inside its checkout: 5,000 rows; 10 to 100 words each (mean 54.1)
over a 30-word vocabulary; 250 near-duplicates (5%) that repeat an earlier
document with the word ``dup`` appended; ``lang`` skewed as de 702,
en 2,059, es 744, fr 742, zh 753; ``source`` = ``src{doc_id % 20}``; no
digits or e-mail addresses. The reference jobs' files follow FIXTURES.md:
about 1.24 M name lines for W1/W2, interval rows for W3, 123,456 rows
for W4.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_COUNTS = [702, 2059, 744, 742, 753]  # sf0.1 documents, per lang
SOURCES = [f"src{i}" for i in range(20)]
NAMES = ["akbar", "alireza", "armin", "hooman", "melika", "milad"]
OPS = ["mci", "mtn", "rtl"]
BATCH_JOBS = ["w1_word_count", "w2_char_count", "w3_peak_numbers", "w4_suspects",
              "pipe_word_count", "text_bigram_lm"]
BATCH_ROUNDS = 50

N_DOCS = 5000
N_NAME_LINES = 1_240_000
N_CALL_ROWS = 1500
N_SUSPECT_ROWS = 123_456

# the unindexed half of the corpus, split evenly; a run lands a few of
# these (one per ingest round), so 40 leave room for long runs
INGEST_FILES = 40
# standalone reads per landed file (see Ingest in scala/Main.scala)
INGEST_READS_PER_FILE = 11


def rng_for(seed, name):
    """An independent stream per artifact, so adding one never shifts another."""
    return np.random.default_rng([seed, sum(ord(c) * 31 ** i for i, c in enumerate(name)) % 2**32])


def make_docs(rng, n):
    """Documents shaped like the sf0.1 corpus (see the module docstring)."""
    lens = rng.integers(10, 101, size=n)
    words = rng.integers(0, len(VOCAB), size=int(lens.sum()))
    langs = rng.choice(len(LANGS), size=n, p=np.array(LANG_COUNTS) / sum(LANG_COUNTS))
    dup = rng.random(n) < 0.05
    texts, pos = [], 0
    for i in range(n):
        if dup[i] and i > 0:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(VOCAB[w] for w in words[pos:pos + lens[i]]))
        pos += lens[i]
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[k] for k in langs],
        "source": [SOURCES[i % len(SOURCES)] for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def doc_table(d):
    return pa.table({
        "doc_id": pa.array(d["doc_id"], pa.int64()),
        "text": pa.array(d["text"], pa.string()),
        "lang": pa.array(d["lang"], pa.string()),
        "source": pa.array(d["source"], pa.string()),
        "n_chars": pa.array(d["n_chars"], pa.int64()),
    })


def take(d, idx):
    return {k: (v[idx] if isinstance(v, np.ndarray) else [v[i] for i in idx])
            for k, v in d.items()}


def write_corpus(dirpath, docs):
    os.makedirs(dirpath, exist_ok=True)
    pq.write_table(doc_table(docs), os.path.join(dirpath, "documents.parquet"))


# ---------------------------------------------------------------- batch

def gen_names(rng, path):
    idx = rng.integers(0, len(NAMES), size=N_NAME_LINES)
    with open(path, "w") as f:
        f.write("\n".join(np.array(NAMES)[idx]))
        f.write("\n")
    counts = np.bincount(idx, minlength=len(NAMES))
    words = {NAMES[i]: int(c) for i, c in enumerate(counts)}
    chars = {}
    for name, c in words.items():
        for ch in name:
            chars[ch] = chars.get(ch, 0) + c
    return words, chars


def peak_active(rows):
    """Per op, the max over seconds of distinct numbers active that second."""
    out = {}
    for op in OPS:
        per_num = {}
        for o, num, a, b in rows:
            if o == op:
                per_num.setdefault(num, []).append((a, b))
        diff = np.zeros(86402, dtype=np.int64)
        for ivs in per_num.values():
            ivs.sort()
            cur_a, cur_b = ivs[0]
            for a, b in ivs[1:]:
                if a <= cur_b + 1:
                    cur_b = max(cur_b, b)
                else:
                    diff[cur_a] += 1
                    diff[cur_b + 1] -= 1
                    cur_a, cur_b = a, b
            diff[cur_a] += 1
            diff[cur_b + 1] -= 1
        if per_num:
            out[op] = int(np.cumsum(diff).max())
    return out


def gen_calls(rng, path):
    ops = rng.integers(0, len(OPS), size=N_CALL_ROWS)
    nums = rng.integers(0, 1500, size=N_CALL_ROWS)
    starts = rng.integers(0, 86400 - 600, size=N_CALL_ROWS)
    durs = rng.integers(0, 600, size=N_CALL_ROWS)
    rows = [(OPS[o], f"0912{n:07d}", int(a), int(a + d))
            for o, n, a, d in zip(ops, nums, starts, durs)]
    with open(path, "w") as f:
        f.write("".join(f"{o} {n} {a} {b}\n" for o, n, a, b in rows))
    return peak_active(rows)


def gen_suspects(rng, path):
    names = [f"n{i}" for i in range(40)]
    fams = [f"f{i}" for i in range(40)]
    cities = [f"c{i}" for i in range(30)]
    n = N_SUSPECT_ROWS
    cols = (rng.integers(0, 40, n), rng.integers(0, 40, n),
            rng.integers(0, 30, n), rng.integers(1990, 2010, n))
    # a few planted suspects: one (name, family, year) seen in many cities
    planted = rng.integers(0, 40, size=(17, 2))
    k = 0
    for j, (a, b) in enumerate(planted):
        for c in rng.choice(30, size=12, replace=False):
            cols[0][k], cols[1][k], cols[2][k], cols[3][k] = a, b, c, 1980 + j % 10
            k += 1
    lines, groups = [], {}
    for a, b, c, y in zip(*cols):
        lines.append(f"{names[a]} {fams[b]} {cities[c]} {y}")
        groups.setdefault(f"{names[a]}-{fams[b]}-{y}", set()).add(cities[c])
    with open(path, "w") as f:
        f.write("\n".join(lines))
        f.write("\n")
    return {k: sorted(v) for k, v in groups.items() if len(v) > 10}


# ---------------------------------------------------------------- ingest

def gen_ingest(rng, docs, root):
    """Seed half (indexed at setup) and the landing files the ops admit.

    Each landing file is an even share of the unindexed half plus two
    planted documents: a verbatim copy of an indexed document, which must
    not be admitted, and a copy of a document with an e-mail address and
    a phone number added, which must be admitted scrubbed. sf0.1 holds no
    text the scrubber rewrites and only 8 exact duplicates, so without
    them neither path would be checked."""
    perm = rng.permutation(N_DOCS)
    half = N_DOCS // 2
    seed_docs = take(docs, np.sort(perm[:half]))
    write_corpus(os.path.join(root, "ingest_seed"), seed_docs)
    pool = os.path.join(root, "landing_pool")
    os.makedirs(pool, exist_ok=True)
    lang_p = np.array(LANG_COUNTS) / sum(LANG_COUNTS)
    meta = {}
    for k, share in enumerate(np.array_split(perm[half:], INGEST_FILES)):
        d = take(docs, np.sort(share))
        copy = seed_docs["text"][int(rng.integers(0, half))]
        base = docs["text"][int(rng.integers(0, N_DOCS))]
        pii = (f"{base} mail user{int(rng.integers(0, 999))}@example.com "
               f"call {int(rng.integers(10**8, 10**9))}")
        ids = [N_DOCS + 2 * k, N_DOCS + 2 * k + 1]
        name = f"land_{k:03d}.parquet"
        meta[name] = {"dups": ids[:1], "pii": ids[1:]}
        d = {
            "doc_id": np.concatenate([d["doc_id"], np.array(ids, dtype=np.int64)]),
            "text": d["text"] + [copy, pii],
            "lang": d["lang"] + [LANGS[int(x)] for x in rng.choice(len(LANGS), 2, p=lang_p)],
            "source": d["source"] + [SOURCES[i % len(SOURCES)] for i in ids],
            "n_chars": np.concatenate([d["n_chars"],
                                       np.array([len(copy), len(pii)], dtype=np.int64)]),
        }
        pq.write_table(doc_table(d), os.path.join(pool, name))
    with open(os.path.join(root, "landing_files.txt"), "w") as f:
        f.write("".join(f"{name}\n" for name in meta))
    with open(os.path.join(root, "landing_meta.json"), "w") as f:
        json.dump(meta, f, sort_keys=True)
    n_reads = INGEST_FILES * (1 + INGEST_READS_PER_FILE)
    reads = rng.choice(len(LANGS), size=n_reads, p=lang_p)
    with open(os.path.join(root, "ingest_reads.txt"), "w") as f:
        f.write("".join(f"{LANGS[i]}\n" for i in reads))


def generate(workload, seed, root):
    """Write every input of `workload` under `root`; return the expectations."""
    os.makedirs(root, exist_ok=True)
    expected = {"workload": workload, "seed": seed}
    docs = make_docs(rng_for(seed, "docs"), N_DOCS)
    if workload == "batch":
        order = rng_for(seed, "order")
        with open(os.path.join(root, "batch_order.txt"), "w") as f:
            for _ in range(BATCH_ROUNDS):
                f.write(" ".join(BATCH_JOBS[j] for j in order.permutation(len(BATCH_JOBS))) + "\n")
        write_corpus(os.path.join(root, "corpus"), docs)
        w, c = gen_names(rng_for(seed, "names"), os.path.join(root, "names.txt"))
        expected["word_count"], expected["char_count"] = w, c
        expected["peak_numbers"] = gen_calls(rng_for(seed, "calls"), os.path.join(root, "calls.txt"))
        expected["suspects"] = gen_suspects(rng_for(seed, "suspects"),
                                            os.path.join(root, "suspects.txt"))
    elif workload == "ingest":
        gen_ingest(rng_for(seed, "ingest"), docs, root)
    else:
        raise ValueError(f"unknown workload {workload!r}")
    with open(os.path.join(root, "expected.json"), "w") as f:
        json.dump(expected, f, sort_keys=True)
    return expected
