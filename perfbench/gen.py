"""Seeded input generator and ground truth for the three benchmark workloads.

    python3 perfbench/gen.py <workload> <seed> <out_dir>

writes the workload's inputs under <out_dir>/in, the ground truth the
checks compare against to <out_dir>/truth.json, and a sha256 of every
input file to <out_dir>/manifest.json. The same seed always gives the same
bytes; `verify` re-hashes the inputs before every run.
"""
import datetime as dt
import hashlib
import itertools
import json
import os
import sys
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

UTC = dt.timezone.utc
EPOCH = dt.datetime(1970, 1, 1, tzinfo=UTC)

# ---- sizes (the reference record in perfbench/REFERENCE.md quotes these) ----

# export: name -> (rows, files, date column or None, NULL-date share, date range)
EXPORT_TABLES = {
    "orders": (240_000, 8, "created_at", 0.03, ("2019-07-01", "2023-06-30")),
    "events": (160_000, 6, "ts", 0.05, None),
    "users": (40_000, 3, "signup", 0.02, ("2020-01-01", None)),
    "audit": (60_000, 3, None, 0.0, None),
}
EXPORT_ROW_GROUP = 15_000
EXPORT_SPAN = ("2018-01-01", "2025-01-01")  # dates drawn uniformly in [a, b)

CORPUS_DOCS = 8_000
CORPUS_VECS = 3_000
CORPUS_VOCAB = 6_000
CORPUS_ZIPF = 1.1
CORPUS_FILES = 4
# the engine vocabulary the registered text queries search for (BM25's
# query terms among them) takes the head ranks of the Zipf vocabulary
ENGINE_WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast", "filter",
                "group", "hash", "join", "key", "line", "merge", "order", "part", "query", "row",
                "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector",
                "window"]
DIM = 64
LANGS = ["en", "es", "de", "fr", "zh"]
SOURCES = [f"src{i}" for i in range(20)]
# planted within the first 200 doc ids, the scope of the n-gram/MinHash ops
SCOPED_EXACT = [(i, 100 + i) for i in range(8)]
SCOPED_NEAR = [(8 + i, 108 + i) for i in range(8)]
# a planted path of 12 scoped docs: doc k shares one 12-token block with
# doc k+1 and nothing with any other doc, so the near-dup graph has one
# component of diameter 11 whatever the seed. It sets how many rounds the
# connected-components loop of pipeline_canonical_dedup runs, which the
# seed's chance edges (diameter <= 4 when measured) would otherwise decide.
CHAIN = list(range(16, 28))
CHAIN_BLOCK = 12
CLUSTERS = 40
CLUSTER_SIZE = 24

DOCSTORE_INITIAL = 12_000
DOCSTORE_BATCHES = 2
DOCSTORE_INSERTS = 1_000
DOCSTORE_UPDATES = 500
DOCSTORE_DELETES = 250
DOCSTORE_COMPACT_EVERY = 2
DOCSTORE_HALVES = [y * 10 + h for y in (2023, 2024) for h in (1, 2)]


def _us(day):
    return int((dt.datetime.fromisoformat(day).replace(tzinfo=UTC) - EPOCH).total_seconds()) * 1_000_000


def _year_of_us(us):
    return (np.datetime64("1970-01-01", "us") + us.astype("timedelta64[us]")).astype("datetime64[Y]").astype(int) + 1970


def _words(rng, n, lo=3, hi=9):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    out, seen = [], set()
    while len(out) < n:
        w = "".join(rng.choice(letters, rng.integers(lo, hi + 1)))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def _join(words):
    out = words[:, 0]
    for j in range(1, words.shape[1]):
        out = np.char.add(np.char.add(out, " "), words[:, j])
    return out


def _write_split(table, path, files, row_group):
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    for i in range(files):
        a, b = n * i // files, n * (i + 1) // files
        pq.write_table(table.slice(a, b - a), os.path.join(path, f"part-{i:05d}.parquet"),
                       row_group_size=row_group, compression="snappy")


# ---------------------------------------------------------------- export

def gen_export(rng, out):
    lo, hi = _us(EXPORT_SPAN[0]), _us(EXPORT_SPAN[1])
    vocab = _words(rng, 400)
    truth = {}
    key = 0
    for name, (rows, files, date_col, null_share, rng_range) in EXPORT_TABLES.items():
        ids = np.arange(key, key + rows, dtype=np.int64)
        key += rows
        cols = {
            "id": ids,
            "owner": np.char.add("u", rng.integers(100_000, 150_000, rows).astype(str)),
            "amount": np.round(rng.gamma(2.0, 40.0, rows), 2),
            "status": rng.choice(["new", "paid", "shipped", "returned", "void"], rows),
            "note": _join(rng.choice(vocab, (rows, 4))),
        }
        if date_col is None:
            truth[name] = {"rows_in": rows, "partitions": {"unknown": rows}}
        else:
            us = rng.integers(lo, hi, rows, dtype=np.int64)
            null = rng.random(rows) < null_share
            cols[date_col] = pa.array(us, type=pa.timestamp("us", tz="UTC"), mask=null)
            keep = ~null
            if rng_range is not None:
                a, b = rng_range
                if a:
                    keep &= us >= _us(a)
                if b:
                    keep &= us <= _us(b)
            else:
                keep = np.ones(rows, dtype=bool)
            parts = {}
            years, counts = np.unique(_year_of_us(us[keep & ~null]), return_counts=True)
            parts.update({str(int(y)): int(c) for y, c in zip(years, counts)})
            n_unknown = int((keep & null).sum())
            if n_unknown:
                parts["unknown"] = n_unknown
            truth[name] = {"rows_in": rows, "partitions": parts}
        _write_split(pa.table(cols), os.path.join(out, "in", f"{name}.parquet"), files, EXPORT_ROW_GROUP)
    for t in truth.values():
        t["rows_out"] = sum(t["partitions"].values())
    cfg = {
        "date_columns": {n: (spec[2] or "") for n, spec in EXPORT_TABLES.items()},
        "date_ranges": {n: [spec[4][0], spec[4][1] or ""] for n, spec in EXPORT_TABLES.items() if spec[4]},
    }
    return {"tables": truth, "config": cfg}


# ---------------------------------------------------------------- corpus

def gen_corpus(rng, out, n_docs=CORPUS_DOCS, n_vecs=CORPUS_VECS, n_vocab=CORPUS_VOCAB, zipf=CORPUS_ZIPF,
               lens=(20, 60)):
    head = list(rng.permutation(ENGINE_WORDS))
    vocab = np.array(head + [w for w in _words(rng, n_vocab) if w not in ENGINE_WORDS][:n_vocab - len(head)])
    p = 1.0 / np.arange(1, n_vocab + 1) ** zipf
    p /= p.sum()
    lens = rng.integers(lens[0], lens[1] + 1, n_docs)
    flat = vocab[rng.choice(n_vocab, int(lens.sum()), p=p)]
    bounds = np.concatenate([[0], np.cumsum(lens)])
    words = [list(flat[bounds[i]:bounds[i + 1]]) for i in range(n_docs)]
    # planted duplicates: scoped pairs plus one exact and one near copy per
    # 100 docs across the rest of the corpus
    exact = list(SCOPED_EXACT) + [(i - 100, i) for i in range(300, n_docs, 100)]
    near = list(SCOPED_NEAR) + [(i - 100, i) for i in range(350, n_docs, 100)]
    for a, b in exact:
        words[b] = list(words[a])
    for a, b in near:
        w = list(words[a])
        for j in rng.choice(len(w), max(1, len(w) // 10), replace=False):
            w[j] = vocab[(np.flatnonzero(vocab == w[j])[0] + rng.integers(1, n_vocab)) % n_vocab]
        words[b] = w
    blocks = [[f"chain{k}x{j}" for j in range(CHAIN_BLOCK)] for k in range(len(CHAIN) + 1)]
    for k, d in enumerate(CHAIN):
        words[d] = blocks[k] + blocks[k + 1]
    text = [" ".join(w) for w in words]
    lang = rng.choice(LANGS, n_docs)
    source = rng.choice(SOURCES, n_docs)
    docs = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": text,
        "lang": lang,
        "source": source,
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    })
    _write_split(docs, os.path.join(out, "in", "documents.parquet"), CORPUS_FILES, 4_000)

    vecs = rng.standard_normal((n_vecs, DIM)).astype(np.float32)
    clusters = []
    for c in range(CLUSTERS):
        members = list(range(c * CLUSTER_SIZE, (c + 1) * CLUSTER_SIZE)) if c == 0 else \
            sorted(rng.choice(np.arange(CLUSTERS * CLUSTER_SIZE, n_vecs), CLUSTER_SIZE, replace=False).tolist())
        centre = rng.standard_normal(DIM)
        for m in members:
            vecs[m] = (centre + 0.08 * rng.standard_normal(DIM)).astype(np.float32)
        clusters.append(members)
    emb = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vecs).astype(np.int32),
    })
    _write_split(emb, os.path.join(out, "in", "embeddings.parquet"), CORPUS_FILES, 2_000)

    # ground truth: dedup_exact_key survivors (min doc_id per lang/source)
    survivors = {}
    for i in range(n_docs):
        survivors.setdefault((lang[i], source[i]), i)
    exact_key = sorted([l, s, i, len(text[i])] for (l, s), i in survivors.items())
    # sim_topk_cosine: top 10 neighbours of vec 0 by double-precision cosine
    v = vecs.astype(np.float64)
    cos = v[1:] @ v[0] / (np.sqrt((v[1:] ** 2).sum(1)) * np.sqrt((v[0] ** 2).sum()))
    order = np.lexsort((np.arange(1, n_vecs), -cos))[:10]
    topk = [[int(j + 1), float(cos[j])] for j in order]
    # dedup_ngram_jaccard's Jaccard-1.0 pairs: scoped docs with equal
    # bigram sets (the planted exact copies, plus any chance collision)
    groups = {}
    for i in range(200):
        groups.setdefault(frozenset(zip(words[i], words[i][1:])), []).append(i)
    scoped = sorted([a, b] for g in groups.values() for a, b in itertools.combinations(g, 2))
    return {
        "dedup_exact_key": exact_key,
        "scoped_exact_pairs": scoped,
        "exact_dup_pairs": sorted([a, b] for a, b in exact),
        "near_dup_pairs": sorted([a, b] for a, b in near),
        "chain": CHAIN,
        "sim_topk_cosine": topk,
        "cluster_of_vec0": clusters[0],
        "rows_in": n_docs + n_vecs,
    }


# ---------------------------------------------------------------- docstore

def gen_docstore(rng, out):
    half_us = {h: _us(f"{h // 10}-{6 * (h % 10) - 5:02d}-01") for h in DOCSTORE_HALVES}

    def rows(keys):
        n = len(keys)
        halves = rng.choice(DOCSTORE_HALVES, n)
        return {
            "doc_key": np.asarray(keys, dtype=np.int64),
            "body": np.array([f"doc-{k}-" + "x" * int(l) for k, l in zip(keys, rng.integers(8, 48, n))]),
            "score": np.round(rng.random(n) * 100, 3),
            "ver": np.ones(n, dtype=np.int32),
            "updated_at": pa.array([half_us[h] + int(s) * 1_000_000 for h, s in zip(halves, rng.integers(0, 86400 * 181, n))],
                                   type=pa.timestamp("us", tz="UTC")),
            "p_half": halves.astype(np.int32),
        }

    d = os.path.join(out, "in")
    os.makedirs(d, exist_ok=True)
    init = rows(np.arange(DOCSTORE_INITIAL))
    pq.write_table(pa.table(init), os.path.join(d, "initial.parquet"), row_group_size=10_000)
    # the live-key model: key -> (ver, p_half)
    live = {int(k): (1, int(h)) for k, h in zip(init["doc_key"], init["p_half"])}
    next_key = DOCSTORE_INITIAL
    batches = []
    for b in range(DOCSTORE_BATCHES):
        ins = rows(np.arange(next_key, next_key + DOCSTORE_INSERTS))
        next_key += DOCSTORE_INSERTS
        pq.write_table(pa.table(ins), os.path.join(d, f"b{b}_insert.parquet"))
        for k, h in zip(ins["doc_key"], ins["p_half"]):
            live[int(k)] = (1, int(h))
        keys = np.array(sorted(live))
        picked = rng.choice(keys, DOCSTORE_UPDATES + DOCSTORE_DELETES, replace=False)
        upd, dele = np.sort(picked[:DOCSTORE_UPDATES]), np.sort(picked[DOCSTORE_UPDATES:])
        pq.write_table(pa.table({
            "doc_key": upd.astype(np.int64),
            "score": np.round(rng.random(len(upd)) * 100, 3),
        }), os.path.join(d, f"b{b}_update.parquet"))
        pq.write_table(pa.table({"doc_key": dele.astype(np.int64)}), os.path.join(d, f"b{b}_delete.parquet"))
        for k in upd:
            v, m = live[int(k)]
            live[int(k)] = (v + 1, m)
        for k in dele:
            del live[int(k)]
        # reads: a point key (one in five already deleted), two adjacent
        # half-years out of four
        probe = int(rng.choice(dele)) if rng.random() < 0.2 else int(rng.choice(list(live)))
        lo_i = int(rng.integers(0, len(DOCSTORE_HALVES) - 1))
        h_lo, h_hi = DOCSTORE_HALVES[lo_i], DOCSTORE_HALVES[lo_i + 1]
        in_range = [k for k, (_, h) in live.items() if h_lo <= h <= h_hi]
        batches.append({
            "live_count": len(live),
            "checksum": sum(k * v for k, (v, _) in live.items()),
            "point_key": probe,
            "point_ver": live[probe][0] if probe in live else None,
            "range": [h_lo, h_hi],
            "range_count": len(in_range),
            "range_key_sum": sum(in_range),
        })
    return {
        "initial_rows": DOCSTORE_INITIAL,
        "batches": batches,
        "compact_every": DOCSTORE_COMPACT_EVERY,
        "rows_in": DOCSTORE_INITIAL + DOCSTORE_BATCHES * (DOCSTORE_INSERTS + DOCSTORE_UPDATES + DOCSTORE_DELETES),
    }


def gen_corpus_fixture(rng, out):
    """The corpus mix at the size and shape of the repo's sf0.1 test
    fixture (5,000 documents of 10-100 words drawn uniformly from the
    31-word engine vocabulary, 2,000 vectors): the input an earlier
    version of this mix used. Kept for the noise postmortem in
    REFERENCE.md, not one of the benchmark's workloads."""
    return gen_corpus(rng, out, n_docs=5_000, n_vecs=2_000, n_vocab=len(ENGINE_WORDS), zipf=0.0, lens=(10, 100))


GENERATORS = {"export": gen_export, "corpus_prep": gen_corpus, "docstore_ingest": gen_docstore,
              "corpus_prep_fixture": gen_corpus_fixture}


def _files(out):
    base = os.path.join(out, "in")
    for root, _, names in os.walk(base):
        for n in sorted(names):
            yield os.path.relpath(os.path.join(root, n), out)


def _sha(path):
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def generate(workload, seed, out):
    rng = np.random.default_rng([seed, zlib.crc32(workload.encode())])
    truth = GENERATORS[workload](rng, out)
    files = sorted(_files(out))
    truth["in_bytes"] = sum(os.path.getsize(os.path.join(out, f)) for f in files)
    truth["seed"] = seed
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f)
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump({f: _sha(os.path.join(out, f)) for f in files}, f, indent=0)


def verify(out):
    """True when every input file named in the manifest hashes as recorded
    and no other input file exists."""
    try:
        with open(os.path.join(out, "manifest.json")) as f:
            manifest = json.load(f)
    except (OSError, ValueError):
        return False
    return sorted(_files(out)) == sorted(manifest) and \
        all(_sha(os.path.join(out, f)) == h for f, h in manifest.items())


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
