"""Seeded input generators for the benchmark workloads.

Every generator takes the output directory and the seed and writes the
same bytes for the same seed (`digest` hashes a directory so a run can
print it). Sizes are fixed; the seed only changes contents, so runs with
different seeds do the same amount of work.

    python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import hashlib
import json
import os
import sys
import unicodedata

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- seoul_ingest

# One row per dataset, in ingest order: (rows, path, columns, resumed). Sizes
# follow rank^-1.1 from 20k rows; the seed changes values, column order and
# which lines are malformed, never the amount or shape of the work.
SEOUL_DATASETS = [(20000, "csv", 8, True), (9300, "openapi", 6, False), (6000, "dirty", 7, True),
                  (4400, "csv", 9, False), (2800, "csv", 4, False)]
SEOUL_BAD_SHARE = 0.03      # share of malformed lines, and of malformed values

GU = ["강남구", "서초구", "종로구", "마포구", "용산구", "성동구", "노원구", "은평구",
      "Gangnam", "Seocho", "Jongno", "Mapo", "Yongsan", "Seongdong"]
WORDS = ["공원", "도서관", "주차장", "정류소", "시장", "병원", "학교", "센터",
         "park", "library", "parking", "station", "market", "clinic", "school"]
COLUMN_BASES = ["STN_ID", "GU_NAME", "DONG_NAME", "REG_DATE", "USE_CNT", "ADDR",
                "LAT_E6", "LNG_E6", "OPEN_DATE", "CATEGORY", "PRICE", "TITLE"]
CATEGORIES = [("환경", "대기"), ("교통", "버스"), ("교통", "지하철"), ("복지", "노인"),
              ("문화", "공연"), ("안전", "소방"), ("경제", "일자리")]
BAD_NUMBERS = ["N/A", "12x", "-", "unknown"]
BAD_DATES = ["unknown", "2020-13-45", "N/A"]


def _table(i):
    return f"NLDATA_{i:06d}"


def _values(rng, typ, n):
    if typ == "NUMBER":
        return rng.integers(-1_000_000, 1_000_000, n).astype(str)
    if typ == "DATE":
        days = rng.integers(0, 3650, n).astype("timedelta64[D]")
        return (np.datetime64("2015-01-01") + days).astype(str)
    gu = np.array(GU)[rng.integers(0, len(GU), n)]
    word = np.array(WORDS)[rng.integers(0, len(WORDS), n)]
    num = rng.integers(1, 500, n).astype(str)
    return np.char.add(np.char.add(np.char.add(gu, " "), word), np.char.add(" ", num))


def _lines(rng, types, n, dirty):
    cols = [_values(rng, t, n) for t in types]
    if dirty:
        for c, t in zip(cols, types):
            if t == "VARCHAR2":
                continue
            bad = rng.random(n) < SEOUL_BAD_SHARE
            pool = np.array(BAD_NUMBERS if t == "NUMBER" else BAD_DATES)
            c[bad] = pool[rng.integers(0, len(pool), int(bad.sum()))]
    rows = [",".join(r) for r in zip(*cols)]
    if dirty:
        for i in np.nonzero(rng.random(n) < SEOUL_BAD_SHARE)[0]:
            # wrong column count: one field short, or one extra
            f = rows[i].split(",")
            rows[i] = ",".join(f[:-1]) if rng.random() < 0.5 else rows[i] + ",extra"
    return rows


def gen_seoul(out, seed):
    rng = np.random.default_rng(seed)
    os.makedirs(f"{out}/csv")
    os.makedirs(f"{out}/csv2")
    n = len(SEOUL_DATASETS)
    manifest = ["id\tmode\tdirty\tresume\trows\trows2\ttypes"]
    columns = {"dataset_id": [], "physical_column_name": [], "physical_column_type": [],
               "physical_column_order": []}
    cells = {"page_id": [], "cells": []}
    catalog = {"id": [], "title": [], "category_big": [], "category_small": []}
    pages = {"id": [], "page_text": []}
    for i, (size, kind, ncol, resumed) in enumerate(SEOUL_DATASETS, 1):
        names = [f"{COLUMN_BASES[int(b)]}_{j:02d}"
                 for j, b in enumerate(rng.integers(0, len(COLUMN_BASES), ncol), 1)]
        mix = ["NUMBER"] * (ncol // 3) + ["DATE"] * (ncol // 4)
        mix += ["VARCHAR2"] * (ncol - len(mix))
        types = ["VARCHAR2"] * ncol if kind == "openapi" else [mix[k] for k in rng.permutation(ncol)]
        if kind == "openapi":
            flat = ["공통", "KEY", "인증키", "공통", "TYPE", "요청파일타입"]
            for name in names:
                flat += ["출력값", name, f"{name} 설명"]
            cells["page_id"].append(i)
            cells["cells"].append(flat)
        else:
            for j, (name, t) in enumerate(zip(names, types), 1):
                columns["dataset_id"].append(i)
                columns["physical_column_name"].append(name)
                columns["physical_column_type"].append(t)
                columns["physical_column_order"].append(j)
        big, small = CATEGORIES[int(rng.integers(0, len(CATEGORIES)))]
        known = rng.random() < 0.6
        catalog["id"].append(i)
        catalog["title"].append(f"서울시 {WORDS[i % len(WORDS)]} 현황 {i}")
        catalog["category_big"].append(big if known else None)
        catalog["category_small"].append(small if known else None)
        pages["id"].append(i)
        pages["page_text"].append(
            f'<div class="detail"><strong class="side-detail-ctg">{big}</strong>'
            f'<table><tr><td class="cate-s"> {small} </td></tr></table></div>')

        dirty = kind == "dirty"
        rows = _lines(rng, types, size, dirty)
        header = ",".join(names) + "\n"
        body = "\n".join(rows) + "\n"
        with open(f"{out}/csv/{_table(i)}.csv", "w", encoding="utf-8") as f:
            f.write(header + body)
        rows2 = 0
        if resumed:
            extra = _lines(rng, types, max(10, len(rows) // 10), dirty)
            rows2 = len(rows) + len(extra)
            with open(f"{out}/csv2/{_table(i)}.csv", "w", encoding="utf-8") as f:
                f.write(header + body + "\n".join(extra) + "\n")
        manifest.append(f"{i}\t{'csv' if kind == 'dirty' else kind}\t{int(dirty)}"
                        f"\t{int(resumed)}\t{len(rows)}\t{rows2}\t{'|'.join(types)}")

    with open(f"{out}/manifest.tsv", "w") as f:
        f.write("\n".join(manifest) + "\n")
    pq.write_table(pa.table({
        "dataset_id": pa.array(columns["dataset_id"], pa.int64()),
        "physical_column_name": columns["physical_column_name"],
        "physical_column_type": columns["physical_column_type"],
        "physical_column_order": pa.array(columns["physical_column_order"], pa.int64())}),
        f"{out}/columns.parquet")
    pq.write_table(pa.table({"page_id": pa.array(cells["page_id"], pa.int64()),
                             "cells": pa.array(cells["cells"], pa.list_(pa.string()))}),
                   f"{out}/doc_cells.parquet")
    pq.write_table(pa.table({"id": pa.array(catalog["id"], pa.int64()),
                             "title": catalog["title"],
                             "category_big": pa.array(catalog["category_big"], pa.string()),
                             "category_small": pa.array(catalog["category_small"], pa.string())}),
                   f"{out}/catalog.parquet")
    pq.write_table(pa.table({"id": pa.array(pages["id"], pa.int64()),
                             "page_text": pages["page_text"]}), f"{out}/pages.parquet")


# ---------------------------------------------------------------- corpus_dedup

CORPUS_DOCS = 2000
CORPUS_VOCAB = 6000         # words per language; ranks drawn Zipf(1.07)
CORPUS_EXACT = 0.06         # share of docs that are exact copies (case, space, NFD variants)
CORPUS_NEAR = 60            # near-duplicate clusters of 2-4 docs, Jaccard >= 0.85 to the base
CORPUS_LOW = 0.05           # share of low-quality docs: too short or repetitive
HANGUL = (0xAC00, 0xD7A4)


def _vocab(rng, n, hangul):
    words = {}
    while len(words) < n:
        k = int(rng.integers(1, 4) if hangul else rng.integers(2, 10))
        w = "".join(chr(int(c)) for c in rng.integers(*HANGUL, k)) if hangul else \
            "".join(chr(97 + int(c)) for c in rng.integers(0, 26, k))
        words.setdefault(w, None)
    return np.array(list(words))


def _zipf_p(n, a=1.07):
    p = 1.0 / np.arange(1, n + 1) ** a
    return p / p.sum()


def gen_corpus(out, seed):
    # the vocabulary is the language, fixed across seeds; the seed draws the documents
    fixed = np.random.default_rng(0)
    vocab = {"ko": _vocab(fixed, CORPUS_VOCAB, True), "en": _vocab(fixed, CORPUS_VOCAB, False)}
    rng = np.random.default_rng(seed)
    p = _zipf_p(CORPUS_VOCAB)
    n = CORPUS_DOCS
    n_exact, n_low = int(n * CORPUS_EXACT), int(n * CORPUS_LOW)
    sizes = np.resize([2, 3, 4], CORPUS_NEAR)
    n_variants = int((sizes - 1).sum())
    n_base = n - n_exact - n_low - n_variants

    def doc(lang, length):
        other = "en" if lang == "ko" else "ko"
        own = rng.random(length) < 0.85
        idx = rng.choice(CORPUS_VOCAB, length, p=p)
        return [vocab[lang][i] if o else vocab[other][i] for i, o in zip(idx, own)]

    docs = []   # (lang, tokens or text)
    for k in range(n_base):
        lang = "ko" if k % 2 else "en"
        docs.append((lang, doc(lang, int(np.clip(np.exp(rng.normal(3.9, 0.5)), 10, 300)))))
    near, planted = [], []
    bases = rng.choice(n_base, CORPUS_NEAR, replace=False)
    for b, size in zip(bases, sizes):
        lang, toks = docs[b]
        for _ in range(size - 1):
            while True:
                v = list(toks)
                for j in rng.choice(len(v), max(1, len(v) // 40), replace=False):
                    v[j] = vocab[lang][int(rng.integers(0, CORPUS_VOCAB))]
                sa, sv = set(toks), set(v)
                if v != toks and len(sa & sv) / len(sa | sv) >= 0.85:
                    break
            near.append((int(b), (lang, v)))
    texts = [(lang, " ".join(t)) for lang, t in docs]
    exact = []
    pool = np.setdiff1d(np.arange(n_base), bases)
    for src in rng.choice(pool, n_exact):
        lang, text = texts[src]
        r = rng.random()
        if lang == "ko" and r < 0.4:
            text = unicodedata.normalize("NFD", text)
        elif r < 0.4:
            text = text.upper()
        elif r < 0.7:
            text = "  " + text.replace(" ", "  ", 3) + " "
        exact.append((lang, text))
    low = []
    for k in range(n_low):
        lang = "ko" if k % 2 else "en"
        toks = doc(lang, int(rng.integers(2, 8))) if k % 4 < 2 else \
            [vocab[lang][int(rng.integers(0, 50))]] * int(rng.integers(20, 60))
        low.append((lang, " ".join(toks)))

    rows = texts + [(lang, " ".join(v)) for _, (lang, v) in near] + exact + low
    order = rng.permutation(len(rows))          # row k gets doc_id pos[k] + 1
    pos = np.empty_like(order)
    pos[order] = np.arange(len(rows))
    for k, (b, _) in enumerate(near):
        planted.append([int(pos[b]) + 1, int(pos[n_base + k]) + 1])
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(1, len(rows) + 1), pa.int64()),
        "lang": [rows[k][0] for k in order],
        "text": [rows[k][1] for k in order]}), f"{out}/corpus.parquet")
    with open(f"{out}/rows.txt", "w") as f:
        f.write(f"{len(rows)}\n")
    with open(f"{out}/planted_pairs.json", "w") as f:
        json.dump(planted, f)


# ------------------------------------------- corpus_dedup, document embeddings

EMBED_VECTORS = 1000
EMBED_DIM = 768
EMBED_CLUSTERS = 30         # planted clusters of 4: noise norm 0.15, pairwise cosine ~0.98
EMBED_CLUSTER_SIZE = 4
EMBED_QUERIES = 10
EMBED_SAMPLE = 30           # planted members whose neighbours are checked


def _list_column(m):
    m = np.ascontiguousarray(m, dtype=np.float32)
    offsets = pa.array(np.arange(0, m.size + 1, m.shape[1], dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, pa.array(m.reshape(-1)))


def gen_embed(out, seed):
    rng = np.random.default_rng(seed)
    d, n = EMBED_DIM, EMBED_VECTORS
    centers = rng.standard_normal((EMBED_CLUSTERS, d))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    members = np.repeat(centers, EMBED_CLUSTER_SIZE, axis=0) \
        + 0.15 * rng.standard_normal((EMBED_CLUSTERS * EMBED_CLUSTER_SIZE, d)) / np.sqrt(d)
    background = rng.standard_normal((n - len(members), d)) / np.sqrt(d)
    vecs = np.vstack([members, background]).astype(np.float32)
    order = rng.permutation(n)                  # row k gets vec_id pos[k] + 1
    pos = np.empty_like(order)
    pos[order] = np.arange(n)
    vecs = vecs[order]
    clusters = [[int(pos[c * EMBED_CLUSTER_SIZE + j]) + 1 for j in range(EMBED_CLUSTER_SIZE)]
                for c in range(EMBED_CLUSTERS)]
    base = rng.choice(n, EMBED_QUERIES, replace=False)
    queries = vecs[base] + 0.2 * rng.standard_normal((EMBED_QUERIES, d)).astype(np.float32) / np.sqrt(d)
    pq.write_table(pa.table({"vec_id": pa.array(np.arange(1, n + 1), pa.int64()),
                             "v": _list_column(vecs)}), f"{out}/vectors.parquet")
    pq.write_table(pa.table({"q_id": pa.array(np.arange(1, EMBED_QUERIES + 1), pa.int64()),
                             "qv": _list_column(queries)}), f"{out}/queries.parquet")
    np.save(f"{out}/vectors.npy", vecs)
    flat = [v for c in clusters for v in c]
    with open(f"{out}/rows.txt", "w") as f:
        f.write(f"{n}\n")
    with open(f"{out}/planted.json", "w") as f:
        json.dump({"clusters": clusters,
                   "sample": sorted(int(x) for x in rng.choice(flat, EMBED_SAMPLE, replace=False))}, f)


# -------------------------------------------------------------------- common

GENERATORS = {"seoul_ingest": [("seoul", gen_seoul)],
              "corpus_dedup": [("corpus", gen_corpus), ("embed", gen_embed)]}


def generate(workload, seed, root):
    """Write the inputs of `workload` under root/<subdir>, one subdir per
    generator; return root."""
    for sub, fn in GENERATORS[workload]:
        out = os.path.join(root, sub)
        os.makedirs(out)
        fn(out, seed)
    return root


def digest(path):
    """sha256 over every file's relative path and bytes, in sorted order."""
    h = hashlib.sha256()
    for d, dirs, files in os.walk(path):
        dirs.sort()
        for name in sorted(files):
            p = os.path.join(d, name)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


if __name__ == "__main__":
    w, s, o = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    print(json.dumps({"workload": w, "seed": s, "digest": digest(generate(w, s, o))}))
