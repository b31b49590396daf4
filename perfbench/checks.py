"""Correctness checks, run after the harness JVM has exited.

Each check compares the harness's outputs with an independent engine over
the same inputs (DuckDB for tables, numpy for vectors) and returns
(failed, details): `failed` names the ops whose output was wrong (or a
label for a wrong whole-run output), and `details` holds the figures.
"""
import json
import math
import os

import duckdb

MIN_TOKENS, MIN_DISTINCT = 8, 0.3     # the corpus quality gate of CorpusDedup.scala
MIN_DEDUP_RECALL = 0.95
MIN_KNN_RECALL = 0.9


def _close(a, b):
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-6)


def seoul(inp, work, result):
    """Audit rows and column checksums of every dataset against DuckDB
    reading the same CSVs: malformed lines (wrong field count) are skipped,
    surviving lines are numbered in file order, and bad values become NULL
    through try_cast, as the lenient path does."""
    con = duckdb.connect()
    con.execute("SET threads TO 1")   # keeps read_csv in file order
    checks = result["checks"]
    failed, mismatches = [], []
    lines = open(f"{inp}/seoul/manifest.tsv").read().splitlines()[1:]
    for line in lines:
        i, _mode, dirty, resume, rows, rows2, types = line.split("\t")
        table = f"NLDATA_{int(i):06d}"
        types = types.split("|")
        op = f"{table}:b{2 if resume == '1' else 1}"
        path = f"{inp}/seoul/{'csv2' if resume == '1' else 'csv'}/{table}.csv"
        total = int(rows2 if resume == "1" else rows)
        cols = ", ".join(f"'c{j}': 'VARCHAR'" for j in range(len(types)))
        con.execute(f"""CREATE OR REPLACE TEMP TABLE t AS
            SELECT row_number() OVER () AS id, * FROM read_csv('{path}', header=true,
              auto_detect=false, delim=',', quote='"', columns={{{cols}}},
              ignore_errors=true)""")
        clean = con.execute("SELECT count(*) FROM t").fetchone()[0]
        want = {"data_insert_row": clean, "high_water_mark": clean or None,
                "data_quarantine_row": total - clean if dirty == "1" else 0}
        got = checks["audits"].get(table)
        if got != want:
            failed.append(op)
            mismatches.append({"table": table, "want": want, "got": got})
            continue
        exprs = []
        for j, t in enumerate(types):
            v = {"NUMBER": f"try_cast(c{j} AS BIGINT)",
                 "DATE": f"epoch(try_cast(c{j} AS TIMESTAMP))"}.get(t, f"length(c{j})")
            exprs += [f"count({v})", f"sum({v})::DOUBLE"]
        exprs += ["count(id)", "sum(id)::DOUBLE"]
        want_sums = list(con.execute(f"SELECT {', '.join(exprs)} FROM t").fetchone())
        got_sums = list(checks["checksums"][table].values())
        if len(got_sums) != len(want_sums) or not all(map(_close, got_sums, want_sums)):
            failed.append(op)
            mismatches.append({"table": table, "want": want_sums, "got": got_sums})
    def size(d):
        return sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(d)
                   for f in fs if f.endswith(".parquet"))
    read = sum(os.path.getsize(f"{inp}/seoul/csv/NLDATA_{int(l.split()[0]):06d}.csv")
               + (os.path.getsize(f"{inp}/seoul/csv2/NLDATA_{int(l.split()[0]):06d}.csv")
                  if l.split("\t")[3] == "1" else 0) for l in lines)
    written = sum(size(f"{work}/out/NLDATA_{int(l.split()[0]):06d}") for l in lines)
    return failed, {"datasets_checked": len(lines), "mismatches": mismatches[:5],
                    "stored_ratio": written / read}


def corpus(inp, work, result):
    """Exact-dedup survivors against DuckDB (same gate, same fingerprint),
    and the share of planted near-duplicate pairs that land in one
    cluster."""
    con = duckdb.connect()
    src = f"{inp}/corpus/corpus.parquet"
    want = con.execute(f"""
        WITH d AS (
          SELECT text, list_filter(string_split_regex(lower(nfc_normalize(text)), '\\s+'),
                                   x -> x <> '') AS toks FROM '{src}')
        SELECT count(DISTINCT md5(trim(regexp_replace(lower(nfc_normalize(text)), '\\s+', ' ', 'g'))))
        FROM d WHERE len(toks) >= {MIN_TOKENS} AND len(list_distinct(toks)) >= len(toks) * {MIN_DISTINCT}
        """).fetchone()[0]
    got = result["checks"]["exact_survivors"]
    roots = dict(con.execute(f"SELECT id, root FROM '{work}/out/corpus/clusters/*.parquet'").fetchall())
    pairs = json.load(open(f"{inp}/corpus/planted_pairs.json"))
    hit = sum(1 for a, b in pairs if a in roots and roots.get(a) == roots.get(b))
    recall = hit / len(pairs)
    failed = []
    if got != want:
        failed.append("exact")
    if recall < MIN_DEDUP_RECALL:
        failed.append("clusters")
    return failed, {"exact_survivors": got, "exact_survivors_duckdb": want,
                    "kept_docs": result["checks"]["kept_docs"], "dedup_recall": recall,
                    "planted_pairs": len(pairs)}


def embed(inp, work, result):
    """Neighbour recall of the final kNN graph against numpy brute force
    on a fixed sample of planted-cluster members: recall@3 (the planted
    neighbours, gated) and recall@k. Also the planted clusters found whole."""
    import numpy as np
    vecs = np.load(f"{inp}/embed/vectors.npy").astype(np.float64)
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    planted = json.load(open(f"{inp}/embed/planted.json"))
    k = result["checks"]["k"]
    con = duckdb.connect()
    rows = con.execute(f"""SELECT src, dst FROM '{work}/out/embed/knn_graph/*.parquet'
        ORDER BY src, round(cos, 6) DESC, dst""").fetchall()
    graph = {}
    for a, b in rows:
        graph.setdefault(a, []).append(b)
    near = len(planted["clusters"][0]) - 1
    r_near, r_k = [], []
    for v in planted["sample"]:
        cos = unit @ unit[v - 1]
        cos[v - 1] = -np.inf
        exact = [int(i) + 1 for i in np.argsort(-cos, kind="stable")[:k]]
        got = graph.get(v, [])
        r_near.append(len(set(got[:near]) & set(exact[:near])) / near)
        r_k.append(len(set(got[:k]) & set(exact)) / k)
    roots = dict(con.execute(f"SELECT id, root FROM '{work}/out/embed/clusters/*.parquet'").fetchall())
    whole = sum(1 for c in planted["clusters"]
                if all(x in roots for x in c) and len({roots[x] for x in c}) == 1)
    knn_recall = sum(r_near) / len(r_near)
    failed = ["vec_nndescent2"] if knn_recall < MIN_KNN_RECALL else []
    return failed, {"knn_recall": knn_recall, f"knn_recall_at_{k}": sum(r_k) / len(r_k),
                    "sample": len(r_near), "clusters_whole": whole,
                    "clusters_planted": len(planted["clusters"])}


def run(workload, inp, work, result):
    parts = {"seoul_ingest": [seoul], "corpus_dedup": [corpus, embed]}[workload]
    failed, details = [], {}
    for check in parts:
        f, d = check(inp, work, result)
        failed += f
        details.update(d)
    return failed, details


if __name__ == "__main__":
    import sys
    w, inp, work = sys.argv[1:4]
    with open(os.path.join(work, "result.json")) as f:
        print(json.dumps(run(w, inp, work, json.load(f)), indent=1))
