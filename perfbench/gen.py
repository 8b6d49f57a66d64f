"""Seeded input generator for the benchmark workloads.

Every table is drawn from numpy's PCG64 stream seeded with
(seed, workload, table), written by pyarrow as one parquet file with
fixed options, so one seed always yields byte-identical files. The
schemas are the fixture schemas of FIXTURES.md; the value domains mirror
the fixture's (30-word vocabulary, NATION_<k> names, 1995-2001 dates), and
a fixed share of documents are near-duplicates of an earlier document
(its text plus the token "dup", the fixture's own near-duplicate shape).

Usage: python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import hashlib
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
NEAR_DUP_SHARE = 0.05
DIM = 64

# Row counts per workload, sized so a run (JVM start, set-up, one pass,
# checks) takes about 35-45 s: a regression check makes 70 runs in under
# an hour.
# batch_course stays job-bound rather than data-bound, the shape the
# reference's course programs have at sf0.1.
SIZES = {
    "batch_course": {"documents": 600, "embeddings": 600, "events": 6000,
                     "customer": 600, "supplier": 40, "part": 800,
                     "orders": 6000, "lineitem": 24000},
    "ann_mixed": {"embeddings": 2000, "ann_new": 400},
    "stream_ingest": {"backlog_files": 8, "docs_per_file": 60},
}
# batch_course programs (SparkEntry query names), run in this order:
# job-bound programs (pagerank, ~70 jobs) sit beside compute-bound ones
# (ngram_jaccard, pairs_pmi). Programs whose DuckDB oracle takes over a
# minute (near_dedup, dedup_components, curation_pipeline) are left out.
BATCH_PROGRAMS = [
    "wordcount", "pairs_pmi", "bigram_relfreq", "bm25_rank", "pagerank",
    "spam_train", "q5_monthly_shipments", "ngram_jaccard", "bpe_train"]
# ann_mixed pass: the closed-loop op sequence one pass replays.
ANN_READS_PER_WRITE = 3
ANN_WRITES_PER_COMPACT = 2
ANN_PASS_WRITES = 2
ANN_UPSERT_BATCH = 40
ANN_DELETE_BATCH = 20

BASE_DAY = np.datetime64("1995-01-01", "D")


def rng_for(seed, workload, table):
    key = hashlib.sha256(f"{seed}|{workload}|{table}".encode()).digest()
    return np.random.default_rng(int.from_bytes(key[:8], "little"))


def write(table, path):
    # Fixed writer options: one row group, no dictionary surprises across
    # versions, and the created_by string of the installed pyarrow.
    pq.write_table(table, path, row_group_size=1 << 30, compression="snappy",
                   use_dictionary=True, write_statistics=True)


def documents(rng, n, id0=0):
    texts, langs, sources = [], [], []
    for i in range(n):
        if i > 10 and rng.random() < NEAR_DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
        langs.append(LANGS[int(rng.choice(len(LANGS), p=LANG_P))])
        sources.append(f"src{(id0 + i) % 20}")
    return pa.table({
        "doc_id": pa.array(np.arange(id0, id0 + n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def mixture_vectors(rng, centers, n):
    """n float32 vectors around the given mixture centers, with labels."""
    labels = rng.integers(0, len(centers), n)
    v = centers[labels] + 0.35 * rng.standard_normal((n, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True) * 0.8).astype(np.float32)
    return v, labels.astype(np.int32)


def embeddings_table(ids, vecs, labels):
    return pa.table({
        "vec_id": pa.array(ids.astype(np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def centers_for(rng):
    c = rng.standard_normal((10, DIM))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def tpch(seed, wl, sz):
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    r = rng_for(seed, wl, "customer")
    n = sz["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": [f"Customer#{k:09d}" for k in range(n)],
        "c_nationkey": pa.array(r.integers(0, 25, n).astype(np.int32)),
        "c_acctbal": pa.array(np.round(r.uniform(-999, 9999, n), 2)),
        "c_mktsegment": [["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING",
                          "FURNITURE"][j] for j in r.integers(0, 5, n)]})
    r = rng_for(seed, wl, "supplier")
    n = sz["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
        "s_name": [f"Supplier#{k:09d}" for k in range(n)],
        "s_nationkey": pa.array(r.integers(0, 25, n).astype(np.int32)),
        "s_acctbal": pa.array(np.round(r.uniform(-999, 9999, n), 2))})
    r = rng_for(seed, wl, "part")
    n = sz["part"]
    colors = ["red", "blue", "green", "small", "large", "shiny", "steel", "brass"]
    things = ["ring", "widget", "bolt", "nut", "gear", "spring", "valve", "pipe"]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n, dtype=np.int64)),
        "p_name": [f"{colors[a]} {things[b]}" for a, b in
                   zip(r.integers(0, 8, n), r.integers(0, 8, n))],
        "p_brand": [f"Brand#{k}" for k in r.integers(1, 26, n)],
        "p_type": [["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM",
                    "PROMO"][j] for j in r.integers(0, 6, n)],
        "p_size": pa.array(r.integers(1, 51, n).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + np.arange(n) * 0.1, 2))})
    r = rng_for(seed, wl, "orders")
    n = sz["orders"]
    odate = BASE_DAY + r.integers(0, 2400, n)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, sz["customer"], n).astype(np.int64)),
        "o_orderstatus": [["F", "O", "P"][j] for j in r.integers(0, 3, n)],
        "o_totalprice": pa.array(np.round(r.uniform(1000, 500000, n), 2)),
        "o_orderdate": pa.array(odate.astype("datetime64[us]")),
        "o_orderpriority": [["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                             "5-LOW"][j] for j in r.integers(0, 5, n)]})
    r = rng_for(seed, wl, "lineitem")
    n = sz["lineitem"]
    lok = np.sort(r.integers(0, sz["orders"], n)).astype(np.int64)
    lnum = np.zeros(n, dtype=np.int32)
    for i in range(1, n):
        lnum[i] = lnum[i - 1] + 1 if lok[i] == lok[i - 1] else 0
    qty = r.integers(1, 51, n).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(lok),
        "l_partkey": pa.array(r.integers(0, sz["part"], n).astype(np.int64)),
        "l_suppkey": pa.array(r.integers(0, sz["supplier"], n).astype(np.int64)),
        "l_linenumber": pa.array(lnum + 1),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * r.uniform(900, 3000, n), 2)),
        "l_discount": pa.array(r.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, n) / 100.0),
        "l_returnflag": [["A", "N", "R"][j] for j in r.integers(0, 3, n)],
        "l_linestatus": [["F", "O"][j] for j in r.integers(0, 2, n)],
        "l_shipdate": pa.array((odate[lok] + r.integers(1, 120, n))
                               .astype("datetime64[us]"))})
    return out


def events(rng, n):
    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    ts = ts0 + np.sort(rng.integers(0, 30 * 86400 * 10**6, n))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, 150, n).astype(np.int64)),
        "event_type": [["click", "signup", "error", "view", "purchase"][j]
                       for j in rng.integers(0, 5, n)],
        "value": pa.array(np.round(rng.uniform(0.01, 490.0, n), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def ann_schedule(rng, initial_ids, new_ids):
    """One pass's closed-loop op list, one op a line: `read` (serve the
    fixed query workload over the live corpus), `upsert <ids>`, `delete
    <ids>` and `compact`. One write per ANN_READS_PER_WRITE reads,
    upserts and deletes alternating, a compaction after every
    ANN_WRITES_PER_COMPACT writes. Deletes pick ids live at that point of
    the pass, so no op can fail on its input."""
    live = list(initial_ids)
    fresh = list(new_ids)
    ops = []
    for w in range(ANN_PASS_WRITES):
        ops += ["read"] * ANN_READS_PER_WRITE
        if w % 2 == 0:
            ids, fresh = fresh[:ANN_UPSERT_BATCH], fresh[ANN_UPSERT_BATCH:]
            live += ids
            ops.append("upsert " + " ".join(str(int(x)) for x in ids))
        else:
            doomed = sorted(int(x) for x in rng.choice(live, ANN_DELETE_BATCH, replace=False))
            gone = set(doomed)
            live = [x for x in live if x not in gone]
            ops.append("delete " + " ".join(str(x) for x in doomed))
        if (w + 1) % ANN_WRITES_PER_COMPACT == 0:
            ops.append("compact")
    ops.append("read")
    return ops


def generate(workload, seed, out):
    if workload not in SIZES:
        raise SystemExit(f"unknown workload {workload!r}")
    sz = SIZES[workload]
    os.makedirs(out, exist_ok=True)
    files = {}
    if workload == "batch_course":
        files["documents.parquet"] = documents(
            rng_for(seed, workload, "documents"), sz["documents"])
        r = rng_for(seed, workload, "embeddings")
        v, lab = mixture_vectors(r, centers_for(r), sz["embeddings"])
        files["embeddings.parquet"] = embeddings_table(
            np.arange(sz["embeddings"]), v, lab)
        files["events.parquet"] = events(rng_for(seed, workload, "events"), sz["events"])
        for name, t in tpch(seed, workload, sz).items():
            files[f"{name}.parquet"] = t
        with open(os.path.join(out, "programs.txt"), "w") as f:
            f.write("\n".join(BATCH_PROGRAMS) + "\n")
    elif workload == "ann_mixed":
        r = rng_for(seed, workload, "embeddings")
        centers = centers_for(r)
        n, m = sz["embeddings"], sz["ann_new"]
        v, lab = mixture_vectors(r, centers, n + m)
        files["embeddings.parquet"] = embeddings_table(np.arange(n), v[:n], lab[:n])
        files["ann_new.parquet"] = embeddings_table(np.arange(n, n + m), v[n:], lab[n:])
    else:
        r = rng_for(seed, workload, "backlog")
        per = sz["docs_per_file"]
        docs = documents(r, sz["backlog_files"] * per)
        os.makedirs(os.path.join(out, "backlog"), exist_ok=True)
        for k in range(sz["backlog_files"]):
            files[f"backlog/batch{k:02d}.parquet"] = docs.slice(k * per, per)
    for rel, t in files.items():
        write(t, os.path.join(out, rel))
    if workload == "batch_course":
        files["programs.txt"] = None
    if workload == "ann_mixed":
        sched = ann_schedule(rng_for(seed, workload, "schedule"),
                             np.arange(sz["embeddings"]),
                             np.arange(sz["embeddings"], sz["embeddings"] + sz["ann_new"]))
        with open(os.path.join(out, "ops.txt"), "w") as f:
            f.write("\n".join(sched) + "\n")
        files["ops.txt"] = None
    if workload == "stream_ingest":
        # The file source lists oldest first: fixed, increasing mtimes
        # make batch k = file k on every run.
        for k in range(sz["backlog_files"]):
            p = os.path.join(out, f"backlog/batch{k:02d}.parquet")
            os.utime(p, (1_000_000_000 + 60 * k, 1_000_000_000 + 60 * k))
    return manifest(seed, out, files)


def manifest(seed, out, files):
    h = hashlib.sha256()
    tables, total = {}, 0
    for rel in sorted(files):
        p = os.path.join(out, rel)
        with open(p, "rb") as f:
            data = f.read()
        h.update(rel.encode() + b"\0" + data)
        rows = files[rel].num_rows if files[rel] is not None else None
        tables[rel] = {"rows": rows, "bytes": len(data)}
        total += len(data)
    return {"seed": seed, "files": tables, "bytes": total, "sha256": h.hexdigest()}


if __name__ == "__main__":
    if len(sys.argv) != 4:
        raise SystemExit(__doc__)
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3]), indent=1))
