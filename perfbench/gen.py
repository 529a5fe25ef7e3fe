"""Seeded input generator for the benchmark.

Each table a workload's queries read is written under a dataset
directory as `<table>.parquet`, the path the engine's `Tables` loaders
read. The same seed always gives byte-identical files.

Two dataset shapes exist:

* `corpus` (the `wordcount` workload): `documents` is a Zipf(s=1.0)
  corpus over a vocabulary of one million words, 20 sources and 3
  languages. It is a directory of many small files with two row
  groups each: Spark packs a single file this small into one scan
  split, while many files let the scan run on every core.
* `star` (the `iterative` workload): `orders` and `lineitem` (the
  trade graph the BFS fixpoint walks), `embeddings` (the IVF index)
  and `events` (the streamed day-count sink). The iterative queries'
  cost is per Spark job, not per row, so the tables are small;
  `embeddings` has enough rows that the IVF index gets all of its
  seed centroids.
"""
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 1_000_000
ZIPF_S = 1.0
LANGS = ["en", "de", "fr"]
# The IVF family's seed-centroid rule (SimilarityOps.seedCentroids over
# the even vec_ids, with the centroidMod and numCentroids the iterative
# workload passes): vec_id % 2 == 0, vec_id % 98 == 0, vec_id < 98 * 16.
IVF_CENTROID_MOD = 98
IVF_CENTROIDS = 16

# Table sizes per dataset shape: documents, token range and files of
# the corpus; row and key counts of the star tables.
SHAPES = {
    "corpus": {"docs": 2_000, "tok_lo": 20, "tok_hi": 140, "files": 16},
    "star": {"embeddings": 2_000, "orders": 3_000, "customers": 300, "suppliers": 30,
             "parts": 400, "events": 2_000},
}


def _rng(seed, stream):
    return np.random.Generator(np.random.PCG64([seed, stream]))


def _word_strings(seed):
    """Vocabulary: rank r -> a distinct lowercase word, the base-26
    spelling of a seeded permutation of [26^3, 26^3 + VOCAB), so words
    are 4 or 5 letters and frequent words are not the short ones."""
    perm = _rng(seed, 1).permutation(VOCAB).astype(np.int64) + 26 ** 3
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
    digits = np.stack([letters[perm // 26 ** k % 26] for k in range(4, -1, -1)], axis=1)
    five = digits.copy().view("S5").ravel().astype("U5")
    four = digits[:, 1:].copy().view("S4").ravel().astype("U5")
    return np.where(perm < 26 ** 4, four, five)


def _zipf_ids(rng, n, vocab, s):
    w = 1.0 / np.arange(1, vocab + 1, dtype=np.float64) ** s
    cdf = np.cumsum(w)
    cdf /= cdf[-1]
    return np.searchsorted(cdf, rng.random(n), side="right").clip(0, vocab - 1)


def _parquet_files(path):
    """The parquet files of a table: the file itself, or the part files
    of a table written as a directory."""
    if os.path.isdir(path):
        return sorted(os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet"))
    return [path]


def documents(seed, out):
    """The Zipf corpus, written as `files` part files of two row groups
    each; returns the stats the artifact records."""
    sh = SHAPES["corpus"]
    rng = _rng(seed, 2)
    n = sh["docs"]
    lens = rng.integers(sh["tok_lo"], sh["tok_hi"] + 1, n)
    ids = _zipf_ids(rng, int(lens.sum()), VOCAB, ZIPF_S)
    toks = _word_strings(seed)[ids]
    bounds = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(toks[bounds[i]:bounds[i + 1]]) for i in range(n)]
    t = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), n)], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array(np.array([len(x) for x in texts], dtype=np.int64)),
    })
    path = os.path.join(out, "documents.parquet")
    os.makedirs(path)
    per_file = -(-n // sh["files"])
    for i in range(sh["files"]):
        part = t.slice(i * per_file, per_file)
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"),
                       row_group_size=-(-part.num_rows // 2))
    files = _parquet_files(path)
    return {"tokens": int(lens.sum()), "distinct_words": int(np.unique(ids).size),
            "vocabulary": VOCAB, "zipf_s": ZIPF_S, "docs": n, "files": len(files),
            "row_groups": sum(pq.ParquetFile(f).metadata.num_row_groups for f in files),
            "bytes": sum(os.path.getsize(f) for f in files)}


def embeddings(rng, n, dim=64, labels=10):
    centers = rng.normal(size=(labels, dim))
    lab = rng.integers(0, labels, n)
    v = rng.normal(size=(n, dim)) + 0.6 * centers[lab]
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    v = v.astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(lab.astype(np.int32)),
    })


def _days(rng, n, start, span_days):
    base = np.datetime64(start, "us")
    return base + (rng.integers(0, span_days + 1, n) * 86_400_000_000).astype("timedelta64[us]")


def orders_lineitem(seed, sh):
    """`orders` and `lineitem` in the engine's schemas; four line items
    per order on average, over `customers`, `suppliers` and `parts`
    keys."""
    rng = _rng(seed, 3)
    nc, ns, npt, no = sh["customers"], sh["suppliers"], sh["parts"], sh["orders"]
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no)),
        "o_orderstatus": pa.array(np.array(["O", "F", "P"])[rng.integers(0, 3, no)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, no), 2)),
        "o_orderdate": pa.array(_days(rng, no, "1995-01-01", 2404)),
        "o_orderpriority": pa.array(prio[rng.integers(0, 5, no)])})
    nl = no * 4
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl)),
        "l_partkey": pa.array(rng.integers(0, npt, nl)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, nl), 2)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(np.array(["N", "R", "A"])[rng.integers(0, 3, nl)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, nl)]),
        "l_shipdate": pa.array(_days(rng, nl, "1995-01-02", 2498))})
    return {"orders": orders, "lineitem": lineitem}


def events(seed, n):
    """`events` in the engine's schema: `n` events over 30 days."""
    rng = _rng(seed, 5)
    us = np.sort(rng.integers(0, 30 * 86_400_000_000, n))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + us.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, max(1, n // 66), n)),
        "event_type": pa.array(np.array(["signup", "purchase", "view", "click", "error"])
                               [rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.uniform(0, 200, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)])})


def ivf_seed_ids(vec_ids):
    """The vec_ids the IVF family seeds its centroids from."""
    v = np.asarray(vec_ids)
    return v[(v % 2 == 0) & (v % IVF_CENTROID_MOD == 0) & (v < IVF_CENTROID_MOD * IVF_CENTROIDS)]


def generate(shape, seed, out):
    """Write the `shape` dataset for `seed` into `out` (replaced if it
    exists) and return its description for the artifact."""
    if shape not in SHAPES:
        raise ValueError(f"unknown dataset shape {shape!r}")
    tmp = out + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    info = {"shape": shape, "seed": seed}
    if shape == "corpus":
        info["documents"] = documents(seed, tmp)
    else:
        sh = SHAPES["star"]
        tables = orders_lineitem(seed, sh)
        tables["embeddings"] = embeddings(_rng(seed, 4), sh["embeddings"])
        tables["events"] = events(seed, sh["events"])
        for name, t in tables.items():
            pq.write_table(t, os.path.join(tmp, f"{name}.parquet"))
    info["tables"] = {}
    for f in sorted(os.listdir(tmp)):
        files = _parquet_files(os.path.join(tmp, f))
        info["tables"][f[:-len(".parquet")]] = {
            "rows": sum(pq.ParquetFile(p).metadata.num_rows for p in files),
            "bytes": sum(os.path.getsize(p) for p in files)}
    with open(os.path.join(tmp, "_dataset.json"), "w") as f:
        json.dump(info, f, indent=1, sort_keys=True)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return info


def ensure(shape, seed, out):
    """Generate once per (shape, seed); later calls reuse the files."""
    meta = os.path.join(out, "_dataset.json")
    if os.path.exists(meta):
        with open(meta) as f:
            return json.load(f)
    return generate(shape, seed, out)
