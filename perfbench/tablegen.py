"""Seeded inputs for the corpus workload: the documents the corpus store is
loaded with, the tables its gate queries read (the sf0.1 schemas, smaller)
and the corpus-store micro-batches, with the kept/dropped outcome each batch
must have.

Batch classes, each one source's share of the store as in the repository's
gate queries on the sf0.1 documents table (5,000 documents, 20 sources of
250): q232 ingests one source's stored documents behind a unique prefix, and
q233 re-ingests every document of one source changed.
  dup   - every stored document of an untouched source: short ones as exact
          copies (must be dropped), long ones behind a unique prefix (kept;
          the copied passage is stripped);
  fresh - as many documents of unseen vocabulary (all kept);
  hot   - new text for every stored id of one source (all kept, replacing).
Round j takes its dup donor from the last sources and its hot source from
src2 on, so no document is touched twice.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_DOCS = 5000
# the gate queries' documents table is the first QUERY_DOCS of the corpus:
# q123 pairs documents all-vs-all, and a run has one pass to spend on it
QUERY_DOCS = 300
N_SOURCES = 20
BATCH_DOCS = N_DOCS // N_SOURCES
MAX_ROUNDS = 3
QUERIES = ["q01_pricing_summary", "q03_revenue_by_nation", "q27_cosine_topk",
           "q123_cosine_pairs"]

COMMON = ("spark window merge table column batch part line order small sort "
          "fast value scan hash slow group agg filter query key big join data "
          "stream vector customer the a time index").split()
RARE = [f"t{i:03d}" for i in range(400)]


def _ts(days):
    base = np.datetime64("1995-01-01", "us")
    return base + (days * 86400 * 10**6).astype("timedelta64[us]")


def _documents(rng):
    zipf = 1.0 / np.arange(1, len(RARE) + 1) ** 1.1
    zipf /= zipf.sum()
    vocab = np.array(COMMON + RARE)
    lengths = rng.integers(8, 90, N_DOCS)
    total = int(lengths.sum())
    # 70 % common words, 30 % Zipf-distributed rare ones
    words = np.where(rng.random(total) < 0.7,
                     rng.integers(len(COMMON), size=total),
                     len(COMMON) + rng.choice(len(RARE), size=total, p=zipf))
    ends = np.cumsum(lengths)
    texts = [" ".join(vocab[words[e - n:e]]) for e, n in zip(ends, lengths)]
    dups = rng.choice(np.arange(50, N_DOCS), size=N_DOCS // 25, replace=False)
    for d in dups:      # exact duplicates: writeDeduped keeps the min id
        texts[d] = texts[int(rng.integers(0, d))]
    sources = [f"src{i % N_SOURCES}" for i in range(N_DOCS)]
    langs = rng.choice(["en", "de", "fr", "es", "zh"], size=N_DOCS,
                       p=[0.4, 0.15, 0.15, 0.15, 0.15])
    return texts, sources, langs


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


def write_inputs(seed, out_dir):
    """Write tables and batches; returns the manifest and the expectations."""
    rng = np.random.default_rng(seed)
    tdir = os.path.join(out_dir, "tables")
    os.makedirs(tdir, exist_ok=True)

    texts, sources, langs = _documents(rng)
    corpus_path = os.path.join(out_dir, "corpus.parquet")
    for path, n in ((corpus_path, N_DOCS),
                    (os.path.join(tdir, "documents.parquet"), QUERY_DOCS)):
        _write(path, {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts[:n], "lang": langs[:n].tolist(), "source": sources[:n],
            "n_chars": pa.array([len(t) for t in texts[:n]], pa.int64())})

    n_nation, n_cust, n_orders, n_lines = 25, 5000, 25000, 100000
    _write(os.path.join(tdir, "nation.parquet"), {
        "n_nationkey": pa.array(np.arange(n_nation), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(n_nation)],
        "n_regionkey": pa.array(np.arange(n_nation) % 5, pa.int32())})
    _write(os.path.join(tdir, "customer.parquet"), {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, n_nation, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": rng.choice(["FURNITURE", "MACHINERY", "AUTOMOBILE",
                                    "BUILDING", "HOUSEHOLD"], n_cust).tolist()})
    _write(os.path.join(tdir, "orders.parquet"), {
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_orders).tolist(),
        "o_totalprice": np.round(rng.uniform(1000, 400000, n_orders), 2),
        "o_orderdate": pa.array(_ts(rng.integers(0, 2404, n_orders)), pa.timestamp("us")),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_orders).tolist()})
    qty = rng.integers(1, 51, n_lines).astype(np.float64)
    _write(os.path.join(tdir, "lineitem.parquet"), {
        "l_orderkey": pa.array(rng.integers(0, n_orders, n_lines), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 20000, n_lines), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 1000, n_lines), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_lines), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n_lines), 2),
        "l_discount": np.round(rng.integers(0, 11, n_lines) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_lines) / 100.0, 2),
        "l_returnflag": rng.choice(["N", "A", "R"], n_lines).tolist(),
        "l_linestatus": rng.choice(["O", "F"], n_lines).tolist(),
        "l_shipdate": pa.array(_ts(rng.integers(1, 2498, n_lines)), pa.timestamp("us"))})
    n_vec = 1000
    emb = rng.standard_normal((n_vec, 64)).astype(np.float32)
    _write(os.path.join(tdir, "embeddings.parquet"), {
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32())})

    # stored rows: the min id of each distinct text survives writeDeduped
    first = {}
    for i, t in enumerate(texts):
        first.setdefault(t, i)
    kept = sorted(first.values())
    by_source = {}
    for i in kept:
        by_source.setdefault(sources[i], []).append(i)

    rounds, expect = [], []
    input_bytes = sum(len(t.encode()) for t in texts)
    store_rows = len(kept)
    for j in range(MAX_ROUNDS):
        base = 10_000_000 + j * 10_000
        donors = by_source[f"src{N_SOURCES - 1 - j}"]
        exact = [d for d in donors if len(texts[d].split()) < 55]
        prefixed = [d for d in donors if len(texts[d].split()) >= 55]
        dup = ([(base + k, "dup", texts[d]) for k, d in enumerate(exact)] +
               [(base + 1000 + k, "dup", f"zq{j}x{k}a zq{j}x{k}b " + texts[d])
                for k, d in enumerate(prefixed)])
        fresh = [(base + 2000 + k, "fresh",
                  " ".join(f"f{seed % 997}r{j}d{k}w{w}" for w in range(20 + k % 30)))
                 for k in range(BATCH_DOCS)]
        hot_source = f"src{2 + j}"
        hot = [(d, hot_source, texts[d] + f" hot{j}x{d}") for d in by_source[hot_source]]
        batches = []
        for cls, rows in (("dup", dup), ("fresh", fresh), ("hot", hot)):
            path = os.path.join(out_dir, f"r{j}_{cls}.parquet")
            _write(path, {"doc_id": pa.array([r[0] for r in rows], pa.int64()),
                          "source": [r[1] for r in rows], "text": [r[2] for r in rows]})
            text_bytes = sum(len(r[2].encode()) for r in rows)
            batches.append({"class": cls, "path": path, "docs": len(rows),
                            "text_bytes": text_bytes})
            input_bytes += text_bytes
        rounds.append(batches)
        ids = lambda rows: [r[0] for r in rows]  # noqa: E731
        store_rows += len(prefixed) + len(fresh)     # hot docs replace stored ones
        expect.append({
            "classes": {"dup": {"kept": ids(dup[len(exact):]), "dropped": ids(dup[:len(exact)])},
                        "fresh": {"kept": ids(fresh), "dropped": []},
                        "hot": {"kept": ids(hot), "dropped": []}},
            "offered": len(dup) + len(fresh) + len(hot),
            "rows": store_rows,
            "input_bytes": input_bytes,
        })
    manifest = {"corpus_path": corpus_path, "tables_dir": tdir, "rounds": rounds,
                "queries": QUERIES}
    return manifest, {"setup_rows": len(kept), "rounds": expect,
                      "setup_input_bytes": sum(len(t.encode()) for t in texts)}
