#!/usr/bin/env python3
"""Generate an sf1-scale diagnostic corpus (10x sf0.1) of documents and embeddings.

Point graft.Bench at it (SPARK_GRAFT_SF_DIR) with the document and embedding
queries named, and compare the records with tools/growth.py.

The driver ships sf{0.001,0.01,0.1} only; the scale-proof sweep needs one
more decade. Row REPLICATION would corrupt the near-dup structure (every doc
would gain 9 exact twins), so instead this samples NEW rows from the
empirical distributions of sf0.1:

  documents  — (lang, source) joint, per-lang doc length (in words), and
               per-lang word frequencies are all sampled from sf0.1, so
               shingle/minhash/simhash statistics scale the way a 10x crawl
               of the same population would.
  embeddings — per-label empirical mean and per-dimension std from sf0.1,
               sampled as diagonal Gaussians and re-normalized to unit length
               (the sf0.1 vectors are unit-norm).

Deterministic (seed 42). Output is DIAGNOSTIC ONLY (scratch/, gitignored) —
correctness gates keep using the driver's parquet verbatim.

Usage: python3 tools/gen_scale.py [out_dir] [scale_multiple]
"""
import sys
import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"
OUT = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/scratch/sf1"
MULT = int(sys.argv[2]) if len(sys.argv) > 2 else 10

rng = np.random.default_rng(42)


def gen_documents(con):
    docs = con.sql(f"SELECT lang, source, text FROM '{SRC}/documents.parquet'").df()
    n_out = len(docs) * MULT
    # empirical (lang, source) joint
    pairs = docs[["lang", "source"]].value_counts(normalize=True)
    pair_vals = list(pairs.index)
    pair_idx = rng.choice(len(pair_vals), size=n_out, p=pairs.values)
    # per-lang word frequencies and length distributions
    by_lang = {}
    for lang, grp in docs.groupby("lang"):
        toks = [t for s in grp.text for t in s.split()]
        words, counts = np.unique(toks, return_counts=True)
        lengths = np.array([len(s.split()) for s in grp.text])
        by_lang[lang] = (words, counts / counts.sum(), lengths)
    texts, langs, sources = [], [], []
    for i in pair_idx:
        lang, source = pair_vals[i]
        words, p, lengths = by_lang[lang]
        n_words = int(rng.choice(lengths))
        texts.append(" ".join(rng.choice(words, size=n_words, p=p)))
        langs.append(lang)
        sources.append(source)
    # plant exact duplicates at sf0.1's empirical rate (it has ~8/5000 docs
    # whose text equals an earlier doc's — the random sampler alone would
    # produce none, starving the verify stages of true positives)
    n_src = len(docs)
    dup_rate = 1.0 - con.sql(
        f"SELECT count(DISTINCT md5(text))::DOUBLE / count(*) FROM '{SRC}/documents.parquet'"
    ).fetchone()[0]
    n_dups = int(round(dup_rate * n_out))
    dup_targets = rng.choice(n_out, size=n_dups, replace=False)
    for t in dup_targets:
        s = int(rng.integers(0, n_out))
        texts[t], langs[t], sources[t] = texts[s], langs[s], sources[s]
    tbl = pa.table({
        "doc_id": pa.array(range(n_out), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(tbl, f"{OUT}/documents.parquet")
    print(f"documents: {n_out} rows -> {OUT}/documents.parquet")


def gen_embeddings(con):
    emb = con.sql(f"SELECT vec_id, embedding, label FROM '{SRC}/embeddings.parquet'").df()
    vecs = np.stack(emb.embedding.values).astype(np.float64)
    labels = emb.label.values
    n_out = len(emb) * MULT
    uniq, counts = np.unique(labels, return_counts=True)
    out_labels = rng.choice(uniq, size=n_out, p=counts / counts.sum())
    stats = {l: (vecs[labels == l].mean(0), vecs[labels == l].std(0)) for l in uniq}
    out = np.empty((n_out, vecs.shape[1]), np.float64)
    for l in uniq:
        m = out_labels == l
        mu, sd = stats[l]
        out[m] = rng.normal(mu, sd, size=(m.sum(), vecs.shape[1]))
    out /= np.linalg.norm(out, axis=1, keepdims=True)
    tbl = pa.table({
        "vec_id": pa.array(range(n_out), pa.int64()),
        "embedding": pa.array(list(out.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(out_labels.astype(np.int32), pa.int32()),
    })
    pq.write_table(tbl, f"{OUT}/embeddings.parquet")
    print(f"embeddings: {n_out} rows -> {OUT}/embeddings.parquet")


def gen_transactions(con):
    """events/orders/lineitem at MULT×: replicate with remapped TRANSACTION
    keys (event/user/order ids) while keeping the CATALOG keys (part,
    supplier) fixed — a 10x crawl is 10x users and orders against the same
    part catalog, so per-key stream density stays constant (the stateful-op
    scaling variable) and graph hubs densify (what the hub throttles are
    for). The orders↔lineitem FK is preserved by remapping both sides with
    the same formula; value/price jitter keeps replicas from being exact
    numeric twins."""
    con.sql(f"""
      COPY (
        SELECT e.event_id * {MULT} + cp.cp AS event_id,
               e.ts + to_seconds(cp.cp) AS ts,
               e.user_id * {MULT} + cp.cp AS user_id,
               e.event_type, e.value + cp.cp * 0.0001 AS value, e.props
        FROM '{SRC}/events.parquet' e,
             (SELECT unnest(range({MULT}))::BIGINT AS cp) cp
      ) TO '{OUT}/events.parquet' (FORMAT PARQUET)""")
    con.sql(f"""
      COPY (
        SELECT o.o_orderkey * {MULT} + cp.cp AS o_orderkey,
               o.o_custkey * {MULT} + cp.cp AS o_custkey,
               o.o_orderstatus,
               o.o_totalprice + cp.cp * 0.0101 AS o_totalprice,
               o.o_orderdate, o.o_orderpriority
        FROM '{SRC}/orders.parquet' o,
             (SELECT unnest(range({MULT}))::BIGINT AS cp) cp
      ) TO '{OUT}/orders.parquet' (FORMAT PARQUET)""")
    con.sql(f"""
      COPY (
        SELECT l.l_orderkey * {MULT} + cp.cp AS l_orderkey,
               l.l_partkey, l.l_suppkey, l.l_linenumber, l.l_quantity,
               l.l_extendedprice + cp.cp * 0.0101 AS l_extendedprice,
               l.l_discount, l.l_tax, l.l_returnflag, l.l_linestatus,
               l.l_shipdate
        FROM '{SRC}/lineitem.parquet' l,
             (SELECT unnest(range({MULT}))::BIGINT AS cp) cp
      ) TO '{OUT}/lineitem.parquet' (FORMAT PARQUET)""")
    for t in ("events", "orders", "lineitem"):
        n = duckdb.sql(f"SELECT count(*) FROM '{OUT}/{t}.parquet'").fetchone()[0]
        print(f"{t}: {n} rows -> {OUT}/{t}.parquet")


if __name__ == "__main__":
    import os
    os.makedirs(OUT, exist_ok=True)
    con = duckdb.connect()
    gen_documents(con)
    gen_embeddings(con)
    gen_transactions(con)
