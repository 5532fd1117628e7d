"""Seeded inputs for the pipeline benchmark.

A fixed base population has the shape of the TPC-H-style sf0.1 test
tables (same schemas, key domains, value vocabularies, and the same
near-duplicate structure in `documents`). It is always built from base
seed 42. The run seed then picks what the program sees: which rows are
sampled, their row order, and the query ids (ids present in both the
sampled documents and the sampled embeddings). The same seed gives
byte-identical parquet files.
"""
import datetime
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
N_CUSTOMER = 15_000
N_ORDERS = 150_000
N_DOCUMENTS = 5_000
N_EMBEDDINGS = 2_000
DIM = 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]

# What each workload reads and how much of it: customers sampled for the
# rewrite loop; for export-search, orders sampled over the full dimension
# tables, and documents and embeddings sampled for the corpus operators.
SIZES = {
    "full": {"customers": 150, "orders": 2_000, "documents": 1_500, "embeddings": 1_000, "queries": 10},
    "tiny": {"customers": 40, "orders": 400, "documents": 300, "embeddings": 200, "queries": 4},
}


def _base():
    rng = np.random.default_rng(BASE_SEED)
    region = {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
    nation = {"n_nationkey": np.arange(25, dtype=np.int32),
              "n_name": [f"NATION_{i}" for i in range(25)],
              "n_regionkey": (np.arange(25) % 5).astype(np.int32)}
    custkey = np.arange(N_CUSTOMER, dtype=np.int64)
    customer = {"c_custkey": custkey,
                "c_name": [f"Customer#{k:09d}" for k in custkey],
                "c_nationkey": rng.integers(0, 25, N_CUSTOMER).astype(np.int32),
                "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_CUSTOMER), 2),
                "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, N_CUSTOMER)]}
    start = datetime.datetime(1995, 1, 1)
    days = (datetime.datetime(2001, 8, 1) - start).days
    orders = {"o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
              "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS).astype(np.int64),
              "o_orderstatus": [STATUSES[i] for i in rng.integers(0, 3, N_ORDERS)],
              "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, N_ORDERS), 2),
              "o_orderdate": (np.datetime64(start, "us")
                              + rng.integers(0, days + 1, N_ORDERS).astype("timedelta64[D]")),
              "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, N_ORDERS)]}
    # documents: 10..100 random vocabulary words; about 5% are another
    # document's text plus " dup", the near duplicates dedup must find
    texts = [" ".join(rng.choice(VOCAB, rng.integers(10, 101)))
             for _ in range(N_DOCUMENTS)]
    for i in np.flatnonzero(rng.random(N_DOCUMENTS) < 0.05):
        j = int(rng.integers(0, N_DOCUMENTS))
        if j != i:
            texts[i] = texts[j] + " dup"
    documents = {"doc_id": np.arange(N_DOCUMENTS, dtype=np.int64), "text": texts,
                 "lang": [LANGS[i] for i in rng.choice(5, N_DOCUMENTS, p=LANG_P)],
                 "source": [f"src{i % 20}" for i in range(N_DOCUMENTS)]}
    # embeddings: unit vectors around 10 labelled centres
    centres = rng.normal(size=(10, DIM))
    labels = rng.integers(0, 10, N_EMBEDDINGS)
    vecs = centres[labels] + rng.normal(scale=1.0, size=(N_EMBEDDINGS, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = {"vec_id": np.arange(N_EMBEDDINGS, dtype=np.int64),
                  "embedding": vecs.astype(np.float32), "label": labels.astype(np.int32)}
    return dict(region=region, nation=nation, customer=customer, orders=orders,
                documents=documents, embeddings=embeddings)


def _take(table, idx):
    return {k: (v[idx] if isinstance(v, np.ndarray) else [v[i] for i in idx])
            for k, v in table.items()}


def _arrow(name, cols):
    if name == "embeddings":
        emb = cols["embedding"]
        flat = pa.array(emb.reshape(-1), type=pa.float32())
        offsets = pa.array(np.arange(0, emb.size + 1, emb.shape[1], dtype=np.int32))
        cols = dict(cols, embedding=pa.ListArray.from_arrays(offsets, flat))
    if name == "documents":
        cols = dict(cols, n_chars=np.array([len(t) for t in cols["text"]], dtype=np.int64))
    return pa.table(cols)


def generate(workload, seed, out_dir, size="full"):
    """Write the workload's tables to `out_dir`; return the manifest."""
    sz = SIZES[size]
    base = _base()
    rng = np.random.default_rng(seed)
    tables = {}
    qids = []
    if workload == "simplify-customer":
        tables["region"] = base["region"]
        tables["nation"] = base["nation"]
        idx = rng.choice(N_CUSTOMER, sz["customers"], replace=False)
        tables["customer"] = _take(base["customer"], idx)
    elif workload == "export-search":
        tables["region"] = base["region"]
        tables["nation"] = base["nation"]
        tables["customer"] = base["customer"]
        idx = rng.choice(N_ORDERS, sz["orders"], replace=False)
        tables["orders"] = _take(base["orders"], idx)
        tables["documents"] = _take(base["documents"],
                                    rng.choice(N_DOCUMENTS, sz["documents"], replace=False))
        tables["embeddings"] = _take(base["embeddings"],
                                     rng.choice(N_EMBEDDINGS, sz["embeddings"], replace=False))
        ids = tables["embeddings"]["vec_id"]
        qids = sorted(int(q) for q in rng.choice(ids[np.isin(ids, tables["documents"]["doc_id"])],
                                                 sz["queries"], replace=False))
    else:
        raise ValueError(f"unknown workload {workload}")

    os.makedirs(out_dir, exist_ok=True)
    manifest = {"workload": workload, "seed": seed, "size": size, "qids": qids, "tables": {}}
    for name, cols in tables.items():
        if name in ("customer", "orders"):
            cols = _take(cols, rng.permutation(len(cols[next(iter(cols))])))
        path = os.path.join(out_dir, f"{name}.parquet")
        table = _arrow(name, cols)
        pq.write_table(table, path)
        with open(path, "rb") as f:
            digest = hashlib.sha256(f.read()).hexdigest()
        manifest["tables"][name] = {"rows": table.num_rows, "sha256": digest}
    return manifest
