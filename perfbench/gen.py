"""Seeded synthetic corpus for the benchmark.

Writes the ten tables the engine reads (`region nation customer supplier
part orders lineitem events documents embeddings`), one parquet file
each, with the schemas and value distributions of the TPC-H-ish test
data the engine is specified against (FIXTURES.md section B): random
star-schema rows, 31-word documents with 5% planted near-duplicates
(an earlier text plus the token `dup`), unit-norm 64-d embeddings with
ten labels, and a 30-day click stream with `{"k": n}` props.

Every table scales x10 per sf step, as FIXTURES.md section B gives
them: at sf0.001 there are 500 documents and 500 embeddings, at sf0.01
5,000 of each.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]
WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
DUP_RATE = 0.05
DIM = 64


def _write(out, name, cols):
    os.makedirs(out, exist_ok=True)
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, span_days, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def doc_texts(rng, n):
    """n texts of 10..100 words; DUP_RATE of them copy another text + ' dup'."""
    lens = rng.integers(10, 101, n)
    texts = [" ".join(WORDS[i] for i in rng.integers(0, len(WORDS), k))
             for k in lens]
    for i in np.flatnonzero(rng.random(n) < DUP_RATE):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return texts


def documents(rng, n, first_id=0):
    texts = doc_texts(rng, n)
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    return {
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def events(rng, n, users, first_id=0, t0_us=None, span_us=30 * 86400 * 10**6):
    if t0_us is None:
        t0_us = int(np.datetime64("2024-01-01", "us").astype(np.int64))
    ts = np.sort(t0_us + rng.integers(0, span_us, n))
    return {
        "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n), pa.string()),
        "value": pa.array(_money(rng, 0.01, 490.02, n)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
                          pa.string()),
    }


def generate(out, sf, seed):
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(500_000 * sf), int(500_000 * sf)
    _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)})
    _write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust))})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))})
    pk = np.arange(n_part, dtype=np.int64)
    _write(out, "part", {
        "p_partkey": pa.array(pk),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PTYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (pk % 1000) / 10, 1))})
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(_money(rng, 1000, 500_000, n_ord)),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", 2404, n_ord), pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(PRIOS, n_ord))})
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 105_000, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line)),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", 2498, n_line), pa.timestamp("us"))})
    _write(out, "events", events(rng, n_ev, max(15, int(15_000 * sf))))
    _write(out, "documents", documents(rng, n_doc))
    v = rng.standard_normal((n_emb, DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(v.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32))})


def grow_batch(base, seed, rate=0.05):
    """A seeded ~rate batch of new documents and events continuing `base`:
    ids past the corpus max, event times past the corpus max (an append is
    a per-user continuation, never back-dated). Returns (docs, events) as
    column dicts."""
    rng = np.random.default_rng(seed)
    d = pq.read_table(f"{base}/documents.parquet", columns=["doc_id"])
    e = pq.read_table(f"{base}/events.parquet", columns=["event_id", "ts", "user_id"])
    n_doc = max(1, round(d.num_rows * rate))
    n_ev = max(1, round(e.num_rows * rate))
    docs = documents(rng, n_doc, first_id=pa.compute.max(d["doc_id"]).as_py() + 1)
    t_max = int(pa.compute.max(e["ts"]).cast(pa.int64()).as_py())
    users = pa.compute.max(e["user_id"]).as_py() + 1
    evs = events(rng, n_ev, users, first_id=pa.compute.max(e["event_id"]).as_py() + 1,
                 t0_us=t_max + 1, span_us=86400 * 10**6)
    return docs, evs


def write_grow_batch(base, out, seed, rate=0.05, contaminated=0.1, n_eval=3):
    """The `grow` workload's seeded inputs in `out`: documents.parquet and
    events.parquet (a ~rate batch continuing `base`) and eval.txt, the
    benchmark set the contamination gate guards. A `contaminated` share of
    the batch documents embeds six consecutive words of an eval text."""
    rng = np.random.default_rng(seed + 1)
    docs, evs = grow_batch(base, seed, rate)
    base_texts = pq.read_table(f"{base}/documents.parquet", columns=["text"])["text"].to_pylist()
    evals = [base_texts[i] for i in rng.choice(len(base_texts), n_eval, replace=False)]
    texts = docs["text"].to_pylist()
    for i in np.flatnonzero(rng.random(len(texts)) < contaminated):
        ev = evals[int(rng.integers(0, n_eval))].split(" ")
        s = int(rng.integers(0, max(1, len(ev) - 6)))
        w = texts[i].split(" ")
        at = int(rng.integers(0, len(w) + 1))
        texts[i] = " ".join(w[:at] + ev[s:s + 6] + w[at:])
    docs["text"] = pa.array(texts, pa.string())
    docs["n_chars"] = pa.array([len(t) for t in texts], pa.int64())
    _write(out, "documents", docs)
    _write(out, "events", evs)
    with open(os.path.join(out, "eval.txt"), "w") as f:
        f.write("\n".join(evals) + "\n")
