"""Seeded input generator for the benchmark.

Every table the benchmark reads is synthesised here from ``--seed``: the
same seed always gives byte-identical parquet files. The base tables follow
the fixture schema the engine's queries are written against (TPC-H-ish
star schema without ``partsupp``, plus ``events`` and ``documents``); a
base table at ``frac=1`` has the SF 0.1 row counts.

Each workload's inputs hold only the tables its ops read (``TABLES``):

* ``tpch``      -- the TPC-H tables at ``TPCH_FRAC`` (SF 0.05);
* ``pipelines`` -- ``events`` and ``documents`` at ``PIPELINE_FRAC``, with
                   ``documents`` replicated ``DOC_REPS`` times where a
                   seeded share of replica rows carries a one-word edit (so
                   exact and near-duplicate stages see different duplicate
                   shares), and every table row-permuted by a seeded
                   permutation.

Outputs are cached under ``perfbench/.data/<kind>-<seed>-<fingerprint>``
where the fingerprint hashes this file, so a changed generator never serves
stale inputs. The cache is filled before the program starts and is never
part of a timed region.
"""

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_ROOT = os.path.join(HERE, ".data")

BASE_ROWS = {
    "customer": 15000, "supplier": 1000, "part": 20000, "orders": 150000,
    "lineitem": 600000, "events": 100000, "users": 1500, "documents": 5000,
}
TPCH_FRAC = 0.5
PIPELINE_FRAC = 0.25
DOC_REPS = 2
EDIT_SHARE = 0.3
# the tables each kind of input holds: exactly those its workload's ops read
TABLES = {
    "tpch": ["region", "nation", "customer", "supplier", "part", "orders",
             "lineitem"],
    "pipelines": ["events", "documents"],
}

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def fingerprint():
    """Hash of the generator source: part of every cache key."""
    with open(os.path.abspath(__file__), "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


def permutation(seed, n):
    """Seeded permutation of range(n); the same (seed, n) gives the same order."""
    return np.random.default_rng([seed, n]).permutation(n)


def _ts(start, days, rng, n):
    base = np.datetime64(start, "us")
    day_us = 86400 * 10**6
    return base + (rng.integers(0, days, n) * day_us).astype("timedelta64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _texts(rng, n):
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    out, pos = [], 0
    for k in lens:
        out.append(" ".join(VOCAB[w] for w in words[pos:pos + k]))
        pos += k
    # 5% near-duplicates (an earlier text plus one word) and a few exact ones
    for i in range(1, n):
        u = rng.random()
        if u < 0.05:
            out[i] = out[int(rng.integers(0, i))] + " dup"
        elif u < 0.0516:
            out[i] = out[int(rng.integers(0, i))]
    return out


def _region(rng, n):
    return pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})


def _nation(rng, n):
    return pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})


def _customer(rng, n):
    c = n["customer"]
    return pa.table({
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c, dtype=np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, c)]})


def _supplier(rng, n):
    s = n["supplier"]
    return pa.table({
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s, dtype=np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, s)})


def _part(rng, n):
    p = n["part"]
    names = np.char.add(np.char.add(np.array(ADJ)[rng.integers(0, 8, p)], " "),
                        np.array(NOUN)[rng.integers(0, 8, p)])
    return pa.table({
        "p_partkey": np.arange(p, dtype=np.int64),
        "p_name": names,
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
        "p_type": np.array(P_TYPES)[rng.integers(0, 6, p)],
        "p_size": pa.array(rng.integers(1, 51, p, dtype=np.int32)),
        "p_retailprice": np.round(900 + (np.arange(p) % 1000) * 0.1, 2)})


def _orders(rng, n):
    o = n["orders"]
    return pa.table({
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], o, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, o)],
        "o_totalprice": _money(rng, 1000, 500000, o),
        "o_orderdate": _ts("1995-01-01", 2404, rng, o),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, o)]})


def _lineitem(rng, n):
    li = n["lineitem"]
    return pa.table({
        "l_orderkey": rng.integers(0, n["orders"], li, dtype=np.int64),
        "l_partkey": rng.integers(0, n["part"], li, dtype=np.int64),
        "l_suppkey": rng.integers(0, n["supplier"], li, dtype=np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, li, dtype=np.int32)),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, li)],
        "l_shipdate": _ts("1995-01-02", 2498, rng, li)})


def _events(rng, n):
    e = n["events"]
    month_us = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, month_us, e))
    return pa.table({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n["users"], e, dtype=np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, e)],
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})


def _documents(rng, n):
    d = n["documents"]
    texts = _texts(rng, d)
    return pa.table({
        "doc_id": np.arange(d, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, d, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})


GENERATORS = {
    "region": _region, "nation": _nation, "customer": _customer,
    "supplier": _supplier, "part": _part, "orders": _orders,
    "lineitem": _lineitem, "events": _events, "documents": _documents,
}


def base_tables(seed, names, frac=1.0):
    """The named base tables as pyarrow Tables, at ``frac`` x SF 0.1 rows.

    Each table draws from its own seeded generator, so a table is the same
    whichever other tables are generated with it.
    """
    n = {k: max(1, round(v * frac)) for k, v in BASE_ROWS.items()}
    return {name: GENERATORS[name](
        np.random.default_rng([seed, list(GENERATORS).index(name)]), n)
        for name in names}


def edit_replicas(docs, seed, reps, edit_share):
    """``documents`` replicated ``reps`` times with per-replica doc_id offsets.

    Replica 0 is the original. In every other replica a seeded
    ``edit_share`` of rows gets one word substituted, so it is a near- but
    not an exact duplicate of its original.
    """
    rng = np.random.default_rng([seed, reps, 7])
    ids = docs.column("doc_id").to_numpy()
    step = int(ids.max()) + 1
    texts = docs.column("text").to_pylist()
    out_ids, out_texts, idx = [], [], []
    for r in range(reps):
        edited = rng.random(len(texts)) < (edit_share if r else 0.0)
        for i, txt in enumerate(texts):
            if edited[i]:
                words = txt.split(" ")
                at = int(rng.integers(0, len(words)))
                words[at] = VOCAB[int(rng.integers(0, len(VOCAB)))]
                txt = " ".join(words)
            out_texts.append(txt)
        out_ids.append(ids + r * step)
        idx.append(np.arange(len(texts)))
    take = np.concatenate(idx)
    return pa.table({
        "doc_id": np.concatenate(out_ids),
        "text": out_texts,
        "lang": docs.column("lang").take(take),
        "source": docs.column("source").take(take),
        "n_chars": np.array([len(x) for x in out_texts], dtype=np.int64)})


def workload_tables(kind, seed):
    if kind == "tpch":
        return base_tables(seed, TABLES[kind], TPCH_FRAC)
    t = base_tables(seed, TABLES[kind], PIPELINE_FRAC)
    t["documents"] = edit_replicas(t["documents"], seed, reps=DOC_REPS,
                                   edit_share=EDIT_SHARE)
    return {k: v.take(permutation(seed, v.num_rows)) for k, v in t.items()}


def ensure(kind, seed):
    """Directory with the ``kind`` inputs for ``seed``; generated once."""
    out = os.path.join(DATA_ROOT, f"{kind}-{seed}-{fingerprint()}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    tmp = f"{out}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in workload_tables(kind, seed).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"),
                       row_group_size=1 << 21)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out
