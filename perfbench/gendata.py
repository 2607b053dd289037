"""Deterministic synthetic inputs for the benchmark.

Writes the ten tables ``rental_engine`` reads (``queries._SCHEMAS``) as one
single-row-group parquet file each, with the row counts, key ranges and
value distributions of the repository's TPC-H-style test data: uniform
keys with a key-preserving star join, 2-decimal prices and rates, integer
areas, a sorted month of events, a 31-word document corpus with injected
near-duplicates, and unit-norm 64-dim float embeddings.  The same
``(sf, seed)`` always yields byte-identical files.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "old"]
PART_NOUN = ["bolt", "gear", "plate", "ring"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = ("a agg batch big column customer data dup fast filter group hash join "
         "key line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
EMBED_DIM = 64


def sizes(sf: float) -> dict[str, int]:
    def n(base: int) -> int:
        return max(1, round(base * sf))
    return {"customer": n(150_000), "supplier": n(10_000), "part": n(200_000),
            "orders": n(1_500_000), "lineitem": n(6_000_000),
            "events": n(1_000_000), "documents": max(500, n(50_000)),
            "embeddings": max(500, n(20_000))}


def _cents(rng, lo: float, hi: float, size: int) -> np.ndarray:
    """Uniform 2-decimal doubles in [lo, hi]."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, size) / 100.0


def _days(rng, start: str, end: str, size: int) -> np.ndarray:
    d0, d1 = np.datetime64(start, "D"), np.datetime64(end, "D")
    return (d0 + rng.integers(0, (d1 - d0).astype(int) + 1, size)).astype("datetime64[us]")


def _pick(rng, values: list[str], size: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=size, p=p)
    return pa.DictionaryArray.from_arrays(pa.array(idx, pa.int32()),
                                          pa.array(values)).cast(pa.string())


def _documents(rng, n: int) -> dict:
    vocab = np.array(WORDS)
    texts: list[str] = []
    for _ in range(n):
        u = rng.random()
        if u < 0.05:
            # one large near-duplicate family: the same bag of words,
            # different order and multiplicity
            toks = rng.choice(["dup", "data", "row", "the", "a"], rng.integers(10, 30))
            toks = np.concatenate([toks, ["dup", "data", "row", "the", "a"]])
            rng.shuffle(toks)
        elif u < 0.13 and texts:
            toks = np.array(texts[rng.integers(len(texts))].split(" "))
            rng.shuffle(toks)
        else:
            toks = vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]
        texts.append(" ".join(toks.tolist()))
    ids = np.arange(n, dtype=np.int64)
    return {"doc_id": ids, "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}


def _embeddings(rng, n: int) -> dict:
    v = rng.standard_normal((n, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, (n + 1) * EMBED_DIM, EMBED_DIM, dtype=np.int32)),
        pa.array(v.ravel()))
    return {"vec_id": np.arange(n, dtype=np.int64), "embedding": emb,
            "label": rng.integers(0, 10, n).astype(np.int32)}


def tables(sf: float, seed: int) -> dict[str, dict]:
    z = sizes(sf)
    rngs = {t: np.random.default_rng([seed, i]) for i, t in enumerate(
        ["customer", "supplier", "part", "orders", "lineitem",
         "events", "documents", "embeddings"])}
    nc, ns, npart, no, nl, ne = (z["customer"], z["supplier"], z["part"],
                                 z["orders"], z["lineitem"], z["events"])
    out: dict[str, dict] = {
        "region": {"r_regionkey": np.arange(5, dtype=np.int32),
                   "r_name": pa.array(REGIONS)},
        "nation": {"n_nationkey": np.arange(25, dtype=np.int32),
                   "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                   "n_regionkey": np.arange(25, dtype=np.int32) % 5},
    }
    r = rngs["customer"]
    out["customer"] = {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": r.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _cents(r, -999.99, 9999.99, nc),
        "c_mktsegment": _pick(r, SEGMENTS, nc)}
    r = rngs["supplier"]
    out["supplier"] = {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": r.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _cents(r, -999.99, 9999.99, ns)}
    r = rngs["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = {
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": _pick(r, names, npart),
        "p_brand": _pick(r, [f"Brand#{i}" for i in range(1, 26)], npart),
        "p_type": _pick(r, PART_TYPES, npart),
        "p_size": r.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 1)}
    r = rngs["orders"]
    out["orders"] = {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": r.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": _pick(r, ["F", "O", "P"], no),
        "o_totalprice": _cents(r, 1000.0, 500000.0, no),
        "o_orderdate": _days(r, "1995-01-01", "2001-08-01", no),
        "o_orderpriority": _pick(r, PRIORITIES, no)}
    r = rngs["lineitem"]
    out["lineitem"] = {
        "l_orderkey": r.integers(0, no, nl).astype(np.int64),
        "l_partkey": r.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": r.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": r.integers(1, 8, nl).astype(np.int32),
        "l_quantity": r.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _cents(r, 900.0, 105000.0, nl),
        "l_discount": np.round(r.random(nl) * 0.1, 2),
        "l_tax": np.round(r.random(nl) * 0.08, 2),
        "l_returnflag": _pick(r, ["A", "N", "R"], nl),
        "l_linestatus": _pick(r, ["F", "O"], nl),
        "l_shipdate": _days(r, "1995-01-02", "2001-11-04", nl)}
    r = rngs["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    month_us = 30 * 86_400 * 1_000_000
    out["events"] = {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": np.sort(t0 + r.integers(0, month_us, ne)).astype("datetime64[us]"),
        "user_id": r.integers(0, max(15, ne * 3 // 200), ne).astype(np.int64),
        "event_type": _pick(r, EVENT_TYPES, ne),
        "value": np.round(r.exponential(50.0, ne), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, ne)])}
    out["documents"] = _documents(rngs["documents"], z["documents"])
    out["embeddings"] = _embeddings(rngs["embeddings"], z["embeddings"])
    return out


def write(out_dir: str, sf: float, seed: int) -> None:
    """Write every table into out_dir atomically (a finished directory
    is never partially overwritten)."""
    tmp = f"{out_dir}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, cols in tables(sf, seed).items():
        pq.write_table(pa.table(cols), os.path.join(tmp, f"{name}.parquet"))
    os.replace(tmp, out_dir)


def ensure(root: str, sf: float, seed: int) -> str:
    """Path of the generated sf directory under root, writing it first if
    absent.  The directory name carries sf and seed."""
    d = os.path.join(root, f"seed{seed}", f"sf{sf:g}")
    if not os.path.isdir(d):
        os.makedirs(os.path.dirname(d), exist_ok=True)
        write(d, sf, seed)
    return d

